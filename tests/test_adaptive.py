"""adapt_to_word_str re-expressed (operators/adaptive.py): learn glyph
templates from labeled pages by distributed majority vote, then decode an
unknown font exactly — the deterministic, order-independent form of the
reference's in-place classifier adaptation
(/root/reference/src/api.rs:584-592)."""

import numpy as np
import pytest

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.kernels.raster import (
    ATLAS_TUR,
    extract_raster_doc,
    golden_raster_text,
    register_atlas,
    render_page,
)
from tesseract_rs_spark.operators.adaptive import learn_glyphs, ocr_text_adapted

# every word rendered with the tur atlas = an "unknown font" for an
# eng-only decoder; the charset coverage below spans all test glyphs
_TEXTS = [
    "abc def ghi jkl mno pqr stu vwx",
    "yzb cde fgh ijk lmn opq rst uvw",
    "bad cab fed hig key lot mix new",
]


@pytest.fixture(scope="module")
def labeled(spark):
    rows = [
        (f"u{i}", bytearray(render_page(t, tur_every=1)), t)
        for i, t in enumerate(_TEXTS)
    ]
    return spark.createDataFrame(
        rows, "url string, html binary, truth string"
    ).repartition(3)


def test_learned_templates_match_the_true_font(labeled):
    """Majority vote over labeled examples recovers the rendering atlas
    BIT-EXACTLY for every character that appears in the labels."""
    atlas = learn_glyphs(labeled)
    seen = {ch for t in _TEXTS for ch in t if ch != " "}
    assert set(atlas) == seen
    for ch in seen:
        assert np.array_equal(atlas[ch], ATLAS_TUR[ch]), ch


def test_learning_is_partition_order_independent(labeled):
    """The aggregation is commutative: a different partitioning yields
    the identical atlas (the property the reference's in-place
    adaptation cannot have)."""
    a1 = learn_glyphs(labeled.repartition(1))
    a2 = learn_glyphs(labeled.repartition(7))
    assert set(a1) == set(a2)
    assert all(np.array_equal(a1[c], a2[c]) for c in a1)


def test_adapted_decode_recovers_unknown_font(spark, labeled):
    """Before adaptation the eng-only decode cannot reach conf 100 on the
    unknown font (every glyph is >= 48 Hamming from every eng template);
    with the learned atlas registered, the joint-language vote decodes
    the held-out page byte-exactly at conf 100."""
    heldout = "fox jug zip quw bem dyn"
    page = render_page(heldout, tur_every=1)
    base = extract_raster_doc(page)  # eng only
    assert base.mean_conf < 100
    atlas = learn_glyphs(labeled)
    # the held-out page only uses chars covered by the training labels?
    # no — it deliberately includes every char it needs via _TEXTS
    # coverage; chars outside the learned set would fall back to eng
    test_df = spark.createDataFrame(
        [("held", bytearray(page))], "url string, html binary"
    )
    out = ocr_text_adapted(test_df, atlas, ExtractConfig()).collect()[0]
    assert out["status"] == "ok"
    assert out["mean_conf"] == 100
    assert out["text"] == golden_raster_text(heldout)


def test_register_atlas_validates(spark):
    with pytest.raises(ValueError, match="not in the charset"):
        register_atlas("bad", {"@": np.zeros((24, 16), dtype=bool)})
    with pytest.raises(ValueError, match="shape"):
        register_atlas("bad", {"a": np.zeros((3, 3), dtype=bool)})
    # embedded models are protected: overwriting "eng" in a reused
    # worker would corrupt later plain decodes (review r5)
    with pytest.raises(ValueError, match="embedded"):
        register_atlas("eng", {"a": np.zeros((24, 16), dtype=bool)})
