"""Adaptive recognition — ``adapt_to_word_str`` re-expressed for a
distributed engine.

The reference adapts its classifier IN PLACE from (current image,
caller-supplied true word string) and the adaptation mutates shared
engine state (``TessBaseAPIAdaptToWordStr``,
/root/reference/src/api.rs:584-592) — an order-dependent sequential API
that cannot exist inside a deterministic data-parallel pass, which is why
SURVEY §7d documented it unsupported.  The CAPABILITY it provides —
learn glyph shapes from operator-confirmed words and decode better with
them — is order-INDEPENDENT once expressed as aggregation:

1. :func:`learn_glyphs` — pass 1 over LABELED pages (page payload +
   ground-truth word string, exactly the reference's inputs): segment
   each page, align the truth tokens to the word boxes in reading order,
   cut glyph cells, and aggregate the learned template per character as
   the per-pixel MAJORITY vote over all labeled examples.  Majority is
   commutative and associative, so any row order, partitioning, or
   cluster size yields the same atlas — the determinism the in-place API
   fundamentally lacks.
2. :func:`register_atlas` (kernels/raster.py) + :func:`ocr_text_adapted`
   — the learned atlas joins the embedded models as one more decode
   language; the existing per-word joint-language vote (the "eng+tur"
   machinery) picks the adapted templates exactly where they fit better,
   replacing the reference's mutated classifier state.

Scale shape: pass 1 shuffles only (char, pixel, count) partials —
bounded by charset x cell size (~15k keys), with map-side combine inside
each Arrow batch; the labeled pages themselves never shuffle.  The
learned atlas is a few KB and broadcasts to executors inside the decode
closure.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tesseract_rs_spark.config import ExtractConfig

_CELL_SHAPE_ROW = -1  # pos of the per-char example-count row


def accumulate_page_glyphs(acc: dict, payload, truth: str | None) -> None:
    """Fold one labeled page into a glyph accumulator
    ``{char: [pixel-count int64 vec, n_examples]}`` — the per-page half
    of :func:`learn_glyphs`.  Misaligned pages are skipped defensively
    (adaptation must never learn from a misalignment)."""
    from tesseract_rs_spark.kernels.raster import (
        GLYPH_H,
        GLYPH_W,
        STATUS_OK,
        _word_cells,
        connected_components,
        decode_page,
        otsu_threshold,
        segment_layout,
    )

    cell = GLYPH_H * GLYPH_W
    img, status = decode_page(payload)
    if status != STATUS_OK:
        return
    binary = img <= otsu_threshold(img)
    _, stats = connected_components(binary)
    layout = segment_layout(stats)
    toks = [w for w in (truth or "").split(" ") if w]
    boxes = [b for _p, _l, bs in layout for b in bs]
    if len(boxes) != len(toks):
        return
    for box, tw in zip(boxes, toks):
        cells = _word_cells(binary, box)
        if len(cells) != len(tw):
            continue
        for ch, c in zip(tw, cells):
            a = acc.setdefault(ch, [np.zeros(cell, dtype=np.int64), 0])
            a[0] += c
            a[1] += 1


def atlas_from_acc(acc: dict) -> dict:
    """Accumulator -> atlas: strict per-pixel majority (ties OFF — any
    tie-break works; strict-off is partition/arrival-order independent)."""
    from tesseract_rs_spark.kernels.raster import GLYPH_H, GLYPH_W

    return {
        ch: (2 * vec > n).reshape(GLYPH_H, GLYPH_W)
        for ch, (vec, n) in acc.items()
    }


def learn_glyphs(
    pages: DataFrame,
    truth_col: str = "truth",
    payload_col: str = "html",
) -> dict:
    """Learn a glyph atlas from labeled pages: {char: (GLYPH_H, GLYPH_W)
    bool mask}.  Pages whose segmentation does not align 1:1 with the
    truth tokens (or words whose glyph count differs from the token
    length) are skipped defensively — adaptation must never learn from a
    misalignment; labeled pages are expected UPRIGHT (the reference's
    adapt likewise runs on the image as set by the caller — no OSD pass
    precedes it).  RAISES when zero examples align: a silently empty
    atlas would make :func:`ocr_text_adapted` byte-identical to the
    unadapted decode while the caller believes adaptation ran.  Returns
    a plain dict sized ~charset x cell (KBs); feed it to
    :func:`ocr_text_adapted` or ``kernels.raster.register_atlas``."""
    from tesseract_rs_spark.kernels.raster import GLYPH_H, GLYPH_W

    cell = GLYPH_H * GLYPH_W

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict = {}
            for payload, truth in zip(pdf[payload_col], pdf[truth_col]):
                accumulate_page_glyphs(acc, payload, truth)
            if not acc:
                continue
            chars, poss, cnts = [], [], []
            for ch, (counts, n) in acc.items():
                nz = np.flatnonzero(counts)
                chars.extend([ch] * (len(nz) + 1))
                poss.extend([_CELL_SHAPE_ROW, *nz.tolist()])
                cnts.extend([n, *counts[nz].tolist()])
            yield pd.DataFrame(
                {
                    "char": chars,
                    "pos": pd.array(poss, dtype="int64"),
                    "cnt": pd.array(cnts, dtype="int64"),
                }
            )

    parts = pages.select(payload_col, truth_col).mapInPandas(
        gen, schema="char string, pos long, cnt long"
    )
    rows = (
        parts.groupBy("char", "pos").agg(F.sum("cnt").alias("cnt")).collect()
    )
    counts: dict = {}
    ns: dict = {}
    for r in rows:
        if r["pos"] == _CELL_SHAPE_ROW:
            ns[r["char"]] = r["cnt"]
        else:
            counts.setdefault(r["char"], {})[r["pos"]] = r["cnt"]
    if not ns:
        raise ValueError(
            "adaptation learned zero examples: no labeled page aligned "
            "its truth tokens with the segmented word boxes (are the "
            "pages upright and the truth strings space-tokenized to "
            "match the rendering?)"
        )
    acc: dict = {}
    for ch, n in ns.items():
        vec = np.zeros(cell, dtype=np.int64)
        for pos, c in counts.get(ch, {}).items():
            vec[pos] = c
        acc[ch] = [vec, n]
    return atlas_from_acc(acc)


def ocr_text_adapted(
    pages: DataFrame,
    atlas: dict,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
    name: str = "adapted",
) -> DataFrame:
    """Decode with the learned atlas joined to the configured language
    models: each worker registers ``atlas`` (broadcast in the closure,
    idempotent) and decodes with ``langs = cfg.langs + (name,)`` — the
    per-word joint-language vote picks the adapted templates exactly
    where they match better, the distributed stand-in for the
    reference's mutated classifier.  (ids, text, status, mean_conf,
    n_words)."""
    from tesseract_rs_spark.operators.arrow import map_docs
    from tesseract_rs_spark.operators.ocr import page_columns

    cfg = cfg or ExtractConfig()
    fields = "text string, status string, mean_conf long, n_words long"
    decode = page_columns(fields, cfg, (*cfg.langs, name))

    def fn(payloads) -> list:
        from tesseract_rs_spark.kernels.raster import register_atlas

        register_atlas(name, atlas)
        return decode(payloads)

    return map_docs(pages, id_cols, payload_col, fields, fn)
