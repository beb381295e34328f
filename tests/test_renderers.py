"""Renderer contracts — the reference's renderer suite altitude
(/root/reference/tests/test_renderer.rs, tests/test_e2e.rs:36-49: one
recognition pass feeds many output formats)."""

import pyspark.sql.functions as F
import pytest
from support import reassemble_text

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.corpus import make_corpus
from tesseract_rs_spark.operators.extract import extract_words
from tesseract_rs_spark.operators.renderers import (
    render_alto,
    render_hocr,
    render_tsv,
    render_unlv,
)


@pytest.fixture(scope="module")
def words(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("rnd")
    pages, _ = make_corpus("smoke")
    spark.createDataFrame(pages).write.parquet(str(d / "pages.parquet"))
    w = extract_words(spark.read.parquet(str(d / "pages.parquet")), ExtractConfig())
    w.cache().count()
    return w


def test_tsv_contains_tabs_and_all_words(words):
    # TSV contains tab separators (tests/test_api.rs:164-173)
    tsv = render_tsv(words)
    row = tsv.filter(F.length("tsv") > 0).limit(1).collect()[0]
    lines = row["tsv"].split("\n")
    assert all(line.count("\t") == 8 for line in lines)
    assert all(line.startswith("5\t") for line in lines)
    n_words = words.filter(F.col("url") == row["url"]).count()
    assert len(lines) == n_words


def test_hocr_markup(words):
    # hOCR output contains ocr_page markup (tests/test_e2e.rs:46)
    row = render_hocr(words).limit(1).collect()[0]
    assert "ocr_page" in row["hocr"] and "ocrx_word" in row["hocr"]
    assert "x_wconf" in row["hocr"]


def test_alto_wellformed_markers(words):
    row = render_alto(words).limit(1).collect()[0]
    assert row["alto"].startswith("<alto>") and row["alto"].endswith("</alto>")
    assert "<String CONTENT=" in row["alto"]


def test_unlv_equals_assembly_without_line_breaks(spark, words):
    """UNLV text is the assembly with block separators '\\n' — consistent
    with the word table (one recognition pass, many formats)."""
    unlv = render_unlv(words)
    full = reassemble_text(words)
    j = unlv.join(full, "url")
    # strip the single trailing '\n' (rtrim only strips spaces), then
    # collapse block separators
    expected = F.regexp_replace(
        F.expr("substring(text, 1, length(text) - 1)"), r"\n\n", "\n"
    )
    mismatch = j.filter(F.col("unlv") != expected).count()
    # blocks with internal <br> lines differ (unlv joins lines with space);
    # the smoke corpus has none, so the transform must match exactly
    assert mismatch == 0


def test_hocr_bbox_variant(spark):
    from tesseract_rs_spark.kernels.raster import render_page
    from tesseract_rs_spark.operators.ocr import ocr_words
    from tesseract_rs_spark.operators.renderers import render_hocr_bbox

    pages = spark.createDataFrame(
        [("u", render_page("ab cd"))], "url string, html binary"
    )
    h = render_hocr_bbox(ocr_words(pages)).collect()[0]["hocr"]
    assert "title='bbox 16 16 50 40; x_wconf 100'>ab</span>" in h


def test_spans_present_and_ordered(words):
    bad = words.filter(
        (F.col("span_start") < 0) | (F.col("span_end") <= F.col("span_start"))
    ).count()
    assert bad == 0


class TestPdfRenderer:
    """Textonly-PDF renderer (new_pdf_renderer(..., textonly=true) analog,
    /root/reference/src/result_renderer.rs:69-82): valid byte structure,
    exact xref offsets, reading-order text layer, deterministic bytes."""

    def _rows(self):
        return [(16, 200, "hello"), (120, 200, "world"), (16, 160, "a(b)c\\d")]

    def test_structure_and_xref(self):
        import re

        from tesseract_rs_spark.operators.renderers import pdf_bytes

        pdf = pdf_bytes(400, 240, self._rows(), title="doc-7")
        assert pdf.startswith(b"%PDF-1.4\n") and pdf.endswith(b"%%EOF")
        # every xref entry points exactly at its "i 0 obj" header
        m = re.search(rb"xref\n0 (\d+)\n", pdf)
        n = int(m.group(1))
        table = pdf[m.end():].split(b"\n")
        for i in range(1, n):
            off = int(table[i][:10])
            assert pdf[off:].startswith(b"%d 0 obj" % i), i
        # startxref points at the xref table itself
        sx = int(re.search(rb"startxref\n(\d+)\n", pdf).group(1))
        assert pdf[sx:].startswith(b"xref")
        # declared stream /Length equals the exact stream byte count
        lm = re.search(rb"/Length (\d+) >>\nstream\n", pdf)
        stream = pdf[lm.end(): lm.end() + int(lm.group(1))]
        assert pdf[lm.end() + int(lm.group(1)):].startswith(b"\nendstream")
        # text layer round-trip: unescape the Tj strings in order
        got = [
            g.replace(b"\\(", b"(").replace(b"\\)", b")").replace(b"\\\\", b"\\")
            for g in re.findall(rb"\((.*?[^\\])\) Tj", stream)
        ]
        assert got == [w.encode() for _, _, w in self._rows()]
        assert b"/Title (doc-7)" in pdf
        assert pdf == pdf_bytes(400, 240, self._rows(), title="doc-7")

    def test_render_pdf_operator(self, spark):
        """Grouped applyInPandas path over a shuffled raster-shaped word
        table: one PDF per key, rendered with y flipped to PDF's
        bottom-left origin and parsed back in the same stage."""
        from tesseract_rs_spark.operators.renderers import pdf_roundtrip_text

        rows = [
            # (url, block, para, line, word, text, left, bottom, W, H)
            ("u1", 0, 0, 1, 0, "second", 16, 76, 400, 120),
            ("u1", 0, 0, 0, 1, "line", 120, 40, 400, 120),
            ("u1", 0, 0, 0, 0, "first", 16, 40, 400, 120),
            ("u2", 0, 0, 0, 0, "solo", 16, 40, 200, 80),
        ]
        words = spark.createDataFrame(
            rows,
            "url string, block_id long, para_id long, line_id long, "
            "word_id long, word string, left long, bottom long, "
            "page_width long, page_height long",
        ).repartition(4)
        out = {r["url"]: r["pdf_text"] for r in pdf_roundtrip_text(words).collect()}
        # y is flipped against page height, so the baseline-76 word parses
        # as the line BELOW the baseline-40 ones
        assert out == {"u1": "first line\nsecond\n", "u2": "solo\n"}

    def test_extension_registered(self):
        from tesseract_rs_spark.operators.renderers import RENDERER_EXTENSIONS

        assert RENDERER_EXTENSIONS["pdf"] == "pdf"

    def test_non_latin_text_is_utf16_not_mangled(self):
        """Non-Latin-1 words must survive as BOM-prefixed UTF-16BE hex
        strings — never a silent '?' replacement (the text layer is the
        extraction target)."""
        from tesseract_rs_spark.operators.renderers import pdf_bytes

        pdf = pdf_bytes(200, 80, [(16, 40, "héllo"), (90, 40, "日本語")])
        assert b"?" not in pdf
        assert ("<" + (b"\xfe\xff" + "日本語".encode("utf-16-be")).hex()
                + "> Tj").encode() in pdf
        # latin-1-encodable words keep the compact literal form
        assert b"(h\xe9llo) Tj" in pdf


class TestPdfRoundTrip:
    """parse_pdf_text: geometric reconstruction of the text layer —
    lines by shared baseline, paragraph breaks from extra leading, both
    string operand encodings — and the fused render+parse operator."""

    def test_parse_reconstructs_structure(self):
        from tesseract_rs_spark.operators.renderers import (
            parse_pdf_text,
            pdf_bytes,
        )

        # two paragraphs: lines at y=200, 164 (pitch 36), then a 60-gap
        # paragraph break to y=104, words out of x order within a line
        rows = [
            (120, 200, "world"), (16, 200, "hello"),
            (16, 164, "a(b)c\\d"),
            (16, 104, "next"), (120, 104, "para"),
        ]
        pdf = pdf_bytes(400, 240, rows)
        assert parse_pdf_text(pdf) == "hello world\na(b)c\\d\n\nnext para\n"

    def test_parse_utf16_hex_words(self):
        from tesseract_rs_spark.operators.renderers import (
            parse_pdf_text,
            pdf_bytes,
        )

        pdf = pdf_bytes(200, 80, [(16, 40, "héllo"), (90, 40, "日本語")])
        assert parse_pdf_text(pdf) == "héllo 日本語\n"

    def test_parse_single_line_and_empty(self):
        from tesseract_rs_spark.operators.renderers import (
            parse_pdf_text,
            pdf_bytes,
        )

        assert parse_pdf_text(pdf_bytes(200, 80, [(16, 40, "solo")])) == "solo\n"
        assert parse_pdf_text(pdf_bytes(200, 80, [])) == ""
        assert parse_pdf_text(b"not a pdf") == ""

    def test_roundtrip_operator_equals_golden(self, spark):
        """Raster page -> ocr_words -> render+parse in one grouped stage
        == the golden page assembly (the driver-oracle contract the
        render_boxfiles pdf_text branch relies on)."""
        from tesseract_rs_spark.kernels.raster import render_page
        from tesseract_rs_spark.operators.ocr import ocr_words
        from tesseract_rs_spark.operators.renderers import pdf_roundtrip_text

        text = (
            "alpha beta gamma delta epsilon zeta eta theta "
            "iota kappa lam mu nu xi omicron pi "
            "rho sigma tau upsilon phi chi psi omega"
        )
        pages = spark.createDataFrame(
            [("u1", bytearray(render_page(text, 8, 3)))],
            "url string, html binary",
        )
        words = ocr_words(pages)
        out = pdf_roundtrip_text(words).collect()[0]
        lines = [
            " ".join(text.split()[i : i + 8]) for i in range(0, 24, 8)
        ]
        golden = "\n".join(lines) + "\n"
        assert out["pdf_text"] == golden


class TestPdfImageUnderText:
    """Image-under-text mode (new_pdf_renderer(..., textonly=false)
    analog, /root/reference/src/result_renderer.rs:69-82): the page
    raster embeds as a FlateDecode /DeviceGray XObject drawn under an
    invisible (render mode 3) text layer; both halves round-trip."""

    def _img(self):
        import numpy as np

        rng = np.arange(60 * 40, dtype=np.int64) * 97 % 251
        return rng.reshape(60, 40).astype(np.uint8)

    def test_structure_xref_and_determinism(self):
        import re

        from tesseract_rs_spark.operators.renderers import pdf_bytes

        rows = [(16, 200, "hello"), (120, 200, "world")]
        pdf = pdf_bytes(400, 240, rows, title="doc-9", image=self._img())
        assert pdf.startswith(b"%PDF-1.4\n") and pdf.endswith(b"%%EOF")
        m = re.search(rb"xref\n0 (\d+)\n", pdf)
        n = int(m.group(1))
        assert n == 8  # 6 textonly objects + image XObject + Info
        table = pdf[m.end():].split(b"\n")
        for i in range(1, n):
            off = int(table[i][:10])
            assert pdf[off:].startswith(b"%d 0 obj" % i), i
        # image drawn first, scaled to the MediaBox, text invisible
        assert b"q\n400 0 0 240 0 0 cm\n/Im1 Do\nQ\n" in pdf
        assert b"3 Tr\n" in pdf
        assert b"/XObject << /Im1 6 0 R >>" in pdf
        assert b"/Info 7 0 R" in pdf
        assert pdf == pdf_bytes(400, 240, rows, title="doc-9",
                                image=self._img())
        # textonly output is byte-identical to before this mode existed
        solo = pdf_bytes(400, 240, rows, title="doc-9")
        assert b"3 Tr" not in solo and b"/Im1" not in solo
        assert b"/Info 6 0 R" in solo

    def test_both_halves_round_trip(self):
        import numpy as np

        from tesseract_rs_spark.operators.renderers import (
            extract_pdf_image,
            parse_pdf_text,
            pdf_bytes,
        )

        rows = [(16, 200, "hello"), (120, 200, "world"), (16, 164, "again")]
        pdf = pdf_bytes(400, 240, rows, image=self._img())
        assert np.array_equal(extract_pdf_image(pdf), self._img())
        assert parse_pdf_text(pdf) == "hello world\nagain\n"
        assert extract_pdf_image(pdf_bytes(400, 240, rows)) is None

    def test_operator_embeds_the_source_raster(self, spark):
        """Raster page -> ocr_words -> the image-under-text operator: the
        embedded image equals decode_page's grayscale of the SOURCE page
        bit-exactly (else the row reads IMG_MISMATCH), and the invisible
        text layer still parses to the golden assembly."""
        from tesseract_rs_spark.kernels.raster import render_page
        from tesseract_rs_spark.operators.ocr import ocr_words
        from tesseract_rs_spark.operators.renderers import pdf_image_roundtrip_text

        text = (
            "alpha beta gamma delta epsilon zeta eta theta "
            "iota kappa lam mu nu xi omicron pi"
        )
        payload = render_page(text, 8, 3)
        pages = spark.createDataFrame(
            [("u1", bytearray(payload))], "url string, html binary"
        )
        words = ocr_words(pages).repartition(4)
        out = {
            r["url"]: r["pdf_text"]
            for r in pdf_image_roundtrip_text(words, pages).collect()
        }
        lines = [" ".join(text.split()[i : i + 8]) for i in range(0, 16, 8)]
        assert out == {"u1": "\n".join(lines) + "\n"}
