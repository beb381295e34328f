"""Output renderers — the result-renderer family re-expressed as derived
string columns (/root/reference/src/result_renderer.rs:25-82 and the
get_*_text accessors, /root/reference/src/api.rs:309-548).

Every renderer is a deterministic string template over the exploded word
table, built ONLY from JVM-side functions (``format_string`` /
``concat_ws`` / ordered ``array_sort`` aggregation) so rendering stays
inside WholeStageCodegen — no Python in the render path (SURVEY.md §2.6).

Pixel bounding boxes don't exist for web text; the span axis (source
character offsets) plays the bbox role, so formats that carry boxes carry
``span_start``/``span_end`` instead.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tesseract_rs_spark.operators.arrow import map_docs, per_doc


# renderer metadata (get_extension / get_image_num,
# /root/reference/src/result_renderer.rs:141-185)
RENDERER_EXTENSIONS = {
    "text": "txt",
    "tsv": "tsv",
    "hocr": "hocr",
    "alto": "xml",
    "unlv": "unlv",
    "box": "box",
    "lstm_box": "box",
    "wordstr_box": "box",
    "pdf": "pdf",
}


def with_image_num(pages: DataFrame, key: str = "url", page_col: str = "page_num"):
    """get_image_num analog: 0-based position of each page within its
    document's add_page sequence — a rank over page order, no collect."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.asc(page_col))
    return pages.withColumn(
        "image_num", (F.row_number().over(w) - 1).cast("long")
    )


def _ordered_doc_concat(words: DataFrame, key: str, line_expr, sep: str = "\n"):
    """Render one string per word row, then concat in reading order."""
    rendered = words.withColumn("_line", line_expr)
    return rendered.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("block_id", "para_id", "line_id", "word_id", "_line")
                    )
                ),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("text")
    )


def render_tsv(words: DataFrame, key: str = "url") -> DataFrame:
    """TSV renderer (get_tsv_text analog, /root/reference/src/api.rs:357-370;
    tab-separated level/ids/box/conf/text, tests/test_e2e.rs:47):
    level \\t block \\t para \\t line \\t word \\t span_start \\t span_end
    \\t conf \\t text.  Level 5 = word (reference TSV level numbering)."""
    line = F.format_string(
        "5\t%d\t%d\t%d\t%d\t%d\t%d\t%d\t%s",
        F.col("block_id"),
        F.col("para_id"),
        F.col("line_id"),
        F.col("word_id"),
        F.col("span_start"),
        F.col("span_end"),
        F.col("conf").cast("long"),
        F.col("word"),
    )
    return _ordered_doc_concat(words, key, line).withColumnRenamed("text", "tsv")


def render_tsv_raster(words: DataFrame, key: str = "url") -> DataFrame:
    """TSV renderer over the RASTER word table (real pixel boxes) — the
    get_tsv_text surface (/root/reference/src/api.rs:357-370) with the
    reference TSV column order: level, page_num, block_num, par_num,
    line_num, word_num, left, top, width, height, conf, text.  Level 5 =
    word, page 1; ids are the engine's 0-based reading-order ids."""
    line = F.format_string(
        "5\t1\t%d\t%d\t%d\t%d\t%d\t%d\t%d\t%d\t%d\t%s",
        F.col("block_id"),
        F.col("para_id"),
        F.col("line_id"),
        F.col("word_id"),
        F.col("left"),
        F.col("top"),
        F.col("right") - F.col("left"),
        F.col("bottom") - F.col("top"),
        F.col("conf").cast("long"),
        F.col("word"),
    )
    return _ordered_doc_concat(words, key, line).withColumnRenamed("text", "tsv")


def render_lstm_box(words: DataFrame, key: str = "url") -> DataFrame:
    """LSTM box renderer (get_lstm_box_text analog,
    /root/reference/src/api.rs:491-504): one line per SYMBOL,
    ``char left top right bottom page`` derived from the word box and the
    fixed glyph pitch (symbol k spans
    [left + k*ADVANCE, left + k*ADVANCE + GLYPH_W)).  Coordinates are
    top-left origin (the engine's page space; documented deviation from
    Tesseract's bottom-left box files)."""
    from tesseract_rs_spark.kernels.raster import ADVANCE, GLYPH_W

    sym = words.select(
        key,
        "block_id",
        "para_id",
        "line_id",
        "word_id",
        "top",
        "bottom",
        F.col("left").alias("_wleft"),
        F.posexplode(F.split("word", "")).alias("symbol_id", "glyph"),
    ).filter(F.col("glyph") != "")
    line = F.format_string(
        "%s %d %d %d %d 0",
        F.col("glyph"),
        F.col("_wleft") + F.col("symbol_id") * ADVANCE,
        F.col("top"),
        F.col("_wleft") + F.col("symbol_id") * ADVANCE + GLYPH_W,
        F.col("bottom"),
    )
    rendered = sym.withColumn("_line", line)
    return rendered.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "block_id", "para_id", "line_id", "word_id",
                            "symbol_id", "_line",
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("lstm_box")
    )


def render_box_raster(words: DataFrame, key: str = "url") -> DataFrame:
    """Tesseract box-file renderer over the raster word table
    (get_box_text, /root/reference/src/api.rs:467-480): one line per
    SYMBOL, ``char left bottom right top page`` with the reference's
    BOTTOM-LEFT origin — y coordinates are flipped against the page
    height the word table carries."""
    from tesseract_rs_spark.kernels.raster import ADVANCE, GLYPH_W

    sym = words.select(
        key,
        "block_id",
        "para_id",
        "line_id",
        "word_id",
        "top",
        "bottom",
        "page_height",
        F.col("left").alias("_wleft"),
        F.posexplode(F.split("word", "")).alias("symbol_id", "glyph"),
    ).filter(F.col("glyph") != "")
    line = F.format_string(
        "%s %d %d %d %d 0",
        F.col("glyph"),
        F.col("_wleft") + F.col("symbol_id") * ADVANCE,
        F.col("page_height") - F.col("bottom"),
        F.col("_wleft") + F.col("symbol_id") * ADVANCE + GLYPH_W,
        F.col("page_height") - F.col("top"),
    )
    rendered = sym.withColumn("_line", line)
    return rendered.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "block_id", "para_id", "line_id", "word_id",
                            "symbol_id", "_line",
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("box")
    )


def render_wordstr_box(words: DataFrame, key: str = "url") -> DataFrame:
    """WordStr box renderer (get_word_str_box_text analog,
    /root/reference/src/api.rs:515-528): one line per TEXT LINE,
    ``WordStr left top right bottom 0 #text`` with the line's bounding box
    and its words joined after ``#`` (top-left origin, as above)."""
    lines = words.groupBy(key, "block_id", "para_id", "line_id").agg(
        F.min("left").alias("_l"),
        F.min("top").alias("_t"),
        F.max("right").alias("_r"),
        F.max("bottom").alias("_b"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word_id", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("_text"),
    )
    rendered = lines.withColumn(
        "_line",
        F.format_string(
            "WordStr %d %d %d %d 0 #%s",
            F.col("_l"), F.col("_t"), F.col("_r"), F.col("_b"), F.col("_text"),
        ),
    )
    return rendered.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("block_id", "para_id", "line_id", "_line")
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("wordstr_box")
    )


def render_hocr(words: DataFrame, key: str = "url") -> DataFrame:
    """hOCR renderer (new_hocr_renderer analog,
    /root/reference/src/result_renderer.rs:46-56; output carries ocr_page /
    ocrx_word markup, tests/test_e2e.rs:46)."""
    word_span = F.format_string(
        "<span class='ocrx_word' title='span %d %d; x_wconf %d'>%s</span>",
        F.col("span_start"),
        F.col("span_end"),
        F.col("conf").cast("long"),
        F.col("word"),
    )
    per_doc = _ordered_doc_concat(words, key, word_span, sep=" ")
    return per_doc.select(
        key,
        F.format_string(
            "<div class='ocr_page' id='page_1'><p class='ocr_par'>%s</p></div>",
            F.col("text"),
        ).alias("hocr"),
    )


def render_hocr_bbox(words: DataFrame, key: str = "url") -> DataFrame:
    """hOCR with real pixel bounding boxes (raster-path variant over
    ``ocr_words`` output): ``title='bbox l t r b; x_wconf c'`` — the
    reference's hOCR geometry payload (tests/test_e2e.rs:46)."""
    word_span = F.format_string(
        "<span class='ocrx_word' title='bbox %d %d %d %d; x_wconf %d'>%s</span>",
        F.col("left"),
        F.col("top"),
        F.col("right"),
        F.col("bottom"),
        F.col("conf").cast("long"),
        F.col("word"),
    )
    per_doc = _ordered_doc_concat(words, key, word_span, sep=" ")
    return per_doc.select(
        key,
        F.format_string(
            "<div class='ocr_page' id='page_1'><p class='ocr_par'>%s</p></div>",
            F.col("text"),
        ).alias("hocr"),
    )


def render_alto(words: DataFrame, key: str = "url") -> DataFrame:
    """ALTO-XML renderer (get_alto_text analog,
    /root/reference/src/api.rs:333-346), minimal String/TextLine markup."""
    word_el = F.format_string(
        "<String CONTENT=\"%s\" HPOS=\"%d\" WIDTH=\"%d\" WC=\"%s\"/>",
        F.col("word"),
        F.col("span_start"),
        F.col("span_end") - F.col("span_start"),
        F.format_number(F.col("conf") / 100.0, 2),
    )
    per_doc = _ordered_doc_concat(words, key, word_el, sep="")
    return per_doc.select(
        key,
        F.format_string(
            "<alto><Layout><Page ID=\"page_1\"><TextLine>%s</TextLine></Page></Layout></alto>",
            F.col("text"),
        ).alias("alto"),
    )


def render_unlv(words: DataFrame, key: str = "url") -> DataFrame:
    """UNLV zone renderer (get_unlv_text analog,
    /root/reference/src/api.rs:535-548): plain latin-ish text, one word per
    token, lines per block."""
    lines = words.groupBy(key, "block_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_id", "word_id", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("_line")
    )
    return lines.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("block_id", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("unlv")
    )


def _pdf_escape(w: str) -> str:
    """PDF literal-string escaping: backslash first, then parens."""
    return w.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _pdf_text(w: str) -> str:
    """A PDF text-string operand for arbitrary unicode: Latin-1 words use
    the escaped literal form; anything else becomes a BOM-prefixed
    UTF-16BE hex string (the PDF text-string encoding for non-Latin
    content) — NEVER a silent '?' replacement (review r5: the text layer
    is the extraction target, so mangling it is data corruption)."""
    try:
        w.encode("latin-1")
    except UnicodeEncodeError:
        return "<" + (b"\xfe\xff" + w.encode("utf-16-be")).hex() + ">"
    return "(" + _pdf_escape(w) + ")"


def pdf_bytes(
    page_w: int, page_h: int, rows, title: str = "", image=None
) -> bytes:
    """One deterministic, valid PDF 1.4 with a positioned text layer —
    the byte-assembly half of the PDF renderers (driver-free, unit
    testable).  ``rows`` = [(x, y_baseline_from_bottom, word)] in reading
    order.  Every object offset in the xref is computed exactly, so the
    output parses in strict readers and is byte-reproducible (the same
    determinism contract as every other renderer).

    ``image`` (optional) = an (h, w) uint8 grayscale array: the
    image-under-text mode of the reference's TessPDFRenderer
    (``textonly=false``, /root/reference/src/result_renderer.rs:69-82) —
    the page raster is embedded as a FlateDecode /DeviceGray XObject
    scaled to the MediaBox, drawn first, and the text layer switches to
    render mode 3 (invisible), so the PDF *shows* the scanned page while
    staying searchable.  zlib level is pinned for byte determinism."""
    from tesseract_rs_spark.kernels.raster import GLYPH_H

    body = "".join(
        "1 0 0 1 %d %d Tm %s Tj\n" % (x, y, _pdf_text(w))
        for x, y, w in rows
    )
    prefix, mode, xobj = "", "", ""
    img_obj = None
    if image is not None:
        import zlib

        import numpy as np

        arr = np.ascontiguousarray(np.asarray(image, dtype=np.uint8))
        ih, iw = arr.shape
        data = zlib.compress(arr.tobytes(), 6)
        img_obj = (
            (
                "<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                "/ColorSpace /DeviceGray /BitsPerComponent 8 "
                "/Filter /FlateDecode /Length %d >>\nstream\n"
                % (iw, ih, len(data))
            ).encode()
            + data
            + b"\nendstream"
        )
        prefix = "q\n%d 0 0 %d 0 0 cm\n/Im1 Do\nQ\n" % (page_w, page_h)
        mode = "3 Tr\n"  # invisible text over the visible image
        xobj = " /XObject << /Im1 6 0 R >>"
    content = prefix + ("BT\n/F1 %d Tf\n" % GLYPH_H) + mode + body + "ET"
    cbytes = content.encode("latin-1")  # _pdf_text guarantees latin-1
    info = (
        "<< /Title %s >>" % _pdf_text(title) if title else "<< >>"
    ).encode("latin-1")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >>%s >> >>"
            % (page_w, page_h, xobj)
        ).encode(),
        b"<< /Length %d >>\nstream\n" % len(cbytes) + cbytes + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    if img_obj is not None:
        objs.append(img_obj)
    objs.append(info)
    info_num = len(objs)
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, 1):
        offsets.append(len(out))
        out += ("%d 0 obj\n" % i).encode() + obj + b"\nendobj\n"
    xref_off = len(out)
    out += ("xref\n0 %d\n" % (len(objs) + 1)).encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += ("%010d 00000 n \n" % off).encode()
    out += (
        "trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\nstartxref\n%d\n%%%%EOF"
        % (len(objs) + 1, info_num, xref_off)
    ).encode()
    return bytes(out)


def extract_pdf_image(pdf: bytes):
    """Decode the embedded page image back OUT of an image-under-text
    :func:`pdf_bytes` PDF -> (h, w) uint8 array, or None for a textonly
    PDF — the round-trip oracle for the image half (the text half is
    :func:`parse_pdf_text`)."""
    import re
    import zlib

    import numpy as np

    m = re.search(
        rb"/Subtype /Image /Width (\d+) /Height (\d+) .*?"
        rb"/Length (\d+) >>\nstream\n",
        pdf,
        re.DOTALL,
    )
    if m is None:
        return None
    iw, ih, n = int(m.group(1)), int(m.group(2)), int(m.group(3))
    raw = zlib.decompress(pdf[m.end() : m.end() + n])
    return np.frombuffer(raw, dtype=np.uint8).reshape(ih, iw)


def parse_pdf_text(pdf: bytes) -> str:
    """Extract the text layer back OUT of a :func:`pdf_bytes` PDF — the
    driver-oracle half of the round-trip (VERDICT r5 #4): parse the
    content stream's ``Tm``/``Tj`` operands and reconstruct the page
    text GEOMETRICALLY, the way any searchable-PDF text extractor must
    (a PDF text layer carries positions, not logical structure):

    * words sharing a baseline y form a line, ordered by x;
    * lines order by y descending (PDF origin is bottom-left);
    * the smallest observed baseline gap is the line pitch; a gap
      > 1.5x the pitch is a paragraph break (regular layouts separate
      paragraphs with extra leading — no renderer-internal constants
      are consulted, so this parses any ``pdf_bytes`` output).

    Assembly matches the engine contract: words ' ', lines '\\n',
    paragraphs '\\n\\n', one trailing '\\n'.  Both string operand forms
    round-trip: escaped Latin-1 literals and BOM-prefixed UTF-16BE hex
    strings."""
    import re

    lm = re.search(rb"/Length (\d+) >>\nstream\n", pdf)
    if lm is None:
        return ""
    stream = pdf[lm.end() : lm.end() + int(lm.group(1))]
    rows = []
    for m in re.finditer(
        rb"1 0 0 1 (-?\d+) (-?\d+) Tm "
        rb"(\((?:[^()\\]|\\.)*\)|<[0-9a-fA-F]+>) Tj",
        stream,
    ):
        x, y, tok = int(m.group(1)), int(m.group(2)), m.group(3)
        if tok.startswith(b"<"):
            w = bytes.fromhex(tok[1:-1].decode("ascii")).decode("utf-16")
        else:
            w = re.sub(rb"\\(.)", rb"\1", tok[1:-1]).decode("latin-1")
        rows.append((x, y, w))
    if not rows:
        return ""
    by_y: dict = {}
    for x, y, w in rows:
        by_y.setdefault(y, []).append((x, w))
    ys = sorted(by_y, reverse=True)
    lines = [" ".join(w for _, w in sorted(by_y[y])) for y in ys]
    gaps = [ys[i] - ys[i + 1] for i in range(len(ys) - 1)]
    pitch = min(gaps) if gaps else 0
    paras, cur = [], [lines[0]]
    for gap, line in zip(gaps, lines[1:]):
        if pitch and gap > 1.5 * pitch:
            paras.append(cur)
            cur = []
        cur.append(line)
    paras.append(cur)
    return "\n\n".join("\n".join(p) for p in paras) + "\n"


def pdf_roundtrip_text(
    words: DataFrame, key: str = "url", title: str = ""
) -> DataFrame:
    """Render each document's PDF and parse its text layer back, in the
    SAME grouped stage (one Python call per document — the bytes never
    cross an exchange): (key, pdf_text).  On clean pages the parsed text
    equals the golden page assembly, which is what gives the PDF
    renderer a hard SQL oracle (VERDICT r5 #4) — the binary itself stays
    pinned by the byte-structure unit tests."""
    import pandas as pd

    key_type = words.schema[key].dataType.simpleString()
    sel = words.select(
        key, "block_id", "para_id", "line_id", "word_id", "word",
        "left", "bottom", "page_width", "page_height",
    )

    def gen(doc: pd.DataFrame) -> pd.DataFrame:
        doc = doc.sort_values(["block_id", "para_id", "line_id", "word_id"])
        page_h = int(doc["page_height"].iloc[0])
        rows = [
            (int(x), page_h - int(b), str(w))
            for x, b, w in zip(doc["left"], doc["bottom"], doc["word"])
        ]
        blob = pdf_bytes(int(doc["page_width"].iloc[0]), page_h, rows, title)
        return pd.DataFrame(
            {key: [doc[key].iloc[0]], "pdf_text": [parse_pdf_text(blob)]}
        )

    return sel.groupBy(key).applyInPandas(
        gen, schema=f"{key} {key_type}, pdf_text string"
    )


def _image_layer(words: DataFrame, pages: DataFrame, key: str) -> DataFrame:
    """Scale shape of the image-under-text stage: the word
    layer collapses to ONE array-of-structs row per document JVM-side
    (``array_sort(collect_list(struct))`` — reading order is the struct's
    leading id fields), and only then joins the one-row-per-doc page
    raster, so the image crosses the shuffle exactly once — never
    duplicated per word row.  (key, _layer) with ``_layer`` the struct
    (page_width, page_height, _ws, html) the Python stage reads."""
    return (
        words.groupBy(key, "page_width", "page_height")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "block_id", "para_id", "line_id", "word_id",
                        "left", "bottom", "word",
                    )
                )
            ).alias("_ws")
        )
        .join(pages.select(key, "html"), key)
        .select(
            key,
            F.struct("page_width", "page_height", "_ws", "html").alias("_layer"),
        )
    )


def pdf_image_roundtrip_text(
    words: DataFrame, pages: DataFrame, key: str = "url", title: str = ""
) -> DataFrame:
    """Render each document's image-under-text PDF and parse BOTH halves
    back in the SAME stage: the Tm/Tj text layer reconstructs to page
    text (:func:`parse_pdf_text`) and the embedded XObject must decode
    bit-exactly to the source page's grayscale
    (:func:`extract_pdf_image` vs ``decode_page``).  (key, pdf_text):
    the parsed text when the image round-trips, else an
    ``IMG_MISMATCH`` sentinel — so one string column carries evidence
    for both halves and the textonly SQL oracle (the golden page
    assembly) stays the oracle for this mode too."""
    import numpy as np

    from tesseract_rs_spark.kernels.raster import decode_page

    def row(layer: dict) -> tuple:
        src, _status = decode_page(layer["html"])
        pw, ph = int(layer["page_width"]), int(layer["page_height"])
        rows = [
            (int(w["left"]), ph - int(w["bottom"]), str(w["word"]))
            for w in layer["_ws"]
        ]
        blob = pdf_bytes(pw, ph, rows, title, image=src)
        back = extract_pdf_image(blob)
        ok = (
            src is None and back is None
        ) or (
            src is not None
            and back is not None
            and np.array_equal(np.asarray(src, dtype=np.uint8), back)
        )
        return (parse_pdf_text(blob) if ok else "IMG_MISMATCH",)

    return map_docs(
        _image_layer(words, pages, key), (key,), "_layer", "pdf_text string",
        per_doc(row),
    )
