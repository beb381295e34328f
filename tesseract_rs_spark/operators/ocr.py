"""Distributed raster-OCR operators — the PAGE-format twin of
operators/extract.py: each is one fused Arrow stage (decode -> Otsu ->
CC-label -> segment -> template-decode -> assemble; SURVEY.md §3.1) run
through :func:`operators.arrow.map_docs`, written as its field list plus
a function from a batch of page payloads to those fields' columns.

Emits real pixel bounding boxes and per-line baselines — the literal
page-iterator surface (/root/reference/src/page_iterator.rs:110-175)."""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.kernels.raster import (
    extract_raster_doc,
    raster_layout_blocks,
    raster_symbol_attrs,
    raster_symbols,
    thresholded_image,
)
from tesseract_rs_spark.operators.arrow import (
    arrow_fields,
    explode_rows,
    map_docs,
    per_doc,
)

OCR_TEXT_FIELDS = (
    "text string, status string, threshold long, orientation_deg long, "
    "deskew_deg double, n_components long, n_words long, mean_conf long"
)
OCR_WORD_FIELDS = (
    "block_id long, para_id long, line_id long, word_id long, word string, "
    "conf double, left long, top long, right long, bottom long, baseline_y long"
)


def raster_results(
    payloads: pa.Array, cfg: ExtractConfig, langs: tuple | None = None
) -> list:
    """THE per-batch decode loop, shared by every raster operator and the
    adaptive twin (one definition — a fix to the decode call signature
    cannot silently miss a copy, review r5): one RasterResult per page,
    with every config knob threaded (whitelist, timeout, engine mode,
    ROI, orientation margin) and ``langs`` defaulting to the config's
    joint-language list."""
    wl = cfg.char_whitelist
    return [
        extract_raster_doc(
            p, whitelist=wl, timeout_ms=cfg.page_timeout_ms,
            langs=langs if langs is not None else cfg.langs,
            oem=cfg.oem, roi=cfg.roi_rect,
            orient_margin=cfg.min_orientation_margin,
        )
        for p in payloads.to_pylist()
    ]


def page_columns(fields: str, cfg: ExtractConfig, langs: tuple | None = None):
    """``map_docs`` function for one row per page: each declared field is
    the RasterResult attribute of that name (``n_words`` counts the
    page's words)."""
    names = arrow_fields(fields).names

    def fn(payloads: pa.Array) -> list:
        rs = raster_results(payloads, cfg, langs)
        return [
            [len(r.words) for r in rs] if a == "n_words"
            else [getattr(r, a) for r in rs]
            for a in names
        ]

    return fn


def ocr_text(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
) -> DataFrame:
    cfg = cfg or ExtractConfig()
    fn = page_columns(OCR_TEXT_FIELDS, cfg)
    return map_docs(pages, id_cols, payload_col, OCR_TEXT_FIELDS, fn)


OCR_OSD_FIELDS = (
    "status string, orientation_deg long, orientation_conf double, "
    "script string, script_conf double, writing_direction string, "
    "textline_order string, deskew_deg double, text string"
)


def ocr_osd(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
) -> DataFrame:
    """Orientation & script detection surface — the detect_os /
    orientation-tuple analog (/root/reference/src/api.rs:599-629,
    page_iterator.rs:182-217): per page (orientation 0/90/180/270 ccw +
    confidence, script + confidence, writing_direction, textline_order,
    deskew angle) plus the auto-rotated decode text, so byte-exact
    extraction under rotation is part of the oracle surface.  The
    config's ``min_orientation_margin`` (set_min_orientation_margin
    analog) governs the disambiguation vote."""
    cfg = cfg or ExtractConfig()
    fn = page_columns(OCR_OSD_FIELDS, cfg)
    return map_docs(pages, id_cols, payload_col, OCR_OSD_FIELDS, fn)


OCR_SYMBOL_FIELDS = (
    "para_id long, line_id long, word_id long, symbol_id long, glyph string, "
    "conf double, choices array<struct<glyph: string, conf: double>>"
)
OCR_LAYOUT_FIELDS = (
    "para_id long, n_lines long, n_words long, left long, top long, "
    "right long, bottom long, block_type string, justification string, "
    "first_line_indent long"
)


def ocr_symbols(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
    k: int = 3,
) -> DataFrame:
    """Symbol-level rows with descending-confidence choice lists
    (/root/reference/src/choice_iterator.rs:30-71)."""
    wl = (cfg or ExtractConfig()).char_whitelist
    return map_docs(
        pages, id_cols, payload_col, OCR_SYMBOL_FIELDS,
        lambda ps: explode_rows(
            [raster_symbols(p, wl, k)[1] for p in ps.to_pylist()]
        ),
        explode=True,
    )


OCR_SYMBOL_ATTR_FIELDS = (
    "para_id long, line_id long, word_id long, symbol_id long, glyph string, "
    "left long, top long, right long, bottom long, "
    "is_superscript boolean, is_subscript boolean, is_dropcap boolean"
)


def ocr_symbol_attrs(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
) -> DataFrame:
    """Per-symbol typographic predicates
    (symbol_is_superscript/_subscript/_dropcap,
    /root/reference/src/result_iterator.rs:171-203) with per-component
    pixel boxes."""
    wl = (cfg or ExtractConfig()).char_whitelist
    return map_docs(
        pages, id_cols, payload_col, OCR_SYMBOL_ATTR_FIELDS,
        lambda ps: explode_rows(
            [raster_symbol_attrs(p, wl)[1] for p in ps.to_pylist()]
        ),
        explode=True,
    )


def word_font_attributes(words: DataFrame, source_dpi: int = 96) -> DataFrame:
    """word_font_attributes analog
    (/root/reference/src/result_iterator.rs:96-138): the reference's LSTM
    engine reports no font styles, so the style booleans and font_id are
    NULL by contract; pointsize is derived from the glyph-cell height at
    the source resolution (72 * height_px / dpi) — all JVM expressions."""
    null_bool = F.lit(None).cast("boolean")
    return words.select(
        "*",
        null_bool.alias("is_bold"),
        null_bool.alias("is_italic"),
        null_bool.alias("is_underlined"),
        null_bool.alias("is_monospace"),
        null_bool.alias("is_serif"),
        null_bool.alias("is_smallcaps"),
        F.round((F.col("bottom") - F.col("top")) * 72 / source_dpi)
        .cast("long")
        .alias("pointsize"),
        F.lit(None).cast("long").alias("font_id"),
    )


def ocr_layout(
    pages: DataFrame,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
) -> DataFrame:
    """Paragraph-level layout analysis without recognition — the
    analyse_layout / init_for_analyse_page surface
    (/root/reference/src/api.rs:1353-1364, 774-781)."""
    return map_docs(
        pages, id_cols, payload_col, OCR_LAYOUT_FIELDS,
        lambda ps: explode_rows(
            [raster_layout_blocks(p)[1] for p in ps.to_pylist()]
        ),
        explode=True,
    )


def ocr_thresholded(
    pages: DataFrame,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
) -> DataFrame:
    """Binarized-page debug surface (get_thresholded_image +
    scale factor, /root/reference/src/api.rs:445-456, 825-831):
    (ids..., status, threshold, scale_factor, width, height, bits)."""
    return map_docs(
        pages, id_cols, payload_col,
        "status string, threshold long, scale_factor long, "
        "width long, height long, bits binary",
        per_doc(thresholded_image),
    )


def ocr_words(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
    include_lang: bool = False,
) -> DataFrame:
    """``include_lang`` appends the per-word winning recognition model —
    the word_recognition_language channel
    (/root/reference/src/result_iterator.rs:78-89)."""
    cfg = cfg or ExtractConfig()
    fields = OCR_WORD_FIELDS + (", word_lang string" if include_lang else "")
    n_word_cols = len(arrow_fields(fields))

    def fn(payloads: pa.Array) -> tuple:
        docs = raster_results(payloads, cfg)
        counts, cols = explode_rows([r.words for r in docs])
        # page dims: per-doc values repeated per word (the coordinate
        # frame for bottom-left-origin box renderers)
        dims = [
            np.repeat([getattr(r, a) for r in docs], counts)
            for a in ("page_width", "page_height")
        ]
        return counts, cols[:n_word_cols] + dims

    return map_docs(
        pages, id_cols, payload_col,
        fields + ", page_width long, page_height long", fn, explode=True,
    )
