"""Distributed raster-OCR operators — the PAGE-format twin of
operators/extract.py (one fused mapInPandas stage: decode -> Otsu ->
CC-label -> segment -> template-decode -> assemble; SURVEY.md §3.1).

Emits real pixel bounding boxes and per-line baselines — the literal
page-iterator surface (/root/reference/src/page_iterator.rs:110-175)."""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
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
from tesseract_rs_spark.operators.extract import _id_schema

OCR_TEXT_FIELDS = (
    "text string, status string, threshold long, orientation_deg long, "
    "deskew_deg double, n_components long, n_words long, mean_conf long"
)
OCR_WORD_FIELDS = (
    "block_id long, para_id long, line_id long, word_id long, word string, "
    "conf double, left long, top long, right long, bottom long, baseline_y long"
)


def _explode(pdf, id_cols, per_doc: list, names: Sequence[str],
             dtypes: dict) -> tuple:
    """Per-doc row lists -> output columns, one row per kernel row: the
    id columns repeat per row (``np.repeat``), the rows transpose once
    per batch, and each named column takes its ``dtypes`` entry (default
    int64; ``object`` keeps a plain list).  Row tuples may carry extra
    trailing fields; only ``names`` are kept.  Returns (columns dict in
    output order, per-doc row counts)."""
    counts = np.fromiter(
        (len(r) for r in per_doc), dtype=np.int64, count=len(per_doc)
    )
    out: dict = {c: np.repeat(pdf[c].to_numpy(), counts) for c in id_cols}
    rows: list = []
    for r in per_doc:
        rows.extend(r)
    t = list(zip(*rows)) if rows else [()] * len(names)
    for name, col in zip(names, t):
        dt = dtypes.get(name, np.int64)
        out[name] = list(col) if dt is object else np.asarray(col, dtype=dt)
    return out, counts


def raster_batch_results(pdf, cfg: ExtractConfig, payload_col: str = "html",
                         langs: tuple | None = None) -> list:
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
        for p in pdf[payload_col]
    ]


def ocr_text(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
) -> DataFrame:
    cfg = cfg or ExtractConfig()
    schema = _id_schema(pages, id_cols) + ", " + OCR_TEXT_FIELDS
    id_cols = tuple(id_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            results = raster_batch_results(pdf, cfg, payload_col)
            out = {c: pdf[c].to_numpy() for c in id_cols}
            out["text"] = [r.text for r in results]
            out["status"] = [r.status for r in results]
            out["threshold"] = pd.array([r.threshold for r in results], dtype="int64")
            out["orientation_deg"] = pd.array(
                [r.orientation_deg for r in results], dtype="int64"
            )
            out["deskew_deg"] = pd.array(
                [r.deskew_deg for r in results], dtype="float64"
            )
            out["n_components"] = pd.array(
                [r.n_components for r in results], dtype="int64"
            )
            out["n_words"] = pd.array([len(r.words) for r in results], dtype="int64")
            out["mean_conf"] = pd.array([r.mean_conf for r in results], dtype="int64")
            yield pd.DataFrame(out)

    return pages.select(*id_cols, payload_col).mapInPandas(gen, schema=schema)


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
    schema = _id_schema(pages, id_cols) + ", " + OCR_OSD_FIELDS
    id_cols = tuple(id_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            results = raster_batch_results(pdf, cfg, payload_col)
            out = {c: pdf[c].to_numpy() for c in id_cols}
            out["status"] = [r.status for r in results]
            out["orientation_deg"] = pd.array(
                [r.orientation_deg for r in results], dtype="int64"
            )
            out["orientation_conf"] = pd.array(
                [r.orientation_conf for r in results], dtype="float64"
            )
            out["script"] = [r.script for r in results]
            out["script_conf"] = pd.array(
                [r.script_conf for r in results], dtype="float64"
            )
            out["writing_direction"] = [r.writing_direction for r in results]
            out["textline_order"] = [r.textline_order for r in results]
            out["deskew_deg"] = pd.array(
                [r.deskew_deg for r in results], dtype="float64"
            )
            out["text"] = [r.text for r in results]
            yield pd.DataFrame(out)

    return pages.select(*id_cols, payload_col).mapInPandas(gen, schema=schema)


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
    cfg = cfg or ExtractConfig()
    wl = cfg.char_whitelist
    schema = _id_schema(pages, id_cols) + ", " + OCR_SYMBOL_FIELDS
    id_cols = tuple(id_cols)
    names = (
        "para_id", "line_id", "word_id", "symbol_id", "glyph", "conf", "choices",
    )
    dtypes = {"glyph": object, "conf": np.float64, "choices": object}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            per_doc = [raster_symbols(p, wl, k)[1] for p in pdf[payload_col]]
            out, _ = _explode(pdf, id_cols, per_doc, names, dtypes)
            out["choices"] = [
                [{"glyph": g, "conf": c} for g, c in alts]
                for alts in out["choices"]
            ]
            yield pd.DataFrame(out)

    return pages.select(*id_cols, payload_col).mapInPandas(gen, schema=schema)


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
    cfg = cfg or ExtractConfig()
    wl = cfg.char_whitelist
    schema = _id_schema(pages, id_cols) + ", " + OCR_SYMBOL_ATTR_FIELDS
    id_cols = tuple(id_cols)
    names = (
        "para_id", "line_id", "word_id", "symbol_id", "glyph",
        "left", "top", "right", "bottom",
        "is_superscript", "is_subscript", "is_dropcap",
    )
    dtypes = {
        "glyph": object, "is_superscript": bool, "is_subscript": bool,
        "is_dropcap": bool,
    }

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            per_doc = [raster_symbol_attrs(p, wl)[1] for p in pdf[payload_col]]
            yield pd.DataFrame(
                _explode(pdf, id_cols, per_doc, names, dtypes)[0]
            )

    return pages.select(*id_cols, payload_col).mapInPandas(gen, schema=schema)


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
    schema = _id_schema(pages, id_cols) + ", " + OCR_LAYOUT_FIELDS
    id_cols = tuple(id_cols)
    names = (
        "para_id", "n_lines", "n_words", "left", "top", "right", "bottom",
        "block_type", "justification", "first_line_indent",
    )
    dtypes = {"block_type": object, "justification": object}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            per_doc = [raster_layout_blocks(p)[1] for p in pdf[payload_col]]
            yield pd.DataFrame(
                _explode(pdf, id_cols, per_doc, names, dtypes)[0]
            )

    return pages.select(*id_cols, payload_col).mapInPandas(gen, schema=schema)


def ocr_thresholded(
    pages: DataFrame,
    id_cols: Sequence[str] = ("url",),
    payload_col: str = "html",
) -> DataFrame:
    """Binarized-page debug surface (get_thresholded_image +
    scale factor, /root/reference/src/api.rs:445-456, 825-831):
    (ids..., status, threshold, scale_factor, width, height, bits)."""
    schema = _id_schema(pages, id_cols) + (
        ", status string, threshold long, scale_factor long, "
        "width long, height long, bits binary"
    )
    id_cols = tuple(id_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            res = [thresholded_image(p) for p in pdf[payload_col]]
            out = {c: pdf[c].to_numpy() for c in id_cols}
            out["status"] = [r[0] for r in res]
            out["threshold"] = pd.array([r[1] for r in res], dtype="int64")
            out["scale_factor"] = pd.array([r[2] for r in res], dtype="int64")
            out["width"] = pd.array([r[3] for r in res], dtype="int64")
            out["height"] = pd.array([r[4] for r in res], dtype="int64")
            out["bits"] = [r[5] for r in res]
            yield pd.DataFrame(out)

    return pages.select(*id_cols, payload_col).mapInPandas(gen, schema=schema)


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
    langs = cfg.langs
    schema = _id_schema(pages, id_cols) + ", " + OCR_WORD_FIELDS
    if include_lang:
        schema += ", word_lang string"
    schema += ", page_width long, page_height long"
    id_cols = tuple(id_cols)
    names = (
        "block_id", "para_id", "line_id", "word_id", "word", "conf",
        "left", "top", "right", "bottom", "baseline_y",
    ) + (("word_lang",) if include_lang else ())
    dtypes = {"word": object, "conf": np.float64, "word_lang": object}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            docs = raster_batch_results(pdf, cfg, payload_col, langs=langs)
            out, counts = _explode(
                pdf, id_cols, [r.words for r in docs], names, dtypes
            )
            # page dims: per-doc values repeated per word (the coordinate
            # frame for bottom-left-origin box renderers)
            out["page_width"] = np.repeat(
                np.fromiter((r.page_width for r in docs), np.int64, len(docs)),
                counts,
            )
            out["page_height"] = np.repeat(
                np.fromiter((r.page_height for r in docs), np.int64, len(docs)),
                counts,
            )
            yield pd.DataFrame(out)

    return pages.select(*id_cols, payload_col).mapInPandas(gen, schema=schema)
