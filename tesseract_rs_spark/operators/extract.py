"""Distributed extraction operators — one fused Arrow stage each.

The reference runs decode -> threshold -> segment -> recognize -> assemble
inside one ``recognize`` call (/root/reference/src/api.rs:287-298); we fuse
decode -> segment -> classify -> assemble inside ONE per-batch function
run through :func:`operators.arrow.map_docs`, so intermediate page
structures never cross the Arrow boundary or shuffle (SURVEY.md §4.2
"Pipelining").  Each operator is its field list plus a function from a
batch of payloads to those fields' columns.

Error model: a corrupt page yields a ``status != 'ok'`` row with failure
spans — the job never dies on one bad document
(/root/reference/src/error.rs:6-41, SURVEY.md §1.4).
"""

from __future__ import annotations

from functools import partial
from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.kernels.html import extract_doc
from tesseract_rs_spark.operators.arrow import arrow_fields, map_batch, map_docs

TEXT_RESULT_FIELDS = (
    "text string, status string, n_blocks long, n_words long, "
    "mean_conf long, n_chars long"
)
FULL_RESULT_FIELDS = (
    TEXT_RESULT_FIELDS + ", failure_spans array<struct<start: long, end: long>>"
)
WORD_RESULT_FIELDS = (
    "block_id long, para_id long, line_id long, word_id long, "
    "word string, conf double, span_start long, span_end long"
)


def text_columns(htmls: pa.Array, cfg: ExtractConfig, spans: bool = False) -> list:
    """One batch of payloads -> the text fields' columns, one value per page."""
    rs = [extract_doc(h, cfg) for h in htmls.to_pylist()]
    cols = [
        [r.text for r in rs],
        [r.status for r in rs],
        [r.n_blocks_kept for r in rs],
        [r.n_words for r in rs],
        [r.mean_conf for r in rs],
        [r.n_chars for r in rs],
    ]
    if spans:
        cols.append([r.failure_spans for r in rs])
    return cols


def extract_text_batch(
    pdf: pd.DataFrame, cfg: ExtractConfig, id_cols: Sequence[str], spans: bool = False
) -> pd.DataFrame:
    """:func:`extract_text`'s per-batch body on a pandas frame, no Spark
    needed: one result row per page."""
    batch = pa.RecordBatch.from_pandas(
        pdf[[*id_cols, "html"]], preserve_index=False
    )
    fields = arrow_fields(FULL_RESULT_FIELDS if spans else TEXT_RESULT_FIELDS)
    fn = partial(text_columns, cfg=cfg, spans=spans)
    return map_batch(batch, len(id_cols), fn, fields).to_pandas()


def word_columns(htmls: pa.Array, cfg: ExtractConfig) -> tuple:
    """One batch of payloads -> the exploded word fields (the reference's
    ResultIterator analog, ``src/result_iterator.rs:41-71``) as
    ``(words per page, flat columns)``.  Numeric columns are one
    ``np.repeat`` each over per-line word counts; only the word strings
    pass through a Python list (one ``split`` per line, in
    ``Block.line_words``)."""
    results = [extract_doc(h, cfg) for h in htmls.to_pylist()]
    # ONE meta table for the whole batch: the line rows concatenate in doc
    # order, so every derived column equals the per-doc concatenation
    words: list = []
    meta: list = []  # (block_id, line_id, n_words, score, start, end)
    doc_words = np.zeros(len(results), dtype=np.int64)
    for di, r in enumerate(results):
        nw = 0
        for block_id, b in enumerate(r.blocks):
            for line_id, ws in enumerate(b.line_words()):
                words.extend(ws)
                meta.append(
                    (block_id, line_id, len(ws), b.score, b.src_start, b.src_end)
                )
                nw += len(ws)
        doc_words[di] = nw
    total = len(words)
    if total == 0:
        return doc_words, []
    m = np.asarray(meta, dtype=np.float64)
    counts = m[:, 2].astype(np.int64)
    offsets = np.repeat(np.cumsum(counts) - counts, counts)
    return doc_words, [
        np.repeat(m[:, 0].astype(np.int64), counts),
        np.zeros(total, dtype=np.int64),
        np.repeat(m[:, 1].astype(np.int64), counts),
        np.arange(total, dtype=np.int64) - offsets,
        words,
        np.repeat(m[:, 3], counts),
        np.repeat(m[:, 4].astype(np.int64), counts),
        np.repeat(m[:, 5].astype(np.int64), counts),
    ]


def extract_text(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
    spans: bool = False,
    monitor=None,
) -> DataFrame:
    """pages -> (id_cols..., text, status, n_blocks, n_words, mean_conf,
    n_chars[, failure_spans]) in ONE fused vectorized stage.

    ``monitor`` (a :class:`tesseract_rs_spark.monitor.ProgressMonitor`)
    receives one accumulator add per Arrow batch — the TessMonitor
    progress channel; the deadline channel is ``cfg.page_timeout_ms``."""
    cfg = cfg or ExtractConfig()
    fields = FULL_RESULT_FIELDS if spans else TEXT_RESULT_FIELDS
    fn = partial(text_columns, cfg=cfg, spans=spans)
    return map_docs(pages, id_cols, "html", fields, fn, monitor=monitor)


def extract_words(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
) -> DataFrame:
    """pages -> exploded word table (id_cols..., block_id, para_id, line_id,
    word_id, word, conf) in one vectorized stage.  Reading order is encoded
    in the id columns, not in row order (SURVEY.md §3.2)."""
    cfg = cfg or ExtractConfig()
    fn = partial(word_columns, cfg=cfg)
    return map_docs(pages, id_cols, "html", WORD_RESULT_FIELDS, fn, explode=True)
