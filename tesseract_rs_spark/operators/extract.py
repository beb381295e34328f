"""Distributed extraction operators — fused mapInPandas stages.

The reference runs decode -> threshold -> segment -> recognize -> assemble
inside one ``recognize`` call (/root/reference/src/api.rs:287-298); we fuse
decode -> segment -> classify -> assemble inside ONE ``mapInPandas``
generator so intermediate page structures never cross the Arrow boundary
or shuffle (SURVEY.md §4.2 "Pipelining").

Error model: a corrupt page yields a ``status != 'ok'`` row with failure
spans — the job never dies on one bad document
(/root/reference/src/error.rs:6-41, SURVEY.md §1.4).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.kernels.html import extract_doc

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


def _id_schema(pages: DataFrame, id_cols: Sequence[str]) -> str:
    by_name = {f.name: f for f in pages.schema.fields}
    return ", ".join(f"{c} {by_name[c].dataType.simpleString()}" for c in id_cols)


def extract_text_batch(
    pdf: pd.DataFrame, cfg: ExtractConfig, id_cols: Sequence[str], spans: bool = False
) -> pd.DataFrame:
    """Extract one Arrow batch -> one result row per page."""
    results = [extract_doc(h, cfg) for h in pdf["html"].to_numpy()]
    out = {c: pdf[c].to_numpy() for c in id_cols}
    out["text"] = [r.text for r in results]
    out["status"] = [r.status for r in results]
    out["n_blocks"] = pd.array([r.n_blocks_kept for r in results], dtype="int64")
    out["n_words"] = pd.array([r.n_words for r in results], dtype="int64")
    out["mean_conf"] = pd.array([r.mean_conf for r in results], dtype="int64")
    out["n_chars"] = pd.array([r.n_chars for r in results], dtype="int64")
    if spans:
        out["failure_spans"] = [
            [{"start": s, "end": e} for (s, e) in r.failure_spans]
            for r in results
        ]
    return pd.DataFrame(out)


def extract_words_arrow_batch(batch, cfg: ExtractConfig, n_ids: int):
    """Extract one Arrow batch -> exploded word-level rows (ResultIterator
    analog, /root/reference/src/result_iterator.rs:41-71), Arrow-native
    (r7, guide §4.2): the
    exploded word table is built as pyarrow arrays directly — id columns
    are one ``pc.take`` gather over the UNTOUCHED input Arrow arrays (no
    pandas object round-trip for 54 words/doc), numeric columns one
    ``np.repeat`` each over per-line word counts, and only the word
    strings pass through a Python list (one ``split`` per line, in
    ``Block.line_words``).  Returns the output column arrays (schema
    order) or None for an all-empty batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    htmls = batch.column(n_ids).to_pylist()
    results = [extract_doc(h, cfg) for h in htmls]
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
        return None
    m = np.asarray(meta, dtype=np.float64)
    counts = m[:, 2].astype(np.int64)
    block = np.repeat(m[:, 0].astype(np.int64), counts)
    line = np.repeat(m[:, 1].astype(np.int64), counts)
    conf = np.repeat(m[:, 3], counts)
    span_start = np.repeat(m[:, 4].astype(np.int64), counts)
    span_end = np.repeat(m[:, 5].astype(np.int64), counts)
    offsets = np.repeat(np.cumsum(counts) - counts, counts)
    word_id = np.arange(total, dtype=np.int64) - offsets
    idx = pa.array(np.repeat(np.arange(len(results), dtype=np.int64), doc_words))
    arrays = [pc.take(batch.column(i), idx) for i in range(n_ids)]
    arrays += [
        pa.array(block),
        pa.array(np.zeros(total, dtype=np.int64)),
        pa.array(line),
        pa.array(word_id),
        pa.array(words, type=pa.string()),
        pa.array(conf, type=pa.float64()),
        pa.array(span_start),
        pa.array(span_end),
    ]
    return arrays


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
    schema = _id_schema(pages, id_cols) + ", " + (
        FULL_RESULT_FIELDS if spans else TEXT_RESULT_FIELDS
    )
    id_cols = tuple(id_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield extract_text_batch(pdf, cfg, id_cols, spans=spans)
                if monitor is not None:
                    monitor.add_batch(len(pdf))

    return pages.select(*id_cols, "html").mapInPandas(gen, schema=schema)


def extract_words(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    id_cols: Sequence[str] = ("url",),
) -> DataFrame:
    """pages -> exploded word table (id_cols..., block_id, para_id, line_id,
    word_id, word, conf) in one vectorized stage.  Reading order is encoded
    in the id columns, not in row order (SURVEY.md §3.2)."""
    cfg = cfg or ExtractConfig()
    schema = _id_schema(pages, id_cols) + ", " + WORD_RESULT_FIELDS
    id_cols = tuple(id_cols)
    out_names = list(id_cols) + [
        "block_id", "para_id", "line_id", "word_id", "word", "conf",
        "span_start", "span_end",
    ]

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            arrays = extract_words_arrow_batch(batch, cfg, len(id_cols))
            if arrays is not None:
                yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return pages.select(*id_cols, "html").mapInArrow(gen, schema=schema)
