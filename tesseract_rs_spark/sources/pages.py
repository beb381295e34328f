"""Page-table sources.

The canonical input is an Iceberg-style table
``pages(url string, warc_ts timestamp, html binary, text string,
lang string)`` (BASELINE.json input_hint).  At test scale plain parquet
stands in for Iceberg (FIXTURES.md §1); callers scan it with plain
``spark.read``, so swapping ``format("iceberg")`` in is a one-line change
on a real cluster.

``pages_from_documents`` derives a deterministic pages table from the
driver-provided ``documents`` parquet (TESTDATA.md) by rendering each
document's text into a boilerplate-wrapped HTML page — the corpus
generator run *distributed*, as a vectorized stage.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from tesseract_rs_spark.corpus import (
    DEFAULT_PARA_WORDS,
    page_ts,
    page_url,
    render_html,
)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
PAGES_FROM_DOCS_SCHEMA = "doc_id long, " + PAGES_SCHEMA


def render_batch(
    pdf: pd.DataFrame,
    para_words: int = DEFAULT_PARA_WORDS,
    variant: int | None = None,
) -> pd.DataFrame:
    """Vectorized page render for one Arrow batch of documents rows."""
    doc_ids = pdf["doc_id"].to_numpy()
    texts = pdf["text"].to_numpy()
    langs = pdf["lang"].to_numpy()
    html = [
        render_html(t, int(d), l, para_words=para_words, variant=variant).encode("utf-8")
        for d, t, l in zip(doc_ids, texts, langs)
    ]
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].astype("int64"),
            "url": [page_url(int(d), l) for d, l in zip(doc_ids, langs)],
            "warc_ts": [page_ts(int(d)) for d in doc_ids],
            "html": html,
            "text": texts,
            "lang": langs,
        }
    )


def raster_pages_from_documents(
    docs: DataFrame,
    words_per_line: int = 8,
    lines_per_para: int = 3,
    rotate_mod4: bool = False,
    tur_every: int | None = None,
    sup_every: int | None = None,
    sub_every: int | None = None,
    drop_every: int | None = None,
    bpp: int = 1,
    pad: int = 0,
) -> DataFrame:
    """documents -> PAGE-raster pages (FIXTURES.md §1.1 binary layout):
    each document's text rasterized with the shared geometry constants, so
    OCR goldens (text AND pixel bboxes) are knowable in closed form.

    ``rotate_mod4`` rotates page ``doc_id`` by ``(doc_id % 4) * 90``
    degrees ccw — the OSD fixture (expected orientation is knowable in
    SQL: ``(doc_id % 4) * 90``)."""
    from tesseract_rs_spark.kernels.raster import render_page

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "url": [
                        page_url(int(d), l)
                        for d, l in zip(pdf["doc_id"], pdf["lang"])
                    ],
                    "warc_ts": [page_ts(int(d)) for d in pdf["doc_id"]],
                    "html": [
                        render_page(
                            t,
                            words_per_line,
                            lines_per_para,
                            bpp=bpp,
                            pad=pad,
                            rotate=(int(d) % 4) * 90 if rotate_mod4 else 0,
                            tur_every=tur_every,
                            sup_every=sup_every,
                            sub_every=sub_every,
                            drop_every=drop_every,
                        )
                        for d, t in zip(ids, pdf["text"])
                    ],
                    "text": pdf["text"],
                    "lang": pdf["lang"],
                }
            )

    return docs.select("doc_id", "text", "lang").mapInPandas(
        gen, schema=PAGES_FROM_DOCS_SCHEMA
    )


def pages_from_documents(
    docs: DataFrame,
    para_words: int = DEFAULT_PARA_WORDS,
    variant: int | None = None,
) -> DataFrame:
    """documents(doc_id, text, lang, ...) -> pages, as one mapInPandas
    stage (no shuffle; chains into downstream extraction in-stage)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield render_batch(pdf, para_words=para_words, variant=variant)

    return docs.select("doc_id", "text", "lang").mapInPandas(
        gen, schema=PAGES_FROM_DOCS_SCHEMA
    )
