"""Ingest-time curation: the streaming twin of ``functions.cleaning.curate``.

The batch pipeline (extract -> quality/language filter and exact
keep-first dedup, which commute) composes naturally onto a
continuously-arriving crawl: extraction and the signal filters are
stateless, and the only stateful step — exact dedup — becomes
``dropDuplicatesWithinWatermark`` on the content digest, whose state is
bounded by (dup horizon x ingest rate) rather than corpus size.
First arrival per digest wins (the streaming analog of keep-first: one survivor
per distinct text either way; which row survives differs — min-id in
batch, first-seen in the stream — and the batch-equivalence test compares
the surviving DIGEST set, the invariant both share).

The reference has no streaming surface (SURVEY.md §2.7); this is
engine-native capability beyond parity, exactly-once via Spark's
offset/commit log.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.operators.extract import extract_text
from tesseract_rs_spark.sources.pages import PAGES_SCHEMA


def curate_stream(
    extracted: DataFrame,
    min_quality: int = 55,
    keep_langs: tuple = ("en",),
    ts_col: str = "warc_ts",
    horizon: str = "1 hour",
) -> DataFrame:
    """The curation stages over an (already extracted) streaming frame:
    flatten assembly newlines, score quality/language (stateless: one
    Python pass per doc), filter, then watermark-bounded exact dedup on
    the sha256 digest.  Unlike batch ``curate``, it filters before the
    dedup, so only passing rows enter the dedup state.  Works on batch
    frames too (minus the watermark semantics) — the flatten rule and the
    signal projection ARE the batch code (``cleaning.flatten_extracted``
    / ``cleaning.curation_scored``), so the quality gate cannot drift
    between modes."""
    from tesseract_rs_spark.functions.cleaning import (
        curation_scored,
        flatten_extracted,
    )

    flat = flatten_extracted(extracted)
    scored = curation_scored(
        flat, ("url", ts_col), "text", min_quality, keep_langs
    )
    return (
        scored.withColumn("fingerprint", F.sha2(F.col("text").cast("binary"), 256))
        .withWatermark(ts_col, horizon)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def stream_curate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig | None = None,
    min_quality: int = 55,
    keep_langs: tuple = ("en",),
    horizon: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """Start (and return) the end-to-end ingest pipeline: new parquet page
    files -> fused extraction -> curation -> append sink, exactly-once."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    extracted = extract_text(
        pages, cfg or ExtractConfig(), id_cols=("url", "warc_ts")
    )
    curated = curate_stream(
        extracted, min_quality=min_quality, keep_langs=keep_langs,
        horizon=horizon,
    )
    writer = (
        curated.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
