"""The three workloads: one closed-loop unit of work each, run untraced for
the end-to-end metrics and traced (layer boundaries materialised) for the
per-layer metrics.

A unit is one Spark pipeline over one input shard, from the parquet scan to
an oracle-checked result on the driver.  Each ``run_*`` function returns a
result dict with at least ``docs``, ``mb``, ``wall``, ``attempted`` and
``failed``; each ``trace_*`` function records spans on a
:class:`perfbench.trace.Tracer` and returns the counters it read.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import uuid
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from perfbench import oracle
from perfbench.trace import html_kernel_us, materialize, raster_kernel_ms
from tesseract_rs_spark.functions.cleaning import curate, flatten_extracted
from tesseract_rs_spark.functions.dedup import (
    dup_clusters,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
)
from tesseract_rs_spark.monitor import ProgressMonitor
from tesseract_rs_spark.operators.extract import extract_text, extract_words
from tesseract_rs_spark.operators.ocr import ocr_text
from tesseract_rs_spark.plans.checkpoint import read_lineage, run_checkpointed

# the --curate --fuzzy-dedup 0.8 settings of jobs/extract_job.py
MIN_QUALITY = 55
KEEP_LANGS = ("en",)
FUZZY_T = 0.8
# checkpointed extraction: 3 groups of 2 buckets; the injected crash hits
# the middle group, so the first call commits group 0 and the resume 1-2
N_BUCKETS = 6
GROUP_SIZE = 2
FAIL_MID = {2}

KERNEL_SAMPLE_HTML = 1000
KERNEL_SAMPLE_RASTER = 48


@dataclass
class Unit:
    path: str  # shard directory
    golden: pd.DataFrame  # golden rows of exactly this unit's urls
    pages: int
    mb: float  # payload megabytes (html or raster bytes)


def load_unit(path: str, golden: pd.DataFrame, payload_bytes: int) -> Unit:
    urls = set(pq.read_table(path, columns=["url"]).column("url").to_pylist())
    return Unit(path, golden[golden["url"].isin(urls)].reset_index(drop=True),
                len(urls), payload_bytes / 1e6)


def _sha(col: str = "text"):
    return F.sha2(F.col(col).cast("binary"), 256).alias("sha256")


def _scan(spark, unit: Unit):
    return spark.read.parquet(unit.path)


# ---------------------------------------------------------------------------
# html_extract
# ---------------------------------------------------------------------------


def run_html(spark, unit: Unit, ctx: dict) -> dict:
    t0 = time.perf_counter()
    pages = _scan(spark, unit)
    got = extract_text(pages).select("url", "status", _sha(), "n_chars").toPandas()
    t1 = time.perf_counter()
    n_words = extract_words(pages).count()
    t2 = time.perf_counter()
    attempted, failed = oracle.check_pages(got, unit.golden)
    if n_words != int(unit.golden["n_words"].sum()):
        failed = attempted  # the word table as a whole is wrong
    wall = time.perf_counter() - t0
    return dict(
        docs=unit.pages, mb=unit.mb, wall=wall, attempted=attempted, failed=failed,
        words_s=t2 - t1, words_out=n_words, rows_out=len(got),
        error_rows=int((got["status"] != "ok").sum()),
        chars_out=int(got["n_chars"].sum()),
    )


def trace_html(spark, unit: Unit, tr, ctx: dict) -> dict:
    pages = _scan(spark, unit)
    mon = ProgressMonitor(spark)
    with tr.span("unit"):
        with tr.span("sources.scan"):
            materialize(pages.select("url", "html"))
        with tr.span("operators.extract.text"):
            materialize(extract_text(pages, monitor=mon))
        with tr.span("operators.extract.words"):
            materialize(extract_words(pages))
    return dict(batches=mon.batches, rows_in=mon.pages)


# ---------------------------------------------------------------------------
# curate_dedup: the --curate --fuzzy-dedup chain of jobs/extract_job.py
# ---------------------------------------------------------------------------


def _curated(pages):
    return curate(
        flatten_extracted(extract_text(pages)),
        id_col="url", min_quality=MIN_QUALITY, keep_langs=KEEP_LANGS,
    )


def _losers(pairs):
    return (
        dup_clusters(pairs)
        .filter("doc_id != cluster_id")
        .select(F.col("doc_id").alias("url"))
    )


def run_dedup(spark, unit: Unit, ctx: dict) -> dict:
    t0 = time.perf_counter()
    cur = _curated(_scan(spark, unit)).localCheckpoint()
    pairs = minhash_dedup_pairs(cur, threshold=FUZZY_T, id_col="url").select("id_a", "id_b")
    kept = cur.join(_losers(pairs), "url", "left_anti").select("url").toPandas()
    attempted, failed = oracle.check_survivors(kept["url"], unit.golden)
    wall = time.perf_counter() - t0
    return dict(docs=unit.pages, mb=unit.mb, wall=wall, attempted=attempted,
                failed=failed, survivors=len(kept))


def trace_dedup(spark, unit: Unit, tr, ctx: dict) -> dict:
    pages = _scan(spark, unit)
    mon = ProgressMonitor(spark)
    with tr.span("unit"):
        with tr.span("sources.scan"):
            materialize(pages.select("url", "html"))
        with tr.span("operators.extract.text"):
            materialize(extract_text(pages, monitor=mon))
        with tr.span("functions.cleaning.curate"):
            materialize(_curated(pages))
        with tr.span("localCheckpoint"):
            cur = _curated(pages).localCheckpoint()
        sigs = minhash_signatures(cur, id_col="url")
        cands = lsh_candidate_pairs(sigs, id_col="url")
        pairs = minhash_dedup_pairs(cur, threshold=FUZZY_T, id_col="url").select("id_a", "id_b")
        with tr.span("functions.dedup.signatures"):
            materialize(sigs)
        with tr.span("functions.dedup.candidates"):
            materialize(cands)
        with tr.span("functions.dedup.verify"):
            materialize(pairs)
        with tr.span("functions.dedup.clusters"):
            clusters = dup_clusters(pairs)
            materialize(clusters)
    ok_rows = flatten_extracted(extract_text(pages)).count()
    kept = cur.count()
    n_cands = cands.count()
    n_pairs = pairs.count()
    return dict(
        batches=mon.batches, rows_in=mon.pages, ok_rows=ok_rows, kept=kept,
        candidates=n_cands, pairs=n_pairs,
        losers=clusters.filter("doc_id != cluster_id").count(),
    )


# ---------------------------------------------------------------------------
# raster_ocr
# ---------------------------------------------------------------------------


def run_raster(spark, unit: Unit, ctx: dict) -> dict:
    t0 = time.perf_counter()
    got = ocr_text(_scan(spark, unit)).select("url", "status", _sha(), "n_components").toPandas()
    attempted, failed = oracle.check_pages(got, unit.golden)
    wall = time.perf_counter() - t0
    return dict(
        docs=unit.pages, mb=unit.mb, wall=wall, attempted=attempted, failed=failed,
        error_rows=int((got["status"] != "ok").sum()),
        components=int(got["n_components"].sum()),
    )


def trace_raster(spark, unit: Unit, tr, ctx: dict) -> dict:
    pages = _scan(spark, unit)
    with tr.span("unit"):
        with tr.span("sources.scan"):
            materialize(pages.select("url", "html"))
        with tr.span("operators.ocr"):
            materialize(ocr_text(pages))
    return {}


# ---------------------------------------------------------------------------
# plans.checkpoint: traced on html_extract's input
# ---------------------------------------------------------------------------


def _ckpt(spark, pages, out: str, fail: set | None):
    return run_checkpointed(spark, pages, out, n_buckets=N_BUCKETS,
                            group_size=GROUP_SIZE, fail_buckets=fail)


def _crash(spark, pages, out: str, fail: set) -> bool:
    """Run with an injected failure; True when it failed as injected."""
    try:
        _ckpt(spark, pages, out, fail)
    except RuntimeError as e:
        return "injected failure" in str(e)
    return False


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def trace_checkpoint(spark, unit: Unit, tr, ctx: dict) -> tuple:
    """Checkpointed extraction of one shard: staging alone (a failure
    injected into group 0 returns right after staging), a crash injected
    into the middle group, then the resume.  The resumed output is checked
    per url and for exactly-once bookkeeping.  Returns (check result,
    counters)."""
    out = os.path.join(ctx["ckpt_dir"], uuid.uuid4().hex)
    pages = _scan(spark, unit)
    with tr.span("checkpoint"):
        with tr.span("plans.checkpoint.stage"):
            staged = _crash(spark, pages, out, {0})
        with tr.span("plans.checkpoint.first"):
            crashed = _crash(spark, pages, out, FAIL_MID)
        before = {r["bucket"]: r for r in read_lineage(out)}
        with tr.span("plans.checkpoint.resume"):
            result = _ckpt(spark, pages, out, None)
    after = read_lineage(out)
    got = result.select("url", "status", _sha()).toPandas()
    attempted, failed = oracle.check_pages(got, unit.golden)
    failed += oracle.check_lineage(after, len(got), N_BUCKETS)
    failed += (not staged) + (not crashed)
    # every bucket of a group records the group's wall time
    walls = {r["bucket"] // GROUP_SIZE: r["wall_s_group"] for r in after}
    after = {r["bucket"]: r for r in after}
    counts = {
        "plans.checkpoint.buckets_committed": len(after),
        "plans.checkpoint.bytes_written": _dir_bytes(os.path.join(out, "data")),
        "plans.checkpoint.resume_recomputed_buckets": sum(
            after.get(b) != r for b, r in before.items()),
        "plans.checkpoint.group_commit_s": statistics.median(walls.values()),
        "plans.checkpoint.stage_s": tr.durations("plans.checkpoint.stage")[-1],
        "plans.checkpoint.resume_s": tr.durations("plans.checkpoint.resume")[-1],
    }
    shutil.rmtree(out, ignore_errors=True)
    return {"attempted": attempted, "failed": failed}, counts


# ---------------------------------------------------------------------------
# registry + per-layer table
# ---------------------------------------------------------------------------

RUN = {
    "html_extract": run_html,
    "curate_dedup": run_dedup,
    "raster_ocr": run_raster,
}
TRACE = {
    "html_extract": trace_html,
    "curate_dedup": trace_dedup,
    "raster_ocr": trace_raster,
}

# (name, unit): every per-layer metric a traced run reports.  A layer that
# is not on a workload's path reports 0 there.
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.bytes", "B"),
    ("sources.partitions", "count"),
    ("sources.partition_bytes_skew", "ratio"),
    ("sources.scale_eff", "ratio"),
    ("kernels.html.us_per_doc", "us"),
    ("kernels.html.docs", "count"),
    ("kernels.raster.ms_per_page", "ms"),
    ("kernels.raster.pages", "count"),
    ("operators.extract.text_self_s", "s"),
    ("operators.extract.words_self_s", "s"),
    ("operators.extract.overhead_s", "s"),
    ("operators.extract.batches", "count"),
    ("operators.extract.rows_in", "count"),
    ("operators.extract.rows_out", "count"),
    ("operators.extract.error_rows", "count"),
    ("operators.extract.chars_out", "count"),
    ("operators.extract.words_out", "count"),
    ("operators.extract.words_rows_per_s", "rows/s"),
    ("operators.ocr.self_s", "s"),
    ("operators.ocr.pages", "count"),
    ("operators.ocr.error_rows", "count"),
    ("operators.ocr.components", "count"),
    ("functions.cleaning.curate_self_s", "s"),
    ("functions.cleaning.kept", "count"),
    ("functions.cleaning.keep_ratio", "ratio"),
    ("functions.dedup.signatures_s", "s"),
    ("functions.dedup.candidates_s", "s"),
    ("functions.dedup.candidates", "count"),
    ("functions.dedup.verify_s", "s"),
    ("functions.dedup.pairs", "count"),
    ("functions.dedup.verify_yield", "ratio"),
    ("functions.dedup.clusters_s", "s"),
    ("functions.dedup.losers", "count"),
    ("plans.checkpoint.stage_s", "s"),
    ("plans.checkpoint.group_commit_s", "s"),
    ("plans.checkpoint.buckets_committed", "count"),
    ("plans.checkpoint.bytes_written", "B"),
    ("plans.checkpoint.resume_recomputed_buckets", "count"),
    ("plans.checkpoint.resume_s", "s"),
    ("trace.overhead_s", "s"),
)


def source_layer(spark, unit: Unit) -> dict:
    """Input layout of one unit as the scan sees it."""
    pages = _scan(spark, unit)
    per_part = (
        pages.select(F.spark_partition_id().alias("p"), F.length("html").alias("b"))
        .groupBy("p").agg(F.sum("b").alias("b"))
        .toPandas()["b"]
    )
    return {
        "sources.bytes": _dir_bytes(unit.path),
        "sources.partitions": pages.rdd.getNumPartitions(),
        "sources.partition_bytes_skew": float(per_part.max() / per_part.median()),
    }


def kernel_layer(workload: str, unit: Unit) -> dict:
    """Direct single-process kernel timings on a fixed sample of the unit."""
    payloads = pq.read_table(unit.path, columns=["html"]).column("html")
    if workload == "raster_ocr":
        sample = payloads.slice(0, KERNEL_SAMPLE_RASTER).to_pylist()
        return {"kernels.raster.ms_per_page": raster_kernel_ms(sample),
                "kernels.raster.pages": len(sample)}
    sample = payloads.slice(0, KERNEL_SAMPLE_HTML).to_pylist()
    return {"kernels.html.us_per_doc": html_kernel_us(sample),
            "kernels.html.docs": len(sample)}


def layer_metrics(workload: str, tr, untraced: list, counts: dict, slots: int) -> dict:
    """Per-layer values of one workload from its spans (self times by
    prefix differencing, medians over units) and its counters (first
    unit)."""
    m: dict = {}
    u0 = untraced[0]
    m["sources.scan_s"] = statistics.median(tr.durations("sources.scan"))
    if workload in ("html_extract", "curate_dedup"):
        text_self = tr.median_self("operators.extract.text", "sources.scan")
        m["operators.extract.text_self_s"] = text_self
        m["operators.extract.batches"] = counts["batches"]
        m["operators.extract.rows_in"] = counts["rows_in"]
        us = counts.get("kernels.html.us_per_doc", 0.0)
        m["operators.extract.overhead_s"] = text_self - counts["rows_in"] * us / 1e6 / slots
    if workload == "html_extract":
        m["operators.extract.words_self_s"] = tr.median_self(
            "operators.extract.words", "sources.scan")
        for k in ("rows_out", "error_rows", "chars_out", "words_out"):
            m[f"operators.extract.{k}"] = u0[k]
        m["operators.extract.words_rows_per_s"] = statistics.median(
            r["words_out"] / r["words_s"] for r in untraced)
    elif workload == "raster_ocr":
        m["operators.ocr.self_s"] = tr.median_self("operators.ocr", "sources.scan")
        m["operators.ocr.pages"] = u0["docs"]
        m["operators.ocr.error_rows"] = u0["error_rows"]
        m["operators.ocr.components"] = u0["components"]
    elif workload == "curate_dedup":
        m["functions.cleaning.curate_self_s"] = tr.median_self(
            "functions.cleaning.curate", "operators.extract.text")
        m["functions.cleaning.kept"] = counts["kept"]
        m["functions.cleaning.keep_ratio"] = counts["kept"] / max(1, counts["ok_rows"])
        m["functions.dedup.signatures_s"] = statistics.median(
            tr.durations("functions.dedup.signatures"))
        m["functions.dedup.candidates_s"] = tr.median_self(
            "functions.dedup.candidates", "functions.dedup.signatures")
        m["functions.dedup.verify_s"] = tr.median_self(
            "functions.dedup.verify", "functions.dedup.candidates")
        m["functions.dedup.clusters_s"] = tr.median_self(
            "functions.dedup.clusters", "functions.dedup.verify")
        m["functions.dedup.candidates"] = counts["candidates"]
        m["functions.dedup.pairs"] = counts["pairs"]
        m["functions.dedup.verify_yield"] = counts["pairs"] / max(1, counts["candidates"])
        m["functions.dedup.losers"] = counts["losers"]
    m["trace.overhead_s"] = (
        statistics.median(tr.durations("unit"))
        - statistics.median(r["wall"] for r in untraced)
    )
    return m


def scale_eff(spark, units: list, cores: int, conf: dict, build, ctx: dict):
    """Scaling efficiency of html_extract: (thr@high / thr@low) /
    (high / low) with low = 1 slot and high = nproc/2 slots, each in a
    fresh session.  The high level stays at half the cores because a
    mapInPandas slot keeps about two threads busy (JVM scan and Arrow plus
    the Python worker).  Returns (spark, efficiency, unit results)."""
    low, high = 1, max(2, cores // 2)
    thr, results = {}, []
    for n in (low, high):
        spark, _, _ = build(n, conf, spark)
        res = [run_html(spark, u, ctx) for u in units]
        thr[n] = sum(r["docs"] for r in res) / sum(r["wall"] for r in res)
        results += res
    return spark, (thr[high] / thr[low]) / (high / low), results
