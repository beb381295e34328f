"""Checkpoint / resume with per-partition lineage + metrics (north rule).

Batch-wise commit protocol (SURVEY.md §4.2 "Checkpoint/resume"): the input
is bucketed by ``pmod(xxhash64(url), n_buckets)``; buckets are processed in
groups; each completed group atomically lands

- its result rows under ``out_dir/data/bucket=<b>/`` (parquet), and
- one lineage row per bucket under ``out_dir/_lineage/`` recording counts,
  chars emitted, a confidence histogram, and failure-span totals — the
  per-partition extraction metrics the north star names.

Resume = anti-join pending buckets against recorded lineage: a restarted
job recomputes nothing that committed.  On a real cluster the same
protocol maps onto Iceberg partition-level appends; parquet directories
stand in here (FIXTURES.md §1).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.operators.extract import extract_text

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"
STAGED_DIR = "_staged"

# confidence histogram bucket edges (0-100 in tens, like the reference's
# 0-100 confidence domain, /root/reference/src/api.rs:555-572)
_CONF_BUCKETS = 10
# lineage counters that add up across a bucket's per-decile partial rows
_SUMS = ("n_rows", "n_ok", "chars_emitted", "words_emitted", "failure_spans_total")


def _lineage_path(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, LINEAGE_DIR, f"bucket-{bucket:05d}.json")


def completed_buckets(out_dir: str) -> set:
    d = os.path.join(out_dir, LINEAGE_DIR)
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("bucket-") and name.endswith(".json"):
            out.add(int(name[len("bucket-") : -len(".json")]))
    return out


def read_lineage(out_dir: str) -> list:
    d = os.path.join(out_dir, LINEAGE_DIR)
    rows = []
    if os.path.isdir(d):
        for name in sorted(os.listdir(d)):
            if name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    rows.append(json.load(f))
    return rows


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: ExtractConfig | None = None,
    n_buckets: int = 32,
    group_size: int = 8,
    fail_buckets: set | None = None,
) -> DataFrame:
    """Process ``pages`` with per-bucket checkpointing; returns the full
    result DataFrame, keyed by ``(url, bucket)``, read back from
    ``out_dir/data``.

    ``fail_buckets`` injects a simulated crash after the group containing
    those buckets commits everything before them — used by the resume test
    (kill mid-run -> restart -> identical output, BASELINE.md).
    """
    cfg = cfg or ExtractConfig()
    os.makedirs(os.path.join(out_dir, LINEAGE_DIR), exist_ok=True)
    done = completed_buckets(out_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    # A crash between the data append and the lineage commit leaves orphan
    # data for pending buckets; scrub it so resume is exactly-once.
    import shutil

    for b in pending:
        orphan = os.path.join(out_dir, DATA_DIR, f"bucket={b}")
        if os.path.isdir(orphan):
            shutil.rmtree(orphan)
    # Stage the bucketed input ONCE, partitioned by bucket (the parquet
    # stand-in for an Iceberg table partitioned on the bucket key).  The
    # old code filtered each group on a COMPUTED xxhash64 column, which
    # prunes nothing at the file level: with n_buckets/group_size groups
    # the job read the whole input that many times — 300 TB of wasted
    # scan at 100 TB (VERDICT r3 #4).  After staging, `bucket` is a
    # partition column, so each group's filter prunes to its own files
    # (asserted via input_file_name in tests): total input reads = 1
    # staging scan + 1 partition-pruned read per bucket, independent of
    # group count; a crash mid-stage leaves no _SUCCESS and restages.
    # The staged copy is the job's input SNAPSHOT: a resume processes it,
    # not a refreshed `pages` (consistency across the crash boundary) —
    # send changed input to a fresh out_dir.  A sidecar meta file records
    # n_buckets and OUTLIVES the snapshot: any later invocation against
    # this out_dir with a different bucketing is an error, both mid-run
    # (staged buckets outside range(n_buckets) would silently drop) and
    # after completion (a larger n_buckets would re-derive 'pending'
    # buckets and append DUPLICATE rows next to the committed ones).
    # The snapshot itself is deleted once every bucket has committed (it
    # would otherwise double the job's storage footprint forever).
    staged_dir = os.path.join(out_dir, STAGED_DIR)
    meta_path = os.path.join(out_dir, STAGED_DIR + "_meta.json")
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("n_buckets") != n_buckets:
            raise ValueError(
                f"this out_dir was bucketed with n_buckets="
                f"{meta.get('n_buckets')}; running it with n_buckets="
                f"{n_buckets} would drop or duplicate buckets. Use the "
                "original n_buckets or a fresh out_dir."
            )
    bucketed = None
    if pending:
        staged_ok = os.path.exists(os.path.join(staged_dir, "_SUCCESS"))
        if not (staged_ok and meta is not None):
            (
                pages.withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"),
                )
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(staged_dir)
            )
            _atomic_write_json(meta_path, {"n_buckets": n_buckets})
        bucketed = spark.read.parquet(staged_dir).withColumn(
            "bucket", F.col("bucket").cast("int")
        )
    groups = [pending[i : i + group_size] for i in range(0, len(pending), group_size)]
    for group in groups:
        if fail_buckets and set(group) & set(fail_buckets):
            raise RuntimeError(f"injected failure before committing buckets {group}")
        t0 = time.time()
        part = bucketed.filter(F.col("bucket").isin(group))
        result = extract_text(
            part, cfg, id_cols=("url", "bucket"), spans=True
        )
        (
            result.repartition(len(group), "bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, DATA_DIR))
        )
        # per-bucket metrics from what we just wrote (no recompute), in ONE
        # aggregation: partial sums per (bucket, conf_decile), folded per
        # bucket here.  Constant rows per bucket, never a collected list (at
        # 10^12 docs a collect_list here would be the job's largest
        # allocation).
        partials = (
            spark.read.parquet(os.path.join(out_dir, DATA_DIR))
            .filter(F.col("bucket").isin(group))
            .groupBy(
                "bucket",
                F.least(
                    F.floor(F.col("mean_conf") / 10), F.lit(_CONF_BUCKETS - 1)
                ).alias("decile"),
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
                F.sum("n_chars").alias("chars_emitted"),
                F.sum("n_words").alias("words_emitted"),
                F.sum(F.size("failure_spans")).alias("failure_spans_total"),
            )
            .collect()
        )
        stats = defaultdict(_empty_stats)
        for row in partials:
            rec = stats[row["bucket"]]
            for k in _SUMS:
                rec[k] += row[k] or 0
            rec["conf_histogram"][int(row["decile"])] += row["n_rows"]
        wall = time.time() - t0
        for b in group:
            # buckets with zero rows still need lineage so resume skips them
            _commit_lineage(out_dir, b, stats[b], wall, len(group))
    # every bucket committed: the input snapshot has no consumer left.
    # Runs unconditionally (not just when THIS invocation had pending
    # work) so a crash between the last lineage commit and the cleanup
    # doesn't orphan the snapshot forever; the meta sidecar stays — it is
    # the permanent record of this out_dir's bucketing (see guard above).
    if os.path.isdir(staged_dir):
        shutil.rmtree(staged_dir, ignore_errors=True)
    return spark.read.parquet(os.path.join(out_dir, DATA_DIR))


def _empty_stats() -> dict:
    return dict.fromkeys(_SUMS, 0) | {"conf_histogram": [0] * _CONF_BUCKETS}


def _commit_lineage(out_dir: str, bucket: int, stats: dict, wall: float, group_len: int) -> None:
    rec = {
        "bucket": int(bucket),
        "n_rows": stats["n_rows"],
        "n_ok": stats["n_ok"],
        "n_failed": stats["n_rows"] - stats["n_ok"],
        "chars_emitted": stats["chars_emitted"],
        "words_emitted": stats["words_emitted"],
        "failure_spans_total": stats["failure_spans_total"],
        "conf_histogram": stats["conf_histogram"],
        "wall_s_group": round(wall, 3),
        "group_size": group_len,
        "ts": time.time(),
    }
    _atomic_write_json(_lineage_path(out_dir, bucket), rec)


def _atomic_write_json(path: str, rec: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)
