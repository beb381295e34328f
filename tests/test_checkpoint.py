"""Checkpoint/resume: kill mid-run -> restart -> identical output with no
recomputation of completed buckets (north rule; BASELINE.md resume gate)."""

import os

import pytest

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.corpus import make_corpus
from tesseract_rs_spark.operators.extract import extract_text
from tesseract_rs_spark.plans.checkpoint import (
    completed_buckets,
    read_lineage,
    run_checkpointed,
)

N_BUCKETS = 8


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ckpt")
    pages, _ = make_corpus("smoke")
    p = str(d / "pages.parquet")
    spark.createDataFrame(pages).write.parquet(p)
    return p


def _as_sorted_pandas(df):
    return (
        df.select("url", "text", "status")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def test_resume_after_injected_failure(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    # crash before the group containing bucket 5 commits
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, pages, out, ExtractConfig(),
            n_buckets=N_BUCKETS, group_size=2, fail_buckets={5},
        )
    done_before = completed_buckets(out)
    assert 0 < len(done_before) < N_BUCKETS
    lineage_before = {r["bucket"]: r["ts"] for r in read_lineage(out)}

    # restart: completes without recomputing finished buckets
    result = run_checkpointed(
        spark, pages, out, ExtractConfig(), n_buckets=N_BUCKETS, group_size=2
    )
    lineage_after = {r["bucket"]: r["ts"] for r in read_lineage(out)}
    for b in done_before:
        assert lineage_after[b] == lineage_before[b], "completed bucket was recomputed"
    assert set(lineage_after) == set(range(N_BUCKETS))

    # output identical to a single-pass run
    single = extract_text(pages, ExtractConfig())
    assert _as_sorted_pandas(result).equals(_as_sorted_pandas(single))


def test_lineage_metrics(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out2")
    run_checkpointed(spark, pages, out, ExtractConfig(), n_buckets=4, group_size=4)
    rows = read_lineage(out)
    assert len(rows) == 4
    assert sum(r["n_rows"] for r in rows) == 64
    assert all(len(r["conf_histogram"]) == 10 for r in rows)
    assert all(sum(r["conf_histogram"]) == r["n_rows"] for r in rows)
    assert sum(r["chars_emitted"] for r in rows) > 0
    # smoke corpus plants corrupt pages: failure accounting must see them
    assert sum(r["n_failed"] for r in rows) == 12
    assert sum(r["failure_spans_total"] for r in rows) >= 12
    assert os.path.isdir(os.path.join(out, "data"))


def test_lineage_equals_recount_of_written_data(spark, pages_path, tmp_path):
    """Every lineage counter equals a pandas recount of the bucket's rows in
    the written parquet.  Groups are uneven (40, 40, 16) and there are more
    buckets than pages, so some buckets have no rows at all."""
    import numpy as np
    import pandas as pd

    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out_recount")
    n_buckets = 96
    run_checkpointed(
        spark, pages, out, ExtractConfig(), n_buckets=n_buckets, group_size=40
    )
    data = pd.read_parquet(os.path.join(out, "data"))
    data["bucket"] = data["bucket"].astype(int)
    rows = read_lineage(out)
    assert [r["bucket"] for r in rows] == list(range(n_buckets))
    assert sum(r["n_rows"] == 0 for r in rows) > 0
    for r in rows:
        d = data[data["bucket"] == r["bucket"]]
        assert d["failure_spans"].notna().all()
        deciles = np.minimum(np.floor(d["mean_conf"] / 10), 9).astype(int)
        want = {
            "n_rows": len(d),
            "n_ok": int((d["status"] == "ok").sum()),
            "n_failed": int((d["status"] != "ok").sum()),
            "chars_emitted": int(d["n_chars"].sum()),
            "words_emitted": int(d["n_words"].sum()),
            "failure_spans_total": int(sum(len(s) for s in d["failure_spans"])),
            "conf_histogram": np.bincount(deciles, minlength=10).tolist(),
        }
        assert {k: r[k] for k in want} == want, r["bucket"]


class TestBucketing:
    """Shuffle-free co-located joins via catalog bucketing
    (plans/bucketing.py): pay the shuffle once at write time."""

    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from tesseract_rs_spark.plans.bucketing import bucketed_join, write_bucketed

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
        )
        write_bucketed(li, "li_b", "l_orderkey", n_buckets=8)
        write_bucketed(orders, "ord_b", "l_orderkey", n_buckets=8)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = bucketed_join(spark, "li_b", "ord_b", "l_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # and it computes the same answer as the shuffled join
            want = li.join(orders, "l_orderkey").count()
            assert joined.count() == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS li_b")
            spark.sql("DROP TABLE IF EXISTS ord_b")


def test_staging_prunes_mismatches_and_cleans_up(spark, pages_path, tmp_path):
    """VERDICT r3 scan fix + review hardening: per-group reads must NOT
    rescan the whole input (the staged `bucket` partition column prunes
    at the file level); resuming against a snapshot staged with a
    DIFFERENT n_buckets is an error (buckets would silently vanish), and
    the snapshot is deleted once every bucket commits (it would otherwise
    double the job's storage footprint forever)."""
    import json

    import pyspark.sql.functions as F

    from tesseract_rs_spark.plans.checkpoint import STAGED_DIR

    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out3")
    # crash mid-run: the staged snapshot must exist for the resume
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, pages, out, ExtractConfig(),
            n_buckets=4, group_size=2, fail_buckets={3},
        )
    staged_path = os.path.join(out, STAGED_DIR)
    assert os.path.exists(os.path.join(staged_path, "_SUCCESS"))
    with open(os.path.join(out, STAGED_DIR + "_meta.json")) as f:
        assert json.load(f)["n_buckets"] == 4
    staged = spark.read.parquet(staged_path)
    files = (
        staged.filter(F.col("bucket").isin([0, 1]))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    assert files
    for r in files:
        assert ("bucket=0" in r["f"]) or ("bucket=1" in r["f"]), r["f"]
    # resuming with a different bucketing must refuse, not drop buckets
    with pytest.raises(ValueError, match="n_buckets"):
        run_checkpointed(
            spark, pages, out, ExtractConfig(), n_buckets=8, group_size=2
        )
    # correct resume completes and removes the snapshot; the meta sidecar
    # STAYS as the permanent record of this out_dir's bucketing
    result = run_checkpointed(
        spark, pages, out, ExtractConfig(), n_buckets=4, group_size=2
    )
    assert not os.path.exists(staged_path)
    with open(os.path.join(out, STAGED_DIR + "_meta.json")) as f:
        assert json.load(f)["n_buckets"] == 4
    single = extract_text(pages, ExtractConfig())
    assert _as_sorted_pandas(result).equals(_as_sorted_pandas(single))
    # a rerun with everything committed is a no-op read (no restaging)
    run_checkpointed(
        spark, pages, out, ExtractConfig(), n_buckets=4, group_size=2
    )
    assert not os.path.exists(staged_path)
    # and re-running a COMPLETED out_dir with a larger n_buckets must
    # refuse — it would re-derive 'pending' buckets and append duplicates
    with pytest.raises(ValueError, match="n_buckets"):
        run_checkpointed(
            spark, pages, out, ExtractConfig(), n_buckets=8, group_size=2
        )
