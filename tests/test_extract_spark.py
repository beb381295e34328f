"""Golden end-to-end through Spark — the reference's integration-test
altitude (/root/reference/tests/integration_test.rs, SURVEY.md §5.4).

The acceptance gate: per-url sha256(text) equality vs the golden table
(BASELINE.json input_hint)."""

import pyspark.sql.functions as F
import pytest

from support import reassemble_text

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.corpus import make_corpus
from tesseract_rs_spark.operators.extract import extract_text, extract_words
from tesseract_rs_spark.plans.partitioning import salted_repartition, split_oversized


@pytest.fixture(scope="module")
def corpus_dirs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    pages, golden = make_corpus("smoke")
    spark.createDataFrame(pages).write.parquet(str(d / "pages.parquet"))
    spark.createDataFrame(golden).write.parquet(str(d / "golden.parquet"))
    return str(d / "pages.parquet"), str(d / "golden.parquet")


def test_byte_identical_match_rate_100(spark, corpus_dirs):
    pages_path, golden_path = corpus_dirs
    pages = spark.read.parquet(pages_path)
    golden = spark.read.parquet(golden_path)
    result = extract_text(pages, ExtractConfig())
    joined = result.join(golden.select("url", "sha256", "expected_status"), "url")
    checked = joined.withColumn(
        "got_sha", F.sha2(F.col("text").cast("binary"), 256)
    ).withColumn(
        "match",
        (F.col("got_sha") == F.col("sha256"))
        & (F.col("status") == F.col("expected_status")),
    )
    total = checked.count()
    matched = checked.filter("match").count()
    assert total == 64
    assert matched == total, checked.filter(~F.col("match")).select(
        "url", "status", "expected_status"
    ).collect()


def test_error_rows_not_failures(spark, corpus_dirs):
    pages_path, golden_path = corpus_dirs
    result = extract_text(
        spark.read.parquet(pages_path), ExtractConfig(), spans=True
    )
    statuses = {r["status"] for r in result.select("status").distinct().collect()}
    assert {"ok", "utf8_error", "empty_input", "not_html"} <= statuses
    bad = result.filter(F.col("status") != "ok")
    assert bad.filter(F.size("failure_spans") >= 1).count() == bad.count()


def test_exploded_words_reassemble(spark, corpus_dirs):
    """Reassembling the exploded word table reproduces extract_text —
    the ResultIterator/get_utf8_text consistency contract."""
    pages_path, golden_path = corpus_dirs
    pages = spark.read.parquet(pages_path)
    words = extract_words(pages, ExtractConfig())
    docs = reassemble_text(words)
    golden = spark.read.parquet(golden_path).filter(
        (F.col("expected_status") == "ok") & (F.col("text") != "")
    )
    joined = golden.alias("g").join(docs.alias("d"), "url")
    n = joined.count()
    assert n == golden.count()
    assert joined.filter(F.col("g.text") == F.col("d.text")).count() == n


def test_confidence_rollups(spark, corpus_dirs):
    """extract_text's ``mean_conf`` (the mean_text_conf analog) agrees with
    the word table's confidences, and every word confidence is in [0, 100]
    (/root/reference/src/api.rs:114-120, 555-572)."""
    pages_path, _ = corpus_dirs
    pages = spark.read.parquet(pages_path)
    words = extract_words(pages, ExtractConfig())
    mtc = words.groupBy("url").agg(
        F.round(F.avg("conf")).cast("long").alias("mean_conf_rollup")
    )
    full = extract_text(pages, ExtractConfig()).filter("n_words > 0")
    joined = full.join(mtc, "url")
    assert joined.count() == full.count()
    # kernel mean_conf is word-weighted int round; rollup must agree
    mism = joined.filter(
        F.abs(F.col("mean_conf") - F.col("mean_conf_rollup")) > 1
    ).count()
    assert mism == 0
    assert words.filter(~F.col("conf").between(0.0, 100.0)).count() == 0


def test_determinism_two_runs(spark, corpus_dirs):
    pages_path, _ = corpus_dirs
    pages = spark.read.parquet(pages_path)
    a = extract_text(pages).select("url", "text").toPandas().sort_values("url")
    b = extract_text(pages).select("url", "text").toPandas().sort_values("url")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_salted_repartition_uniform(spark, corpus_dirs):
    pages_path, _ = corpus_dirs
    pages = spark.read.parquet(pages_path)
    parts = salted_repartition(pages, 8)
    sizes = parts.rdd.glom().map(len).collect()
    assert len(sizes) == 8 and max(sizes) <= 2 * (64 / 8 + 1)


def test_split_oversized(spark, corpus_dirs):
    pages_path, _ = corpus_dirs
    pages = spark.read.parquet(pages_path)
    normal, oversized, threshold = split_oversized(
        pages, threshold_quantile=0.9, min_threshold=10_000
    )
    assert normal.count() + oversized.count() == 64
    assert threshold >= 10_000
    # extraction over the union matches straight extraction
    merged = extract_text(normal.unionByName(oversized)).count()
    assert merged == 64


def test_oversized_sidecar_isolates_stragglers(spark):
    """SURVEY §4.2 sidecar contract, pinned structurally: after the
    split, the oversized side runs ONE page per task
    (repartitionByRange on the unique url), so the stage wall is bounded
    by the single largest page — not by whichever partition several big
    pages happened to co-locate in.  The wall-clock effect is measured
    in BENCH.md's skew-fixture entry; this test pins the layout that
    produces it and that the sidecar union loses no rows."""
    import pyspark.sql.functions as F2

    from tesseract_rs_spark.sources.pages import pages_from_documents

    small = spark.range(200).select(
        F2.col("id").alias("doc_id"),
        F2.lit("alpha beta gamma delta epsilon zeta eta theta").alias("text"),
        F2.lit("en").alias("lang"),
    )
    bigtext = " ".join(f"w{i}" for i in range(40_000))
    big = spark.range(3).select(
        (F2.col("id") + 1000).alias("doc_id"),
        F2.lit(bigtext).alias("text"),
        F2.lit("en").alias("lang"),
    )
    pages = pages_from_documents(small.unionByName(big))
    normal, oversized, threshold = split_oversized(
        pages, threshold_quantile=0.95, min_threshold=50_000
    )
    n_over = oversized.count()
    assert n_over == 3 and threshold >= 50_000
    sizes = oversized.repartitionByRange(n_over, "url").rdd.glom().map(len).collect()
    assert sorted(sizes) == [1, 1, 1], sizes  # one straggler per task
    sidecar = extract_text(oversized.repartitionByRange(n_over, "url"))
    merged = extract_text(normal).unionByName(sidecar)
    assert merged.count() == 203
    assert merged.filter(F2.col("status") != "ok").count() == 0


def test_extract_text_hot_path_plan(spark, corpus_dirs):
    """The 100 TB hot-path plan contract: scan -> fused MapInArrow with
    ZERO exchanges (the only shuffle in the whole job is whatever the
    caller aggregates afterwards), and column pruning must reach the
    parquet scan — a projection of (url, text, status) needs only
    (url, html) read."""
    pages_dir, _ = corpus_dirs
    pages = spark.read.parquet(pages_dir)
    out = extract_text(pages, ExtractConfig(), id_cols=("url",)).select(
        "url", "text", "status"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan, plan
    # pruned scan: html+url only — text/lang/warc_ts never leave parquet
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    formatted = buf.getvalue()
    read_schema = [l for l in formatted.splitlines() if "ReadSchema" in l]
    assert read_schema, formatted
    assert "html" in read_schema[0] and "url" in read_schema[0]
    for unused in ("warc_ts", "lang"):
        assert unused not in read_schema[0], read_schema[0]
