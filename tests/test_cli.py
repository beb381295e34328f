"""spark-submit deployment path (north rule: launched via spark-submit
--py-files) — package zip + CLI job, output byte-identical to golden."""

import json
import os
import subprocess
import sys
import zipfile

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_py_files(tmp_path):
    sys.path.insert(0, REPO)
    from tesseract_rs_spark.corpus import make_corpus

    zip_path = tmp_path / "tesseract_rs_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(REPO, "tesseract_rs_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    pages, golden = make_corpus("smoke")
    pages_path = str(tmp_path / "pages.parquet")
    pages.to_parquet(
        pages_path, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    golden_path = str(tmp_path / "golden.parquet")
    golden.to_parquet(golden_path)
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--py-files", str(zip_path),
            os.path.join(REPO, "jobs", "extract_job.py"),
            "--input", pages_path,
            "--output", out,
            "--output-format", "text",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["rows"] == 64
    con = duckdb.connect()
    n = con.sql(
        f"""
        SELECT count(*) FROM read_parquet('{out}/*.parquet') o
        JOIN read_parquet('{golden_path}') g USING (url)
        WHERE o.text = g.text AND o.status = g.expected_status
        """
    ).fetchone()[0]
    assert n == 64


def test_cli_curate_stage(tmp_path, spark):
    """--curate runs the one-pass curation stage after extraction: output
    carries the curation columns, drops non-ok rows, and exact-dedups."""
    sys.path.insert(0, REPO)
    import importlib

    from tesseract_rs_spark.corpus import make_corpus

    extract_job = importlib.import_module("jobs.extract_job")
    pages, _ = make_corpus("smoke")
    pages_path = str(tmp_path / "pages.parquet")
    pages.to_parquet(
        pages_path, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    out = str(tmp_path / "out")
    rc = extract_job.main(
        [
            "--input", pages_path,
            "--output", out,
            "--output-format", "text",
            "--curate", "--min-quality", "0",
            "--keep-langs", "en,de,fr,es",
            "--master", "4",
        ]
    )
    assert rc == 0
    res = spark.read.parquet(out)
    cols = set(res.columns)
    assert {"url", "text", "quality", "lang_pred", "fingerprint"} <= cols
    n = res.count()
    assert 0 < n <= 64
    # exact dedup: one row per distinct fingerprint
    assert res.select("fingerprint").distinct().count() == n


def test_cli_fuzzy_dedup_stage(tmp_path, spark):
    """--fuzzy-dedup after --curate: a planted near-duplicate (one word
    changed — exact dedup can NOT catch it) collapses to its minimum-url
    survivor while the unrelated doc survives; without --curate the flag
    refuses."""
    sys.path.insert(0, REPO)
    import importlib

    import pyspark.sql.functions as F

    from tesseract_rs_spark.sources.pages import pages_from_documents

    extract_job = importlib.import_module("jobs.extract_job")
    base = (
        "the cat is of the house and the dog is of the yard "
        "the bird is of the tree and the fish is of the pond "
        "the fox is of the wood and the owl is of the barn"
    )
    near = base.rsplit(" ", 1)[0] + " loft"  # one word differs
    other = (
        "a table is of a room and a chair is of a hall "
        "a lamp is of a desk and a rug is of a floor "
        "a door is of a wall and a clock is of a shelf"
    )
    docs = spark.createDataFrame(
        [(0, base, "en"), (1, near, "en"), (2, other, "en")],
        "doc_id long, text string, lang string",
    )
    pages_path = str(tmp_path / "pages_fuzzy.parquet")
    pages_from_documents(docs).drop("doc_id").write.parquet(pages_path)
    out = str(tmp_path / "out_fuzzy")
    rc = extract_job.main(
        [
            "--input", pages_path,
            "--output", out,
            "--output-format", "text",
            "--curate", "--min-quality", "0", "--keep-langs", "en",
            "--fuzzy-dedup", "0.8",
            "--master", "4",
        ]
    )
    assert rc == 0
    res = spark.read.parquet(out)
    assert res.count() == 2  # base+near collapsed, other kept
    kept_urls = {r["url"] for r in res.select("url").collect()}
    # EXACT survivor set: the minimum url of the near-dup component
    # (doc 0, not doc 1) plus the unrelated doc 2
    assert {u.rsplit("/", 1)[-1] for u in kept_urls} == {"000000", "000002"}
    # refuse without --curate
    rc2 = extract_job.main(
        [
            "--input", pages_path, "--output", out,
            "--fuzzy-dedup", "0.8", "--master", "2",
        ]
    )
    assert rc2 == 2
    # refuse out-of-range thresholds (Jaccard lives in (0, 1]): a typo'd
    # '--fuzzy-dedup 8' would otherwise ship near-dups the user believes
    # were removed
    for bad in ("8", "0", "-0.5"):
        rc3 = extract_job.main(
            [
                "--input", pages_path, "--output", out,
                "--curate", "--fuzzy-dedup", bad, "--master", "2",
            ]
        )
        assert rc3 == 2, bad


def test_cli_block_hosts_pre_extraction_gate(tmp_path, spark):
    """--block-hosts drops blocked-domain pages BEFORE extraction; the
    blocklist file supports comments; subdomains of a listed registered
    domain are blocked too."""
    sys.path.insert(0, REPO)
    import importlib

    import pyspark.sql.functions as F

    from tesseract_rs_spark.sources.pages import pages_from_documents

    extract_job = importlib.import_module("jobs.extract_job")
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta", "en") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    pages = pages_from_documents(docs).withColumn(
        "url",
        F.concat(
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("https://keep.example/")
            ).otherwise(F.lit("https://sub.spam.example/")),
            F.col("doc_id").cast("string"),
        ),
    ).drop("doc_id")
    pages_path = str(tmp_path / "pages_bl.parquet")
    pages.write.parquet(pages_path)
    bl = tmp_path / "blocklist.txt"
    bl.write_text("# crawl blocklist\n\nspam.example\n")
    out = str(tmp_path / "out_bl")
    rc = extract_job.main(
        [
            "--input", pages_path, "--output", out,
            "--output-format", "text",
            "--block-hosts", str(bl),
            "--master", "4",
        ]
    )
    assert rc == 0
    res = spark.read.parquet(out)
    assert res.count() == 5
    assert all("keep.example" in r["url"] for r in res.select("url").collect())


def test_cli_curate_rejects_unsupported_combination(tmp_path):
    """--curate with the raster payload (or a non-text format) must refuse
    rather than silently ship uncurated output (review r4)."""
    sys.path.insert(0, REPO)
    import importlib

    extract_job = importlib.import_module("jobs.extract_job")
    rc = extract_job.main(
        [
            "--input", "x", "--output", "y",
            "--payload", "raster", "--curate", "--master", "2",
        ]
    )
    assert rc == 2
    rc2 = extract_job.main(
        [
            "--input", "x", "--output", "y",
            "--output-format", "tsv", "--curate", "--master", "2",
        ]
    )
    assert rc2 == 2


@pytest.mark.parametrize(
    "flags",
    [
        ["--checkpoint-dir", "c", "--output-format", "words"],
        ["--checkpoint-dir", "c", "--payload", "raster"],
        ["--payload", "raster", "--output-format", "hocr"],
    ],
    ids=["checkpoint-words", "checkpoint-raster", "raster-hocr"],
)
def test_cli_rejects_combination_it_does_not_run(tmp_path, flags):
    """The checkpointed job extracts html text only and the raster job
    writes OCR text only: any other combination refuses before reading
    the input (exit 2) instead of writing a different table and exiting
    0."""
    sys.path.insert(0, REPO)
    import importlib

    extract_job = importlib.import_module("jobs.extract_job")
    argv = ["--input", str(tmp_path / "missing"), "--output", str(tmp_path / "out")]
    assert extract_job.main(argv + flags + ["--master", "2"]) == 2
    assert not (tmp_path / "out").exists()


def test_cli_fuzzy_dedup_checkpoint_modes(tmp_path, spark):
    """--fuzzy-dedup pins the curated survivor set with a RELIABLE
    checkpoint when --checkpoint-dir is given (preemption-safe: the pin
    lives in the checkpoint store, not on executors — a preempted
    executor would otherwise re-run the whole extraction lineage) and
    localCheckpoint otherwise (VERDICT r5 #5).  Evidence: the reliable
    run writes RDD checkpoint files under <dir>/fuzzy_dedup_curated,
    the local run does not, and the survivor sets are identical."""
    sys.path.insert(0, REPO)
    import importlib

    from tesseract_rs_spark.sources.pages import pages_from_documents

    extract_job = importlib.import_module("jobs.extract_job")
    base = (
        "the cat is of the house and the dog is of the yard "
        "the bird is of the tree and the fish is of the pond "
        "the fox is of the wood and the owl is of the barn"
    )
    near = base.rsplit(" ", 1)[0] + " loft"
    docs = spark.createDataFrame(
        [(0, base, "en"), (1, near, "en")],
        "doc_id long, text string, lang string",
    )
    pages_path = str(tmp_path / "pages_ckpt.parquet")
    pages_from_documents(docs).drop("doc_id").write.parquet(pages_path)
    common = [
        "--input", pages_path,
        "--output-format", "text",
        "--curate", "--min-quality", "0", "--keep-langs", "en",
        "--fuzzy-dedup", "0.8",
        "--master", "4",
    ]
    out_local = str(tmp_path / "out_local")
    assert extract_job.main(common + ["--output", out_local]) == 0
    ckpt = tmp_path / "ckpt"
    out_rel = str(tmp_path / "out_rel")
    assert (
        extract_job.main(
            common
            + ["--output", out_rel, "--checkpoint-dir", str(ckpt), "--n-buckets", "2"]
        )
        == 0
    )
    pinned = ckpt / "fuzzy_dedup_curated"
    assert pinned.is_dir(), "reliable checkpoint dir was not used"
    assert any(pinned.rglob("*")), "no checkpoint files written"
    urls = lambda p: {r["url"] for r in spark.read.parquet(p).collect()}
    assert urls(out_rel) == urls(out_local)
    assert len(urls(out_rel)) == 1  # near-dup collapsed in both modes


def test_cli_token_budget_stage(tmp_path, spark):
    """--token-budget after --curate: survivors per language follow the
    deterministic hash-order cut EXACTLY (library twin on the same
    curated frame); malformed specs and missing --curate refuse before
    a session exists."""
    sys.path.insert(0, REPO)
    import importlib

    import pyspark.sql.functions as F

    from tesseract_rs_spark.sources.pages import pages_from_documents

    extract_job = importlib.import_module("jobs.extract_job")
    # 12 distinct decent-length docs so several survive curation
    words = ["alpha", "brook", "cedar", "delta", "ember", "frost",
             "grove", "haven", "inlet", "juno", "kelp", "lumen"]
    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(
                    f"the {words[(i + j) % 12]} is of the {words[(i + 5 * j) % 12]}"
                    for j in range(12)
                ),
                "en",
            )
            for i in range(12)
        ],
        "doc_id long, text string, lang string",
    )
    pages_path = str(tmp_path / "pages_budget.parquet")
    pages_from_documents(docs).drop("doc_id").write.parquet(pages_path)
    out = str(tmp_path / "out_budget")
    rc = extract_job.main(
        [
            "--input", pages_path,
            "--output", out,
            "--output-format", "text",
            "--curate", "--min-quality", "0", "--keep-langs", "en",
            "--token-budget", "en=150",
            "--master", "4",
        ]
    )
    assert rc == 0
    res = spark.read.parquet(out)
    kept = {r["url"] for r in res.select("url").collect()}
    # library twin: same curation, same budget, same hash order
    from tesseract_rs_spark.functions.cleaning import curate, flatten_extracted
    from tesseract_rs_spark.functions.sampling import stratified_token_budget
    from tesseract_rs_spark.operators.extract import extract_text
    from tesseract_rs_spark.config import ExtractConfig

    pages = spark.read.parquet(pages_path)
    curated = curate(
        flatten_extracted(extract_text(pages, ExtractConfig())),
        id_col="url", min_quality=0, keep_langs=("en",),
    )
    want = {
        r["url"]
        for r in stratified_token_budget(
            curated, {"en": 150}, strat_col="lang_pred", id_col="url",
            token_col="n_tokens",
        ).collect()
    }
    assert kept == want
    # the budget actually bit: strictly fewer than the curated survivors
    assert 0 < len(kept) < curated.count()
    # refusals (before any session work)
    assert extract_job.main(
        ["--input", pages_path, "--output", out,
         "--token-budget", "en=150", "--master", "2"]
    ) == 2
    assert extract_job.main(
        ["--input", pages_path, "--output", out, "--curate",
         "--output-format", "text",
         "--token-budget", "en=0", "--master", "2"]
    ) == 2
    assert extract_job.main(
        ["--input", pages_path, "--output", out, "--curate",
         "--output-format", "text",
         "--token-budget", "bogus", "--master", "2"]
    ) == 2
    # a duplicated language is the same silent-misbudget failure class
    assert extract_job.main(
        ["--input", pages_path, "--output", out, "--curate",
         "--output-format", "text",
         "--token-budget", "en=100,en=5", "--master", "2"]
    ) == 2
