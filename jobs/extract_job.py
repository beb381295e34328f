"""spark-submit entry point — the engine's CLI surface.

Mirrors the reference CLI (/root/reference/cli/src/main.rs:143-174:
input, language, PSM, output-format selection) as a cluster job:

    spark-submit --py-files tesseract_rs_spark.zip jobs/extract_job.py \\
        --input /path/pages.parquet --output /path/out \\
        --payload html --lang eng --psm 3 --output-format text \\
        [--whitelist 0123456789] [--checkpoint-dir /path/ckpt --n-buckets 64]

With ``--checkpoint-dir`` the job runs the per-bucket lineage commit
protocol and RESUMES after interruption (north rule: resumable from
checkpoint with per-partition lineage + metrics).  Without it, one fused
pass writes straight to ``--output``.  ``--curate`` appends the one-pass
curation stage (quality + language filter + exact keep-first dedup) to
the extracted text before writing; ``--fuzzy-dedup T`` extends it with
near-duplicate removal (MinHash-LSH pairs at Jaccard >= T -> connected
components -> minimum-url survivor per component); ``--token-budget
en=500000,de=100000`` cuts the deduped survivors to per-language token
budgets in deterministic hash order — the full extract -> curate ->
fuzzy-dedup -> budget-mix pretraining-corpus pipeline as one command.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="tesseract_rs_spark extraction job")
    p.add_argument("--input", required=True, help="pages parquet/Iceberg path")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--payload", choices=["html", "raster"], default="html")
    p.add_argument("--lang", default="eng")
    p.add_argument("--psm", type=int, default=3)
    p.add_argument(
        "--output-format",
        choices=["text", "words", "tsv", "hocr", "unlv"],
        default="text",
    )
    p.add_argument("--whitelist", default=None)
    p.add_argument("--blacklist", default=None)
    p.add_argument("--oem", type=int, default=3,
                   help="engine mode: 0 template matcher, 1 NCC matcher")
    p.add_argument("--timeout-ms", type=int, default=None,
                   help="per-page wall-clock budget; expired pages become status='timeout' rows")
    p.add_argument("--config-file", default=None,
                   help="bulk 'name value' variables file (read_config_file analog)")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--group-size", type=int, default=8)
    p.add_argument("--curate", action="store_true",
                   help="run the one-pass curation stage (quality + language "
                        "filter + exact keep-first dedup) over the extracted "
                        "text before writing (text format only)")
    p.add_argument("--fuzzy-dedup", type=float, default=None, metavar="T",
                   help="after curation, drop near-duplicate documents: "
                        "MinHash-LSH candidate pairs at Jaccard >= T, "
                        "connected components over the pair graph, keep "
                        "the minimum-url survivor per component "
                        "(requires --curate)")
    p.add_argument("--token-budget", default=None, metavar="LANG=N[,LANG=N]",
                   help="after curation (and fuzzy dedup, if any), keep "
                        "documents per predicted language only until that "
                        "language's token budget is spent — deterministic "
                        "hash-order cut (the pretraining-mix contract); "
                        "languages not named are DROPPED; requires --curate")
    p.add_argument("--min-quality", type=int, default=55)
    p.add_argument("--keep-langs", default="en",
                   help="comma-separated language codes curation keeps")
    p.add_argument("--block-hosts", default=None, metavar="FILE",
                   help="newline-delimited domain blocklist applied to the "
                        "pages BEFORE extraction (cheapest gate first — "
                        "blocked pages never reach the decode kernels); "
                        "registered domains block their subdomains")
    p.add_argument("--master", default=None, help="override master URL (tests)")
    return p


def parse_token_budgets(spec: str) -> dict:
    """'en=500000,de=100000' -> {'en': 500000, 'de': 100000}; raises
    ValueError on malformed entries or non-positive budgets (fail fast —
    a silently-dropped stratum ships a corpus the user believes is
    budgeted)."""
    budgets = {}
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        lang, eq, val = part.partition("=")
        lang = lang.strip()
        if not eq or not lang:
            raise ValueError(f"malformed --token-budget entry {part!r} "
                             "(expected LANG=N)")
        if lang in budgets:
            # same failure class as a malformed entry: a typo like
            # 'en=5e5,en=200' (meant 'es') silently cuts en to 200 and
            # drops es entirely (review r6)
            raise ValueError(f"duplicate --token-budget language {lang!r}")
        budgets[lang] = int(val)  # ValueError on junk
        if budgets[lang] <= 0:
            raise ValueError(f"budget for {lang!r} must be positive, "
                             f"got {budgets[lang]}")
    if not budgets:
        raise ValueError("--token-budget named no languages")
    return budgets


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    token_budgets = None
    if args.token_budget is not None:
        if not args.curate:
            print(
                "error: --token-budget requires --curate (it cuts on the "
                "curation stage's n_tokens/lang_pred columns)",
                file=sys.stderr,
            )
            return 2
        try:
            token_budgets = parse_token_budgets(args.token_budget)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
    if args.fuzzy_dedup is not None and not 0.0 < args.fuzzy_dedup <= 1.0:
        # fail fast: Jaccard lives in (0, 1] — an out-of-range threshold
        # silently degrades into a no-op (T>1: zero pairs, near-dups
        # ship) or a corpus collapse (T<=0: every candidate pair joins
        # one component), both shipping output the user believes is
        # correctly deduped
        print(
            f"error: --fuzzy-dedup must be in (0, 1], got {args.fuzzy_dedup}",
            file=sys.stderr,
        )
        return 2
    if args.fuzzy_dedup is not None and not args.curate:
        print(
            "error: --fuzzy-dedup requires --curate (it runs over the "
            "curated, flattened text)",
            file=sys.stderr,
        )
        return 2
    # validate BEFORE building a session: the job would otherwise run
    # something other than what was asked (the text table for --output-
    # format words, html extraction for --payload raster, uncurated data
    # the user believes is filtered and deduped) and exit 0, and spinning
    # up (then leaking) a session just to refuse is waste
    if args.output_format != "text" and (
        args.curate or args.checkpoint_dir or args.payload == "raster"
    ):
        print(
            "error: --curate, --checkpoint-dir and --payload raster "
            "support --output-format text only",
            file=sys.stderr,
        )
        return 2
    if args.payload == "raster" and (args.curate or args.checkpoint_dir):
        print(
            "error: --curate and --checkpoint-dir support --payload html only",
            file=sys.stderr,
        )
        return 2
    from pyspark.sql import SparkSession

    from tesseract_rs_spark.config import ExtractConfig, mode_from_int
    from tesseract_rs_spark.operators.extract import extract_text, extract_words
    from tesseract_rs_spark.operators.ocr import ocr_text
    from tesseract_rs_spark.operators.renderers import (
        render_hocr,
        render_tsv,
        render_unlv,
    )
    from tesseract_rs_spark.plans.checkpoint import read_lineage, run_checkpointed

    # when invoked inside an existing session (tests / notebooks), reuse
    # it and leave it running — stop() below only owns what it created
    pre_existing = SparkSession.getActiveSession() is not None
    if args.master:
        from tesseract_rs_spark.session import get_spark

        spark = get_spark("extract-job", cores=int(args.master))
    else:
        spark = SparkSession.builder.appName("extract-job").getOrCreate()

    from tesseract_rs_spark.config import oem_from_int

    cfg = ExtractConfig(
        lang=args.lang, mode=mode_from_int(args.psm), oem=oem_from_int(args.oem)
    )
    if args.config_file:
        cfg = cfg.with_config_file(args.config_file)
    if args.timeout_ms is not None:
        cfg = cfg.with_variable("page_timeout_ms", str(args.timeout_ms))
    if args.whitelist:
        cfg = cfg.with_variable("tessedit_char_whitelist", args.whitelist)
    if args.blacklist:
        cfg = cfg.with_variable("tessedit_char_blacklist", args.blacklist)

    def maybe_curate(extracted):
        """--curate: flatten the extracted text (shared rule) and run the
        one-pass curation stage (quality + language filter + exact
        keep-first dedup, one digest exchange) keyed by url."""
        if not args.curate:
            return extracted
        from tesseract_rs_spark.functions.cleaning import curate, flatten_extracted

        curated = curate(
            flatten_extracted(extracted),
            id_col="url",
            min_quality=args.min_quality,
            keep_langs=tuple(
                s.strip() for s in args.keep_langs.split(",") if s.strip()
            ),
        )
        if args.fuzzy_dedup is None:
            return maybe_budget(curated)
        # materialize the (small) curated survivor set once: it is
        # scanned twice below (the pair miner shingles it once into its
        # own pinned shingle arrays, then the join-back drops the
        # losers), and each un-materialized scan would re-run the FULL
        # upstream extraction — measured 40.3 s -> 20.3 s
        # total pipeline wall at 400k pages (BENCH.md r5).  With
        # --checkpoint-dir the pin is a RELIABLE checkpoint (survives
        # executor preemption — localCheckpoint blocks live on executors
        # and a lost one re-runs the whole lineage, VERDICT r5 #5);
        # without it, localCheckpoint (no reliable store to write to).
        if args.checkpoint_dir:
            spark = curated.sparkSession
            spark.sparkContext.setCheckpointDir(
                f"{args.checkpoint_dir}/fuzzy_dedup_curated"
            )
            curated = curated.checkpoint()
        else:
            curated = curated.localCheckpoint()
        # near-dup stage: bucketed MinHash-LSH pairs (never all-pairs),
        # components collapse chains, minimum url survives per component
        # — string ids order by UTF-8 bytes, deterministic.  dup_clusters
        # pins the pairs once, labels a graph of at most dedup.CAP edges
        # on the driver in numpy and a larger one by distributed label
        # propagation rounds
        import pyspark.sql.functions as F

        from tesseract_rs_spark.functions.dedup import (
            dup_clusters,
            minhash_dedup_pairs,
        )

        pairs = minhash_dedup_pairs(
            curated, threshold=args.fuzzy_dedup, id_col="url"
        ).select("id_a", "id_b")
        losers = (
            dup_clusters(pairs)
            .filter("doc_id != cluster_id")
            .select(F.col("doc_id").alias("url"))
        )
        return maybe_budget(curated.join(losers, "url", "left_anti"))

    def maybe_budget(curated):
        """--token-budget: per-language token-budget cut over the curated
        survivors (after fuzzy dedup if any — dedup first, THEN sample,
        or duplicates eat the budget).  stratified_token_budget walks
        each language in deterministic hash order and keeps documents
        until the budget is spent; the kept ids semi-join back so full
        rows survive with one key shuffle."""
        if token_budgets is None:
            return curated
        from tesseract_rs_spark.functions.sampling import (
            stratified_token_budget,
        )

        kept = stratified_token_budget(
            curated,
            token_budgets,
            strat_col="lang_pred",
            id_col="url",
            token_col="n_tokens",
        ).select("url")
        return curated.join(kept, "url", "left_semi")

    pages = spark.read.parquet(args.input)
    if args.block_hosts:
        from tesseract_rs_spark.functions.cleaning import filter_by_hosts

        with open(args.block_hosts, encoding="utf-8") as f:
            stripped = (ln.strip() for ln in f)
            blocked = [
                ln.lower() for ln in stripped
                if ln and not ln.startswith("#")
            ]
        # the literal arrays_overlap path stays whole-stage codegen; very
        # large lists would bloat the plan — hand those to the broadcast
        # DataFrame path instead
        if len(blocked) > 10_000:
            bl_df = spark.createDataFrame(
                [(h,) for h in blocked], "host string"
            )
            pages = filter_by_hosts(pages, bl_df, id_col="url")
        else:
            pages = filter_by_hosts(pages, blocked)
    t0 = time.time()
    if args.checkpoint_dir:
        result = run_checkpointed(
            spark,
            pages,
            args.checkpoint_dir,
            cfg,
            n_buckets=args.n_buckets,
            group_size=args.group_size,
        )
        maybe_curate(result).write.mode("overwrite").parquet(args.output)
        lineage = read_lineage(args.checkpoint_dir)
        summary = {
            "buckets": len(lineage),
            "rows": sum(r["n_rows"] for r in lineage),
            "chars": sum(r["chars_emitted"] for r in lineage),
        }
        if args.curate:
            # lineage counts pre-curation extraction; report what was
            # actually written so the two never read as contradictory
            summary["rows_written"] = spark.read.parquet(args.output).count()
    else:
        if args.payload == "raster":
            out = ocr_text(pages, cfg)
        elif args.output_format == "text":
            out = maybe_curate(extract_text(pages, cfg))
        else:
            words = extract_words(pages, cfg)
            out = {
                "words": lambda: words,
                "tsv": lambda: render_tsv(words),
                "hocr": lambda: render_hocr(words),
                "unlv": lambda: render_unlv(words),
            }[args.output_format]()
        out.write.mode("overwrite").parquet(args.output)
        summary = {"rows": spark.read.parquet(args.output).count()}
    summary["wall_s"] = round(time.time() - t0, 2)
    print(json.dumps(summary))
    if not pre_existing:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
