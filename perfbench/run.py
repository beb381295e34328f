"""Benchmark entry point.

    python3 perfbench/run.py --workload html_extract --seed 1 --seconds 6 --trace 0

Generates (or reuses) the seeded input, builds the Spark session several
times to measure set-up, runs one untimed warm-up unit, then runs a closed
loop at ``local[nproc]``: one driver submits one unit (a Spark pipeline over
one input shard, checked against its golden answer) at a time, and the next
starts only when the previous one has completed, until ``--seconds`` have
passed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs a few units
untraced and traced in turn (layer boundaries materialised) and reports
the per-layer metrics plus the tracing overhead, and writes every span to
``.perfbench_work/traces/``.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1 when
any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("html_extract", "curate_dedup", "raster_ocr")
SETUP_REPS = 3
DRIVER_HEAP = "1g"
DEADLINE_S = 150  # a run still measuring by then is stopped and fails
END_TO_END = (("setup_s", "s"), ("docs_per_s", "docs/s"), ("peak_rss_mb", "MB"))
TRACED_UNITS = {"html_extract": 3, "curate_dedup": 1, "raster_ocr": 3}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def slots() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> dict:
    """Point every scratch location of Spark, the JVM and Python at the
    work directory, and let the Python workers import the program and the
    benchmark.  Returns the extra Spark conf that goes with it."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # a fixed, modest driver heap, committed and touched at JVM start: a
    # heap that grows on demand (up to the 8g default) makes the JVM's RSS
    # depend on GC timing, so peak RSS would not repeat from run to run
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    # few malloc arenas: per-thread arenas let the JVM's native memory
    # jump by hundreds of MB depending on which threads happened to run
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _identity(batches):
    yield from batches


def build_session(cores: int, conf: dict, spark=None):
    """One set-up: (re)build the session and run one warm-up action that
    starts a Python worker on every slot.  Returns (spark, get_spark_s,
    setup_s)."""
    from tesseract_rs_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(0, 64 * cores, numPartitions=cores).mapInPandas(_identity, "id long").count()
    return spark, t1 - t0, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.rss import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


def quantiles(vals: list) -> dict:
    """Sample count, median, and the highest percentile that still has at
    least ten samples above it (when there are enough samples)."""
    out = {"n": len(vals), "p50": statistics.median(vals)}
    q = int(100 * (1 - 10 / len(vals)))
    if q > 50:
        out[f"p{q}"] = statistics.quantiles(vals, n=100)[q - 1]
    return out


def closed_loop(run_unit, spark, units: list, seconds: float, ctx: dict) -> list:
    results = []
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 < seconds:
        results.append(run_unit(spark, units[len(results) % len(units)], ctx))
    return results


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        sys.path.insert(0, ROOT)
        import pyspark  # noqa: F401

        import tesseract_rs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    conf = prepare_env()
    t0 = time.perf_counter()
    # generate in a child process, so the driver's own memory (part of
    # peak_rss_mb) does not depend on whether the input was cached
    gen = subprocess.run(
        [sys.executable, "-m", "perfbench.gen", WORK, args.workload, str(args.seed)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
    )
    meta = json.loads(gen.stdout.strip().splitlines()[-1])
    from perfbench import workloads as W
    from perfbench.rss import PeakRss
    from perfbench.trace import Tracer

    import pandas as pd

    golden = pd.read_parquet(meta["golden"])
    units = [W.load_unit(s["path"], golden, s["bytes"]) for s in meta["shards"]]
    load_s = time.perf_counter() - t0
    ckpt_dir = os.path.join(WORK, "ckpt")
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    ctx = {"ckpt_dir": ckpt_dir}
    cores = slots()
    run_unit = W.RUN[args.workload]

    spark = None
    setups = []
    phase = {"load": load_s}
    try:
        t0 = time.perf_counter()
        for _ in range(SETUP_REPS):
            spark, gs, ss = build_session(cores, conf, spark)
            setups.append((gs, ss))
        t1 = time.perf_counter()
        # one untimed unit brings JIT and codegen to steady state
        warmed = [run_unit(spark, units[0], ctx)]
        t2 = time.perf_counter()
        phase.update(setup=t1 - t0, warm=t2 - t1)
        if args.trace:
            n = TRACED_UNITS[args.workload]
            tr = Tracer(uuid.uuid4().hex[:12])
            results, counts = [], {}
            for u in units[:n]:  # interleaved, so warm-up favours neither side
                results.append(run_unit(spark, u, ctx))
                counts = W.TRACE[args.workload](spark, u, tr, ctx) | counts
            checked = warmed + results
            kernels = W.kernel_layer(args.workload, units[0])
            layers = {"session.get_spark_s": statistics.median(g for g, _ in setups)}
            layers |= W.source_layer(spark, units[0]) | kernels
            layers |= W.layer_metrics(args.workload, tr, results, counts | kernels, cores)
            if args.workload == "html_extract":
                res, ck = W.trace_checkpoint(spark, units[0], tr, ctx)
                checked.append(res)
                layers |= ck
                spark, eff, scaled = W.scale_eff(spark, units[:2], cores, conf,
                                                 build_session, ctx)
                layers["sources.scale_eff"] = eff
                checked += scaled
            metrics = {
                name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                for name, unit in W.PER_LAYER
            }
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(
                WORK, "traces", f"{args.workload}-s{args.seed}-{tr.run_id}.json")
            tr.dump(trace_path, workload=args.workload, seed=args.seed,
                    per_layer=metrics, untraced_unit_s=[r["wall"] for r in results])
            summary = {"trace_file": os.path.relpath(trace_path, ROOT)}
        else:
            with PeakRss() as rss:
                results = closed_loop(run_unit, spark, units, args.seconds, ctx)
            checked = warmed + results
            rates = [r["docs"] / r["wall"] for r in results]
            values = {
                "setup_s": statistics.median(s for _, s in setups),
                "docs_per_s": statistics.median(rates),
                "peak_rss_mb": rss.peak_mb,
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
            summary = {
                "unit_s": quantiles([r["wall"] for r in results]),
                "mb_per_s": statistics.median(r["mb"] / r["wall"] for r in results),
                "rss_samples": rss.samples,
                "peak_rss_parts_mb": rss.peak_parts_mb(),
            }
            if args.workload == "html_extract":
                summary["words_rows_per_s"] = statistics.median(
                    r["words_out"] / r["words_s"] for r in results)
        phase["work"] = time.perf_counter() - t2
    finally:
        signal.alarm(0)  # teardown itself must not be interrupted
        t3 = time.perf_counter()
        shutdown(spark)
        phase["teardown"] = time.perf_counter() - t3

    attempted = sum(r["attempted"] for r in checked)
    failed = sum(r["failed"] for r in checked)
    summary.update(
        workload=args.workload, seed=args.seed, slots=cores, units=len(results),
        gen_s=round(meta["gen_s"], 3), load_s=round(load_s, 3),
        setup_samples_s=[round(s, 3) for _, s in setups],
        failed_share=failed / attempted,
        phase_s={k: round(v, 2) for k, v in phase.items()},
    )
    print("perfbench " + json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
