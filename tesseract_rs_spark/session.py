"""SparkSession builder with the engine's tuned defaults.

The FFI-mutex boundary of the reference (every call locks one C handle,
/root/reference/src/api.rs:87-90) becomes the JVM<->Python Arrow boundary
here, amortized over whole columnar batches (SURVEY.md §3.1).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

WORKER_DAEMON = "tesseract_rs_spark.worker_daemon"


def _worker_daemon_conf() -> dict:
    """``spark.python.daemon.module`` when the daemon can import this package.

    The daemon starts before any task ships ``--py-files``, so the package
    has to be a directory that the worker finds at start-up: the driver's
    working directory (``python -m`` puts it first), a ``PYTHONPATH`` entry
    or a site directory.  Otherwise Spark's own daemon runs, as before.
    """
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    visible = [os.getcwd(), *site.getsitepackages()]
    visible += os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if os.path.isdir(root) and any(p and os.path.realpath(p) == root for p in visible):
        return {"spark.python.daemon.module": WORKER_DAEMON}
    return {}


def get_spark(
    app_name: str = "tesseract-rs-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session tuned for binary-heavy page batches.

    - Arrow enabled and capped at a modest records-per-batch because rows
      carry multi-KB..MB `html` payloads (SURVEY.md §4.2);
    - AQE on for post-shuffle coalescing and skew-join splitting, with
      no 1 MB floor under a coalesced partition: a shuffle smaller than
      slots x 1 MB still gets about one partition per slot, so the
      CPU-bound stages after a small shuffle run on every slot;
    - shuffle partitions sized to the core count (2x) by default, not the
      200 default that would fragment small-SF test runs;
    - Python workers start through ``worker_daemon``, which takes Spark's
      pyspark.zip, py4j zip and spark-core jar off the workers' ``sys.path``
      when the same pyspark is installed as a directory.  PySpark calls
      ``importlib.invalidate_caches()`` at the start of every task, and on
      CPython 3.11 that re-reads every cached zip archive's central
      directory: 0.12-0.29 s per task (4-core VM, one to four busy
      workers).  Without the
      archives the call takes ~0.1 ms, a no-op ``mapInArrow`` job over
      4,000 rows in 4 tasks falls from 0.32-0.66 s to 0.22-0.42 s, and
      perfbench html_extract runs ~29% more docs/s.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(32, 2 * cores)
    # ONE BLAS thread per Python worker: every core already runs a worker,
    # so letting OpenBLAS spawn its own threads (default 2 here) only
    # oversubscribes — measured 954 -> 1207 pages/s on the raster leg at
    # local[32].  Set in the driver env (local-mode workers inherit it)
    # AND as executorEnv for real clusters.  UNCONDITIONAL: a harness that
    # pre-exports OPENBLAS_NUM_THREADS=32 would otherwise silently undo the
    # pin and cost ~4x on the BLAS-heavy raster leg (VERDICT r3).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
        os.environ[var] = "1"
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Byte cap on Arrow batches (guide §4.2: the direct knob for very
        # wide binary rows).  HTML pages (~1.6 KB/row) still batch by the
        # records cap; raster pages (~190 KB/row) split into ~40-row
        # batches, so the JVM streams the next batch while the Python
        # worker decodes the previous one — measured 3.2 -> 2.1 s on the
        # 5k-page OCR leg — and one batch can never balloon worker
        # memory past ~8 MB per column regardless of payload size.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "8m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces to max(minPartitionSize, min(64 MB advisory,
        # shuffle bytes / slots)).  The 1 MB default floor prices a row by
        # its bytes; curation and near-dup rows cost CPU, and their
        # 0.2-2.6 MB shuffles ran on 1-2 of 4 slots (a warm curate_dedup
        # unit, floor toggled per unit in one session on a 4-core VM:
        # 1,704 -> 2,018 docs/s, 10 of 10).  Shuffles over slots x 1 MB
        # keep the same sizing.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_worker_daemon_conf(), **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
