"""Deterministic sampling and token-stream packing for training-data
pipelines.

Reproducibility is the contract: every operator here is a pure function
of (row identity, explicit salt/params) — independent of cluster size,
partitioning, and execution order — and each has an exact ANSI-SQL twin
so the driver's DuckDB oracle checks it end-to-end.  (Spark's native
``DataFrame.sample`` is seed-stable only for a fixed partitioning, which
a real pipeline cannot promise; hash-gating on the row id is the
idiomatic scale-safe replacement.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

_HASH_SPACE = 1 << 32  # first 8 md5 hex digits


def sample_hash(id_col: str = "doc_id", salt: str = "s0") -> Column:
    """Uniform 32-bit gate value: first 8 hex digits of
    md5(salt || id).  Engine-portable (md5 + hex parse exist in both
    Spark and DuckDB), content-independent, and stable forever — the
    sample a run drew is the sample every rerun draws."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")


def stratified_sample(
    docs: DataFrame,
    fractions: dict,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "s0",
) -> DataFrame:
    """Per-stratum hash-gated sampling (e.g. language rebalancing:
    downsample 'en', keep all 'tr').  The per-stratum thresholds fold
    into ONE when-chain filter — still no shuffle; strata absent from
    ``fractions`` are dropped (explicit is safer than silently keeping
    100% of an unnamed stratum)."""
    gate = sample_hash(id_col, salt)
    cond = F.lit(False)
    for stratum, frac in sorted(fractions.items()):
        cond = cond | (
            (F.col(strat_col) == stratum) & (gate < int(frac * _HASH_SPACE))
        )
    return docs.filter(cond)


def pack_stream(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    shards: int = 32,
) -> DataFrame:
    """Token-stream packing (GPT-style pretraining): documents in id
    order concatenate into one global token stream that is cut every
    ``budget`` tokens; returns (id, tokens, tokens_before, bin_id,
    bin_offset) where ``bin_id`` is the training sequence the document
    STARTS in and ``bin_offset`` its position inside it.

    The global prefix sum is computed WITHOUT a single-partition window
    (the naive ``Window.orderBy(id)`` collapses 100 TB onto one task):
    ids split into ``shards`` contiguous ranges (deterministic — range
    width from one tiny max(id) aggregate, not sampled boundaries), a
    per-shard total aggregate (``shards`` rows) turns into exclusive
    per-shard bases on the driver, and the within-shard running sum is a
    window over ``shards`` parallel partitions, each bounded at N/shards
    rows.  One data shuffle (by shard) + one scalar aggregate, output
    independent of ``shards``.

    Ordering within a shard tie-breaks on (id, tokens), so the output is
    deterministic whenever (id, tokens) pairs are distinct; rows that are
    full duplicates yield an identical output multiset either way.  Ids
    should be unique upstream (dedup first) for a meaningful stream
    order; rows with a NULL id or NULL token count have no defined
    stream position and are excluded (a NULL count cannot advance the
    prefix sum — count tokens upstream before packing).
    The slim (id, tokens) projection is localCheckpoint-ed, so an
    expensive upstream plan (e.g. the extract pipeline) computes ONCE
    even though the operator runs two tiny driver jobs (max id,
    per-shard totals) before the output job; the checkpoint blocks are
    reference-counted and freed by the ContextCleaner when the result
    plan is dropped — nothing stays pinned for the session (ADVICE r3).
    On a preemptible cluster swap localCheckpoint for a reliable
    ``spark.sparkContext.setCheckpointDir`` checkpoint."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    slim0 = (
        docs.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(token_col).cast("long").alias("tokens"),
        )
        .filter(F.col(id_col).isNotNull() & F.col("tokens").isNotNull())
        .localCheckpoint(eager=True)
    )
    max_id = slim0.agg(F.max(F.col(id_col))).collect()[0][0]
    if max_id is None:
        return docs.sparkSession.createDataFrame(
            [],
            f"{id_col} long, tokens long, tokens_before long, "
            "bin_id long, bin_offset long",
        )
    width = max(1, (int(max_id) + shards) // shards)
    slim = slim0.withColumn("_shard", (F.col(id_col) / width).cast("long"))
    totals = (
        slim.groupBy("_shard")
        .agg(F.sum("tokens").alias("_total"))
        .collect()
    )
    base, bases = 0, []
    for row in sorted(totals, key=lambda r: r["_shard"]):
        bases.append((row["_shard"], base))
        base += row["_total"]
    base_df = F.broadcast(
        docs.sparkSession.createDataFrame(bases, "_shard long, _base long")
    )
    w = (
        Window.partitionBy("_shard")
        .orderBy(F.col(id_col).asc(), F.col("tokens").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        slim.join(base_df, "_shard")
        .withColumn(
            "tokens_before",
            F.col("_base") + F.sum("tokens").over(w) - F.col("tokens"),
        )
        .withColumn("bin_id", (F.col("tokens_before") / budget).cast("long"))
        .withColumn("bin_offset", F.col("tokens_before") % budget)
    )
    return packed.select(
        id_col, "tokens", "tokens_before", "bin_id", "bin_offset"
    )


def stratified_token_budget(
    docs: DataFrame,
    budgets: dict,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    salt: str = "s0",
    shards: int = 32,
) -> DataFrame:
    """Token-BUDGET stratified sampling — the pretraining-mix contract
    stated the way mix specs are actually written ("30 B tokens of en,
    5 B of de"), vs :func:`stratified_sample`'s fractions-of-documents.
    Within each stratum, documents line up in deterministic hash order
    (``sample_hash`` gate, id tie-break — a reshuffle-proof "random"
    order) and accumulate token counts; a document is kept iff it STARTS
    inside its stratum's budget (exclusive prefix sum < budget), so each
    stratum's kept set overshoots by at most one document.  Strata
    absent from ``budgets`` are dropped BEFORE any shuffle (same
    explicit-only contract as ``stratified_sample``).

    Scale shape: the naive form is a per-stratum global window — at
    100 TB one language can be 60% of the corpus, so
    ``Window.partitionBy(lang)`` puts most of the data on ONE task.
    Instead the :func:`pack_stream` sharding trick runs per stratum:
    rows split into ``shards`` contiguous GATE ranges (the gate is
    uniform, so ranges balance), a (stratum × shards)-row aggregate
    turns into exclusive per-(stratum, shard) bases on the driver, and
    the running sum is a window over stratum × shards parallel
    partitions, each bounded at ~stratum/shards rows.  One data shuffle,
    output independent of ``shards``.

    Returns (id, stratum, tokens, tokens_before) for kept rows —
    ``tokens_before`` is the stratum-local exclusive prefix, so
    downstream can see exactly where each budget cut fell."""
    if not budgets:
        raise ValueError("budgets must name at least one stratum")
    for stratum, b in budgets.items():
        if b <= 0:
            raise ValueError(
                f"budget for stratum {stratum!r} must be positive, got {b}"
            )
    width = -(-_HASH_SPACE // shards)  # ceil: gate range per shard
    slim = (
        docs.select(
            F.col(id_col),
            F.col(strat_col).alias("_strat"),
            F.col(token_col).cast("long").alias("tokens"),
        )
        .filter(
            F.col(id_col).isNotNull()
            & F.col("tokens").isNotNull()
            & F.col("_strat").isin(*budgets.keys())
        )
        .withColumn("_gate", sample_hash(id_col, salt))
        .withColumn("_shard", (F.col("_gate") / width).cast("long"))
        .localCheckpoint(eager=True)
    )
    totals = (
        slim.groupBy("_strat", "_shard")
        .agg(F.sum("tokens").alias("_total"))
        .collect()
    )
    per_strat: dict = {}
    for row in totals:
        per_strat.setdefault(row["_strat"], []).append(
            (row["_shard"], row["_total"])
        )
    bases = []
    for stratum, shard_totals in per_strat.items():
        base = 0
        for shard, total in sorted(shard_totals):
            bases.append((stratum, shard, base))
            base += total
    strat_type = docs.schema[strat_col].dataType.simpleString()
    if not bases:
        spark = docs.sparkSession
        id_type = docs.schema[id_col].dataType.simpleString()
        # strat type derived like id's: a hardcoded string here made an
        # empty corpus with a non-string stratum column diverge from the
        # non-empty path's schema (ADVICE r6)
        return spark.createDataFrame(
            [],
            f"{id_col} {id_type}, {strat_col} {strat_type}, tokens long, "
            "tokens_before long",
        )
    base_df = F.broadcast(
        docs.sparkSession.createDataFrame(
            bases, f"_strat {strat_type}, _shard long, _base long"
        )
    )
    # tokens tie-break mirrors pack_stream: duplicate ids share a gate,
    # so without it their relative order (and a budget-boundary cut)
    # would be partition-dependent (review r6); ids should be unique
    # upstream (dedup first) for a meaningful budget order regardless
    w = (
        Window.partitionBy("_strat", "_shard")
        .orderBy(
            F.col("_gate").asc(), F.col(id_col).asc(), F.col("tokens").asc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cut = F.lit(-1)
    for stratum, b in sorted(budgets.items()):
        cut = F.when(F.col("_strat") == stratum, F.lit(int(b))).otherwise(cut)
    return (
        slim.join(base_df, ["_strat", "_shard"])
        .withColumn(
            "tokens_before",
            F.col("_base") + F.sum("tokens").over(w) - F.col("tokens"),
        )
        .filter(F.col("tokens_before") < cut)
        .select(
            id_col,
            F.col("_strat").alias(strat_col),
            "tokens",
            "tokens_before",
        )
    )


def cluster_quota_sample(
    df: DataFrame,
    k: int,
    cell_col: str = "cell",
    id_col: str = "doc_id",
    salt: str = "s0",
) -> DataFrame:
    """Diversity-aware subset selection: keep ``k`` deterministic
    representatives per cluster cell — the data-mixing companion of
    SemDeDup (cluster the embedding space with ``ivf_assign`` /
    ``imi_assign``, then sample the CELLS uniformly instead of the rows,
    so dense regions stop dominating the training mix; D4 / DataComp
    shape, public).  Works on ANY cell column — a quantizer assignment,
    a topic id, a host bucket.

    Within each cell, rows order by the ``sample_hash`` gate (id
    tie-break) and the first ``k`` survive — reshuffle-proof and
    engine-portable like every sampler here.  Scale shape: one shuffle
    keyed by the cell; per-task work is bounded by the largest cell, so
    size the upstream quantizer for bounded cells (~256 at the SemDeDup
    target) — the same discipline its candidate mining already needs.
    Returns the input columns plus ``sample_rank`` (1-based hash-order
    position, <= k)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(cell_col).orderBy(
        sample_hash(id_col, salt).asc(), F.col(id_col).asc()
    )
    return (
        df.filter(F.col(cell_col).isNotNull() & F.col(id_col).isNotNull())
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )
