"""Corpus-cleaning operators for training-data pipelines: PII scrubbing,
benchmark-contamination detection, and paragraph-level dedup.

JVM column expressions and equi-joins, except the curation signals of
:func:`curate` (one per-doc Python pass, ``functions.text.doc_signals``);
every operator has an exact ANSI-SQL twin, so correctness is end-to-end
hash-checked, not eyeballed.  Regex patterns are chosen to behave
identically under Java regex (Spark) and RE2 (DuckDB): no backreferences,
no lookaround.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import broadcast

from tesseract_rs_spark.functions.text import text_signals, tokens, word_shingles

# PII patterns (cross-engine-safe subset).  (?i) is honored identically by
# Java regex and RE2 — without it, mixed-case emails (John.Doe@Example.COM)
# silently escape the scrubber (ADVICE r2).
EMAIL_RE = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

_PII_RULES = (
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),     # before PHONE: an IP must not half-match digits
    (PHONE_RE, "<PHONE>"),
)


def latest_snapshot(
    pages: DataFrame, key_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """Snapshot dedup for re-crawled pages: keep each url's LATEST crawl
    (the standard first step of a Common-Crawl-style pipeline — the same
    page appears once per crawl with a new ``warc_ts``).  Ties on the
    timestamp break deterministically by ``xxhash64`` of the remaining
    HASHABLE columns, so the survivor is partition-order-independent
    (rows identical on every hashable column are true residual ties and
    the pick among them is engine-chosen).

    Scale shape: ONE key shuffle with map-side partial aggregation —
    ``max_by(payload_struct, (ts, hash))`` per key, no window sort and
    no second pass; the ordering adds a constant ~16 bytes per row (NOT
    a second copy of the multi-KB html payload — repeating the payload
    columns inside an ordering struct would double the aggregate's
    shuffle bytes), so each row's content crosses the wire exactly once.
    Columns containing maps at any nesting level are excluded from the
    hash (xxhash64 rejects them) but still ride as payload, so
    WARC-style schemas with header maps — including array<map> /
    struct-with-map shapes — work."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _hashable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _hashable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_hashable(f.dataType) for f in dt.fields)
        return True

    others = [c for c in pages.columns if c != key_col]
    unhashable = {
        f.name for f in pages.schema.fields if not _hashable(f.dataType)
    }
    tiebreak = [
        F.col(c) for c in others if c != ts_col and c not in unhashable
    ]
    ordering = F.struct(
        F.col(ts_col),
        (F.xxhash64(*tiebreak) if tiebreak else F.lit(0)).alias("_h"),
    )
    kept = pages.groupBy(key_col).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), ordering).alias("_s")
    )
    return kept.select(
        F.col(key_col), *[F.col(f"_s.{c}").alias(c) for c in others]
    )


def host_expr(url_col: str = "url"):
    """Lowercased host parsed from a url column, as a pure codegen
    Column: explicit scheme ('https://h/...'), protocol-relative
    ('//h/...'), or a bare leading hostname-like token ('example.org/x'
    — common in crawl link data; ADVICE r4: requiring a scheme silently
    dumped those into the '' bucket, so domain blocklists missed them).
    The bare form must contain a dot so relative paths ('about/x') stay
    out.  Userinfo ('user@') and numeric ports (':8443') are stripped so
    one registered domain never splits into several groups; NULL and
    unparseable urls yield '' (not NULL — a null-unsafe equi-join
    downstream would silently drop those rows)."""
    authority = F.regexp_extract(
        F.col(url_col), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1
    )
    rel_authority = F.regexp_extract(F.col(url_col), "^//([^/?#]+)", 1)
    bare_host = F.regexp_extract(
        F.col(url_col),
        "^([a-zA-Z0-9-]+(\\.[a-zA-Z0-9-]+)+(:[0-9]+)?)([/?#].*)?$",
        1,
    )
    picked = (
        F.when(authority != "", authority)
        .when(rel_authority != "", rel_authority)
        .otherwise(bare_host)
    )
    return F.coalesce(
        F.lower(
            F.regexp_replace(
                F.regexp_replace(picked, "^[^@]*@", ""), ":[0-9]+$", ""
            )
        ),
        F.lit(""),
    )


def host_suffixes(host):
    """All dot-suffixes of a host as an array column ('a.b.example.org'
    -> [a.b.example.org, b.example.org, example.org, org]) — the equi-
    joinable form of "this registered domain, subdomains included": a
    blocklist entry matches iff it appears among the suffixes, with no
    substring false-positives ('example.org' never matches
    'badexample.org')."""
    parts = F.split(host, "\\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(parts, i + 1, n - i), "."),
    )


def filter_by_hosts(
    docs: DataFrame,
    blocked,
    url_col: str = "url",
    id_col: str = "doc_id",
    keep: bool = False,
) -> DataFrame:
    """Dolma/RefinedWeb-style domain filter: drop (``keep=False``,
    blocklist) or keep only (``keep=True``, allowlist) documents whose
    url host matches an entry — registered domains match their
    subdomains via the :func:`host_suffixes` expansion, never substring
    matching.

    ``blocked`` is either a small python iterable of lowercase hosts
    (inlined as an array literal — ``arrays_overlap`` in whole-stage
    codegen, zero shuffle) or a single-column ``host`` DataFrame for
    list sizes beyond literal-expression scale (megalists): that path
    explodes each doc's handful of suffixes, broadcast semi-joins the
    list, and joins the matched ``id_col`` set back with a BROADCAST
    hint (ids are 8-byte keys bounded by the match count) — the corpus
    itself never shuffles, only (id, suffix) pairs flow.  NOTE: the
    DataFrame path scans ``docs`` twice (suffix explode + join-back);
    when ``docs`` is itself an expensive un-materialized pipeline,
    materialize it first (cache / localCheckpoint) or each scan re-runs
    the upstream — the multi-scan trap BENCH.md r5 measured at ~2x-4x
    on the fuzzy-dedup stage."""
    host = host_expr(url_col)
    if isinstance(blocked, DataFrame):
        sufx = docs.select(
            F.col(id_col), F.explode(host_suffixes(host)).alias("host")
        )
        bl = broadcast(blocked.select(F.lower(F.col("host")).alias("host")))
        hit_ids = sufx.join(bl, "host", "left_semi").select(id_col).distinct()
        return docs.join(
            broadcast(hit_ids), id_col, "left_semi" if keep else "left_anti"
        )
    arr = F.array(*[F.lit(str(h).lower()) for h in blocked])
    hit = F.arrays_overlap(host_suffixes(host), arr)
    return docs.filter(hit if keep else ~hit)


def host_stats(
    docs: DataFrame,
    url_col: str = "url",
    token_col: str | None = None,
    broadcast_hosts: bool = True,
) -> DataFrame:
    """Domain-level aggregation for host-based filtering (the Dolma /
    RefinedWeb pattern — public: domain blocklists and per-domain quality
    gates need each document annotated with its host's corpus-wide
    statistics).  Adds (host, host_n_docs[, host_total_tokens]) to every
    row: host = lowercased authority parsed from the url, aggregated per
    host, then joined back.

    Scale shape: the host table is ~|registered domains| (millions, not
    trillions — a few counters each, tens of MB) built with ONE
    map-side-combining groupBy; the join back BROADCASTS that table
    explicitly, so the full document rows (text included) never shuffle
    by the heavily-skewed host key — the scale-safe plan is declared,
    not left to an AQE runtime rescue (VERDICT r4 #2; the no-shuffle
    shape is pinned in tests the way corpus_curation pins its single
    Exchange).  ``broadcast_hosts=False`` is the escape hatch for
    subdomain-grained corpora whose host table outgrows the broadcast
    budget (a forced hint overrides autoBroadcastJoinThreshold and would
    OOM the driver there): it falls back to the plain shuffle join and
    AQE's skew handling."""
    with_host = docs.withColumn("host", host_expr(url_col))
    aggs = [F.count("*").alias("host_n_docs")]
    if token_col is not None:
        aggs.append(F.sum(F.col(token_col)).alias("host_total_tokens"))
    per_host = with_host.groupBy("host").agg(*aggs)
    if broadcast_hosts:
        per_host = broadcast(per_host)
    return with_host.join(per_host, "host")


def flatten_extracted(extracted: DataFrame, col: str = "text") -> DataFrame:
    """Shared post-extraction normalization before curation: keep ok rows
    and collapse assembly newlines back to spaces (reconstructing the
    one-line source text by the assembly contract).  ONE definition used
    by the batch CLI stage and the streaming pipeline — the flatten rule
    must never drift between them."""
    return extracted.filter(F.col("status") == "ok").withColumn(
        col, F.trim(F.regexp_replace(col, "\n+", " "))
    )


def curation_scored(
    docs: DataFrame,
    id_cols: tuple,
    col: str = "text",
    min_quality: int = 55,
    keep_langs: tuple = ("en",),
) -> DataFrame:
    """THE curation signal projection + filter — shared by batch
    :func:`curate` and the streaming twin (``streaming/curation.py``), so
    the quality gate can never silently diverge between modes:
    (id_cols..., col, n_tokens, quality, lang_pred) from one Python pass
    of :func:`~tesseract_rs_spark.functions.text.doc_signals` per doc, then
    the quality/language filter on the JVM."""
    return (
        text_signals(docs, id_cols, col)
        .filter(
            (F.col("quality") >= min_quality)
            & F.col("lang_pred").isin(*keep_langs)
        )
        .select(*id_cols, col, "n_tokens", "quality", "lang_pred")
    )


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    min_quality: int = 55,
    keep_langs: tuple = ("en",),
) -> DataFrame:
    """One-pass corpus curation — the canonical training-data shaping
    pipeline (quality filter -> language filter -> exact dedup) as ONE
    plan -> (id, text, n_tokens, quality, lang_pred, fingerprint).

    The exact dedup runs first: the digest shuffle of ``dedup_keep_first``
    (``functions/dedup.py``) is the only exchange, and
    :func:`curation_scored` (shared with the streaming twin) scores and
    filters its survivors in the stage after it.  That is the same result
    as filtering first: the signals are a pure function of the text and
    the dedup groups rows by the text's digest, so every copy in a group
    passes or fails together (NULL text has a NULL digest and NULL
    signals, so it is dropped either way).  Scoring after the shuffle
    runs the Python pass on survivors only, and keeps it out of the
    upstream stage, where a caller's own Python pass (the extract
    ``mapInArrow``) would otherwise hold a second Python worker per task
    slot.  The cost: rows that fail the filter cross the shuffle too, so
    the shuffle carries every row's text where filtering first would carry
    the passing share's; with no Python pass upstream (stored documents)
    that is all the order changes."""
    from tesseract_rs_spark.functions.dedup import dedup_keep_first

    deduped = dedup_keep_first(docs.select(id_col, col), id_col=id_col, col=col)
    return curation_scored(
        deduped, (id_col, "fingerprint"), col, min_quality, keep_langs
    ).select(id_col, col, "n_tokens", "quality", "lang_pred", "fingerprint")


def repeated_ngram_spans(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """Cross-document repeated n-gram SPANS — the substring-dedup
    primitive of "Deduplicating Training Data Makes Language Models
    Better" (Lee et al. 2022, arXiv:2107.06499), at shingle resolution:
    every token position whose n-gram also occurs in at least one OTHER
    document, merged into maximal token spans per document ->
    (id, span_id, tok_start, tok_end) with tok_end exclusive.

    Scale shape: only (xxhash64(ngram), id, pos) triples shuffle — text
    never leaves its scan stage; repeated hashes come from one aggregate
    (distinct doc count >= 2) re-joined as a left-semi; span merging is
    gaps-and-islands over a per-doc window (partitioned by id — never a
    single-partition window).  A 64-bit hash collision could only mark a
    unique n-gram as repeated (P ~ m^2/2^64 — negligible, and the merge
    step is tolerant: a spurious position widens a span by at most n)."""
    from pyspark.sql import Window

    from tesseract_rs_spark.functions.text import word_ngrams_all

    grams = docs.select(
        F.col(id_col),
        F.posexplode(word_ngrams_all(col, n)).alias("pos", "_g"),
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.xxhash64("_g").alias("_h"),
    )
    rep = (
        grams.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_d"))
        .filter(F.col("_d") >= 2)
        .select("_h")
    )
    hits = grams.join(rep, "_h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        hits.withColumn(
            "_new",
            F.when(
                F.col("pos") - F.lag("pos", 1, -(1 << 40)).over(w) > n, 1
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            (F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ) - 1).cast("long"),
        )
    )
    return spans.groupBy(id_col, "span_id").agg(
        F.min("pos").cast("long").alias("tok_start"),
        (F.max("pos") + n).cast("long").alias("tok_end"),
    )


def remove_repeated_spans(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    col: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """The SCRUB half of Lee et al. 2022 substring dedup: excise every
    cross-document repeated n-gram span found by
    :func:`repeated_ngram_spans` and re-join the surviving tokens.
    Returns (id, clean_text, n_tokens_removed); docs with no repeated
    spans pass through unchanged (n_tokens_removed = 0).

    Scale shape: spans per doc collect into ONE small array column
    (bounded by doc length / n — a handful in practice), the token table
    left-joins it by id, and membership is an ``exists`` over that array
    inside whole-stage codegen — no token-level range join; the ordered
    re-assembly is array_sort over per-doc collect_list (the same ordered
    rollup idiom as the renderers), never a single-partition window.

    ``spans``: optionally pass an already-computed span frame (the
    :func:`repeated_ngram_spans` output for the SAME docs/n, e.g.
    materialized by a caller that also reports the spans) so the heavy
    cross-document mining stage runs once, not twice."""
    if spans is None:
        spans = repeated_ngram_spans(docs, n, id_col, col)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("tok_start", "tok_end")).alias("_spans")
    )
    toks = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(col), " ")).alias("pos", "_w")
    )
    tagged = toks.join(per_doc, id_col, "left").withColumn(
        "_drop",
        F.when(F.col("_spans").isNull(), F.lit(False)).otherwise(
            F.exists(
                "_spans",
                lambda s: (F.col("pos") >= s["tok_start"])
                & (F.col("pos") < s["tok_end"]),
            )
        ),
    )
    agg = tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_drop"), F.struct("pos", F.col("_w").alias("w"))
                        )
                    )
                ),
                lambda s: s["w"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.col("_drop").cast("long")).alias("n_tokens_removed"),
    )
    # NULL-text docs emit no token rows and would vanish from the agg:
    # re-join from the full id set so they pass through (clean_text NULL,
    # nothing removed) like the sibling cleaning ops (review r4)
    return (
        docs.select(F.col(id_col), F.col(col).alias("_orig"))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", "_orig").alias("clean_text"),
            F.coalesce("n_tokens_removed", F.lit(0)).alias("n_tokens_removed"),
        )
    )


def pii_scrub(docs: DataFrame, id_col: str = "doc_id", col: str = "text") -> DataFrame:
    """(id, clean_text, n_pii): redact emails / IPv4s / phone numbers with
    typed placeholder tokens and count the redactions.  Chained
    ``regexp_replace`` — whole-stage codegen, zero Python."""
    n_pii = sum(
        (F.size(F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(0))) for pat, _ in _PII_RULES),
        F.lit(0),
    )
    clean = F.col(col)
    for pat, token in _PII_RULES:
        clean = F.regexp_replace(clean, pat, token)
    return docs.select(
        F.col(id_col),
        clean.alias("clean_text"),
        n_pii.cast("long").alias("n_pii"),
    )


# URL canonicalization steps (cross-engine-safe regexes, applied in order)
_URL_FRAGMENT_RE = "#.*$"
_URL_UTM_MID_RE = "utm_[a-z_]+=[^&#]*&"
_URL_UTM_TAIL_RE = "utm_[a-z_]+=[^&#]*$"
_URL_DANGLING_RE = "[?&]$"
_URL_HOST_RE = "^[a-zA-Z]+://[^/]+"


def url_normalize(docs: DataFrame, id_col: str = "doc_id", col: str = "url") -> DataFrame:
    """(id, url_norm): canonicalize URLs for dedup/grouping — lowercase
    scheme+host, drop the fragment, strip ``utm_*`` tracking parameters,
    tidy dangling separators.  Chained ``regexp_replace`` — whole-stage
    codegen, zero Python; the URL-dedup preprocessing step of web-corpus
    pipelines."""
    u = F.col(col)
    u = F.regexp_replace(u, _URL_FRAGMENT_RE, "")
    u = F.regexp_replace(u, _URL_UTM_MID_RE, "")
    u = F.regexp_replace(u, _URL_UTM_TAIL_RE, "")
    u = F.regexp_replace(u, _URL_DANGLING_RE, "")
    host = F.lower(F.regexp_extract(u, _URL_HOST_RE, 0))
    rest = F.regexp_replace(u, _URL_HOST_RE, "")
    return docs.select(
        F.col(id_col), F.concat(host, rest).alias("url_norm")
    )


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, how many
    of its distinct word n-gram shingles appear in the benchmark set.
    (id, n_shingles, n_contaminated).

    Scale shape: the benchmark shingle set is small and BROADCASTS; the
    corpus side is a map-side explode + broadcast semi-join + one
    aggregation on the doc id — corpus text never shuffles."""
    bench_sh = (
        benchmark.select(F.explode(word_shingles("text", n)).alias("shingle"))
        .distinct()
    )
    corpus_sh = docs.select(
        F.col(id_col), F.explode(word_shingles("text", n)).alias("shingle")
    )
    hits = (
        corpus_sh.join(broadcast(bench_sh), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    sizes = docs.select(
        F.col(id_col), F.size(word_shingles("text", n)).cast("long").alias("n_shingles")
    )
    return (
        sizes.join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        )
    )


def paragraph_chunks(col: str = "text", para_words: int = 25):
    """Non-overlapping ``para_words``-word chunks as an array column —
    the paragraph axis for sub-document dedup (JVM transform/slice)."""
    t = tokens(col)
    n_chunks = F.ceil(F.size(t) / para_words).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(t, i * para_words + 1, para_words), " "),
    )


def dedup_paragraphs(
    docs: DataFrame, id_col: str = "doc_id", para_words: int = 25
) -> DataFrame:
    """Paragraph-level exact dedup: (id, n_paras, n_dup_paras) where a
    paragraph is duplicated if its text occurs anywhere else in the corpus
    (including other positions of the same document).

    Scale shape: only (id, md5) pairs shuffle — 16 B per paragraph, never
    the text; the duplicate test is one aggregation on the digest."""
    paras = docs.select(
        F.col(id_col),
        F.posexplode(paragraph_chunks("text", para_words)).alias("pid", "para"),
    ).select(id_col, "pid", F.md5(F.col("para").cast("binary")).alias("_h"))
    counts = paras.groupBy("_h").agg(F.count("*").alias("_n"))
    return (
        paras.join(counts, "_h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias("n_dup_paras"),
        )
    )
