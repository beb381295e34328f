"""Training-data pipeline ops: quality gates for the probabilistic paths
(MinHash-LSH, SimHash, ANN) against their exact baselines — the analog of
the reference's confidence quality gates
(/root/reference/tests/integration_test.rs:53-58)."""

import pyspark.sql.functions as F
import pytest
from support import embedding_dup_pairs_exact

from tesseract_rs_spark.functions.dedup import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from tesseract_rs_spark.functions.similarity import ann_lsh_topk, cosine_topk
from tesseract_rs_spark.functions.text import text_signals

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )
    d.cache().count()
    return d


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "vec_id", F.col("vec_id").cast("long")
    )
    e.cache().count()
    return e


def test_minhash_lsh_recall_equals_exact(docs):
    """On the planted near-dup corpus (j>=0.8), LSH candidates must not
    miss a single true pair (64 hashes / 16 bands at t=0.8)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "corpus should contain planted near-duplicates"
    assert approx == exact


def test_dedup_keep_first_survivors(spark, docs):
    """Survivor semantics: one row per distinct text, smallest id wins."""
    from tesseract_rs_spark.functions.dedup import dedup_keep_first

    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    full = docs.unionByName(dup)
    res = dedup_keep_first(full)
    n_docs = docs.count()
    assert res.count() == n_docs  # every replica dropped
    assert res.filter(F.col("doc_id") >= 100000).count() == 0


def _python_maps_per_stage(plan) -> list:
    """Python map nodes per stage of a physical plan (a JVM SparkPlan),
    the stages being the pieces that ``Exchange`` nodes cut it into."""
    python_maps = {"MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"}
    counts = [0]

    def walk(node, stage):
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        if "Exchange" in node.nodeName():
            counts.append(0)
            stage = len(counts) - 1
        counts[stage] += node.nodeName() in python_maps
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), stage)

    walk(plan, 0)
    return counts


def test_curate_single_shuffle(spark, docs):
    """The composed curation pipeline pays exactly ONE exchange (the
    digest shuffle of the dedup), and its Python signal pass runs after
    that shuffle: no stage of extract -> curate holds two Python map
    nodes, each of which keeps a Python worker alive per task slot."""
    from tesseract_rs_spark.corpus import make_corpus
    from tesseract_rs_spark.functions.cleaning import curate, flatten_extracted
    from tesseract_rs_spark.operators.extract import extract_text

    out = curate(docs, min_quality=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert out.count() == docs.count()  # min_quality=0: nothing filtered,
    # corpus has no exact dupes at sf0.001

    pages = spark.createDataFrame(make_corpus("smoke")[0])
    chain = curate(flatten_extracted(extract_text(pages)), id_col="url")
    plan = chain._jdf.queryExecution().executedPlan()
    assert plan.toString().count("Exchange") == 1, plan.toString()
    assert _python_maps_per_stage(plan) == [1, 1], plan.toString()


def test_curate_filter_dedup_commute(spark):
    """Dedup-then-score equals score-then-dedup (the SQL filter followed by
    dedup_keep_first), row for row and survivor id for survivor id, on
    planted exact copies that pass, fail the quality gate, or are not
    'en', a NULL-id copy and NULL text."""
    from support import curate_filter_first

    from tesseract_rs_spark.functions.cleaning import curate
    from tesseract_rs_spark.functions.text import doc_signals

    good = "the cat sat on a mat and the dog is of no kind at all"
    good2 = "a bird is the friend of every tree and sky above us"
    short = "alpha beta"  # en, quality 31
    german = "der hund und die katze das ist gut"
    rows = [
        (5, good), (2, good), (9, good),
        (4, good2), (None, good2), (7, good2),
        (3, short), (1, short),
        (6, german), (8, german),
        (10, None), (11, None),
        (12, "one day is the end of a long and dark night"),
    ]
    assert doc_signals(short)[-2] < 55 and doc_signals(german)[-1] == "de"
    assert doc_signals(good)[-2] >= 55 and doc_signals(good2)[-2] >= 55
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got, want = curate(df), curate_filter_first(df)
    assert got.schema == want.schema
    got, want = sorted(got.collect(), key=repr), sorted(want.collect(), key=repr)
    assert got == want
    assert {(r["doc_id"], r["text"]) for r in got} == {
        (2, good), (None, good2), (12, rows[-1][1])
    }


def test_repeated_ngram_spans_merge(spark):
    """Two docs sharing a 5-token run: positions 0..2 (3-grams at 0,1,2)
    merge into ONE span [0,5); a doc-unique tail emits nothing; a doc
    with two separated shared runs gets two spans."""
    from tesseract_rs_spark.functions.cleaning import repeated_ngram_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x1 y1 z1 q1 r1"),
            (2, "a b c d e x2 y2 z2 a b c d e"),
            (3, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["tok_start"], r["tok_end"])
        for r in repeated_ngram_spans(docs, n=3).collect()
    }
    # doc 1: one span over the shared 5-token prefix
    # doc 2: shared prefix AND the shared suffix (positions 8..10 -> [8,13))
    assert out == {(1, 0, 5), (2, 0, 5), (2, 8, 13)}


def _both_paths(pairs, monkeypatch):
    """``dup_clusters(pairs)`` as ``{doc_id: cluster_id}``, after checking
    that the driver path and the distributed one give the same schema and
    rows.  ``CAP = -1`` sends even an empty graph to the distributed
    path."""
    from tesseract_rs_spark.functions import dedup

    small = dedup.dup_clusters(pairs)
    with monkeypatch.context() as m:
        m.setattr(dedup, "CAP", -1)
        large = dedup.dup_clusters(pairs)
        assert large.schema == small.schema
        rows = sorted(small.collect())
        assert sorted(large.collect()) == rows
    out = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert len(out) == len(rows), "one row per doc"
    return out


def test_dup_clusters_chains_and_components(spark, monkeypatch):
    """Chains must collapse to ONE cluster (the pairwise-drop failure
    mode), disjoint components must stay apart; the 4-chain has diameter
    3, so convergence needs multiple propagation rounds.  A reversed or
    repeated pair is the same edge, and a self-loop is a one-doc
    cluster."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22),
         (2, 1), (4, 3), (3, 4), (30, 30), (10, 10)],
        "id_a long, id_b long",
    )
    assert _both_paths(pairs, monkeypatch) == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
        30: 30,
    }


def test_dup_clusters_long_chain(spark, monkeypatch):
    """A 200-node path (gradual-drift near-dups) has diameter 199 —
    pointer jumping must converge within the round cap where plain
    neighborhood propagation would not."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    assert _both_paths(pairs, monkeypatch) == {i: 0 for i in range(201)}


def test_dup_clusters_round_cap_raises(spark, monkeypatch):
    """Unconverged labels would split one component into several
    clusters, so the distributed loop raises at its round cap instead."""
    from tesseract_rs_spark.functions import dedup

    monkeypatch.setattr(dedup, "CAP", -1)
    monkeypatch.setattr(dedup, "MAX_ROUNDS", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="within 1 rounds"):
        dedup.dup_clusters(pairs)


def test_dup_clusters_null_ids(spark, monkeypatch):
    """A NULL id names no document: its pair joins nothing and yields no
    row (not a NULL doc_id, and not a link between 1 and 2)."""
    pairs = spark.createDataFrame(
        [(1, None), (None, 2), (3, 4)], "id_a long, id_b long"
    )
    assert _both_paths(pairs, monkeypatch) == {3: 3, 4: 3}


def test_dup_clusters_string_ids_follow_spark_order(spark, monkeypatch):
    """String ids (urls): cluster_id is the component's ``min`` in Spark's
    ordering, UTF-8 bytes — upper case before lower, and U+FFFF before an
    astral character, which UTF-16 order would reverse."""
    comps = [
        ["b", "B", "a", "A"],
        ["ő", "é", "e", "z"],
        ["\U0001F600", "\uffff", "\U00010000"],
        ["x\uffff", "x\U0001F600"],
    ]
    pairs = spark.createDataFrame(
        [(c[i], c[i + 1]) for c in comps for i in range(len(c) - 1)],
        "id_a string, id_b string",
    )
    spark_min = {
        r["k"]: r["m"]
        for r in spark.createDataFrame(
            [(k, d) for k, c in enumerate(comps) for d in c], "k int, d string"
        )
        .groupBy("k")
        .agg(F.min("d").alias("m"))
        .collect()
    }
    assert _both_paths(pairs, monkeypatch) == {
        d: spark_min[k] for k, c in enumerate(comps) for d in c
    }


def test_dup_clusters_job_count_and_one_pair_pass(spark, monkeypatch):
    """A small graph costs at most three Spark jobs (the pin and the
    probe), not a loop of them; on either path the pair frame's plan runs
    once."""
    from tesseract_rs_spark.functions import dedup

    sc = spark.sparkContext
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
    seen = sc.accumulator(0)

    def count_rows(batches):
        for batch in batches:
            seen.add(batch.num_rows)
            yield batch

    pairs = spark.createDataFrame(edges, "id_a long, id_b long").mapInArrow(
        count_rows, "id_a long, id_b long"
    )
    sc.setJobGroup("dup_clusters_small", "dup_clusters_small")
    try:
        dedup.dup_clusters(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("dup_clusters_small")) <= 3
    assert seen.value == len(edges)
    monkeypatch.setattr(dedup, "CAP", -1)
    dedup.dup_clusters(pairs).collect()
    assert seen.value == 2 * len(edges)


def test_pack_stream_shard_invariant(spark, docs):
    """The sharded distributed prefix sum must be EXACTLY the global
    running sum for any shard count — including shards=1 (degenerate
    single window) and a count that doesn't divide the id range."""
    from tesseract_rs_spark.functions.sampling import pack_stream
    from tesseract_rs_spark.functions.text import token_count

    base = docs.select("doc_id", token_count().alias("n_tokens"))
    ref = {
        r["doc_id"]: (r["tokens_before"], r["bin_id"], r["bin_offset"])
        for r in pack_stream(base, budget=128, shards=1).collect()
    }
    assert len(ref) == base.count()
    # continuity: sorted by id, tokens_before is the exclusive cumsum
    rows = sorted(
        pack_stream(base, budget=128, shards=7).collect(),
        key=lambda r: r["doc_id"],
    )
    run = 0
    for r in rows:
        assert r["tokens_before"] == run
        assert (ref[r["doc_id"]]) == (
            r["tokens_before"], r["bin_id"], r["bin_offset"]
        )
        run += r["tokens"]


def test_pack_stream_random_equivalence(spark):
    """Seeded random (sparse ids, varied token counts, a zero-token doc):
    sharded prefix sum == numpy cumsum ground truth."""
    import numpy as np

    from tesseract_rs_spark.functions.sampling import pack_stream

    rng = np.random.RandomState(0)
    ids = np.sort(rng.choice(100000, size=300, replace=False))
    toks = rng.randint(0, 900, size=300)
    toks[7] = 0  # empty document must not break continuity
    df = spark.createDataFrame(
        [(int(i), int(t)) for i, t in zip(ids, toks)],
        "doc_id long, n_tokens long",
    )
    before = np.concatenate([[0], np.cumsum(toks)[:-1]])
    got = {
        r["doc_id"]: (r["tokens_before"], r["bin_id"], r["bin_offset"])
        for r in pack_stream(df, budget=777, shards=11).collect()
    }
    for i, b in zip(ids, before):
        assert got[int(i)] == (int(b), int(b) // 777, int(b) % 777)


def test_pack_stream_null_ids_and_bad_budget(spark):
    import pytest as _pytest

    from tesseract_rs_spark.functions.sampling import pack_stream

    df = spark.createDataFrame(
        [(1, 10), (None, 99), (2, 20)], "doc_id long, n_tokens long"
    )
    rows = sorted(
        pack_stream(df, budget=16).collect(), key=lambda r: r["doc_id"]
    )
    # NULL id has no stream position: excluded, continuity unaffected
    assert [(r["doc_id"], r["tokens_before"]) for r in rows] == [(1, 0), (2, 10)]
    with _pytest.raises(ValueError):
        pack_stream(df, budget=0)
    # NULL token count likewise (ADVICE r3: the old code crashed with a
    # TypeError when a whole shard's token sum was NULL, and silently
    # emitted NULL positions otherwise)
    dfn = spark.createDataFrame(
        [(1, 10), (2, None), (3, 20)], "doc_id long, n_tokens long"
    )
    rows_n = sorted(
        pack_stream(dfn, budget=16).collect(), key=lambda r: r["doc_id"]
    )
    assert [(r["doc_id"], r["tokens_before"]) for r in rows_n] == [(1, 0), (3, 10)]
    # the all-NULL-token frame must return empty, not raise
    df_all = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, n_tokens long"
    )
    assert pack_stream(df_all, budget=16).count() == 0


def test_otsu_non_uint8_fallback():
    import numpy as np

    from tesseract_rs_spark.kernels.raster import otsu_threshold

    rng = np.random.RandomState(3)
    img8 = rng.randint(0, 256, size=(50, 70)).astype(np.uint8)
    # same values in a wider dtype must give the same threshold (the
    # pair-bincount trick must NOT reinterpret wide-element bytes)
    assert otsu_threshold(img8.astype(np.int64)) == otsu_threshold(img8)


def test_simhash_separates_near_dups(spark, docs):
    def hamming64(col_a, col_b):
        return F.bit_count(col_a.bitwiseXOR(col_b))

    sh = simhash(docs)
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).select("id_a", "id_b")
    a = sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("simhash", "sh_a")
    b = sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("simhash", "sh_b")
    near = (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(hamming64(F.col("sh_a"), F.col("sh_b")).alias("d"))
        .agg(F.avg("d"))
        .collect()[0][0]
    )
    # random-pair baseline: consecutive doc ids (not near-dups)
    rnd = (
        sh.withColumn("id_b", F.col("doc_id") + 1)
        .join(b, "id_b")
        .select(hamming64(F.col("simhash"), F.col("sh_b")).alias("d"))
        .agg(F.avg("d"))
        .collect()[0][0]
    )
    assert near < rnd / 2, (near, rnd)


def test_ann_lsh_recall_vs_exact(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5)
    approx = ann_lsh_topk(emb, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall  # calibrated: ~0.69 at b=4, L=8 on this data


def test_cosine_topk_self_excluded_and_ranked(emb):
    res = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)
    assert res.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    counts = res.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in counts)


def test_word_predicates(spark):
    from tesseract_rs_spark.functions.text import word_in_dictionary, word_is_numeric

    words = spark.createDataFrame(
        [("hello",), ("42",), ("xyzzyplugh",)], "word string"
    )
    # dictionary membership (is_valid_word: "hello" true, "xyzzyplugh"
    # false — /root/reference/tests/test_api.rs:376-386)
    res = {
        r["word"]: r["in_dictionary"]
        for r in word_in_dictionary(words, ["hello", "world"]).collect()
    }
    assert res["hello"] is True and res["xyzzyplugh"] is False
    # large-list path (broadcast join)
    big = ["w%d" % i for i in range(2000)] + ["hello"]
    res2 = {
        r["word"]: r["in_dictionary"]
        for r in word_in_dictionary(words, big).collect()
    }
    assert res2["hello"] is True and res2["42"] is False
    nums = {
        r["word"]: r["n"]
        for r in words.select("word", word_is_numeric().alias("n")).collect()
    }
    assert nums["42"] is True and nums["hello"] is False


def test_quality_and_lang_domains(docs):
    q = text_signals(docs, ("doc_id",))
    assert q.filter((F.col("quality") < 0) | (F.col("quality") > 100)).count() == 0
    langs = {r["lang_pred"] for r in q.select("lang_pred").distinct().collect()}
    assert langs <= {"en", "de", "fr", "es"}


# Strings where the Python signals and Spark's split/filter could part:
# empty tokens (empty, blank, double, leading and trailing spaces), other
# whitespace inside tokens, non-ASCII, stopwords only, past the
# 100-token saturation, and LANG_ORDER ties.
SIGNAL_EDGE_TEXTS = [
    "",
    " ",
    "   ",
    "the  cat",
    " the cat",
    "the cat ",
    " the  a ",
    "the\tcat is\tof",
    "the\xa0cat a\xa0is",
    "naïve café the straße 東京 the émigré",
    "Ünïcödé  the\u2003a",
    "the a is of and",
    "der die und ist das",
    "the the the the",
    " ".join(f"w{i % 37}" for i in range(150)) + " the of",
    " ".join(["the"] * 120),
    "es es fr le",
    "le la et el los y",
    "der die le la",
    "a der le el",
    "the der",
    "THE The the",
]


def test_doc_signals_match_sql_oracle(spark, docs):
    """``doc_signals`` equals the Spark SQL signal expressions it replaced
    (``tests/support.py``) on edge strings and on every sf0.001 document.
    The body runs as a plain Python call, without a JVM."""
    from support import lang_pred_sql, quality_sql, stopword_hits_sql

    from tesseract_rs_spark.functions.text import (
        LANG_ORDER,
        doc_signals,
        token_count,
        tokens,
    )

    edge = spark.createDataFrame(
        list(enumerate(SIGNAL_EDGE_TEXTS)), "doc_id long, text string"
    )
    for frame in (edge, docs):
        want = frame.select(
            "text",
            token_count().alias("n_tokens"),
            F.size(F.array_distinct(tokens())).cast("long").alias("n_distinct"),
            *[stopword_hits_sql(lang=lang).alias(f"sw_{lang}") for lang in LANG_ORDER],
            quality_sql().alias("quality"),
            lang_pred_sql().alias("lang_pred"),
        ).collect()
        assert want
        for row in want:
            assert doc_signals(row["text"]) == tuple(row)[1:], row["text"]


def test_text_signals_null_text(spark):
    """NULL text has NULL signals in every entry point, the language
    included (the SQL CASE once fell through to 'es')."""
    from tesseract_rs_spark.functions.text import doc_signals, text_stats

    def by_id(frame):
        return {r["doc_id"]: tuple(r)[1:] for r in frame.collect()}

    df = spark.createDataFrame([(1, None), (2, "the cat")], "doc_id long, text string")
    scored = text_signals(df, ("doc_id",))
    assert by_id(scored.select("doc_id", "lang_pred")) == {1: (None,), 2: ("en",)}
    assert by_id(scored.select("doc_id", "quality")) == {1: (None,), 2: (51,)}
    assert by_id(text_stats(df)) == {1: (None,) * 4, 2: (2, 7, 2, 1)}
    assert set(doc_signals(None)) == {None}


def test_word_ngrams_match_split_reference(spark):
    """The regex n-gram extraction equals joining every window of
    ``split(text, " ")`` — including the empty tokens that double,
    leading and trailing spaces make, other whitespace inside tokens,
    non-ASCII text and NULL text (no n-grams)."""
    from tesseract_rs_spark.functions.text import word_ngrams_all, word_shingles

    texts = [
        None, "", " ", "   ", "a", "a b", "a b c", " a b c", "a b c ",
        "a  b c d", "x\ny z\tw", "é ü ñ ß", "one two three one two three",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    for n in (1, 2, 3):
        got = {
            r["i"]: (list(r["all"]), list(r["sh"]))
            for r in df.select(
                "i",
                word_ngrams_all("text", n).alias("all"),
                word_shingles("text", n).alias("sh"),
            ).collect()
        }
        for i, text in enumerate(texts):
            t = [] if text is None else text.split(" ")
            want = [" ".join(t[k : k + n]) for k in range(len(t) - n + 1)]
            assert got[i][0] == want, (n, text)
            assert got[i][1] == list(dict.fromkeys(want)), (n, text)

def test_short_doc_shingle_edges(spark, tmp_path):
    """Docs with fewer than n words emit NO shingles: word_shingles is
    empty, simhash is 0, shingle_fingerprint is NULL, and a one-word doc
    splits into ONE multipage page — all matching the SQL oracles'
    self-join formulation (ADVICE r1)."""
    import pandas as pd

    from tesseract_rs_spark.functions.text import shingle_fingerprint, word_shingles

    short = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["one", "two words", "three words here"],
             "lang": ["en", "en", "en"]}
        )
    )
    sh = short.select("doc_id", F.size(word_shingles("text", 3)).alias("n")).collect()
    assert {r["doc_id"]: r["n"] for r in sh} == {1: 0, 2: 0, 3: 1}
    sims = {r["doc_id"]: r["simhash"] for r in simhash(short).collect()}
    assert sims[1] == 0 and sims[2] == 0 and sims[3] != 0
    fps = {r["doc_id"]: r["shingle_fp"] for r in shingle_fingerprint(short).collect()}
    assert fps[1] is None and fps[2] is None and fps[3] is not None

    # one-word doc -> one page (empty second half dropped)
    import __spark_entry__ as entry

    d = tmp_path / "documents.parquet"
    short.toPandas().to_parquet(d)
    res = entry._q_multipage_text(spark, str(tmp_path)).collect()
    pages = {r["doc_id"]: r["n_pages"] for r in res}
    assert pages == {1: 1, 2: 2, 3: 2}


def test_embedding_dup_pairs_lsh_equals_exact(emb):
    """The LSH-bucketed scale path must return exactly the all-pairs
    answer (candidates recalled, exact-cosine verified) — and its plan
    must not contain a corpus x corpus nested-loop join."""
    from tesseract_rs_spark.functions.similarity import embedding_dup_pairs

    lsh = embedding_dup_pairs(emb, threshold=0.45)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    want = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs_exact(emb, threshold=0.45).collect()
    }
    assert got == want


def test_cleaning_ops(spark):
    """PII scrub / contamination / paragraph dedup unit behavior."""
    import pandas as pd

    from tesseract_rs_spark.functions.cleaning import (
        contamination,
        dedup_paragraphs,
        pii_scrub,
    )

    d = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "write to alice.b+x@corp.example.io or 10.1.2.3 now",
                    "call 555-867-5309 twice 555-867-5309",
                    "totally clean words only",
                    "mixed case John.Doe@Example.COM leaks",
                ],
            }
        )
    )
    rows = {r["doc_id"]: r for r in pii_scrub(d).collect()}
    assert rows[1]["clean_text"] == "write to <EMAIL> or <IP> now"
    assert rows[1]["n_pii"] == 2
    assert rows[2]["clean_text"] == "call <PHONE> twice <PHONE>"
    assert rows[2]["n_pii"] == 2
    assert rows[3]["n_pii"] == 0 and rows[3]["clean_text"] == "totally clean words only"
    assert rows[4]["clean_text"] == "mixed case <EMAIL> leaks"  # (?i) — ADVICE r2
    assert rows[4]["n_pii"] == 1

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b c d e",           # benchmark
                    "a b c x y",           # shares shingle "a b c"
                    "p q r s t",           # clean
                ],
            }
        )
    )
    cont = {
        r["doc_id"]: (r["n_shingles"], r["n_contaminated"])
        for r in contamination(docs, docs.filter("doc_id = 1")).collect()
    }
    assert cont == {1: (3, 3), 2: (3, 1), 3: (3, 0)}

    paras = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["one two three one two three", "one two three unique para here"],
            }
        )
    )
    pd_rows = {
        r["doc_id"]: (r["n_paras"], r["n_dup_paras"])
        for r in dedup_paragraphs(paras, para_words=3).collect()
    }
    # "one two three" occurs 3x across the corpus (twice in doc 1)
    assert pd_rows == {1: (2, 2), 2: (2, 1)}


def test_repetition_signals(spark):
    import pandas as pd

    from tesseract_rs_spark.functions.text import repetition_signals

    d = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "spam spam spam spam ham",      # heavy repetition
                    "all unique words right here",   # none
                    "one",                           # too short for 2-grams
                ],
            }
        )
    )
    rows = {r["doc_id"]: r for r in repetition_signals(d).collect()}
    assert rows[1]["n_words"] == 5 and rows[1]["n_distinct_words"] == 2
    assert rows[1]["top_word_count"] == 4 and rows[1]["top_2gram_count"] == 3
    assert rows[2]["top_word_count"] == 1 and rows[2]["top_2gram_count"] == 1
    assert rows[3]["n_words"] == 1 and rows[3]["top_2gram_count"] == 0


def test_asof_join_semantics(spark):
    """Backward as-of join: most recent right row with ts <= left ts per
    key; equal timestamps match; no prior right row -> NULL."""
    import datetime as dt

    import pandas as pd

    from tesseract_rs_spark.functions.events import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        pd.DataFrame(
            {"user_id": [1, 1, 1, 2], "ts": [t(5), t(10), t(2), t(7)],
             "event_id": [100, 101, 102, 103]}
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {"user_id": [1, 1, 2], "ts": [t(3), t(10), t(9)],
             "event_id": [900, 901, 902]}
        )
    )
    rows = {
        r["event_id"]: r["event_id_asof"]
        for r in asof_join(left, right).collect()
    }
    assert rows == {
        100: 900,   # t=5 -> right at t=3
        101: 901,   # t=10 matches equal-ts right row
        102: None,  # t=2 has no prior right row
        103: None,  # user 2's only right row is in the future
    }


def test_asof_join_null_payload(spark):
    """A matched right row whose payload VALUE is NULL must win (and yield
    NULL), not be skipped in favor of an older non-null value — DuckDB
    ASOF semantics (ADVICE r2)."""
    import datetime as dt

    from pyspark.sql import Row

    from tesseract_rs_spark.functions.events import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [Row(user_id=1, ts=t(20), event_id=100)]
    )
    right = spark.createDataFrame(
        [Row(user_id=1, ts=t(3), payload=900),
         Row(user_id=1, ts=t(10), payload=None)],
        schema="user_id bigint, ts timestamp, payload bigint",
    )
    rows = asof_join(left, right, payload_cols=("payload", "ts")).collect()
    assert len(rows) == 1
    # the t=10 row matched: its NULL payload is preserved, not the t=3 one
    assert rows[0]["payload_asof"] is None
    assert rows[0]["ts_asof"] == t(10)


def test_lsh_params_threshold_edges():
    """threshold=1.0 (exact-dup call) must not divide by zero (ADVICE r2);
    t<=-1 has no bounded plan and must raise the descriptive error, not
    loop or overflow (VERDICT r3 #4)."""
    import pytest as _pytest

    from tesseract_rs_spark.functions.similarity import lsh_params_for_threshold

    k, l = lsh_params_for_threshold(1.0)
    assert k >= 1 and l >= 1
    with _pytest.raises(ValueError, match="IVF"):
        lsh_params_for_threshold(-1.0)
    with _pytest.warns(UserWarning, match="IVF"):
        k3, l3 = lsh_params_for_threshold(0.45)
    assert k3 >= 1 and l3 >= 1


def test_lsh_params_bounded_tables():
    """VERDICT r3 #4 'Done' pin: params at t in {0.45, 0.7, 0.9} all keep
    n_tables <= 32 (the old derivation returned ~177 at t=0.45), the
    depth grows with the threshold (stronger pruning when affordable),
    and even adversarially low thresholds stay bounded instead of
    silently exploding the signature volume."""
    import warnings

    from tesseract_rs_spark.functions.similarity import lsh_params_for_threshold

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        p45 = lsh_params_for_threshold(0.45)
        p70 = lsh_params_for_threshold(0.7)
        p90 = lsh_params_for_threshold(0.9)
        low = lsh_params_for_threshold(0.2)
    for k, l in (p45, p70, p90, low):
        assert 1 <= l <= 32, (k, l)
        assert k >= 1
    assert p45[0] <= p70[0] <= p90[0], (p45, p70, p90)
    # the guarantee the caps must NOT break: miss probability at the
    # threshold stays under the 1e-6 target
    import math

    for t, (k, l) in ((0.45, p45), (0.7, p70), (0.9, p90)):
        p = 1.0 - math.acos(t) / math.pi
        assert (1.0 - p**k) ** l <= 1e-6


def test_kmv_sketch_estimate_accuracy(spark, docs):
    import pyspark.sql.functions as F2

    from tesseract_rs_spark.functions.dedup import kmv_sketch
    from tesseract_rs_spark.functions.text import tokens

    row = kmv_sketch(docs).collect()[0]
    exact = (
        docs.select(F2.explode(tokens()).alias("w")).distinct().count()
    )
    # KMV relative error ~ 1/sqrt(k) = 6.25% at k=256; allow 3 sigma
    assert abs(row["estimate"] - exact) / exact < 0.2, (row["estimate"], exact)
    assert row["k"] == 256 and row["kth_min_hash"] > 0


def test_kmv_estimation_branch(spark):
    """Exercise the ESTIMATION regime (distinct >> k) with a synthetic
    vocabulary, not just the exact small-set branch."""
    from tesseract_rs_spark.functions.dedup import kmv_sketch

    big = spark.range(500).selectExpr(
        "id AS doc_id",
        """array_join(transform(sequence(0, 9),
           i -> concat('tok', CAST(id * 10 + i AS STRING))), ' ') AS text""",
    )  # 5000 distinct tokens
    row = kmv_sketch(big).collect()[0]
    assert abs(row["estimate"] - 5000) / 5000 < 0.2, row["estimate"]


def test_interval_join_exact_and_scale_safe(spark):
    """Bucketed interval join == brute-force overlap join, each pair
    emitted exactly once (no distinct pass), and the plan contains no
    BroadcastNestedLoopJoin (the quadratic shape Spark picks for raw
    inequality joins)."""
    import pandas as pd

    from tesseract_rs_spark.functions.events import interval_join

    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "l_id": [1, 2, 3, 4],
                # interval 1 spans 3 buckets at bucket_s=10; 4 is a point
                "s_start": [5, 12, 30, 47],
                "s_end": [25, 14, 31, 47],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "r_id": [10, 20, 30],
                "p_start": [0, 13, 46],
                "p_end": [9, 40, 60],
            }
        )
    )
    j = interval_join(left, right, "s_start", "s_end", "p_start", "p_end",
                      bucket_s=10)
    got = sorted((r["l_id"], r["r_id"]) for r in j.collect())
    lp = left.toPandas()
    rp = right.toPandas()
    want = sorted(
        (int(l.l_id), int(r.r_id))
        for l in lp.itertuples()
        for r in rp.itertuples()
        if l.s_start <= r.p_end and r.p_start <= l.s_end
    )
    assert got == want and len(got) == len(set(got))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_guarded_pair_join_degenerate_bucket(spark):
    """A degenerate LSH bucket (duplicate-heavy corpus) must not become a
    single quadratic task: the chunked triangle join spreads the bucket
    over a (B/cap)^2 cell grid, no cell exceeding cap rows per side, while
    the pair set stays exactly the all-pairs answer (VERDICT r2 ask #5)."""
    from tesseract_rs_spark.functions.dedup import guarded_pair_join

    tagged = spark.range(100).select(
        F.lit(0).alias("b1"), F.lit("x").alias("b2"), F.col("id").alias("doc_id")
    )
    pairs = guarded_pair_join(tagged, ["b1", "b2"], "doc_id", cap=16)
    assert pairs.count() == 100 * 99 // 2
    # mixed bucket sizes: small buckets keep the plain path, results exact
    mixed = spark.range(40).select(
        (F.col("id") % 4).alias("b1"), F.lit("y").alias("b2"),
        F.col("id").alias("doc_id"),
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in guarded_pair_join(mixed, ["b1", "b2"], "doc_id", cap=3).collect()
    }
    want = {
        (a, b)
        for a in range(40)
        for b in range(40)
        if a < b and a % 4 == b % 4
    }
    assert got == want


def test_minhash_identical_docs_adversarial(spark):
    """1k identical documents — every band hash collides into ONE bucket —
    must complete with the guard and return the exact quadratic pair set
    (the pairs ARE the answer; the guard bounds per-task work, not the
    output)."""
    from tesseract_rs_spark.functions.dedup import minhash_dedup_pairs

    n_docs = 200
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit("spark table query join merge scan filter window batch").alias("text"),
    )
    pairs = minhash_dedup_pairs(docs, threshold=0.8, cap=32)
    assert pairs.count() == n_docs * (n_docs - 1) // 2


def test_ann_ivf_full_recall_equals_exact(emb):
    """nprobe == n_centroids probes every cell, so the IVF result must
    equal the exact brute-force top-k — the regime the driver query runs
    in (shares cosine_topk's SQL oracle)."""
    from tesseract_rs_spark.functions.similarity import ann_ivf_topk, cosine_topk

    q = emb.filter(F.col("vec_id") < 10)
    exact = {tuple(r) for r in cosine_topk(emb, q, k=5).collect()}
    ivf = {
        tuple(r)
        for r in ann_ivf_topk(emb, q, k=5, n_centroids=8, nprobe=8).collect()
    }
    assert ivf == exact


def test_ann_ivf_approximate_recall(spark, emb):
    """The honest approximate regime: on a corpus with cluster structure
    (eight planted clusters), the k-means cells follow the clusters, so
    nprobe=3 of 8 cells must still recall most exact neighbors.  The
    fixture corpus is near-random (no cluster structure: same-label and
    cross-label mean cosines are both ~0), where no codebook beats
    chance, ~nprobe/nlist.  The pruning is real: every corpus vector
    lands in exactly ONE cell."""
    import numpy as np

    from tesseract_rs_spark.functions.similarity import (
        ann_ivf_topk,
        cosine_topk,
        ivf_assign,
        ivf_centroids_kmeans,
    )

    rng = np.random.RandomState(0)
    centers = rng.normal(size=(8, 16))
    clustered = spark.createDataFrame(
        [(i, (centers[i % 8] + 0.1 * rng.normal(size=16)).tolist()) for i in range(320)],
        "vec_id long, embedding array<double>",
    )
    q = clustered.filter(F.col("vec_id") < 10)
    exact = {tuple(r) for r in cosine_topk(clustered, q, k=5).collect()}
    approx = {
        tuple(r)
        for r in ann_ivf_topk(clustered, q, k=5, n_centroids=8, nprobe=3).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall
    cents = ivf_centroids_kmeans(emb, 8)
    cells = ivf_assign(emb, cents, 1)
    n = emb.count()
    assert cells.count() == n
    assert cells.select("cell").distinct().count() <= 8


def test_ann_ivf_empty_corpus_raises(spark):
    """An empty corpus cannot train a codebook — the error must be a
    descriptive ValueError, not a numpy stack crash."""
    import pytest as _pytest

    from tesseract_rs_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids_kmeans,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    cents = ivf_centroids_kmeans(empty, 4)
    assert cents == []
    with _pytest.raises(ValueError, match="empty IVF codebook"):
        ivf_assign(empty, cents)


def test_ann_ivf_kmeans_codebook(emb):
    """k-means-trained codebook: deterministic across calls, exactly k
    distinct unit-norm centroids that all populate a cell, and
    full-recall equality with the exact top-k holds for it too (the
    oracle identity is codebook-independent)."""
    import numpy as np

    from tesseract_rs_spark.functions.similarity import (
        ann_ivf_topk,
        cosine_topk,
        ivf_assign,
        ivf_centroids_kmeans,
    )

    c1 = ivf_centroids_kmeans(emb, 8, n_iters=5)
    c2 = ivf_centroids_kmeans(emb, 8, n_iters=5)
    assert len(c1) == 8
    for (i, a), (j, b) in zip(c1, c2):
        assert i == j and np.allclose(a, b)  # deterministic
        assert abs(np.linalg.norm(a) - 1.0) < 1e-9  # spherical
    # every corpus vector lands in a cell; all 8 cells are populated
    cells = ivf_assign(emb, c1, 1).groupBy("cell").count().collect()
    assert len(cells) == 8
    # full recall regime equals exact for the trained codebook too
    q = emb.filter(F.col("vec_id") < 5)
    exact = {tuple(r) for r in cosine_topk(emb, q, k=3).collect()}
    ivf = {
        tuple(r)
        for r in ann_ivf_topk(
            emb, q, k=3, n_centroids=8, nprobe=8, train="kmeans"
        ).collect()
    }
    assert ivf == exact


def test_ann_ivf_no_nested_loop_plan(emb):
    """The IVF candidate generation must be a (cell)-keyed equi-join —
    never a corpus x queries nested loop."""
    from tesseract_rs_spark.functions.similarity import ann_ivf_topk

    out = ann_ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3,
                       n_centroids=8, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_kmeans_sample_threading(emb):
    """The driver-Lloyd trainer sizes its own sample from nlist, so its
    one bound is the driver-Lloyd budget: an nlist above it is rejected
    before any job runs (an uncapped request would be a driver hang,
    review r5)."""
    import pytest as _pytest

    from tesseract_rs_spark.functions.similarity import (
        MAX_AUTO_NLIST,
        ivf_centroids_kmeans,
    )

    with _pytest.raises(ValueError, match="driver-Lloyd budget"):
        ivf_centroids_kmeans(emb, n_centroids=MAX_AUTO_NLIST + 1)


def test_corpus_fluency_signals(spark):
    """Hand-computed fixture: shared bigrams are frequent across the
    corpus, gibberish bigrams are rare (freq <= 2), and a doc's counters
    follow exactly."""
    from tesseract_rs_spark.functions.text import corpus_fluency_signals

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),          # bigrams: 'the cat', 'cat sat'
            (2, "the cat ran"),          # 'the cat' (again), 'cat ran'
            (3, "the cat sat down"),     # 'the cat', 'cat sat', 'sat down'
            (4, "zq xv qp"),             # gibberish: both bigrams unique
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in corpus_fluency_signals(docs).collect()}
    # corpus freqs: 'the cat'=3, 'cat sat'=2, 'cat ran'=1, 'sat down'=1,
    # 'zq xv'=1, 'xv qp'=1
    r1 = out[1]
    assert (r1["n_bigrams"], r1["sum_bigram_freq"]) == (2, 5)
    assert (r1["n_rare_bigrams"], r1["min_bigram_freq"]) == (1, 2)
    r4 = out[4]
    assert (r4["n_bigrams"], r4["sum_bigram_freq"]) == (2, 2)
    # gibberish: every bigram rare -> rare fraction 1.0
    assert (r4["n_rare_bigrams"], r4["min_bigram_freq"]) == (2, 1)


def test_latest_snapshot_keeps_newest_crawl(spark):
    """Re-crawled urls collapse to the latest warc_ts; timestamp ties
    break deterministically by the remaining columns (greatest tuple)."""
    import datetime as dt

    from tesseract_rs_spark.functions.cleaning import latest_snapshot

    t = lambda h: dt.datetime(2026, 1, 1, h)
    pages = spark.createDataFrame(
        [
            ("u1", t(1), b"old", "v1", "en"),
            ("u1", t(3), b"new", "v3", "en"),
            ("u1", t(2), b"mid", "v2", "en"),
            ("u2", t(5), b"only", "x", "de"),
            ("u3", t(7), b"a", "tie-a", "fr"),
            ("u3", t(7), b"b", "tie-b", "fr"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = {r["url"]: r for r in latest_snapshot(pages).collect()}
    assert len(out) == 3
    assert bytes(out["u1"]["html"]) == b"new" and out["u1"]["text"] == "v3"
    assert bytes(out["u2"]["html"]) == b"only"
    # tie on ts: hash tie-break — one of the tied rows, chosen
    # DETERMINISTICALLY (same winner under any partitioning)
    assert bytes(out["u3"]["html"]) in (b"a", b"b")
    out2 = {
        r["url"]: r
        for r in latest_snapshot(pages.repartition(5, "text")).collect()
    }
    assert bytes(out2["u3"]["html"]) == bytes(out["u3"]["html"])
    # plan: one exchange (the key shuffle), no window sort
    plan = latest_snapshot(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # WARC-style schemas carry map columns (http headers): they must ride
    # as payload without breaking the ordering (maps are not orderable)
    with_map = pages.withColumn(
        "headers", F.create_map(F.lit("k"), F.col("text"))
    )
    out_m = {r["url"]: r for r in latest_snapshot(with_map).collect()}
    assert out_m["u1"]["headers"] == {"k": "v3"}


def test_host_stats_annotation(spark):
    """Each doc carries its host's corpus-wide aggregates; hosts parse
    case-insensitively from the url authority; docs without a parseable
    host group under the empty host rather than disappearing."""
    from tesseract_rs_spark.functions.cleaning import host_stats

    docs = spark.createDataFrame(
        [
            (1, "https://A.example.org/x", 10),
            (2, "https://a.example.org/y", 20),
            (3, "http://b.example.org/z", 5),
            (4, "not-a-url", 7),
            (5, "https://a.example.org:8443/p", 3),
            (6, "https://user@A.Example.ORG/q", 4),
        ],
        "doc_id long, url string, n_tokens long",
    )
    out = {r["doc_id"]: r for r in host_stats(docs, token_col="n_tokens").collect()}
    assert len(out) == 6
    # case, port, and userinfo variants all collapse to ONE domain group
    assert out[1]["host"] == "a.example.org"
    assert out[5]["host"] == "a.example.org" == out[6]["host"]
    assert out[1]["host_n_docs"] == 4 and out[1]["host_total_tokens"] == 37
    assert out[3]["host_n_docs"] == 1 and out[3]["host_total_tokens"] == 5
    assert out[4]["host"] == "" and out[4]["host_n_docs"] == 1


def test_host_stats_schemeless_urls(spark):
    """ADVICE r4: crawl link data carries scheme-less ('example.org/x')
    and protocol-relative ('//example.org/x') urls — both must resolve
    to their real host, not collapse into the '' bucket; relative paths
    ('about/contact', dotless) still do."""
    from tesseract_rs_spark.functions.cleaning import host_stats

    docs = spark.createDataFrame(
        [
            (1, "https://a.example.org/x"),
            (2, "//A.example.ORG/y"),
            (3, "example.org/z"),
            (4, "Example.ORG:8080/w"),
            (5, "example.org"),
            (6, "about/contact"),
            (7, "localhost/x"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in host_stats(docs).collect()}
    assert out[2]["host"] == "a.example.org" == out[1]["host"]
    assert out[3]["host"] == "example.org" == out[4]["host"] == out[5]["host"]
    assert out[3]["host_n_docs"] == 3
    # dotless leading tokens are NOT hosts — relative paths stay ''
    assert out[6]["host"] == "" and out[7]["host"] == ""


def test_remove_repeated_spans_token_conservation(spark):
    """Seeded random corpus from a tiny vocabulary (dense cross-doc
    repeats): for EVERY document, kept tokens + removed tokens must equal
    the original token count, kept tokens must be a subsequence of the
    original, and a fully-scrubbed doc reads '' — the invariants that
    hold for any input, not just the hand-built fixtures."""
    import numpy as np

    from tesseract_rs_spark.functions.cleaning import remove_repeated_spans

    rng = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        n = int(rng.randint(5, 60))
        rows.append((i, " ".join(vocab[j] for j in rng.randint(0, 30, n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = dict(rows)
    out = {r["doc_id"]: r for r in remove_repeated_spans(docs, n=3).collect()}
    assert set(out) == set(orig)
    removed_total = 0
    for i, text in orig.items():
        toks = text.split(" ")
        clean = out[i]["clean_text"]
        kept = clean.split(" ") if clean else []
        removed = out[i]["n_tokens_removed"]
        removed_total += removed
        assert len(kept) + removed == len(toks), i
        # kept tokens are a subsequence of the original token stream
        it = iter(toks)
        assert all(w in it for w in kept), i
    assert removed_total > 0  # the dense vocab guarantees repeats


def test_filter_by_hosts(spark):
    """Domain blocklist/allowlist: a registered-domain entry matches
    itself AND its subdomains via the suffix expansion (never substring
    — 'badexample.org' survives an 'example.org' block), both the
    literal-array path and the broadcast-DataFrame path; keep=True flips
    block into allow.  The DataFrame path's plan must not shuffle the
    corpus (broadcast semi-join + id join back only)."""
    import pyspark.sql.functions as F2

    from tesseract_rs_spark.functions.cleaning import filter_by_hosts

    docs = spark.createDataFrame(
        [
            (0, "https://example.org/a"),
            (1, "https://sub.example.org/b"),
            (2, "https://badexample.org/c"),
            (3, "spam.net/d"),
            (4, "https://fine.io/e"),
            (5, None),
        ],
        "doc_id long, url string",
    )
    blocked = ["example.org", "spam.net"]
    kept = {r["doc_id"] for r in filter_by_hosts(docs, blocked).collect()}
    assert kept == {2, 4, 5}
    allowed = {
        r["doc_id"] for r in filter_by_hosts(docs, blocked, keep=True).collect()
    }
    assert allowed == {0, 1, 3}
    bl_df = spark.createDataFrame([("Example.ORG",), ("spam.net",)], "host string")
    kept_df = {r["doc_id"] for r in filter_by_hosts(docs, bl_df).collect()}
    assert kept_df == {2, 4, 5}
    allowed_df = {
        r["doc_id"] for r in filter_by_hosts(docs, bl_df, keep=True).collect()
    }
    assert allowed_df == {0, 1, 3}
    key = "spark.sql.autoBroadcastJoinThreshold"
    old_thr = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = (
            filter_by_hosts(docs, bl_df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set(key, old_thr)
    # the corpus side may never shuffle: only hint-driven broadcasts
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dedup_family_string_ids(spark):
    """Dedup/similarity stages must accept STRING ids (urls are the
    natural key of a crawl corpus): the signature/assign mapInPandas
    schemas previously hardcoded `id long`, which made the downstream
    verify joins CAST url keys to BIGINT and crash on real urls
    (found r5 via the CLI --fuzzy-dedup stage)."""
    import pyspark.sql.functions as F2

    from tesseract_rs_spark.functions.dedup import minhash_dedup_pairs
    from tesseract_rs_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids_kmeans,
        lsh_signatures,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            ("https://a.example.org/1", text),
            ("https://b.example.org/2", text),
            ("https://c.example.org/3", "completely different words here"),
        ],
        "url string, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(docs, threshold=0.8, id_col="url").collect()
    }
    assert pairs == {("https://a.example.org/1", "https://b.example.org/2")}
    sh = simhash(docs, id_col="url").collect()
    assert {r["url"] for r in sh} == {r[0] for r in docs.select("url").collect()}
    emb = spark.createDataFrame(
        [("u-a", [1.0, 0.0]), ("u-b", [0.0, 1.0])],
        "url string, embedding array<double>",
    )
    sigs = lsh_signatures(emb, 2, 2, id_col="url", dim=2).collect()
    assert {r["url"] for r in sigs} == {"u-a", "u-b"}
    cents = ivf_centroids_kmeans(emb, 2, id_col="url", vec_col="embedding")
    cells = ivf_assign(emb, cents, 1, "url", "embedding").collect()
    assert {r["url"] for r in cells} == {"u-a", "u-b"}


def test_host_stats_adversarial_urls(spark):
    """Row preservation under hostile urls — the regression class that
    matters at crawl scale (a parse quirk that drops rows silently loses
    corpus).  One job over a generated adversarial corpus; invariants:
    every row survives, hosts are lowercase, and a host never contains
    path/query/fragment characters or userinfo."""
    from tesseract_rs_spark.functions.cleaning import host_stats

    urls = [
        None, "", " ", "https://", "http:///path", "://x", "//",
        "//host.org", "a.b", "a.b.", ".a.b", "a..b", "x" * 500,
        "http://a b.c/d", "https://user:pw@Host.ORG:443/x?q=1#f",
        "ftp://weird.example/",
        "scheme+odd.v2://h.example.org/p", "HtTpS://MiXeD.CaSe/Path",
        "//user@cdn.example.com:8080/y", "example.org:notaport/x",
        "tel:+155555", "mailto:a@b.c", "data:text/plain,hi",
        "http://[::1]/v6", "http://...", "?query=only", "#frag-only",
        "/rooted/path", "rel/path", "例え.テスト/x", "http://例え.テスト/x",
        "https://a.example.org/##", "https://a.example.org?" ,
    ]
    docs = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    out = host_stats(docs).collect()
    assert len(out) == len(urls)  # no row lost, ever
    assert sorted(r["doc_id"] for r in out) == list(range(len(urls)))
    for r in out:
        h = r["host"]
        assert h is not None and h == h.lower()
        assert not any(c in h for c in "/?#@")
        assert r["host_n_docs"] >= 1


def test_host_stats_broadcast_plan(spark):
    """VERDICT r4 #2: the join back must BROADCAST the per-host counter
    table — the document side (multi-KB text rows, skewed host key) may
    never shuffle by host.  Pinned with auto-broadcast disabled so only
    the explicit hint can produce the broadcast."""
    import pyspark.sql.functions as F

    from tesseract_rs_spark.functions.cleaning import host_stats

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        docs = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("https://h"), (F.col("id") % 5).cast("string"),
                F.lit(".example.org/p"),
            ).alias("url"),
        )
        out = host_stats(docs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        assert out.count() == 100
    finally:
        spark.conf.set(key, old)


def test_semantic_dedup_end_to_end(spark, emb):
    """SemDeDup composition: planted exact-duplicate vectors (including a
    chain a~b~c via identical copies) quantize into the same cell, the
    pair graph collapses per component, and only the minimum id survives;
    non-duplicate vectors are untouched."""
    from tesseract_rs_spark.functions.similarity import (
        embedding_dup_pairs_ivf,
        semantic_dedup,
    )

    base = emb.limit(20)
    d1 = base.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(100000).cast("long")
    )
    d2 = base.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(100001).cast("long")
    )
    d3 = base.filter(F.col("vec_id") == 3).withColumn(
        "vec_id", F.lit(100002).cast("long")
    )
    corpus = base.unionByName(d1).unionByName(d2).unionByName(d3)
    n_base = base.count()
    # exact copies always share a cell -> all planted pairs recovered
    mined = embedding_dup_pairs_ivf(corpus, threshold=0.999, n_centroids=4)
    pairs = {(r["id_a"], r["id_b"]) for r in mined.collect()}
    assert {(0, 100000), (0, 100001), (100000, 100001), (3, 100002)} <= pairs
    survivors = semantic_dedup(corpus, mined)
    ids = {r["vec_id"] for r in survivors.collect()}
    assert survivors.count() == n_base
    assert {100000, 100001, 100002}.isdisjoint(ids)
    assert {0, 3} <= ids
    # unknown codebook modes rejected, the deleted id codebook included
    for train in ("typo", "ids"):
        with pytest.raises(ValueError, match="train"):
            embedding_dup_pairs_ivf(corpus, 0.999, 4, train=train)


def test_latest_snapshot_random_equivalence(spark):
    """Seeded random crawl (many urls, repeated crawls, timestamp ties):
    every survivor carries its url's MAX timestamp and belongs to the
    input's tied-row set, and the tie winner is identical under a
    different partitioning (partition-order independence)."""
    import datetime as dt

    import numpy as np

    from tesseract_rs_spark.functions.cleaning import latest_snapshot

    rng = np.random.RandomState(11)
    rows = []
    for i in range(400):
        u = f"u{rng.randint(0, 60)}"
        ts = dt.datetime(2026, 1, 1) + dt.timedelta(hours=int(rng.randint(0, 8)))
        rows.append((u, ts, f"v{rng.randint(0, 1000)}"))
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    got = {r["url"]: (r["warc_ts"], r["text"]) for r in latest_snapshot(df).collect()}
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "text"])
    max_ts = pdf.groupby("url")["warc_ts"].max()
    assert len(got) == len(max_ts)
    candidates = {
        u: set(
            pdf[(pdf.url == u) & (pdf.warc_ts == max_ts[u])]["text"].tolist()
        )
        for u in max_ts.index
    }
    for u, (ts, text) in got.items():
        assert ts == max_ts[u].to_pydatetime(), u
        assert text in candidates[u], u
    got2 = {
        r["url"]: (r["warc_ts"], r["text"])
        for r in latest_snapshot(df.repartition(13, "text")).collect()
    }
    assert got2 == got


def test_remove_repeated_spans(spark):
    """The scrub half of substring dedup on the known fixture: shared
    runs are excised, unique tails survive, untouched docs pass through
    with zero removals."""
    from tesseract_rs_spark.functions.cleaning import remove_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x1 y1 z1 q1 r1"),
            (2, "a b c d e x2 y2 z2 a b c d e"),
            (3, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_repeated_spans(docs, n=3).collect()}
    assert out[1]["clean_text"] == "x1 y1 z1 q1 r1"
    assert out[1]["n_tokens_removed"] == 5
    assert out[2]["clean_text"] == "x2 y2 z2"
    assert out[2]["n_tokens_removed"] == 10
    assert out[3]["clean_text"] == "p q r s t u v w"
    assert out[3]["n_tokens_removed"] == 0


def test_host_stats_null_url_survives(spark):
    """A NULL url must group under the empty host, not vanish in the
    null-unsafe join back (review r4)."""
    from tesseract_rs_spark.functions.cleaning import host_stats

    docs = spark.createDataFrame(
        [(1, "https://a.example.org/x"), (2, None), (3, "junk")],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in host_stats(docs).collect()}
    assert len(out) == 3
    assert out[2]["host"] == "" and out[3]["host"] == ""
    assert out[2]["host_n_docs"] == 2  # NULL + unparseable share ''


def test_latest_snapshot_nested_map_payload(spark):
    """Maps nested inside arrays/structs are unorderable too — they must
    ride as payload, not enter the max_by ordering (review r4)."""
    import datetime as dt

    from tesseract_rs_spark.functions.cleaning import latest_snapshot

    pages = spark.createDataFrame(
        [
            ("u1", dt.datetime(2026, 1, 1, 1), [{"k": "old"}]),
            ("u1", dt.datetime(2026, 1, 1, 2), [{"k": "new"}]),
        ],
        "url string, warc_ts timestamp, headers array<map<string,string>>",
    )
    out = latest_snapshot(pages).collect()
    assert len(out) == 1
    assert out[0]["headers"][0] == {"k": "new"}


def test_remove_repeated_spans_null_text_passthrough(spark):
    """NULL-text docs must pass through (clean_text NULL, zero removed),
    not disappear from the output (review r4)."""
    from tesseract_rs_spark.functions.cleaning import remove_repeated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_repeated_spans(docs, n=3).collect()}
    assert len(out) == 3
    assert out[3]["clean_text"] is None
    assert out[3]["n_tokens_removed"] == 0
    assert out[1]["clean_text"] == "" and out[1]["n_tokens_removed"] == 5


def _distinct_unit_vectors(n):
    """n guaranteed-distinct-direction vectors: distinct mixed-radix
    (a,b,c) triples with a trailing 1.0 — two such vectors can only be
    scalar multiples with lambda=1 (the trailing coordinate), i.e. when
    identical, so every unit-normalized direction is distinct."""
    return [
        (
            i,
            [
                float(i % 21 + 1),
                float((i // 21) % 22 + 1),
                float(i // 462 + 1),
                1.0,
            ],
        )
        for i in range(n)
    ]


def test_ivf_kmeans_distributed_past_driver_budget(spark):
    """The VERDICT r5 #2 pin: train="distributed" produces an effective
    codebook BEYOND the MAX_AUTO_NLIST driver-Lloyd budget, with no
    driver-side training sample (the only collects are the 2x seed
    TakeOrdered and the <=nlist-row per-iteration cell sums — both
    bounded by the codebook, which is driver-resident by design).
    Every centroid is unit-norm and assignment spreads across far more
    cells than the old cap allowed."""
    import numpy as np

    from tesseract_rs_spark.functions.similarity import (
        MAX_AUTO_NLIST,
        ivf_assign,
        ivf_centroids_kmeans,
        ivf_centroids_kmeans_distributed,
    )

    want = MAX_AUTO_NLIST + 8  # past the driver budget
    n = 2 * want
    corpus = spark.createDataFrame(
        _distinct_unit_vectors(n), "vec_id long, embedding array<float>"
    )
    # the driver-Lloyd path refuses this size outright
    with pytest.raises(ValueError, match="driver-Lloyd budget"):
        ivf_centroids_kmeans(corpus, want)
    cents = ivf_centroids_kmeans_distributed(corpus, want, n_iters=2)
    assert len(cents) == want
    assert [i for i, _ in cents] == list(range(want))
    mat = np.stack([c for _, c in cents])
    assert np.allclose(np.linalg.norm(mat, axis=1), 1.0)
    used = (
        ivf_assign(corpus, cents, 1)
        .select("cell")
        .distinct()
        .count()
    )
    assert used > MAX_AUTO_NLIST  # effective cell count beats the cap


def test_ivf_kmeans_distributed_matches_driver_lloyd(spark):
    """Equivalence at a size both trainers can run: when driver-Lloyd's
    sample is the WHOLE corpus (its 4,096-row floor covers it), both trainers iterate over identical
    data from identical hash-ordered data-point seeds, so the codebooks
    must agree to float-summation tolerance (their only mechanical
    differences are empty-cell handling — no cell empties here — and
    partial-sum order).  Same codebook => same cells => identical
    downstream SemDeDup recall."""
    import numpy as np

    from tesseract_rs_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids_kmeans,
        ivf_centroids_kmeans_distributed,
    )

    n, k = 512, 16
    corpus = spark.createDataFrame(
        _distinct_unit_vectors(n), "vec_id long, embedding array<float>"
    )
    driver = ivf_centroids_kmeans(corpus, k, n_iters=5)
    dist = ivf_centroids_kmeans_distributed(corpus, k, n_iters=5)
    assert len(driver) == len(dist) == k
    d_mat = np.stack([c for _, c in driver])
    x_mat = np.stack([c for _, c in dist])
    assert np.allclose(d_mat, x_mat, atol=1e-9), np.abs(d_mat - x_mat).max()
    # and the induced partitions of the corpus are literally identical
    pa = sorted((r["vec_id"], r["cell"]) for r in ivf_assign(corpus, driver, 1).collect())
    pb = sorted((r["vec_id"], r["cell"]) for r in ivf_assign(corpus, dist, 1).collect())
    assert pa == pb


def test_ann_ivf_distributed_full_recall_identity(spark, emb):
    """nprobe == n_centroids makes IVF exact for ANY codebook — holds for
    the distributed trainer too, and semantic_dedup over pairs mined with
    its codebook keeps the same survivors as over the driver-Lloyd run's."""
    from tesseract_rs_spark.functions.similarity import (
        ann_ivf_topk,
        cosine_topk,
        embedding_dup_pairs_ivf,
        semantic_dedup,
    )

    q = emb.filter(F.col("vec_id") < 5)
    exact = {tuple(r) for r in cosine_topk(emb, q, k=3).collect()}
    approx = {
        tuple(r)
        for r in ann_ivf_topk(
            emb, q, k=3, n_centroids=8, nprobe=8, train="distributed"
        ).collect()
    }
    assert approx == exact
    base = emb.limit(20)
    dup = base.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(100000).cast("long")
    )
    corpus = base.unionByName(dup)
    s_kmeans, s_dist = (
        {
            r["vec_id"]
            for r in semantic_dedup(
                corpus, embedding_dup_pairs_ivf(corpus, 0.999, 4, train=train)
            ).collect()
        }
        for train in ("kmeans", "distributed")
    )
    assert s_dist == s_kmeans


def test_semantic_dedup_pairs_frame_validated(spark, emb):
    """semantic_dedup rejects the likeliest mix-ups in its pair frame
    (missing id columns, a pair frame keyed on a different id type)
    instead of silently producing a wrong survivor set (ADVICE r5)."""
    from tesseract_rs_spark.functions.similarity import semantic_dedup

    base = emb.limit(10)
    bad_cols = spark.createDataFrame([(1, 2)], "left long, right long")
    with pytest.raises(ValueError, match="missing column"):
        semantic_dedup(base, bad_cols)
    bad_type = spark.createDataFrame(
        [("a", "b")], "id_a string, id_b string"
    )
    with pytest.raises(ValueError, match="different id"):
        semantic_dedup(base, bad_type)


def test_ivf_kmeans_distributed_empty_and_degenerate(spark):
    """Empty corpus -> empty codebook (mirrors the other trainers); a
    corpus with fewer distinct directions than requested cells warns and
    trains with the distinct count."""
    from tesseract_rs_spark.functions.similarity import (
        ivf_centroids_kmeans_distributed,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ivf_centroids_kmeans_distributed(empty, 4) == []
    dup = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    with pytest.warns(UserWarning, match="seeded 1 cells"):
        cents = ivf_centroids_kmeans_distributed(dup, 4, n_iters=2)
    assert len(cents) == 1

def test_ivf_distributed_flat_codebook_bound(spark):
    """The distributed trainer is bounded by the flat-codebook budget
    (the codebook is driver-resident and broadcast even though training
    never collects a sample): past MAX_DISTRIBUTED_NLIST it RAISES —
    silently degrading would OOM the driver at exactly the corpus scale
    the feature exists for."""
    from tesseract_rs_spark.functions.similarity import (
        MAX_DISTRIBUTED_NLIST,
        ivf_centroids_kmeans_distributed,
    )

    tiny = spark.createDataFrame(
        _distinct_unit_vectors(8), "vec_id long, embedding array<float>"
    )
    # the guard fires before any job runs, so a tiny corpus suffices
    with pytest.raises(ValueError, match="flat-codebook budget"):
        ivf_centroids_kmeans_distributed(tiny, MAX_DISTRIBUTED_NLIST + 1)


def _imi_vectors(n):
    """n deterministic 4-d vectors varying in BOTH halves (the
    _distinct_unit_vectors triples hold their last two coordinates
    nearly constant, which degenerates the hi sub-codebook)."""
    mods = (97, 89, 83, 79)
    mults = (37, 41, 43, 47)
    return [
        (i, [float((i * mults[j]) % mods[j] + 1) for j in range(4)])
        for i in range(n)
    ]


def test_imi_composite_cell_arithmetic(spark):
    """The IMI composite cell is exactly the product of two independent
    flat half-assignments: assign the sliced halves with ivf_assign
    against the same sub-codebooks and the composite must equal
    cell_lo * grid_w + cell_hi for every vector — and the assignment is
    deterministic across partitionings."""
    from tesseract_rs_spark.functions.similarity import (
        imi_assign,
        imi_codebooks,
        ivf_assign,
    )

    corpus = spark.createDataFrame(
        _imi_vectors(120), "vec_id long, embedding array<float>"
    )
    lo_c, hi_c = imi_codebooks(corpus, 3, train="distributed")
    assert len(lo_c) == len(hi_c) == 3
    assert all(len(v) == 2 for _, v in lo_c + hi_c)  # dim 4 -> halves of 2
    grid_w = max(i for i, _ in hi_c) + 1
    got = {
        r["vec_id"]: r["cell"] for r in imi_assign(corpus, lo_c, hi_c).collect()
    }
    halves = corpus.select(
        "vec_id",
        F.slice("embedding", 1, 2).alias("lo"),
        F.slice("embedding", 3, 2).alias("hi"),
    )
    la = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(
            halves.select("vec_id", F.col("lo").alias("embedding")), lo_c, 1
        ).collect()
    }
    lb = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(
            halves.select("vec_id", F.col("hi").alias("embedding")), hi_c, 1
        ).collect()
    }
    assert got == {i: la[i] * grid_w + lb[i] for i in la}
    reparted = {
        r["vec_id"]: r["cell"]
        for r in imi_assign(corpus.repartition(7), lo_c, hi_c).collect()
    }
    assert reparted == got


def test_imi_full_recall_and_subset(spark):
    """n_cells_per_half=1 puts every vector in the single composite cell,
    so the IMI miner must equal the exact all-pairs answer; at a finer
    grid every emitted pair still passed the exact verify (IMI can miss
    cross-cell pairs but never invents one), and exact duplicates always
    share a cell."""
    from tesseract_rs_spark.functions.similarity import embedding_dup_pairs_imi

    base = spark.createDataFrame(
        _imi_vectors(60), "vec_id long, embedding array<float>"
    )
    dup = base.filter(F.col("vec_id") == 3).withColumn(
        "vec_id", F.lit(100000).cast("long")
    )
    corpus = base.unionByName(dup)
    exact = {tuple(r) for r in embedding_dup_pairs_exact(corpus, 0.995).collect()}
    full = {
        tuple(r)
        for r in embedding_dup_pairs_imi(
            corpus, 0.995, n_cells_per_half=1, train="distributed"
        ).collect()
    }
    assert full == exact
    fine = {
        tuple(r)
        for r in embedding_dup_pairs_imi(
            corpus, 0.995, n_cells_per_half=4, train="distributed"
        ).collect()
    }
    assert fine <= exact
    assert (3, 100000) in fine  # identical halves -> identical cell


def test_imi_grid_exceeds_codebook_rows(spark):
    """The scale property that motivates IMI: occupied composite cells
    exceed the TOTAL driver-resident centroid rows — a flat codebook of
    the same driver footprint could never separate the corpus this
    finely."""
    from tesseract_rs_spark.functions.similarity import (
        imi_assign,
        imi_codebooks,
    )

    corpus = spark.createDataFrame(
        _imi_vectors(512), "vec_id long, embedding array<float>"
    )
    lo_c, hi_c = imi_codebooks(corpus, 16, train="distributed")
    rows_held = len(lo_c) + len(hi_c)
    occupied = (
        imi_assign(corpus, lo_c, hi_c).select("cell").distinct().count()
    )
    assert rows_held == 32
    assert occupied > rows_held


def test_imi_degenerate_inputs(spark):
    """Empty corpus and sub-2-dim vectors raise with actionable
    messages; a width-mismatched corpus fails fast in assignment."""
    from tesseract_rs_spark.functions.similarity import imi_assign, imi_codebooks

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="non-empty"):
        imi_codebooks(empty, 2)
    skinny = spark.createDataFrame(
        [(0, [1.0]), (1, [2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match=">= 2 dimensions"):
        imi_codebooks(skinny, 2)
    ok = spark.createDataFrame(
        _imi_vectors(30), "vec_id long, embedding array<float>"
    )
    lo_c, hi_c = imi_codebooks(ok, 2, train="distributed")
    wide = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="codebook dim"):
        imi_assign(wide, lo_c, hi_c).collect()


def test_semantic_dedup_imi_matches_ivf_survivors(spark, emb):
    """IMI pairs plug into the end-to-end SemDeDup unchanged: at
    full-recall configs (1 effective cell each) the survivor sets of the
    two quantizers are identical."""
    from tesseract_rs_spark.functions.similarity import (
        embedding_dup_pairs_imi,
        embedding_dup_pairs_ivf,
        semantic_dedup,
    )

    base = emb.limit(20)
    dup = base.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(100000).cast("long")
    )
    corpus = base.unionByName(dup)
    ivf_pairs = embedding_dup_pairs_ivf(
        corpus, 0.999, n_centroids=1, train="distributed"
    )
    ivf = {r["vec_id"] for r in semantic_dedup(corpus, ivf_pairs).collect()}
    imi_pairs = embedding_dup_pairs_imi(
        corpus, 0.999, n_cells_per_half=1, train="distributed"
    )
    imi = {r["vec_id"] for r in semantic_dedup(corpus, imi_pairs).collect()}
    assert imi == ivf and 100000 not in imi


def _local_gate(i, salt="s0"):
    import hashlib

    return int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8], 16)


def test_stratified_token_budget_exact_and_shard_invariant(spark):
    """Kept set == the naive local computation (per-stratum hash-order
    exclusive prefix < budget), identical at shards=1 and shards=7 (the
    sharded distributed prefix sum is an implementation detail), and
    strata absent from the budget dict are dropped."""
    from tesseract_rs_spark.functions.sampling import stratified_token_budget

    rows = [
        (i, ["en", "de", "fr"][i % 3], 10 + (i * 7) % 23)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    budgets = {"en": 300, "de": 150}  # fr absent -> dropped

    expected = {}
    for lang in budgets:
        ordered = sorted(
            (r for r in rows if r[1] == lang),
            key=lambda r: (_local_gate(r[0]), r[0]),
        )
        acc = 0
        for i, lg, tok in ordered:
            if acc < budgets[lang]:
                expected[i] = (lg, tok, acc)
            acc += tok

    for shards in (1, 7):
        got = {
            r["doc_id"]: (r["lang"], r["tokens"], r["tokens_before"])
            for r in stratified_token_budget(
                df, budgets, shards=shards
            ).collect()
        }
        assert got == expected
    # every stratum actually got cut (the budgets bite), and overshoot
    # is bounded: dropping any kept doc's tokens goes below budget
    for lang in budgets:
        kept_toks = sum(t for lg, t, _ in expected.values() if lg == lang)
        all_toks = sum(r[2] for r in rows if r[1] == lang)
        assert kept_toks < all_toks
        assert max(
            b for lg, t, b in expected.values() if lg == lang
        ) < budgets[lang]


def test_stratified_token_budget_guards(spark):
    from tesseract_rs_spark.functions.sampling import stratified_token_budget

    df = spark.createDataFrame(
        [(1, "en", 5)], "doc_id long, lang string, n_tokens long"
    )
    with pytest.raises(ValueError, match="at least one stratum"):
        stratified_token_budget(df, {})
    with pytest.raises(ValueError, match="must be positive"):
        stratified_token_budget(df, {"en": 0})
    # no surviving strata -> empty frame with the contract schema
    out = stratified_token_budget(df, {"zz": 10})
    assert out.count() == 0
    assert out.columns == ["doc_id", "lang", "tokens", "tokens_before"]


def test_cluster_quota_sample(spark):
    """k deterministic hash-order representatives per cell; reshuffle-
    proof; k<1 raises; null cells/ids excluded."""
    from tesseract_rs_spark.functions.sampling import cluster_quota_sample

    rows = [(i, i % 5) for i in range(100)] + [(None, 1), (200, None)]
    df = spark.createDataFrame(rows, "doc_id long, cell long")
    out = cluster_quota_sample(df, 3, id_col="doc_id").collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(
            (r["sample_rank"], r["doc_id"])
        )
    assert set(by_cell) == set(range(5))
    for cell, members in by_cell.items():
        want = sorted(
            (i for i, c in rows[:100] if c == cell),
            key=lambda i: (_local_gate(i), i),
        )[:3]
        assert [d for _, d in sorted(members)] == want
    # partitioning-independent
    re_out = {
        (r["cell"], r["sample_rank"], r["doc_id"])
        for r in cluster_quota_sample(
            df.repartition(13), 3, id_col="doc_id"
        ).collect()
    }
    assert re_out == {
        (c, rk, d) for c, ms in by_cell.items() for rk, d in ms
    }
    with pytest.raises(ValueError, match="k must be"):
        cluster_quota_sample(df, 0, id_col="doc_id")


def test_cluster_quota_sample_on_quantizer_cells(spark):
    """Integration with the IVF quantizer: cells from ivf_assign feed
    cluster_quota_sample directly — every surviving cell keeps at most k
    rows, survivors are a subset of the input, and the selection is
    deterministic across partitionings (the claim the corpus_sample
    driver docstring makes)."""
    from tesseract_rs_spark.functions.sampling import cluster_quota_sample
    from tesseract_rs_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids_kmeans,
    )

    corpus = spark.createDataFrame(
        _distinct_unit_vectors(64), "vec_id long, embedding array<float>"
    )
    cents = ivf_centroids_kmeans(corpus, 8)
    cells = ivf_assign(corpus, cents, 1)
    out = cluster_quota_sample(cells, 2, id_col="vec_id").collect()
    per_cell = {}
    for r in out:
        per_cell.setdefault(r["cell"], []).append(r["vec_id"])
    assert per_cell and all(len(v) <= 2 for v in per_cell.values())
    all_ids = {r["vec_id"] for r in cells.collect()}
    assert {r["vec_id"] for r in out} <= all_ids
    again = {
        (r["cell"], r["sample_rank"], r["vec_id"])
        for r in cluster_quota_sample(
            cells.repartition(9), 2, id_col="vec_id"
        ).collect()
    }
    assert again == {(r["cell"], r["sample_rank"], r["vec_id"]) for r in out}


def test_imi_multiprobe_and_ann_topk(spark, emb):
    """Multi-probe imi_assign emits exactly the cross product of each
    half's top-n sub-cells; ann_imi_topk at full probe (nprobe_per_half
    == n_cells_per_half) equals the exact cosine top-k for any codebook;
    a partial probe returns only (query, neighbor) pairs the full-probe
    run also ranks (IMI can miss candidates but never invents one)."""
    from tesseract_rs_spark.functions.similarity import (
        ann_imi_topk,
        cosine_topk,
        imi_assign,
        imi_codebooks,
        ivf_assign,
    )

    corpus = spark.createDataFrame(
        _imi_vectors(120), "vec_id long, embedding array<float>"
    )
    lo_c, hi_c = imi_codebooks(corpus, 3, train="distributed")
    grid_w = max(i for i, _ in hi_c) + 1
    probed = {}
    for r in imi_assign(corpus, lo_c, hi_c, nprobe_per_half=2).collect():
        probed.setdefault(r["vec_id"], set()).add(r["cell"])
    halves = corpus.select(
        "vec_id",
        F.slice("embedding", 1, 2).alias("lo"),
        F.slice("embedding", 3, 2).alias("hi"),
    )

    def top2(col, cents):
        out = {}
        for r in ivf_assign(
            halves.select("vec_id", F.col(col).alias("embedding")), cents, 2
        ).collect():
            out.setdefault(r["vec_id"], []).append(r["cell"])
        return out

    la, lb = top2("lo", lo_c), top2("hi", hi_c)
    for vid, cells in probed.items():
        want = {a * grid_w + b for a in la[vid] for b in lb[vid]}
        assert cells == want and len(cells) == 4
    with pytest.raises(ValueError, match="nprobe_per_half must be"):
        imi_assign(corpus, lo_c, hi_c, nprobe_per_half=0)

    queries = emb.filter(F.col("vec_id") < 6)
    exact = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann_imi_topk(
            emb, queries, k=5, n_cells_per_half=3, nprobe_per_half=3,
            train="kmeans",
        ).collect()
    }
    assert full == exact
    partial_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_imi_topk(
            emb, queries, k=5, n_cells_per_half=3, nprobe_per_half=1,
            train="kmeans",
        ).collect()
    }
    # partial probe mines a subset of the full probe's candidate space
    full_cand = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_imi_topk(
            emb, queries, k=10**6, n_cells_per_half=3, nprobe_per_half=3,
            train="kmeans",
        ).collect()
    }
    assert partial_pairs <= full_cand


def _topk_paths(corpus, queries, k):
    """Every top-k path, each ANN path at full recall: every IVF cell and
    every IMI grid cell probed, and 40 two-bucket LSH tables over the
    positive-orthant _imi_vectors (pairwise angles < 90 degrees, so a
    pair misses one table with probability < 1/2)."""
    from tesseract_rs_spark.functions.similarity import ann_imi_topk, ann_ivf_topk

    return {
        "exact": cosine_topk(corpus, queries, k=k),
        "ivf": ann_ivf_topk(corpus, queries, k=k, n_centroids=3, nprobe=3),
        "imi": ann_imi_topk(
            corpus, queries, k=k, n_cells_per_half=2, nprobe_per_half=2,
            train="kmeans",
        ),
        "lsh": ann_lsh_topk(corpus, queries, k=k, n_planes=1, n_tables=40, dim=4),
    }


def test_zero_embedding_has_cosine_zero(spark):
    """An all-zero embedding's norm reads as 1 (the numpy stages' rule),
    so its cosine with anything is 0 instead of an ANSI division by
    zero: every top-k path ranks it last for a plain query and ranks a
    zero query's neighbours by id, and every pair miner returns the
    exact pairs, none of them with the zero vector."""
    import warnings

    from tesseract_rs_spark.functions.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_imi,
        embedding_dup_pairs_ivf,
    )

    corpus = spark.createDataFrame(
        _imi_vectors(12) + [(12, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") >= 11)  # one plain, one zero
    for name, df in _topk_paths(corpus, queries, 12).items():
        got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()}
        assert len(got) == 2 * 12, name
        assert got[(11, 12)] == 12, name
        assert [got[(12, rank)] for rank in range(1, 13)] == list(range(12)), name
    exact = {tuple(r) for r in embedding_dup_pairs_exact(corpus, 0.45).collect()}
    assert exact and all(12 not in pair for pair in exact)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # 0.45 affords only shallow tables
        lsh = embedding_dup_pairs(corpus, 0.45, dim=4)
    miners = {
        "lsh": lsh,
        "ivf": embedding_dup_pairs_ivf(corpus, 0.45, n_centroids=1),
        "imi": embedding_dup_pairs_imi(
            corpus, 0.45, n_cells_per_half=1, train="kmeans"
        ),
    }
    for name, df in miners.items():
        assert {tuple(r) for r in df.collect()} == exact, name


def test_null_embedding_has_no_neighbours(spark):
    """A NULL query gets no neighbours and a NULL corpus vector is no
    one's neighbour — on the exact path as on the full-recall ANN paths,
    even when k exceeds the number of non-NULL vectors."""
    corpus = spark.createDataFrame(
        _imi_vectors(12) + [(12, None)], "vec_id long, embedding array<double>"
    )
    queries = corpus.filter(F.col("vec_id") >= 10)  # two plain, one NULL
    got = {
        name: {tuple(r) for r in df.collect()}
        for name, df in _topk_paths(corpus, queries, 20).items()
    }
    assert len(got["exact"]) == 2 * 11
    assert all(12 not in (q, nb) for q, _, nb in got["exact"])
    for name in ("ivf", "imi", "lsh"):
        assert got[name] == got["exact"], name


def test_stratified_token_budget_plan_no_global_window(spark):
    """Scale-shape pin: the running sum must be a window over
    (_strat, _shard) — many bounded partitions — never a per-stratum or
    global window (one language can be most of a 100 TB corpus), and
    the per-shard base table joins as a broadcast."""
    from tesseract_rs_spark.functions.sampling import stratified_token_budget

    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], 10) for i in range(200)],
        "doc_id long, lang string, n_tokens long",
    )
    out = stratified_token_budget(df, {"en": 500, "de": 500}, shards=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_shard" in plan.split("Window")[1], plan  # partition spec
    # the window's partition expressions include BOTH keys
    win_seg = plan.split("Window")[1][:400]
    assert "_strat" in win_seg and "_shard" in win_seg, plan
    assert "BroadcastHashJoin" in plan, plan
    # every Window operator in the plan is partitioned (an empty
    # partition spec is the single-task shape this operator exists to
    # avoid): each 'windowspecdefinition(' lists its partition exprs
    # before the ORDER BY clause
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_shard" in m.group(1), plan
    out.count()


def test_dup_clusters_empty_pairs(spark, monkeypatch):
    """Empty pair input yields no rows on either path — the distributed
    loop's flag-sum convergence check must read SUM(flag) over an empty
    frame as 0, not NULL (which would loop to the round cap and raise)."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert _both_paths(pairs, monkeypatch) == {}


def test_simhash_arrow_edges(spark):
    """r7 mapInArrow port edges: zero-shingle docs (shorter than n
    words) hash to 0, string ids pass through the Arrow boundary
    untouched, and values are independent of the docs' batch order."""
    from tesseract_rs_spark.functions.dedup import simhash

    docs = spark.createDataFrame(
        [
            ("u1", "too short"),
            ("u2", ""),
            ("u3", "one two three four five six seven"),
            ("u4", "one two three four five six seven"),
        ],
        "url string, text string",
    )
    out = {r["url"]: r["simhash"] for r in simhash(docs, id_col="url").collect()}
    assert out["u1"] == 0 and out["u2"] == 0
    assert out["u3"] == out["u4"] != 0
    rev = {
        r["url"]: r["simhash"]
        for r in simhash(
            docs.orderBy(F.col("url").desc()).repartition(3), id_col="url"
        ).collect()
    }
    assert rev == out



def test_simhash_large_var_types(spark):
    """The binary offsets width comes from the Arrow type: with
    ``useLargeVarTypes`` the digests arrive as ``large_binary`` (int64
    offsets) and must hash exactly as the int32-offset ``binary`` path
    (the MinHash signature reader shares the offsets helper, and its
    string ids arrive as ``large_string``); any other type fails loudly
    instead of being reinterpreted."""
    import pyarrow as pa

    from tesseract_rs_spark.functions.dedup import minhash_signatures, simhash
    from tesseract_rs_spark.operators.arrow import offsets

    docs = spark.createDataFrame(
        [
            ("u1", "too short"),
            ("u2", "one two three four five six seven"),
            ("u3", "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "url string, text string",
    )
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    out = {}
    for v in ("false", "true"):
        spark.conf.set(key, v)
        try:
            out[v] = {
                r["url"]: r["simhash"]
                for r in simhash(docs, id_col="url").collect()
            }
            out[v + "_sig"] = {
                r["url"]: list(r["sig"])
                for r in minhash_signatures(docs, id_col="url").collect()
            }
        finally:
            spark.conf.unset(key)
    assert out["true"] == out["false"]
    assert out["true_sig"] == out["false_sig"]
    assert out["false"]["u1"] == 0 and out["false"]["u2"] != 0
    with pytest.raises(TypeError):
        offsets(pa.array(["x"]))


def test_dedup_keep_first_null_ids(spark):
    """NULL ids order FIRST within a digest group (the row_number NULLS
    FIRST survivor): an all-NULL-id group keeps its real row, not a
    fabricated all-NULL one, and a mixed group keeps the NULL-id row."""
    from tesseract_rs_spark.functions.dedup import dedup_keep_first

    df = spark.createDataFrame(
        [
            (None, "aaa"),
            (None, "aaa"),
            (3, "bbb"),
            (None, "bbb"),
            (2, "ccc"),
            (1, "ccc"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        ((r["text"], r["doc_id"]) for r in dedup_keep_first(df).collect()),
        key=repr,
    )
    assert got == [("aaa", None), ("bbb", None), ("ccc", 1)]


def test_minhash_signatures_match_reference(spark):
    """The vectorised signature pass equals a per-doc reference in exact
    Python integers, across several Arrow batches per partition, for
    zero-shingle (empty, fewer-than-3-word) docs and ordinary ones."""
    from tesseract_rs_spark.functions.dedup import (
        _MERSENNE_P,
        _hash_params,
        minhash_signatures,
    )
    from tesseract_rs_spark.functions.text import word_shingles

    texts = [
        "",
        "two words",
        "one two three",
        "one two three four five six",
        "the quick brown fox jumps over the lazy dog again and again",
        "one two three four five six",
        "a",
        "spark arrow numpy minhash band bucket join verify",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).repartition(2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "2")
    try:
        got = {
            r["doc_id"]: list(r["sig"])
            for r in minhash_signatures(docs, num_hashes=16).collect()
        }
    finally:
        spark.conf.set(key, "4096")
    hashes = {
        r["doc_id"]: list(r["h"])
        for r in docs.select(
            "doc_id",
            F.transform(word_shingles("text", 3), lambda s: F.xxhash64(s)).alias("h"),
        ).collect()
    }
    a, b = _hash_params(16, 42)
    for doc_id, hs in hashes.items():
        h32 = [((h % (1 << 64)) ^ ((h % (1 << 64)) >> 32)) & 0xFFFFFFFF for h in hs]
        want = [
            min(((int(ak) * h + int(bk)) % _MERSENNE_P for h in h32), default=0)
            for ak, bk in zip(a, b)
        ]
        assert got[doc_id] == want, doc_id
    assert got[0] == got[1] == got[6] == [0] * 16
    assert got[3] == got[5] and got[2] != [0] * 16


def test_minhash_shingleless_docs_no_pair_under_ansi(spark):
    """Two docs without shingles share the all-zero signature, so they ARE
    an LSH candidate with an empty union; verify must drop them without a
    divide-by-zero under ANSI and without emitting a pair."""
    from tesseract_rs_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
    )

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "too short"),
            (3, "one two three four five six seven"),
            (4, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    cands = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    assert (1, 2) in cands
    pairs = [
        (r["id_a"], r["id_b"], r["inter"], r["n_a"], r["n_b"], r["jaccard"])
        for r in minhash_dedup_pairs(docs, threshold=0.01).collect()
    ]
    assert pairs == [(3, 4, 5, 5, 5, 1.0)]


def test_lsh_candidates_same_under_bucket_cap(spark):
    """A band bucket larger than ``cap`` goes through the chunked grid and
    still yields exactly the uncapped candidate and pair sets."""
    from tesseract_rs_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
    )

    base = "spark table query join merge scan filter window batch shuffle"
    rows = [(i, base) for i in range(8)]
    rows += [(10 + i, base.replace("join", f"edit{i}")) for i in range(3)]
    rows += [(20 + i, f"unrelated text number {i} with its own words") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs)

    def pairs_of(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    capped = pairs_of(lsh_candidate_pairs(sigs, cap=3))
    assert capped == pairs_of(lsh_candidate_pairs(sigs))
    assert {(a, b) for a in range(8) for b in range(8) if a < b} <= capped
    assert pairs_of(minhash_dedup_pairs(docs, threshold=0.5, cap=3)) == pairs_of(
        minhash_dedup_pairs(docs, threshold=0.5)
    )

def test_stratified_token_budget_empty_nonstring_stratum(spark):
    """r7 ADVICE fix: the empty-input early return derives the stratum
    column type from the input schema (a long stratum must not come
    back as string and break downstream unions with the non-empty
    path's schema)."""
    from tesseract_rs_spark.functions.sampling import stratified_token_budget

    df = spark.createDataFrame([], "doc_id long, lang bigint, n_tokens long")
    out = stratified_token_budget(df, {1: 100}, strat_col="lang")
    assert out.count() == 0
    assert dict(out.dtypes)["lang"] == "bigint"
    nonempty = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 10)], "doc_id long, lang bigint, n_tokens long"
    )
    got = stratified_token_budget(nonempty, {1: 100}, strat_col="lang")
    assert dict(got.dtypes)["lang"] == "bigint"
    assert out.unionByName(got).count() == 2  # schemas actually union


@pytest.mark.parametrize(
    "stage",
    ["image_stats", "audio_stats", "video_stats", "decode_media"],
)
def test_media_stages_keep_string_id(spark, stage):
    """Every media stage passes its id column through with the input's
    type: string media ids come back as the same strings, and every other
    column equals the numeric-id run's."""
    import numpy as np

    from tesseract_rs_spark.functions import multimodal as mm

    img = np.full((6, 5), 255, dtype=np.uint8)
    img[1:3, 1:4] = 0
    payloads = [
        mm.pgm_encode(img),
        mm.wav_encode(np.array([0, 300, -200, 50], dtype=np.int16)),
        mm.video_encode([img, img[::-1]]),
        b"JPEGnotreally",
    ]
    kinds = ["image", "audio", "video", "image"]
    rows = list(zip(range(4), kinds, map(bytearray, payloads)))
    fn = getattr(mm, stage)
    by_long = fn(
        spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    )
    by_str = fn(
        spark.createDataFrame(
            [(f"m-{i}", k, p) for i, k, p in rows],
            "media_id string, kind string, payload binary",
        )
    )
    assert by_str.schema["media_id"].dataType.simpleString() == "string"
    assert [f for f in by_str.schema if f.name != "media_id"] == [
        f for f in by_long.schema if f.name != "media_id"
    ]
    want = {f"m-{r['media_id']}": r[1:] for r in by_long.collect()}
    assert {r["media_id"]: r[1:] for r in by_str.collect()} == want


def test_resize_images_string_id(spark):
    """r7 ADVICE fix: resize_images keeps a string id column instead of
    silently casting it to long in the declared schema."""
    from tesseract_rs_spark.functions.multimodal import pgm_encode, resize_images
    import numpy as np

    img = pgm_encode(np.arange(16, dtype=np.uint8).reshape(4, 4))
    media = spark.createDataFrame(
        [("m-1", bytearray(img))], "media_id string, payload binary"
    )
    out = resize_images(media, out_w=2, out_h=2).collect()
    assert out[0]["media_id"] == "m-1"
    assert out[0]["status"] == "ok"
