"""Text-analysis functions for training-data pipelines.

Token counting, quality scoring, stopword-list language ID, and document
fingerprinting.  The per-doc signals (token, distinct-token and stopword
counts, quality, language) are one Python function, :func:`doc_signals`,
run once per doc by :func:`text_signals` through ``operators.arrow.map_docs``
and testable without a JVM; everything else is a JVM-side column
expression.  Each op is deterministic and has an exact ANSI-SQL twin (the
driver's DuckDB oracle), so correctness is checked end-to-end, not
eyeballed.

The is_valid_word/dictionary analog of the reference
(/root/reference/src/api.rs:1003-1010) appears here as the stopword /
wordlist membership primitives.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from tesseract_rs_spark.operators.arrow import map_docs, per_doc

# deterministic stopword lists for the language-ID heuristic
STOPWORDS = {
    "en": ["the", "a", "is", "of", "and"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "los", "y", "es", "las"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # argmax tie-break priority


def tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col)).cast("long")


# the fields of doc_signals, as a map_docs DDL field list
SIGNAL_FIELDS = (
    "n_tokens long, n_distinct long, "
    + "".join(f"sw_{lang} long, " for lang in LANG_ORDER)
    + "quality long, lang_pred string"
)
_NULL_SIGNALS = (None,) * len(SIGNAL_FIELDS.split(","))


def doc_signals(text: str | None) -> tuple:
    """The curation signals of one text, in :data:`SIGNAL_FIELDS` order:
    ``(n_tokens, n_distinct, sw_en, sw_de, sw_fr, sw_es, quality,
    lang_pred)``; NULL text gives NULL for every signal.

    Tokens are ``text.split(" ")``, which equals Spark's and DuckDB's
    ``split(text, ' ')``: empty tokens from double, leading and trailing
    spaces count, and ``""`` is one empty token, so ``n_tokens >= 1``.
    ``sw_<lang>`` counts stopword OCCURRENCES (not distinct matches).

    quality = floor(50*min(1, n_tokens/100) + 30*(n_distinct/n_tokens)
                    + 20*min(1, 10*sw_en/n_tokens))

    in this floating-point order, so ``floor`` lands where the SQL oracle's
    does: a deterministic 0-100 score of length saturation, lexical
    diversity and stopword presence (heuristics in the spirit of public
    web-corpus quality filters).  lang_pred is the stopword-list language
    ID, the stopword-count argmax, ties going to the earlier language of
    :data:`LANG_ORDER`."""
    if text is None:
        return _NULL_SIGNALS
    toks = text.split(" ")
    distinct = set(toks)
    hits = [
        sum(map(toks.count, distinct.intersection(STOPWORDS[lang])))
        for lang in LANG_ORDER
    ]
    nt = float(len(toks))
    quality = math.floor(
        50.0 * min(1.0, nt / 100.0)
        + 30.0 * (len(distinct) / nt)
        + 20.0 * min(1.0, 10.0 * hits[0] / nt)
    )
    lang = LANG_ORDER[hits.index(max(hits))]
    return (len(toks), len(distinct), *hits, quality, lang)


def text_signals(docs: DataFrame, id_cols: tuple, col: str = "text") -> DataFrame:
    """``(id_cols..., col, SIGNAL_FIELDS...)``: :func:`doc_signals` over
    ``col`` in one :func:`~tesseract_rs_spark.operators.arrow.map_docs`
    pass, the text passed through after the ids.  Under
    ``spark.sql.execution.arrow.useLargeVarTypes`` the text arrives as
    ``large_string``; it goes back as the declared ``string``, its data
    buffer shared."""
    body = per_doc(doc_signals)
    return map_docs(
        docs, id_cols, col, f"{col} string, {SIGNAL_FIELDS}",
        lambda texts: [texts.cast(pa.string()), *body(texts)],
    )


def text_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, n_tokens, n_chars, n_distinct, sw_hits) — quality-scoring raw
    features; sw_hits counts English stopwords (see :func:`doc_signals`)."""
    return text_signals(docs, (id_col,)).select(
        id_col,
        "n_tokens",
        F.length("text").cast("long").alias("n_chars"),
        "n_distinct",
        F.col("sw_en").alias("sw_hits"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """sha256 content fingerprint (the per-url checksum primitive of the
    acceptance gate, BASELINE.json input_hint)."""
    return docs.select(
        F.col(id_col),
        F.sha2(F.col("text").cast("binary"), 256).alias("fingerprint"),
    )


# BPE-style pre-tokenizer: letter runs, digit runs, single punctuation —
# the shape GPT-2-family pre-tokenizers use (public), ASCII-only so the
# regex behaves identically across engines.
BPE_PRETOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count_bpe(col: str = "text") -> Column:
    """Sub-word-ish token count via the BPE pre-tokenizer regex — the
    cheap proxy for 'how many LLM tokens is this document'."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(BPE_PRETOKEN_RE), F.lit(0))).cast(
        "long"
    )


def word_is_numeric(col: str = "word") -> Column:
    """All-digit word predicate (word_is_numeric,
    /root/reference/src/result_iterator.rs:158-164)."""
    return F.col(col).rlike("^[0-9]+$")


def word_in_dictionary(
    words: DataFrame, wordlist, col: str = "word"
) -> DataFrame:
    """is_valid_word / word_is_from_dictionary analog
    (/root/reference/src/api.rs:1003-1010, result_iterator.rs:145-151):
    adds ``in_dictionary`` boolean.  Small lists inline as an ``isin``
    literal (constant-folded by Catalyst); large lists broadcast-join so
    the dictionary ships once per executor, never per row."""
    wordlist = list(wordlist)
    if len(wordlist) <= 1024:
        return words.withColumn("in_dictionary", F.col(col).isin(wordlist))
    spark = words.sparkSession
    dict_df = spark.createDataFrame([(w,) for w in wordlist], f"{col} string")
    flagged = F.broadcast(dict_df.withColumn("in_dictionary", F.lit(True)))
    return words.join(flagged, col, "left").fillna(False, ["in_dictionary"])


def _ngram_array(col: str, n: int) -> Column:
    """ALL word n-grams of ``tokens(col)`` in positional order — empty for
    docs shorter than ``n`` words and for NULL text — as ONE codegen'd
    ``regexp_extract_all``.  ``tokens`` splits on single spaces, so the
    n-gram starting at token i is exactly the source substring from that
    token's start through the end of token i+n-1; the pattern is a
    zero-width match at every token start (string start or after a space)
    whose lookahead captures that substring, and it fails where fewer than
    ``n`` tokens remain.  Empty tokens (double, leading or trailing spaces)
    are token starts too, as in ``split``.  The ``zip_with`` string-concat
    chain this replaces ran interpreted lambdas and cost ~1.7x as much on
    the curated dedup shard, value-identical."""
    pattern = "(?<![^ ])(?=([^ ]*" + " [^ ]*" * (n - 1) + "))"
    return F.coalesce(
        F.regexp_extract_all(F.col(col), F.lit(pattern), F.lit(1)),
        F.array().cast("array<string>"),
    )


def word_shingles(col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (JVM-side
    ``regexp_extract_all`` — no UDF).  Documents with fewer than ``n``
    words have NO shingles (empty array), matching the SQL self-join
    formulation the oracles use — a short doc must not emit a short
    shingle."""
    return F.array_distinct(_ngram_array(col, n))


def word_ngrams_all(col: str = "text", n: int = 2) -> Column:
    """ALL word n-grams (with repeats — unlike :func:`word_shingles`),
    empty for docs shorter than ``n`` words."""
    return _ngram_array(col, n)


def corpus_fluency_signals(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """CCNet/Gopher-style corpus-frequency fluency signal (Wenzek et al.
    2020 filter docs by LM perplexity; Rae et al. 2021 by rare-n-gram
    fractions — both public): per doc, exact-integer ingredients of a
    bigram-frequency fluency score against statistics of the WHOLE corpus
    — (id, n_bigrams, sum_bigram_freq, n_rare_bigrams, min_bigram_freq),
    where freq = corpus-wide occurrence count of the bigram and "rare"
    means freq <= 2 (gibberish and boilerplate-free junk score high
    rare fractions; fluent text reuses common bigrams).  Consumers divide
    driver-side (rare fraction = n_rare_bigrams / n_bigrams; mean
    frequency = sum_bigram_freq / n_bigrams).

    Deliberately integer-exact instead of a log-probability: IEEE log/sum
    order differ across engines, which would break the bit-exact oracle
    contract; the integer counters carry the same ranking signal.  A
    production pipeline would swap in a pretrained KenLM via the same
    join shape.

    Scale shape: the bigram count table is vocabulary-sized (a groupBy on
    the gram string with map-side combine — the same class as the shingle
    ops); docs then join it BY GRAM, so the shuffle carries (gram,
    count) and (id, gram) pairs, never the document text."""
    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams_all("text", 2)).alias("_g")
    )
    freqs = grams.groupBy("_g").agg(F.count("*").alias("_freq"))
    return (
        grams.join(freqs, "_g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("_freq").alias("sum_bigram_freq"),
            F.sum(F.when(F.col("_freq") <= 2, 1).otherwise(0)).alias(
                "n_rare_bigrams"
            ),
            F.min("_freq").alias("min_bigram_freq"),
        )
    )


def repetition_signals(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition counters (Rae et al. 2021 quality filters,
    public): per doc, the exact-integer ingredients of the
    top-word-fraction and top-2-gram-fraction rules —
    (id, n_words, n_distinct_words, top_word_count, top_2gram_count).

    Scale shape: explode + groupBy on (id, token) — the shuffle carries
    (id, gram, partial count) keys with map-side combine, never the text;
    same class as the shingle ops."""
    words = docs.select(
        F.col(id_col), F.explode(tokens()).alias("_w")
    )
    top_word = (
        words.groupBy(id_col, "_w")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(
            F.max("_c").alias("top_word_count"),
            F.count("*").alias("n_distinct_words"),
            F.sum("_c").alias("n_words"),
        )
    )
    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams_all("text", 2)).alias("_g")
    )
    top_gram = (
        grams.groupBy(id_col, "_g")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("top_2gram_count"))
    )
    return (
        top_word.join(top_gram, id_col, "left")
        .select(
            id_col,
            "n_words",
            "n_distinct_words",
            "top_word_count",
            F.coalesce("top_2gram_count", F.lit(0)).alias("top_2gram_count"),
        )
    )


def shingle_fingerprint(docs: DataFrame, id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Rolling-hash document fingerprint: the minimum md5 over word
    n-gram shingles (one-permutation minhash; winnowing-style selection)."""
    return docs.select(
        F.col(id_col),
        F.array_min(
            F.transform(word_shingles("text", n), lambda s: F.md5(s.cast("binary")))
        ).alias("shingle_fp"),
    )
