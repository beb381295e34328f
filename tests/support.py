"""Oracles and test data that only the tests use.

Each oracle computes, by a second and simpler route, what a live operator
must produce; none of this is on a product path.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import broadcast

from tesseract_rs_spark.functions.dedup import dedup_keep_first
from tesseract_rs_spark.functions.multimodal import MEDIA_MAGIC
from tesseract_rs_spark.functions.similarity import _dot, _norm
from tesseract_rs_spark.functions.text import (
    LANG_ORDER,
    STOPWORDS,
    token_count,
    tokens,
)


def _ordered_concat(id_col: str, text_col: str, sep: str):
    """collect (id, text) structs -> sort by id -> join texts with sep."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(id_col), F.col(text_col)))),
            lambda s: s[text_col],
        ),
        sep,
    )


def reassemble_text(words: DataFrame, key: str = "url") -> DataFrame:
    """words -> (key, text) by the assembly contract (words ' ', lines
    '\\n', blocks '\\n\\n', trailing '\\n'), one ordered rollup per level:
    must reproduce ``extract_text`` byte for byte."""
    lines = words.groupBy(key, "block_id", "line_id").agg(
        _ordered_concat("word_id", "word", " ").alias("text")
    )
    blocks = lines.groupBy(key, "block_id").agg(
        _ordered_concat("line_id", "text", "\n").alias("text")
    )
    return blocks.groupBy(key).agg(
        F.concat(_ordered_concat("block_id", "text", "\n\n"), F.lit("\n")).alias("text")
    )


def embedding_dup_pairs_exact(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs embedding near-dup pairs (id_a < id_b, cosine >=
    threshold): the O(n^2) oracle of the LSH, IVF and IMI pair miners.
    It shares their norm, so an all-zero vector has cosine 0 here too."""
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_av"),
        _norm(F.col(vec_col)).alias("_an"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_bv"),
        _norm(F.col(vec_col)).alias("_bn"),
    )
    return (
        a.join(broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", _dot(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn")))
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b")
    )


def make_media_corpus(n: int = 64, seed: int = 42) -> pd.DataFrame:
    """Deterministic synthetic media table: MEDI header + seeded bytes."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        w, h = int(rng.randint(16, 256)), int(rng.randint(16, 256))
        sr = int(rng.choice([8000, 16000, 44100]))
        dur = int(rng.randint(100, 10_000))
        frames = int(rng.randint(1, 300))
        body = rng.bytes(int(rng.randint(64, 2048)))
        payload = MEDIA_MAGIC + struct.pack("<iiiii", w, h, sr, dur, frames) + body
        meta = {
            "width": w,
            "height": h,
            "sample_rate": sr,
            "duration_ms": dur,
            "n_frames": frames,
        }
        rows.append((i, kind, payload, meta))
    return pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])


# The curation signals as Spark SQL column expressions: the route
# ``functions.text.doc_signals`` replaced, kept as its oracle.


def stopword_hits_sql(col: str = "text", lang: str = "en") -> Column:
    """Count of stopword OCCURRENCES (not distinct matches)."""
    sw = STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda x: x.isin(*sw))).cast("long")


def quality_sql(col: str = "text") -> Column:
    nt = token_count(col).cast("double")
    nd = F.size(F.array_distinct(tokens(col))).cast("long")
    sw = stopword_hits_sql(col)
    return F.floor(
        50.0 * F.least(F.lit(1.0), nt / 100.0)
        + 30.0 * (nd / nt)
        + 20.0 * F.least(F.lit(1.0), 10.0 * sw / nt)
    ).cast("long")


def lang_pred_sql(col: str = "text") -> Column:
    """Stopword-list argmax with the fixed LANG_ORDER tie-break.  NULL
    text falls through every comparison to 'es'."""
    en, de, fr, es = (stopword_hits_sql(col, lang) for lang in LANG_ORDER)
    return (
        F.when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )


def curate_filter_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_quality: int = 55,
    keep_langs: tuple = ("en",),
) -> DataFrame:
    """``curate`` in the other order: the SQL signals and filter on every
    row, then ``dedup_keep_first`` over the survivors."""
    scored = docs.select(
        id_col,
        "text",
        token_count().alias("n_tokens"),
        quality_sql().alias("quality"),
        lang_pred_sql().alias("lang_pred"),
    ).filter((F.col("quality") >= min_quality) & F.col("lang_pred").isin(*keep_langs))
    return dedup_keep_first(scored, id_col=id_col)
