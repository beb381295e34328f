"""Per-level views of the exploded word table — the ResultIterator
``confidence(level)`` and begin/final predicates (the reference's
``src/result_iterator.rs:56-66`` and ``src/page_iterator.rs``).

Ordering is encoded in the id columns, never in row order, so every view
reads positions from the ids — deterministic under any
partitioning/shuffle (SURVEY.md §7b).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def level_confidence(
    words: DataFrame, key: str = "url", level_cols: tuple = ("para_id",)
) -> DataFrame:
    """``ResultIterator::confidence(level)`` analog
    (/root/reference/src/result_iterator.rs:56-66): mean word confidence
    over the chosen level's group — one partial-aggregating groupBy on
    (key, level ids), no window and no second pass."""
    return words.groupBy(key, *level_cols).agg(
        F.avg("conf").alias("level_conf")
    )


def position_flags(words: DataFrame, key: str = "url") -> DataFrame:
    """is_at_beginning_of / is_at_final_element analogs
    (/root/reference/src/page_iterator.rs begin/final predicates, SURVEY
    §2.3): per word, boolean flags for starting/ending its line, block,
    and document — pure min/max window comparisons over the reading-order
    id columns, no Python and no extra shuffle beyond the per-document
    window."""
    from pyspark.sql import Window

    doc = Window.partitionBy(key)
    block = Window.partitionBy(key, "block_id")
    line = Window.partitionBy(key, "block_id", "line_id")
    order = F.struct("block_id", "para_id", "line_id", "word_id")
    return words.select(
        "*",
        (F.col("word_id") == F.min("word_id").over(line)).alias("is_line_start"),
        (F.col("word_id") == F.max("word_id").over(line)).alias("is_line_end"),
        (
            (F.col("line_id") == F.min("line_id").over(block))
            & (F.col("word_id") == F.min("word_id").over(line))
        ).alias("is_block_start"),
        (
            (F.col("line_id") == F.max("line_id").over(block))
            & (F.col("word_id") == F.max("word_id").over(line))
        ).alias("is_block_end"),
        (order == F.min(order).over(doc)).alias("is_doc_start"),
        (order == F.max(order).over(doc)).alias("is_doc_end"),
    )
