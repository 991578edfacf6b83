"""Incremental corpus statistics — per-batch aggregate deltas folded into
one silver table, so "what does the corpus look like right now" (language
mix, token/char volume — the numbers every mixing/sampling decision reads)
never rescans the corpus.

Per batch, ONE map-side-combined aggregation produces a handful of rows —
(batch_id, lang, n_docs, n_tokens, n_chars), PK (batch_id, lang) — merged
with the listen sink's replay discipline (streaming/listen.py
``merge_batch``): a replayed batch_id anti-joins to nothing, so totals
never double-count.  Reading the current totals sums the delta table
(O(batches × langs) rows, ≪ corpus); compact with sources/maintenance.py
when batch count grows large.

This is the corpus-side sibling of the windowed stats sink
(streaming/stateful.py ``windowed_counts_sink``) — same
delta-plus-idempotent-merge shape, keyed by batch instead of event-time
window because corpus stats have no watermark semantics: a batch is a
batch, whenever it arrives.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import token_count
from .listen import merge_batch

STATS_TABLE = "corpus_stats.parquet"


def stats_delta(
    docs: DataFrame,
    batch_id: int,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """One batch's per-language delta rows — exposed separately so a
    caller composing a MULTI-table atomic commit (streaming/curation.py)
    can stage this frame in the same manifest flip as its other tables.
    NULL language (failed language-ID) is its own stratum — groupBy keeps
    it, and the totals report it rather than silently dropping those
    docs."""
    return (
        docs.groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(F.col(text_col))).alias("n_tokens"),
            F.sum(F.length(F.col(text_col))).alias("n_chars"),
        )
        .withColumn("batch_id", F.lit(batch_id))
        # one file per batch: the delta is a handful of rows, but the
        # groupBy leaves it on shuffle-partition-many tasks and each
        # non-empty task would otherwise write its own part file
        .coalesce(1)
    )


def update_corpus_stats(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    batch_id: int,
    lang_col: str = "lang",
    text_col: str = "text",
) -> None:
    """Fold one batch's per-language stats into the delta table."""
    merge_batch(
        spark,
        stats_delta(docs, batch_id, lang_col, text_col),
        os.path.join(out_dir, STATS_TABLE),
        ("batch_id", "lang"),
    )


def corpus_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current totals per language: one aggregation over the (small) delta
    table — never the corpus.  Before the first batch is folded the table
    does not exist; a monitoring/mixing poller then gets an EMPTY frame
    with the totals schema, not a PATH_NOT_FOUND crash."""
    path = os.path.join(out_dir, STATS_TABLE)
    if not os.path.exists(path):
        return spark.createDataFrame(
            [], "lang string, n_docs bigint, n_tokens bigint, n_chars bigint"
        )
    return (
        spark.read.parquet(path)
        .groupBy("lang")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
    )
