"""Incremental corpus statistics — per-batch aggregate deltas folded into
one table of the store's transaction log, so "what does the corpus look
like right now" (language mix, token/char volume — the numbers every
mixing/sampling decision reads) never rescans the corpus.

Per batch, ONE map-side-combined aggregation produces a handful of rows —
(batch_id, lang, n_docs, n_tokens, n_chars), PK (batch_id, lang) —
committed through ``publish.publish_batch`` as table ``corpus_stats``: a
replayed batch_id anti-joins to nothing, so totals never double-count.
Reading the current totals sums the PUBLISHED delta table
(O(batches × langs) rows, ≪ corpus) — files a compaction replaced are
in no snapshot, so they never count twice.

This is the corpus-side sibling of the windowed stats sink
(streaming/stateful.py ``windowed_counts_sink``) — same
delta-plus-idempotent-commit shape, keyed by batch instead of event-time
window because corpus stats have no watermark semantics: a batch is a
batch, whenever it arrives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import token_count
from .publish import publish_batch, read_published

STATS_TABLE = "corpus_stats"


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
    """Commit one batch's per-language stats into the delta table — the
    standalone writer of README row "Incremental corpus stats" (the
    curation sink stages :func:`stats_delta` in its own commit instead),
    so no library code calls it."""
    publish_batch(
        spark,
        {STATS_TABLE: stats_delta(docs, batch_id, lang_col, text_col)},
        out_dir,
        pks={STATS_TABLE: ("batch_id", "lang")},
    )


def corpus_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current totals per language: one aggregation over the (small)
    published delta table — never the corpus.  Before the first batch is
    committed a monitoring/mixing poller gets an EMPTY frame with the
    totals schema, not a crash."""
    deltas = read_published(spark, out_dir, STATS_TABLE)
    if deltas is None:
        return spark.createDataFrame(
            [], "lang string, n_docs bigint, n_tokens bigint, n_chars bigint"
        )
    return deltas.groupBy("lang").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
