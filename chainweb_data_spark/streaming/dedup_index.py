"""Incremental MinHash dedup index — near-duplicate detection of each new
micro-batch against the FULL corpus history, with probe cost that scales
with the batch, not the history.

The batch queries (queries/pipeline.py ``minhash_verified_pairs``) dedup a
corpus against itself; a production ingestion pipeline needs the other
shape: "is this NEW document a near-dup of anything we already hold?" —
asked continuously, at 100 TB of history.  Re-running the batch job per
arrival is O(history) per batch; this module maintains three silver tables
committed through one transaction log (streaming/publish.py — the same
merge/replay discipline as the chainweb listen sink) so each batch costs
O(batch + hits):

- ``minhash_bands.parquet`` — (doc_id, band, bucket, key_bucket): the
  banded LSH index rows (operators/dedup.py ``banded_signatures``),
  PK (doc_id, band), partitioned by ``key_bucket`` = ``'h'`` + the
  bucket's first hex char (the letter prefix pins partition-type
  inference to string — an all-digit dir set from a small batch would
  read back as INT and crash the next probe's cast).  The cross-era
  probe BROADCASTS the batch's banded rows against
  this table — a map-side join: the index is never shuffled, only scanned
  (partition-pruned to the batch's key_buckets when the batch is narrow).
- ``shingle_sets.parquet`` — (doc_id, _sh array, key_bucket): per-doc
  distinct shingle arrays for exact-Jaccard verification, PK (doc_id),
  partitioned by doc_id bucket.  Only candidates' rows are fetched
  (broadcast semi-join on the candidate old-ids — O(hits)).
- ``bucket_counts.parquet`` — (batch_id, band, bucket, n): per-batch bucket
  occupancy deltas, PK (batch_id, band, bucket) so replays are no-ops.
  The HISTORICAL hot-bucket set (Σn > cap) is recomputed from this small
  table at probe time and excluded from the cross-era join — the same
  "drop hot buckets whole" rail the batch gate exercises, extended across
  time: a boilerplate bucket that went hot in week 1 stays dropped in
  week 40 without rescanning the index.

Semantics: ``update_dedup_index`` returns one row per flagged NEW doc —
(doc_id, dup_of, jaccard) with exact Jaccard ≥ the threshold — where
``dup_of`` is a historical doc or an earlier (lower-id) doc of the same
batch.  Flag-don't-drop (the ``contaminated_docs`` stance); the caller
decides removal.  Replaying a batch (same batch_id) re-flags the same rows
and merges nothing — idempotent end to end.

Scale notes: batch banded rows and the candidate id set broadcast (both
O(batch)); the only shuffles are batch-internal (signature groupBy, pair
dedup).  Index growth is bands rows × ~50 B per doc — ~2 TB of index per
10¹⁰ docs at the defaults, scanned map-side per probe; ``compact_every``
compacts it through the log (``publish.compact_published``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from .publish import compact_published, publish_batch, read_published

BANDS_TABLE = "minhash_bands.parquet"
SETS_TABLE = "shingle_sets.parquet"
COUNTS_TABLE = "bucket_counts.parquet"


def _id_bucket(id_col: str, n: int = 16):
    """Partition bucket for an id of ANY type: xxhash64 of the string form,
    mod ``n``.  A plain ``pmod(id, 16)`` assumed numeric ids — string ids
    (URLs, content hashes) crashed the fold under ANSI mode, and under
    non-ANSI the NULL cast made every key_bucket NULL, which emptied the
    merge probe's pruned view and broke replay idempotence (every replay
    re-appended)."""
    return F.pmod(
        F.xxhash64(F.col(id_col).cast("string")), F.lit(n)
    ).cast("string")


_PKS = {
    "minhash_bands": ("doc_id", "band"),
    "shingle_sets": ("doc_id",),
    "bucket_counts": ("batch_id", "band", "bucket"),
}


def update_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.2,
    max_bucket_size: int = 50,
    compact_every: int | None = None,
    table_prefix: str = "",
    defer_publish: bool = False,
):
    """Flag near-dups of ``docs`` against the index AND within the batch,
    then fold the batch into the index.  Returns the flagged rows, eagerly
    checkpointed (the probe must run before the merge appends to the
    tables its lazy plan reads).

    ``table_prefix`` / ``defer_publish`` — the UNIFIED-commit embedding
    (round-6 verdict #6): a caller holding its own transaction log (the
    curation sink) passes its ``out_dir``, a prefix like
    ``"dedup_index/"`` (same physical directories as the standalone
    layout), and ``defer_publish=True`` — the function then probes through
    the CALLER's log, stages nothing, and returns ``(flags, tables, pks,
    cleanup)`` for the caller to fold into ONE ``publish_batch`` covering
    all of its tables, then ``cleanup()`` to drop the caches the staged
    plans read; the crash window between two commits ceases to exist.
    With ``defer_publish`` the caller owns compaction too
    (``compact_every`` is ignored here).

    All three tables commit through ONE log commit (streaming/publish.py)
    — a crash mid-fold leaves the index exactly at the previous snapshot
    instead of bands-without-sets (sets-less candidates would silently
    verify against nothing).

    ``compact_every`` — the LONG-RUN file bound.  Per-batch growth is
    bounded (coalesce(1): ≤16 files/table/batch) but cumulative growth is
    O(batches), and probe cost is O(live files) at the parquet-open
    layer; every ``compact_every`` batches the three tables compact to
    one file per partition directory through one commit each
    (``publish.compact_published`` — crash-atomic, row-preserving).  The
    100-batch streaming rehearsal measures probe time FLAT with this on
    and linearly degrading without."""

    t_bands = table_prefix + "minhash_bands"
    t_sets = table_prefix + "shingle_sets"
    t_counts = table_prefix + "bucket_counts"

    sets_ = dd.shingle_set_arrays(docs, id_col, text_col, k).cache()
    sig = dd.minhash_signatures_sets(sets_, id_col, num_hashes)
    banded = dd.banded_signatures(sig, id_col, num_hashes, bands).cache()

    # historical hot buckets (Σ occupancy over all PRIOR batches > cap):
    # excluded from BOTH probe sides, mirroring the batch gate's cap.
    # The current batch_id is excluded from the sum — on a replay the
    # first run's own counts are already stored, and including them would
    # make the replay see a hotter history than the original run did
    # (fewer flags ⇒ the idempotence contract breaks exactly at the cap).
    counts = read_published(spark, out_dir, t_counts)
    if counts is not None:
        counts = counts.filter(F.col("batch_id") != batch_id)
        hot = (
            counts.groupBy("band", "bucket")
            .agg(F.sum("n").alias("_tot"))
            .filter(F.col("_tot") > max_bucket_size)
            .select("band", "bucket")
        )
        probe_banded = banded.join(
            F.broadcast(hot), ["band", "bucket"], "left_anti"
        ).cache()
    else:
        probe_banded = banded

    # cross-era candidates: stored index rows sharing a (band, bucket) with
    # the batch — batch side broadcast, index side scanned map-side only
    stored = read_published(spark, out_dir, t_bands)
    cross: DataFrame | None = None
    if stored is not None:
        keys = [
            r[0]
            for r in probe_banded.select(
                F.concat(F.lit("h"), F.substring("bucket", 1, 1)).alias("kb")
            )
            .distinct()
            .collect()
        ]
        pruned = stored.filter(F.col("key_bucket").isin(keys))
        new_side = probe_banded.select(
            F.col(id_col).alias("_new_id"), "band", "bucket"
        )
        # exclude old-ids that are IN this batch: on a replay the batch's
        # own rows are already stored, and without this the cross probe
        # would emit the internal pairs AGAIN in the opposite orientation —
        # replays must re-flag exactly the first run's rows
        batch_ids = docs.select(F.col(id_col)).distinct()
        cross = (
            pruned.join(F.broadcast(new_side), ["band", "bucket"])
            .filter(F.col(id_col) != F.col("_new_id"))
            .join(F.broadcast(batch_ids), id_col, "left_anti")
            .select(
                F.col("_new_id").alias("id_new"),
                F.col(id_col).alias("id_old"),
            )
            .distinct()
        )

    # batch-internal candidates (standard capped self-join) — dup_of is the
    # batch's earlier (min-id) doc; reuse the cached banded rows computed
    # above rather than re-running the signature/banding shuffle
    internal = dd.lsh_candidate_pairs(
        sig, id_col, num_hashes, bands,
        max_bucket_size=max_bucket_size, banded=banded,
    ).select(F.col("id_b").alias("id_new"), F.col("id_a").alias("id_old"))

    cand = internal if cross is None else internal.unionByName(cross).distinct()

    # verification sets: batch sets ∪ the candidates' historical sets
    # (fetched by broadcast semi-join on the old-id set — O(hits))
    verify_sets = sets_
    if cross is not None:
        old_ids = cand.select(F.col("id_old").alias(id_col)).distinct()
        stored_sets = read_published(spark, out_dir, t_sets)
        if stored_sets is not None:
            fetched = stored_sets.join(F.broadcast(old_ids), id_col, "left_semi")
            verify_sets = (
                sets_.unionByName(fetched.select(id_col, "_sh"))
                .dropDuplicates([id_col])
                .cache()
            )

    flagged = (
        dd.jaccard_for_pairs_sets(
            verify_sets,
            cand.select(
                F.col("id_new").alias("id_a"), F.col("id_old").alias("id_b")
            ),
            id_col,
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("dup_of"),
            "jaccard",
        )
    )
    # materialize BEFORE merging — the merge appends to the tables the
    # probe's lazy plan reads; eager localCheckpoint freezes the result on
    # executors (no driver collect, flags can be any size)
    result = flagged.localCheckpoint(eager=True)

    # fold the batch in (idempotent PK merges; replays are no-ops).
    # coalesce(1): a micro-batch is small, but letting every shuffle task
    # write its own part file per bucket dir multiplies the table's FILE
    # count by the task count — and probe cost is O(index files) at the
    # parquet-open layer, which the 10× streaming rehearsal measured as
    # the dominant growth term.  coalesce(1) bounds growth at one file per
    # partition directory touched per table per batch (at most 16 for the
    # two bucketed tables, 1 for bucket_counts -- the bound the pinning
    # test asserts); periodic sources/maintenance.py compaction remains
    # the long-run bound.
    to_merge = {
        # 'h' prefix: a small batch can touch only DIGIT hex dirs, which
        # partition-type inference reads back as INT — the next batch's
        # letter bucket then fails the implicit cast in the pruned probe
        # (curation.py's content_hashes hit the identical trap); the
        # prefix pins the column to string at any batch size
        t_bands: banded.withColumn(
            "key_bucket", F.concat(F.lit("h"), F.substring("bucket", 1, 1))
        ).coalesce(1),
        t_sets: sets_.withColumn(
            "key_bucket", _id_bucket(id_col)
        ).coalesce(1),
        t_counts: banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .withColumn("batch_id", F.lit(batch_id))
        .coalesce(1),
    }
    pks = {
        t_bands: _PKS["minhash_bands"],
        t_sets: _PKS["shingle_sets"],
        t_counts: _PKS["bucket_counts"],
    }
    if defer_publish:
        # the staged plans read the caches built above — leave them alive
        # (checkpointing them here would re-execute every plan eagerly, 3
        # extra blocking jobs per batch) and hand the caller a cleanup to
        # run AFTER its publish_batch has consumed them
        def _cleanup() -> None:
            sets_.unpersist()
            if probe_banded is not banded:
                probe_banded.unpersist()
            if verify_sets is not sets_:
                verify_sets.unpersist()
            banded.unpersist()

        return result, to_merge, pks, _cleanup
    publish_batch(spark, to_merge, out_dir, pks=pks)
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        for name in pks:
            compact_published(spark, out_dir, name)
    sets_.unpersist()
    if probe_banded is not banded:
        probe_banded.unpersist()
    if verify_sets is not sets_:
        verify_sets.unpersist()
    banded.unpersist()
    return result


def dedup_index_sink(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    flags_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = 16,
    available_now: bool = True,
    **index_kwargs,
):
    """The index as a SINK: ``writeStream.foreachBatch`` wrapper mirroring
    ``listen_stream`` (checkpoint + engine-assigned batch_id plumbing), so
    a caller points a document stream at a directory instead of
    orchestrating ``update_dedup_index`` per batch by hand.

    Exactly-once shape, same as the listen sink: the checkpoint replays an
    uncommitted batch with the SAME batch_id after a crash, and
    ``update_dedup_index`` is idempotent per (content, batch_id) — the
    replay re-flags identical rows and merges nothing.  Flagged rows
    optionally persist as table ``dedup_flags`` of the transaction-log
    store at ``flags_dir`` (``publish_batch``; PK = (id, dup_of), so a
    replayed batch's flags land as no-ops), with a ``key_bucket`` so the
    duplicate probe prunes.  Compaction runs inside the batch callback
    every ``compact_every`` batches — serialized with the writes, which
    the manifest protocol's single-writer assumption requires.  Returns the StreamingQuery (caller awaits / stops)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        flags = update_dedup_index(
            sp,
            batch_df,
            out_dir,
            batch_id=batch_id,
            id_col=id_col,
            text_col=text_col,
            compact_every=compact_every,
            **index_kwargs,
        )
        if flags_dir is not None:
            out = flags.withColumn("key_bucket", _id_bucket(id_col))
            publish_batch(
                sp,
                {"dedup_flags": out},
                flags_dir,
                pks={"dedup_flags": (id_col, "dup_of")},
            )

    writer = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
