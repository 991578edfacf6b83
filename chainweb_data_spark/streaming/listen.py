"""Structured Streaming ingest — the Spark re-design of the reference's
``listen`` mode (``haskell-src/exec/Chainweb/Listen.hs:42-113``).

Reference shape: one SSE event per new block → fetch payload → pure
row-construction → one DB transaction writing all six tables with
``ON CONFLICT DO NOTHING`` (Worker.hs:50-82).  Spark shape (SURVEY §2.9):

    raw feed (file/socket/Kafka) → readStream
      → foreachBatch:
          payload_to_tables(batch)           # the SAME pure transforms
          publish_batch(all six tables)      # idempotent PK merge, ONE commit

Idempotence replaces the reference's ON CONFLICT DO NOTHING: each batch
left-anti-joins the target on the table's primary key before appending, so
replays (listener reconnects re-deliver blocks, Server.hs:171-182) and
orphan twins (same height, different hash — first-class rows) behave exactly
like the reference.  With Delta available the anti-join becomes
``MERGE WHEN NOT MATCHED THEN INSERT`` — same keys, same semantics; the
parquet path keeps the engine dependency-free.

Scale: every table is written partitioned — height-bearing tables by
height_bucket, signers/minerkeys by a PK-prefix key_bucket — and the
anti-join probe carries the batch's buckets as a partition filter (range
for height, IN-set for keys), so the duplicate check scans only the buckets
the batch can collide with (plus column pruning to the PK columns) — the
probe cost is O(batch locality), not O(table history), for all six tables.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

from ..ingest.transforms import payload_to_tables
from ..schemas.payload import RAW_SCHEMA

# Primary keys per table (init.sql / SURVEY §1.2) — row identity under
# orphans and replays.
TABLE_PKS: dict[str, tuple[str, ...]] = {
    "blocks": ("hash",),
    "transactions": ("block", "requestkey"),
    "events": ("block", "idx", "requestkey"),
    "transfers": ("block", "chainid", "idx", "modulehash", "requestkey"),
    "signers": ("requestkey", "idx"),
    "minerkeys": ("block", "key"),
}


def merge_plan(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    pk: tuple[str, ...],
) -> tuple[DataFrame, str | None]:
    """The to-append rows: batch-deduped on PK, minus rows whose PK already
    exists at ``path`` (ON CONFLICT DO NOTHING, Worker.hs:54-77).

    Returns (plan, partition_col | None).  The duplicate probe is BOUNDED by
    partition pruning for every table (reference parity: Worker.hs:50-82
    touches only the incoming rows' keys):

    - ``height_bucket`` tables (blocks / transactions / events / transfers):
      every PK embeds the block identity, so a replayed row lands in the
      same bucket, and the stream is height-clustered — a RANGE filter on
      the batch's [min, max] bucket prunes the probe to O(recent buckets).
    - ``key_bucket`` tables (signers / minerkeys — no height column, and a
      requestkey re-mined after an orphan may reappear at any later height):
      the bucket is a pure function of the leading PK column, so an IN
      filter on the batch's distinct buckets is exact.  Probe cost scales
      with the batch's key spread (≤ the handful of blocks a micro-batch
      carries), not table history.

    The probe reads only the batch's bucket DIRECTORIES (``basePath`` keeps
    the partition column), so neither the scan nor the file listing in
    front of it grows with the table; a batch whose buckets hold nothing
    yet skips the probe.
    """
    batch = df.dropDuplicates(list(pk))
    bucket_col = next(
        (c for c in ("height_bucket", "key_bucket") if c in batch.columns), None
    )
    if os.path.exists(path):
        buckets = batch_buckets(batch, bucket_col)
        existing = _read_bucket_dirs(spark, path, bucket_col, buckets)
        if existing is not None:
            existing = prune_existing_to_batch(existing, bucket_col, buckets)
            # null-safe per-column equality: the six chainweb tables' PKs
            # are non-null, but silver-table identities
            # (streaming/silver.py) carry nullable components (a
            # continuation row's code), and a plain equality anti-join
            # would re-append every replayed row holding a NULL — exactly
            # the duplicate the merge exists to prevent.
            probe = existing.select(*pk)
            cond = None
            for c in pk:
                eq = batch[c].eqNullSafe(probe[c])
                cond = eq if cond is None else (cond & eq)
            batch = batch.join(probe, on=cond, how="left_anti")
    return batch, bucket_col


def batch_buckets(
    batch: DataFrame, bucket_col: str | None
) -> tuple | list | None:
    """The partitions the batch can collide with: the (lo, hi) RANGE of
    height_bucket (the stream is height-clustered; (None, None) for an
    empty batch), the distinct key_bucket values (key buckets are a pure
    function of the PK), or None when the batch carries no bucket.  One
    action on ``batch``."""
    from pyspark.sql import functions as F

    if bucket_col == "height_bucket":
        return tuple(batch.agg(F.min(bucket_col), F.max(bucket_col)).first())
    if bucket_col is not None:
        return [r[0] for r in batch.select(bucket_col).distinct().collect()]
    return None


def prune_existing_to_batch(
    existing: DataFrame, bucket_col: str | None, buckets: tuple | list | None
) -> DataFrame:
    """Bound the duplicate-probe scan to the partitions
    :func:`batch_buckets` found: a [min, max] RANGE on height_bucket, an
    IN-set on key_bucket, the full table when the batch carries no bucket
    or no rows."""
    from pyspark.sql import functions as F

    if bucket_col == "height_bucket":
        lo, hi = buckets
        if lo is not None:
            return existing.filter(
                (F.col(bucket_col) >= lo) & (F.col(bucket_col) <= hi)
            )
    elif bucket_col is not None and buckets:
        return existing.filter(F.col(bucket_col).isin(buckets))
    return existing


def _read_bucket_dirs(
    spark: SparkSession,
    path: str,
    bucket_col: str | None,
    buckets: tuple | list | None,
) -> DataFrame | None:
    """The stored table at ``path`` read from only the partition
    directories :func:`batch_buckets` may hit (a superset: the caller
    still applies :func:`prune_existing_to_batch`), or None when no such
    directory exists — an empty batch hits none.  Bucket-less tables
    read whole."""
    if bucket_col is None:
        return spark.read.parquet(path)
    if bucket_col == "height_bucket":
        lo, hi = buckets

        def hit(value: str) -> bool:
            try:
                return lo is not None and lo <= int(value) <= hi
            except ValueError:
                return False  # the NULL bucket: no range filter keeps it

    else:
        hit = {str(v) for v in buckets}.__contains__
    prefix = f"{bucket_col}="
    dirs = [
        os.path.join(path, name)
        for name in sorted(os.listdir(path))
        if name.startswith(prefix) and hit(unquote(name[len(prefix):]))
    ]
    if not dirs:
        return None
    return spark.read.option("basePath", path).parquet(*dirs)


def merge_batch(spark: SparkSession, df: DataFrame, path: str, pk: tuple[str, ...]) -> None:
    """Write the merge_plan WITHOUT a commit log: bucket-partitioned append
    for tables carrying a partition column (height_bucket or key_bucket —
    partition dirs = the write layout of sources/layout.py, so readers get
    directory pruning), flat append otherwise.  For the log-less side
    tables (silver lineage, corpus stats, windowed counts, dedup flags);
    the chainweb tables publish through ``publish.publish_batch``."""
    batch, bucket_col = merge_plan(spark, df, path, pk)
    # execute the merge plan ONCE: isEmpty below and the append write are
    # two actions, and the unmaterialized plan (duplicate-probe scan +
    # dedup shuffle + anti-join) would run for each — doubling the very
    # per-batch sink cost the streaming rehearsal measures
    batch = batch.localCheckpoint(eager=True)
    if batch.isEmpty():
        # appending zero rows is a no-op — and on a FIRST write it would
        # create a schema-less directory (only _SUCCESS) that breaks every
        # later duplicate probe (UNABLE_TO_INFER_SCHEMA).  Streaming sinks
        # hit this legitimately: windowed-stats batches before the first
        # watermark close are empty (stateful.py windowed_counts_sink).
        return
    writer = batch.write.mode("append")
    if bucket_col is not None:
        writer = writer.partitionBy(bucket_col)
    writer.parquet(path)


def listen_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    event_min_height: int = 0,
    available_now: bool = True,
    continuation_history: bool = False,
):
    """Run the listen pipeline over a raw-feed directory (each file = a
    micro-batch of {header, powHash, payload} rows — the file-source stand-in
    for the SSE stream; swap ``readStream.format`` for kafka/socket in
    production, the rest is identical).

    Each micro-batch goes through ``publish.publish_batch`` — all six
    tables committed by ONE log commit, the reference's single-transaction
    boundary (Worker.hs:50-82); snapshot readers use
    ``publish.read_published`` (plain ``spark.read.parquet`` also works
    between crashes, but may see staged orphans after one).  A log-less
    directory that already holds table data is refused
    (``publish.StoreFormatError``).

    ``continuation_history=True`` additionally folds each batch's
    transactions into the incremental continuation-history silver tables
    under ``out_dir/_silver/`` (``streaming/silver.py`` — SURVEY §2.3 J4
    option b), so the history endpoint reads a bucket-pruned lookup
    instead of walking at query time.

    Returns the StreamingQuery (caller awaits / stops it).
    """
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(source_dir)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..schemas.payload import HEADER_SCHEMA

        # skip undecodable feed lines (the reference's FromEvent decode
        # failure drops the SSE event, Listen.hs:52-60); a parseable header
        # requires at least the block hash
        batch_df = batch_df.filter(
            F.from_json("header", HEADER_SCHEMA)["hash"].isNotNull()
        )
        # pin the parsed batch: every table's merge is its own action, and
        # without this the raw-JSON parse + payload decode lineage would
        # re-execute once per table per action (the classic foreachBatch
        # multi-sink pitfall) — ingest latency would scale with table
        # count instead of once per batch
        batch_df = batch_df.localCheckpoint(eager=True)
        tables = payload_to_tables(batch_df, event_min_height=event_min_height)
        # derive events once; transfers re-derive from it inside
        # payload_to_tables — all six writes see one consistent batch
        from .publish import publish_batch

        publish_batch(batch_df.sparkSession, tables, out_dir)
        if continuation_history:
            from .silver import update_continuation_history

            update_continuation_history(
                batch_df.sparkSession, tables["transactions"], out_dir
            )

    writer = (
        raw.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
