"""Structured Streaming ingest — the Spark re-design of the reference's
``listen`` mode (``haskell-src/exec/Chainweb/Listen.hs:42-113``).

Reference shape: one SSE event per new block → fetch payload → pure
row-construction → one DB transaction writing all six tables with
``ON CONFLICT DO NOTHING`` (Worker.hs:50-82).  Spark shape (SURVEY §2.9):

    raw feed (file/socket/Kafka) → readStream
      → foreachBatch:
          payload_to_tables(batch)            # the SAME pure transforms
          continuation_tables(transactions)   # optional silver walk
          publish_batch(every table)          # idempotent PK merge, ONE commit

Idempotence replaces the reference's ON CONFLICT DO NOTHING: each batch
left-anti-joins the published rows on the table's primary key before
staging (``publish._probe_plan``), so replays (listener reconnects
re-deliver blocks, Server.hs:171-182) and orphan twins (same height,
different hash — first-class rows) behave exactly like the reference.
With Delta available the anti-join becomes ``MERGE WHEN NOT MATCHED THEN
INSERT`` — same keys, same semantics; the parquet path keeps the engine
dependency-free.

Scale: every table is written partitioned — height-bearing tables by
height_bucket, signers/minerkeys by a PK-prefix key_bucket — and the
anti-join probe carries the batch's buckets as a partition filter (range
for height, IN-set for keys), so the duplicate check scans only the buckets
the batch can collide with (plus column pruning to the PK columns) — the
probe cost is O(batch locality), not O(table history), for all six tables.
"""

from __future__ import annotations

import os

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

    ``continuation_history=True`` additionally walks each batch's
    transactions into the incremental continuation-history silver tables
    ``tx_lineage`` and ``cont_history`` (``streaming/silver.py`` — SURVEY
    §2.3 J4 option b) and stages them in the SAME commit as the six
    tables, so bronze and silver land in one version or not at all, and
    the history endpoint reads a bucket-pruned lookup instead of walking
    at query time.

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

        sp = batch_df.sparkSession
        pks = TABLE_PKS
        if continuation_history:
            from .silver import SILVER_PKS, continuation_tables

            tables = {
                **tables,
                **continuation_tables(sp, tables["transactions"], out_dir),
            }
            pks = {**TABLE_PKS, **SILVER_PKS}
        publish_batch(sp, tables, out_dir, pks=pks)

    writer = (
        raw.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
