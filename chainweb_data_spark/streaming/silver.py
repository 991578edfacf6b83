"""Incremental continuation-history silver table — SURVEY §2.3 J4 option
(b), the design the reference can't express and the query-time walk only
approximates: maintain, at ingest, one table of resolved defpact ancestry
rows so the continuation-history endpoint (``Queries.hs:112-137``, WITH
RECURSIVE per request) becomes an O(1) bucket-pruned lookup.

Two tables in the store's transaction log (``streaming/publish.py``),
beside the six chainweb tables:

- ``tx_lineage`` — slim (requestkey, pactid, code, key_bucket)
  projection of every tx seen, PK the full triple.  This is the walk
  universe: a later batch's continuation step may name ANY earlier tx as
  its parent, so the projection must persist (it is the same data the
  query-time walk scans, kept narrow).
- ``cont_history`` — (start_rk, depth, rk, code, key_bucket) — one row
  per (continuation tip, ancestor): depth 0 = the immediate parent,
  increasing toward the origin exec tx.  ``key_bucket`` is a pure
  function of ``start_rk`` (same convention as signers/minerkeys,
  ``ingest/transforms.py _key_bucket``), so the endpoint lookup and the
  duplicate probe both prune to one bucket.

Incremental maintenance per micro-batch (:func:`continuation_tables`)
walks on the DRIVER before the commit: the batch's lineage projection is
collected once, and its continuation txs form the frontier.  The feed is
causal (a continuation step can only reference an already-mined tx), so
the frontier never outgrows the batch's continuation txs; each depth
resolves its parent keys from the collected batch plus ONE collect of the
published lineage (resolved once per update), filtered to the parents'
``key_bucket`` partitions and keys — probe cost scales with the batch,
not table history.  Chains are short (cross-chain = 2 steps, defpacts
≲ 10; Queries.hs comment), so a micro-batch costs a few small collects.
The walk needs only the batch and the published lineage, so
``listen_stream`` stages both frames in the same ``publish_batch`` as the
six tables: bronze and silver land in one version or not at all.

This module serves micro-batches.  At 100 TB the query-time walk
(queries/chainweb.py ``continuation_histories``) remains the
backfill/bootstrap job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.transforms import _key_bucket
from .publish import (
    StoreFormatError,
    _first_data_file,
    publish_batch,
    read_published,
)

# stored data columns
LINEAGE_SCHEMA = "requestkey string, pactid string, code string"
HISTORY_SCHEMA = "start_rk string, depth int, rk string, code string"
# row identities: lineage dedups whole rows (a re-mined requestkey may
# carry different code); history identity includes (rk, code) because a
# twin-fanned chain legitimately has two rows at one depth
SILVER_PKS: dict[str, tuple[str, ...]] = {
    "tx_lineage": ("requestkey", "pactid", "code"),
    "cont_history": ("start_rk", "depth", "rk", "code"),
}

# the walk terminates on its own (frontier empties at each chain's origin
# exec tx); the cap only bounds a pathological/corrupt feed
MAX_DEPTH = 64


def continuation_tables(
    spark: SparkSession, tx: DataFrame, out_dir: str
) -> dict[str, DataFrame]:
    """Walk one micro-batch of transactions against the published
    ``tx_lineage`` and return the frames to stage: ``tx_lineage`` (the
    batch's projection) and, when the batch holds continuation steps,
    ``cont_history``.  A store still holding the log-less silver tables
    under ``_silver/`` is refused (:class:`StoreFormatError`): those rows
    are in no commit, and nothing adopts them."""
    legacy = os.path.join(out_dir, "_silver")
    if _first_data_file(legacy) is not None:
        raise StoreFormatError(
            legacy, None, "silver data files outside the commit log"
        )
    # distinct over the FULL triple, not per requestkey: a re-introduced
    # requestkey (orphan re-mine) may carry different code, and the
    # reference's recursive join fans out over every distinct row
    # (Queries.hs:126-130 dedups whole rows, not keys) — so must we.
    batch = [
        tuple(r)
        for r in tx.select("requestkey", "pactid", "code")
        .dropDuplicates()
        .collect()
    ]
    if not batch:
        return {}
    rows: dict[str, set] = {}  # requestkey -> (pactid, code), batch ∪ stored
    for rk, pactid, code in batch:
        rows.setdefault(rk, set()).add((pactid, code))
    # tips: this batch's continuation steps, walked to their origins
    frontier = {(rk, pactid) for rk, pactid, _ in batch if pactid is not None}
    stored = read_published(spark, out_dir, "tx_lineage") if frontier else None
    looked_up: set[str] = set()
    history = []
    depth = 0
    while frontier and depth < MAX_DEPTH:
        need = sorted({parent for _, parent in frontier} - looked_up)
        looked_up.update(need)
        if stored is not None and need:
            # ingest/transforms.py _key_bucket: 'k' + the key's first char
            buckets = sorted({f"k{k[:1]}" for k in need})
            for rk, pactid, code in (
                stored.filter(
                    F.col("key_bucket").isin(buckets)
                    & F.col("requestkey").isin(need)
                )
                .select("requestkey", "pactid", "code")
                .collect()
            ):
                rows.setdefault(rk, set()).add((pactid, code))
        nxt = set()
        for start_rk, parent in frontier:
            for parent_pactid, code in rows.get(parent, ()):
                history.append((start_rk, depth, parent, code))
                if parent_pactid is not None:
                    nxt.add((start_rk, parent_pactid))
        frontier = nxt
        depth += 1

    out = {
        "tx_lineage": spark.createDataFrame(batch, LINEAGE_SCHEMA).withColumn(
            "key_bucket", _key_bucket(F.col("requestkey"))
        )
    }
    if history:
        out["cont_history"] = spark.createDataFrame(
            history, HISTORY_SCHEMA
        ).withColumn("key_bucket", _key_bucket(F.col("start_rk")))
    return out


def update_continuation_history(
    spark: SparkSession, tx_batch: DataFrame, out_dir: str
) -> None:
    """Fold one micro-batch of transactions into the two silver tables:
    one ``publish_batch`` of :func:`continuation_tables` (replays are
    no-ops — the PK probe drops every row already published)."""
    publish_batch(
        spark,
        continuation_tables(spark, tx_batch, out_dir),
        out_dir,
        pks=SILVER_PKS,
    )


def lookup_history(spark: SparkSession, out_dir: str, start_rk: str) -> DataFrame:
    """The endpoint read: the published files whose ``start_rk`` range
    holds the tip, one bucket partition, one tip filter — no walk."""
    hist = read_published(
        spark, out_dir, "cont_history", where={"start_rk": (start_rk, start_rk)}
    )
    if hist is None:  # no history row published yet
        return spark.createDataFrame([], HISTORY_SCHEMA)
    # one chain's rows from a few files: a one-task sort orders them with
    # a single job, where a global orderBy pays sampling and shuffle jobs
    return (
        hist.filter(
            (F.col("key_bucket") == f"k{start_rk[:1]}")
            & (F.col("start_rk") == start_rk)
        )
        .coalesce(1)
        .sortWithinPartitions("depth")
        .select("start_rk", "depth", "rk", "code")
    )
