"""Incremental continuation-history silver table — SURVEY §2.3 J4 option
(b), the design the reference can't express and the query-time walk only
approximates: maintain, at ingest, one table of resolved defpact ancestry
rows so the continuation-history endpoint (``Queries.hs:112-137``, WITH
RECURSIVE per request) becomes an O(1) bucket-pruned lookup.

Two log-less tables under ``<out_dir>/_silver/`` — outside the
transaction log's namespace, so ``publish.vacuum`` (which sweeps the
top-level ``<table>.parquet`` directories as log-managed) never deletes
them:

- ``tx_lineage.parquet`` — slim (requestkey, pactid, code, key_bucket)
  projection of every tx seen, PK requestkey.  This is the walk universe:
  a later batch's continuation step may name ANY earlier tx as its parent,
  so the projection must persist (it is the same data the query-time walk
  scans, kept narrow).
- ``cont_history.parquet`` — (start_rk, depth, rk, code, key_bucket) — one
  row per (continuation tip, ancestor): depth 0 = the immediate parent,
  increasing toward the origin exec tx.  ``key_bucket`` is a pure function
  of ``start_rk`` (same convention as signers/minerkeys,
  ``ingest/transforms.py _key_bucket``), so the endpoint lookup and the
  incremental probe both prune to one bucket.

Incremental maintenance per micro-batch (``update_continuation_history``)
walks on the DRIVER: the batch's lineage projection is collected once, and
its continuation txs form the frontier.  The feed is causal (a
continuation step can only reference an already-mined tx), so the frontier
never outgrows the batch's continuation txs; each depth resolves its
parent keys from the collected batch plus ONE collect of the stored
lineage, read from only the parents' ``key_bucket=`` directories and
filtered to those keys — probe cost scales with the batch, not table
history, the same bound the six-table merge probes enforce
(streaming/listen.py).  Chains are short (cross-chain = 2 steps, defpacts
≲ 10; Queries.hs comment), so a micro-batch costs a few small collects
plus the two merges.

This module serves micro-batches.  At 100 TB the query-time walk
(queries/chainweb.py ``continuation_histories``) remains the
backfill/bootstrap job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.transforms import _key_bucket
from .listen import merge_batch

LINEAGE = os.path.join("_silver", "tx_lineage.parquet")
HISTORY = os.path.join("_silver", "cont_history.parquet")
# stored data columns; a given schema spares each read a footer-inference job
LINEAGE_SCHEMA = "requestkey string, pactid string, code string"
HISTORY_SCHEMA = "start_rk string, depth int, rk string, code string"

# the walk terminates on its own (frontier empties at each chain's origin
# exec tx); the cap only bounds a pathological/corrupt feed
MAX_DEPTH = 64


def _bucket_dir(path: str, key: str) -> str:
    # ingest/transforms.py _key_bucket_expr: 'k' + the key's first char
    return os.path.join(path, f"key_bucket=k{key[:1]}")


def _read_buckets(
    spark: SparkSession, path: str, schema: str, keys
) -> DataFrame | None:
    """``path`` read from only the bucket directories of ``keys``; None
    when none of them exists."""
    dirs = sorted({_bucket_dir(path, k) for k in keys})
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return None
    return spark.read.schema(schema).option("basePath", path).parquet(*dirs)


def update_continuation_history(
    spark: SparkSession, tx_batch: DataFrame, out_dir: str
) -> None:
    """Fold one micro-batch of transactions into the two silver tables."""
    lineage_path = os.path.join(out_dir, LINEAGE)
    history_path = os.path.join(out_dir, HISTORY)

    # distinct over the FULL triple, not per requestkey: a re-introduced
    # requestkey (orphan re-mine) may carry different code, and the
    # reference's recursive join fans out over every distinct row
    # (Queries.hs:126-130 dedups whole rows, not keys) — so must we.
    batch = [
        tuple(r)
        for r in tx_batch.select("requestkey", "pactid", "code")
        .dropDuplicates()
        .collect()
    ]
    rows: dict[str, set] = {}  # requestkey -> (pactid, code), batch ∪ stored
    for rk, pactid, code in batch:
        rows.setdefault(rk, set()).add((pactid, code))
    # tips: this batch's continuation steps, walked to their origins
    frontier = {(rk, pactid) for rk, pactid, _ in batch if pactid is not None}
    looked_up: set[str] = set()
    history = []
    depth = 0
    while frontier and depth < MAX_DEPTH:
        need = {parent for _, parent in frontier} - looked_up
        looked_up |= need
        stored = _read_buckets(spark, lineage_path, LINEAGE_SCHEMA, need)
        if stored is not None:
            for rk, pactid, code in (
                stored.filter(F.col("requestkey").isin(sorted(need)))
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

    # persist: lineage first (idempotent merge on the full row identity —
    # replays are no-ops), then the new history rows under the tip-bucket
    # layout.  History identity includes (rk, code): a twin-fanned chain
    # legitimately has two rows at one depth.
    lineage = spark.createDataFrame(batch, LINEAGE_SCHEMA)
    merge_batch(
        spark,
        lineage.withColumn("key_bucket", _key_bucket(F.col("requestkey"))),
        lineage_path,
        ("requestkey", "pactid", "code"),
    )
    if history:
        hist = spark.createDataFrame(history, HISTORY_SCHEMA)
        merge_batch(
            spark,
            hist.withColumn("key_bucket", _key_bucket(F.col("start_rk"))),
            history_path,
            ("start_rk", "depth", "rk", "code"),
        )


def lookup_history(spark: SparkSession, out_dir: str, start_rk: str) -> DataFrame:
    """The endpoint read: one bucket directory, one tip filter —
    O(1 bucket), no walk, no listing of the other buckets."""
    hist = _read_buckets(
        spark, os.path.join(out_dir, HISTORY), HISTORY_SCHEMA, [start_rk]
    )
    if hist is None:  # no history row in this tip's bucket yet
        return spark.createDataFrame([], HISTORY_SCHEMA)
    return (
        hist.filter(F.col("start_rk") == start_rk)
        .orderBy("depth")
        .select("start_rk", "depth", "rk", "code")
    )
