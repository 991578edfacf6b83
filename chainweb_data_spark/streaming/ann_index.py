"""Incremental streaming ANN index — IVFPQ as a SINK.

``ivfpq_topk`` derives cells and codes in-plan, which is right for a
one-shot query but wrong for a living corpus: at 100 TB you encode each
vector ONCE, on arrival, and every later query batch searches the stored
index.  This module maintains that index with the listen pipeline's
merge/replay discipline (the vector analog of
``streaming/dedup_index.py``):

    ann_members table: (vec_id PK, key_bucket = 'c' + IVF cell, codes
    m ints) — the letter prefix pins partition-type inference to string
    (digit-only dirs read back as INT; the 'h'/'k' trap elsewhere)

- **Fold** (:func:`update_ann_index`): assign each arriving vector to its
  IVF cell (broadcast centroids, one Arrow pass), PQ-encode it (broadcast
  codebooks), and merge by PK through the transaction log
  (``publish_batch``) — replayed batches anti-join to nothing, a crash
  mid-fold leaves the previous snapshot.  The cell doubles as the
  ``key_bucket`` partition column, so the table is physically clustered
  by cell: probes read only the probed cells' files.
- **Search** (:func:`ann_index_search`): queries assign to probe cells,
  the index's (cell, codes) rows feed the shared cell-local ADC kernel
  (``operators/similarity.adc_topk``) — member vectors never move, only
  their m-int codes.
- **Sink** (:func:`ann_index_sink`): ``foreachBatch`` wrapper mirroring
  ``dedup_index_sink`` (checkpoint + engine batch-id), with the same
  serialized ``compact_every`` long-run file bound.

The quantizer (centroids + codebooks) is trained once on a sample and
then FROZEN between rebuilds — the standard production contract (FAISS's
train/add split): retraining inside the stream would silently re-cell
existing members.  Drift is handled EXPLICITLY instead (round-7 advice
#6): every fold logs the occupancy-skew estimate to ``ann_stats`` (footer
counts only), ``maybe_rebuild_ann_index`` retrains past an imbalance
threshold, and :func:`rebuild_ann_index` swaps the re-encoded members +
the new quantizer's ``ann_meta`` epoch in ONE manifest flip.  The meta
table pins the quantizer's sha256 digest, and every fold/search verifies
the passed arrays against it — ADC with a mismatched quantizer returns
silently wrong neighbors, so the mismatch refuses loudly.

Reference anchor: extends the ingest discipline of
``haskell-src/exec/Chainweb/Listen.hs:99-113`` (idempotent per-arrival
fold) to the beyond-reference vector surface.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as sim
from .publish import compact_published, publish_batch, read_published

MEMBERS_TABLE = "ann_members"
_PKS = {MEMBERS_TABLE: ("vec_id",)}


class QuantizerMismatchError(RuntimeError):
    """A fold or search passed quantizer arrays whose digest differs from
    the one ``ann_meta`` pinned at index creation/rebuild — ADC with a
    mismatched quantizer returns silently wrong neighbors."""


def update_ann_index(
    spark: SparkSession,
    vecs: DataFrame,
    out_dir: str,
    batch_id: int,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
) -> int:
    """Fold a vector batch into the index; returns rows newly encoded
    (pre-merge — the PK anti-join drops replayed ids).  Assignment and
    encoding run FUSED in one Arrow-batched pass over the BATCH only
    (``pq_index_rows``); the existing index is touched solely by the
    merge probe, pruned to the batch's key_buckets."""
    _check_quantizer(spark, out_dir, centroids, codebooks)
    members = (
        sim.pq_index_rows(vecs, id_col, vec_col, centroids, codebooks)
        .select(
            F.col(id_col).alias("vec_id"),
            # 'c' prefix pins partition-type inference to string: an
            # all-digit cell-id dir set from a small batch reads back as
            # INT, and the next probe's isin(string) / a later letter
            # value then breaks — the same trap the 'h'/'k' prefixes
            # closed in the curation and silver writers (round-6 advice)
            F.concat(F.lit("c"), F.col("cell").cast("string")).alias(
                "key_bucket"
            ),
            "codes",
        )
        .coalesce(1)
    )
    # eager: the count and the publish share one assignment+encode run
    members = members.localCheckpoint(eager=True)
    n = members.count()
    latest = _latest_meta(spark, out_dir)
    epoch = int(latest["epoch"]) if latest is not None else 0
    tables: dict[str, DataFrame] = {MEMBERS_TABLE: members}
    pks = dict(_PKS)
    if latest is None:
        # first fold under this quantizer: pin its digest in the SAME flip
        tables[META_TABLE] = spark.createDataFrame(
            [
                (
                    0,
                    quantizer_digest(centroids, codebooks),
                    int(len(centroids)),
                    int(np.asarray(codebooks).shape[0]),
                    0,
                )
            ],
            "epoch long, quantizer_digest string, n_cells long, m long, "
            "n_members_at_train long",
        )
        pks[META_TABLE] = _META_PKS[META_TABLE]
    # staleness log: per-batch occupancy-skew estimate from footer counts
    # (current live occupancy) + this batch's per-cell adds — O(live
    # files) driver reads + one tiny groupBy on the checkpointed batch,
    # never an index scan.  PK (epoch, batch_id): replays merge away.
    occ = cell_occupancy(out_dir)
    for r in members.groupBy("key_bucket").agg(F.count("*").alias("_n")).collect():
        occ[r["key_bucket"]] = occ.get(r["key_bucket"], 0) + int(r["_n"])
    imb = imbalance_factor(occ, int(len(centroids)))
    tables[STATS_TABLE] = spark.createDataFrame(
        [(epoch, int(batch_id), n, float(imb))],
        "epoch long, batch_id long, n_added long, imbalance double",
    )
    pks[STATS_TABLE] = ("epoch", "batch_id")
    publish_batch(spark, tables, out_dir, pks=pks)
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_published(spark, out_dir, MEMBERS_TABLE)
    return n


def ann_index_search(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    k: int = 5,
    prune_cells: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-k of ``queries`` against the STORED index: (id, neighbor_id,
    adc).  The index side ships codes only, read through the transaction
    log's explicit file list with the cell as partition column; with
    ``prune_cells`` (default) the distinct probed cells are collected
    first (≤ nprobe × queries ids, bounded by n_cells) and pushed as a
    partition filter, so the index SCAN touches only the probed cells'
    files — search cost grows with the probed cells' occupancy, not with
    the index (merged snapshots hold one row per vector regardless of how
    many batches built them).  Disable for query batches that probe most
    cells anyway (the extra collect buys nothing).

    Query ids and stored ``vec_id``s must share ONE id space: the ADC
    kernel excludes self-pairs by id equality (right when the query IS the
    indexed object — the re-ranking / dedup shape), so an external query
    batch numbered from an unrelated space would silently lose any member
    whose vec_id collides with a query id.  Pass ``exclude_self=False``
    for foreign-id query batches — every member then competes, including
    id-equal ones."""
    _check_quantizer(spark, out_dir, centroids, codebooks)
    members = read_published(spark, out_dir, MEMBERS_TABLE)
    if members is None:
        # schema-stable empty result: SAME columns as the non-empty path
        # (adc_topk's pair schema uses the caller's id_col, not vec_id)
        return spark.createDataFrame(
            [], f"{id_col} long, neighbor_id long, adc double"
        )
    probes = (
        sim.pq_assign_cells(queries, id_col, vec_col, centroids, nprobe)
        .select(id_col, F.explode("probe_cells").alias("cell"))
        .join(
            queries.select(
                F.col(id_col),
                F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                    "_v"
                ),
            ),
            id_col,
        )
        .select("cell", id_col, "_v")
        .localCheckpoint(eager=True)  # cells are collected AND re-scanned
    )
    if prune_cells:
        cells = [
            f"c{r['cell']}" for r in probes.select("cell").distinct().collect()
        ]
        members = members.filter(F.col("key_bucket").isin(cells))
    members = members.select(
        F.expr("cast(substring(key_bucket, 2) as int)").alias("cell"),
        F.col("vec_id").alias(id_col),
        "codes",
    )
    return sim.adc_topk(
        members, probes, codebooks, id_col, k, exclude_self=exclude_self
    )


def ann_index_sink(
    vec_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = 16,
    available_now: bool = True,
):
    """The index as a sink: ``writeStream.foreachBatch`` with the listen
    pipeline's exactly-once shape — a crash-replayed batch re-encodes
    identical rows and the PK merge drops them all; compaction runs inside
    the serialized batch callback.  Returns the StreamingQuery."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        update_ann_index(
            batch_df.sparkSession,
            batch_df,
            out_dir,
            batch_id=batch_id,
            centroids=centroids,
            codebooks=codebooks,
            id_col=id_col,
            vec_col=vec_col,
            compact_every=compact_every,
        )

    writer = (
        vec_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# staleness: occupancy skew tracking + quantizer-pinned rebuild
# ---------------------------------------------------------------------------

META_TABLE = "ann_meta"
STATS_TABLE = "ann_stats"
_META_PKS = {META_TABLE: ("epoch",)}

#: imbalance factor above which maybe_rebuild_ann_index retrains.  The
#: metric is FAISS's imbalance factor n_cells·Σocc²/(Σocc)² — 1.0 is a
#: perfectly uniform index, and probe cost for a fixed nprobe grows
#: roughly linearly with it (a probe lands in hot cells proportionally
#: to their mass).  2.0 ≈ "probes cost double what the trained layout
#: promised" — the point where recall-per-work has visibly decayed.
REBUILD_IMBALANCE_THRESHOLD = 2.0


def quantizer_digest(centroids: np.ndarray, codebooks: np.ndarray) -> str:
    """Canonical fingerprint of a trained quantizer: sha256 over the
    float64 bytes + shapes of centroids and codebooks.  Stored in
    ``ann_meta`` at index creation/rebuild and verified by every fold and
    search — encoding with one quantizer and ADC-scanning with another
    returns silently WRONG neighbors, the worst failure mode an index can
    have, so the mismatch refuses loudly instead."""
    import hashlib

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    B = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    h = hashlib.sha256()
    h.update(repr((C.shape, B.shape)).encode())
    h.update(C.tobytes())
    h.update(B.tobytes())
    return h.hexdigest()


def _latest_meta(spark: SparkSession, out_dir: str):
    meta = read_published(spark, out_dir, META_TABLE)
    if meta is None:
        return None
    rows = meta.collect()  # one row per rebuild epoch — tiny by contract
    return max(rows, key=lambda r: r["epoch"]) if rows else None


def _check_quantizer(
    spark: SparkSession,
    out_dir: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
) -> None:
    latest = _latest_meta(spark, out_dir)
    if latest is None:
        return  # empty store: nothing recorded yet
    want = latest["quantizer_digest"]
    got = quantizer_digest(centroids, codebooks)
    if want != got:
        raise QuantizerMismatchError(
            f"ann index at {out_dir!r} was built/rebuilt under quantizer "
            f"{want[:16]}… (epoch {latest['epoch']}) but this call passed "
            f"{got[:16]}… — folding or searching with a mismatched "
            "quantizer returns silently wrong neighbors. Use the arrays "
            "returned by rebuild_ann_index / recorded beside the store."
        )


def cell_occupancy(out_dir: str) -> dict[str, int]:
    """LIVE per-cell member counts — parquet FOOTER metadata only (no
    Spark job, no data pages): walk the snapshot's file list, sum each
    file's ``num_rows`` under its ``key_bucket=`` directory.  O(live
    files) tiny reads, bounded by compaction — the right cost for a
    per-batch staleness probe at any index size."""
    import pyarrow.parquet as pq

    from .publish import read_manifest

    occ: dict[str, int] = {}
    files = read_manifest(out_dir)["tables"].get(MEMBERS_TABLE, [])
    tdir = os.path.join(out_dir, f"{MEMBERS_TABLE}.parquet")
    for rel in files:
        head = rel.replace(os.sep, "/").split("/", 1)[0]
        if not head.startswith("key_bucket="):
            continue
        cell = head.split("=", 1)[1]
        occ[cell] = occ.get(cell, 0) + pq.ParquetFile(
            os.path.join(tdir, rel)
        ).metadata.num_rows
    return occ


def imbalance_factor(occ: dict[str, int], n_cells: int) -> float:
    """FAISS's imbalance factor ``n_cells · Σocc² / (Σocc)²`` over a
    per-cell occupancy map; 1.0 = uniform, n_cells = everything in one
    cell.  Empty index → 1.0 (nothing to be skewed)."""
    total = sum(occ.values())
    if total == 0:
        return 1.0
    return n_cells * sum(v * v for v in occ.values()) / (total * total)


def ann_index_imbalance(out_dir: str, n_cells: int) -> float:
    return imbalance_factor(cell_occupancy(out_dir), n_cells)


def rebuild_ann_index(
    spark: SparkSession,
    out_dir: str,
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    m: int = 4,
    k_codes: int = 16,
    sample_size: int | None = None,
    iters: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """RETRAIN the quantizer on the CURRENT corpus and re-encode every
    vector, swapping the members table and appending the new quantizer's
    ``ann_meta`` epoch in ONE manifest flip
    (``publish.rewrite_published_many``) — a reader sees the old index or
    the new one, never codes from one paired with metadata from the
    other.  This is the explicit answer to drift the module docstring
    froze out of the streaming path: as the corpus grows/shifts, cell
    occupancy skews, probe cost rises and recall-at-fixed-nprobe decays;
    retraining recenters the cells on what the corpus looks like NOW.

    ``vecs`` is the raw-vector source of truth (the index stores codes
    only).  Deterministic end to end: the md5-mod sample, id-sorted
    Lloyd, and round-6 argmax encoding are the shared similarity-module
    kernels, so re-running a crashed rebuild stages byte-identical files
    and the swap is replay-idempotent (the crash's orphans vacuum away).
    Returns the NEW (centroids, codebooks); every later fold/search must
    pass them (enforced by the quantizer digest)."""
    from .publish import rewrite_published_many

    kw = {}
    if sample_size is not None:
        kw["sample_size"] = sample_size
    if iters is not None:
        kw["iters"] = iters
    if n_cells is None:
        n_cells = sim.auto_n_cells(vecs.count())
    centroids = sim.ivf_train_kmeans(vecs, id_col, vec_col, n_cells, **kw)
    codebooks = sim.pq_train(vecs, id_col, vec_col, m, k=k_codes, **kw)
    members = (
        sim.pq_index_rows(vecs, id_col, vec_col, centroids, codebooks)
        .select(
            F.col(id_col).alias("vec_id"),
            F.concat(F.lit("c"), F.col("cell").cast("string")).alias(
                "key_bucket"
            ),
            "codes",
        )
        .repartition("key_bucket")
    )
    prev = _latest_meta(spark, out_dir)
    epoch = (int(prev["epoch"]) + 1) if prev is not None else 0
    n_members = members.count()
    meta_row = spark.createDataFrame(
        [
            (
                epoch,
                quantizer_digest(centroids, codebooks),
                int(len(centroids)),
                int(m),
                int(n_members),
            )
        ],
        "epoch long, quantizer_digest string, n_cells long, m long, "
        "n_members_at_train long",
    )
    rewrite_published_many(
        spark,
        out_dir,
        {MEMBERS_TABLE: members},
        op="rebuild",
        extra_appends={META_TABLE: meta_row},
    )
    return centroids, codebooks


def maybe_rebuild_ann_index(
    spark: SparkSession,
    out_dir: str,
    vecs: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    threshold: float = REBUILD_IMBALANCE_THRESHOLD,
    **rebuild_kw,
) -> dict:
    """The staleness TRIGGER: measure the live imbalance factor (footer
    metadata only) and retrain past ``threshold``.  Returns
    ``{"imbalance", "rebuilt", "centroids", "codebooks"}`` — callers keep
    indexing/searching with the returned arrays either way.  Run it every
    N batches from the ingest loop; between triggers the index stays
    frozen (the streaming contract)."""
    imb = ann_index_imbalance(out_dir, len(centroids))
    if imb <= threshold:
        return {
            "imbalance": imb,
            "rebuilt": False,
            "centroids": centroids,
            "codebooks": codebooks,
        }
    m = int(np.asarray(codebooks).shape[0])
    new_c, new_b = rebuild_ann_index(
        spark,
        out_dir,
        vecs,
        m=m,
        k_codes=int(np.asarray(codebooks).shape[1]),
        **rebuild_kw,
    )
    return {
        "imbalance": imb,
        "rebuilt": True,
        "centroids": new_c,
        "codebooks": new_b,
    }
