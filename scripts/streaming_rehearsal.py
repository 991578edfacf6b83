#!/usr/bin/env python
"""Streaming-scale rehearsal: prove the per-micro-batch costs the sink
claims are O(batch locality) stay FLAT as table history grows 10×.

The query-side rehearsal (scripts/scale_rehearsal.py) measures operator
growth with corpus size; this one measures the sink-side costs of the
listen pipeline (streaming/listen.py, streaming/publish.py,
streaming/stateful.py) against history size:

- atomic publish: stage + commit of one tip batch via publish_batch —
  the probe reads the PUBLISHED file list (explicit files + basePath),
  so partition pruning must survive the log indirection.
- windowed stats probe: the (key, window_start) duplicate probe
  (publish._probe_plan) behind windowed_counts_sink — claimed pruned by
  the day-derived key_bucket.
- dedup-index probe+fold and one full curation batch.

Each cost is timed as min-of-N at 1× and 10× history and reported as a
growth ratio: ~1× validates the pruning claims; ~10× means a probe is
scanning history.  Run on an idle machine (same caveat as bench.py).

Usage:  python scripts/streaming_rehearsal.py [multiplier=10] [n_timings=3]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK = "/tmp/cds_stream_scale"
ROWS_PER_BUCKET = 2_000
BASE_BUCKETS = 20
BATCH_ROWS = 2_000  # one tip micro-batch: half replayed, half new


def _blocks(spark, lo: int, hi: int):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("hash"),
        F.col("id").alias("height"),
        (F.col("id") / ROWS_PER_BUCKET).cast("long").alias("height_bucket"),
    )


def time_atomic_publish(spark, name: str, n_buckets: int, n: int) -> float:
    """publish_batch of one tip batch against a PUBLISHED history: stage
    write + probe + commit.  The history is published once (untimed) into
    its own store — the sink refuses log-less table data; each timed call
    publishes a DISTINCT new slice so the probe always faces the same
    shape (previous slices live in newer commits)."""
    from chainweb_data_spark.streaming.publish import publish_batch, read_manifest

    out_dir = os.path.join(WORK, f"{name}_published")
    pks = {"blocks": ("hash",)}
    top = n_buckets * ROWS_PER_BUCKET
    if read_manifest(out_dir)["version"] == 0:
        publish_batch(spark, {"blocks": _blocks(spark, 0, top)}, out_dir, pks)
    best = float("inf")
    for i in range(n):
        lo = top + i * BATCH_ROWS
        batch = _blocks(spark, lo - BATCH_ROWS // 2, lo + BATCH_ROWS // 2)
        t0 = time.perf_counter()
        publish_batch(spark, {"blocks": batch}, out_dir, pks)
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _stats_rows(spark, lo: int, hi: int):
    """(chainid, window_start, n) rows of 10-minute windows ``lo..hi``
    across 4 chains, bucketed by UTC day — the windowed_counts_sink
    layout."""
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .crossJoin(spark.range(0, 4).select(F.col("id").alias("chainid")))
        .select(
            "chainid",
            F.timestamp_seconds(
                F.lit(1_600_000_000) + F.col("id") * 600
            ).alias("window_start"),
            (F.col("id") % 97 + 1).alias("n"),
        )
        .withColumn(
            "key_bucket", F.date_format(F.col("window_start"), "yyyy-MM-dd")
        )
    )


WINDOWS_PER_DAY = 144  # 10-minute windows
STATS_PK = ("chainid", "window_start")


def build_stats_history(spark, name: str, n_days: int) -> str:
    """A published ``windowed_counts`` table of ``n_days`` day buckets."""
    from chainweb_data_spark.streaming.publish import publish_batch

    out_dir = os.path.join(WORK, name)
    publish_batch(
        spark,
        {"windowed_counts": _stats_rows(spark, 0, n_days * WINDOWS_PER_DAY)},
        out_dir,
        pks={"windowed_counts": STATS_PK},
    )
    return out_dir


def time_stats_probe(spark, out_dir: str, n_days: int, n: int) -> float:
    """The publish probe of one tip batch (half replayed, half new) WITHOUT
    the staging write, so repeated timings see identical history."""
    from chainweb_data_spark.streaming.publish import _probe_plan

    tip = n_days * WINDOWS_PER_DAY
    best = float("inf")
    for _ in range(n):
        batch = _stats_rows(
            spark, tip - WINDOWS_PER_DAY // 2, tip + WINDOWS_PER_DAY // 2
        )
        t0 = time.perf_counter()
        plan, _bucket, cached = _probe_plan(
            spark, batch, out_dir, "windowed_counts", STATS_PK
        )
        assert plan.count() == WINDOWS_PER_DAY // 2 * 4
        best = min(best, time.perf_counter() - t0)
        cached.unpersist()
    return round(best, 3)


def build_dedup_history(spark, name: str, n_batches: int) -> str:
    """Fold n_batches of synthetic near-dup-free doc batches into a dedup
    index (500 docs per batch, disjoint id/vocab ranges so history growth
    is pure index size, not candidate growth)."""
    from chainweb_data_spark.streaming.dedup_index import update_dedup_index

    out = os.path.join(WORK, name)
    for b in range(n_batches):
        # ONE corpus-shape definition (_doc_batch) for every regime — an
        # inline copy here would let a tweak to one silently make the
        # longrun and history rehearsals measure different corpora
        update_dedup_index(spark, _doc_batch(spark, b), out, batch_id=b)
    return out


def time_dedup_probe(spark, path: str, n: int) -> float:
    """One NEW batch probed + folded against the existing index (the
    steady-state per-arrival cost).  The fold is rolled back after each
    timing (manifest reset) so every run probes the same history."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from chainweb_data_spark.streaming.dedup_index import update_dedup_index

    probe_docs = (
        spark.range(10_000_000, 10_000_500)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"probe_{i}_"), (F.col("id") * (i + 1)) % 9973)
                    for i in range(40)
                ],
            ).alias("text"),
        )
    )
    manifest_dir = os.path.join(path, "_manifest")
    backup = os.path.join(path, "_manifest_backup")
    _sh.copytree(manifest_dir, backup)
    best = float("inf")
    for _ in range(max(1, n)):
        t0 = time.perf_counter()
        update_dedup_index(spark, probe_docs, path, batch_id=999_999)
        best = min(best, time.perf_counter() - t0)
        # roll the manifest back so the next timing probes identical history
        _sh.rmtree(manifest_dir)
        _sh.copytree(backup, manifest_dir)
    _sh.rmtree(backup)
    return round(best, 3)


def _doc_batch(spark, b: int):
    from pyspark.sql import functions as F

    return spark.range(b * 500, (b + 1) * 500).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{b}_{i}_"), (F.col("id") * (i + 1)) % 9973)
                for i in range(40)
            ],
        ).alias("text"),
    )


def longrun_report(spark, n_batches: int = 100, compact_every: int = 16, n: int = 2) -> dict:
    """The O(batches) file-growth question, answered empirically: fold
    ``n_batches`` doc batches into two indexes — one with periodic
    compaction (``compact_every``), one without — and measure the
    steady-state probe cost and live-file count at checkpoints along the
    way.  Probe cost is O(live files) at the parquet-open layer, so the
    uncompacted curve should climb roughly linearly with batches while the
    compacted one stays flat."""
    from chainweb_data_spark.streaming.dedup_index import update_dedup_index
    from chainweb_data_spark.streaming.publish import read_manifest

    marks = sorted({20, max(21, n_batches // 2), n_batches})
    report: dict = {"n_batches": n_batches, "compact_every": compact_every}
    for label, ce in (("compacted", compact_every), ("uncompacted", None)):
        out = os.path.join(WORK, f"dedup_long_{label}")
        checkpoints = {}
        for b in range(n_batches):
            update_dedup_index(
                spark, _doc_batch(spark, b), out, batch_id=b, compact_every=ce
            )
            if b + 1 in marks:
                m = read_manifest(out)
                checkpoints[str(b + 1)] = {
                    "probe_s": time_dedup_probe(spark, out, n),
                    "live_files": sum(len(v) for v in m["tables"].values()),
                }
        report[label] = checkpoints
    return report


def build_curation_history(spark, name: str, n_batches: int) -> str:
    """Curate n_batches of the SAME synthetic corpus the dedup regime uses
    (disjoint id/vocab ranges per batch: history growth is pure table
    size, not candidate growth) through the full curation sink."""
    from chainweb_data_spark.streaming.curation import curate_batch

    out = os.path.join(WORK, name)
    for b in range(n_batches):
        curate_batch(spark, _doc_batch(spark, b), out, batch_id=b)
    return out


def time_curate_batch(spark, path: str, n: int) -> float:
    """One NEW batch through curate_batch against existing history — the
    steady-state per-arrival cost of the whole sink (quality + hash probe
    + index probe + all merges).  The entire out dir is rolled back after
    each timing so every run faces identical history (the hash/curated/
    rejects tables are plain merges with no manifest to reset)."""
    import shutil as _sh

    from chainweb_data_spark.streaming.curation import curate_batch

    probe = _doc_batch(spark, 20_000)
    backup = path + "_backup"
    _sh.copytree(path, backup)
    best = float("inf")
    for _ in range(max(1, n)):
        t0 = time.perf_counter()
        curate_batch(spark, probe, path, batch_id=999_999)
        best = min(best, time.perf_counter() - t0)
        _sh.rmtree(path)
        _sh.copytree(backup, path)
    _sh.rmtree(backup)
    return round(best, 3)


def curation_longrun_report(
    spark, n_batches: int = 60, compact_every: int = 16
) -> dict:
    """The curation sink's long-run question: steady-state per-batch cost
    as batches accumulate, with and without compaction.  Cost has two
    file-count terms — the hash-probe's published file list and the inner
    dedup index's — both bounded by ``compact_every`` through the
    transaction log; uncompacted, both grow linearly with batches."""
    from chainweb_data_spark.streaming.curation import curate_batch
    from chainweb_data_spark.streaming.publish import read_manifest

    marks = sorted({15, max(16, n_batches // 2), n_batches})
    report: dict = {"n_batches": n_batches, "compact_every": compact_every}
    for label, ce in (("compacted", compact_every), ("uncompacted", None)):
        out = os.path.join(WORK, f"cur_long_{label}")
        checkpoints = {}
        for b in range(n_batches):
            curate_batch(
                spark, _doc_batch(spark, b), out, batch_id=b, compact_every=ce
            )
            if b + 1 in marks:
                checkpoints[str(b + 1)] = {
                    "batch_s": time_curate_batch(spark, out, 2),
                    "live_files": sum(
                        len(v) for v in read_manifest(out)["tables"].values()
                    ),
                }
        report[label] = checkpoints
    return report


def _vec_batch(spark, b: int, n: int = 300, dim: int = 32):
    from pyspark.sql import functions as F

    # deterministic pseudo-vectors: component = scaled hash of (id, dim idx)
    return spark.range(b * n, (b + 1) * n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(2001)).cast(
                        "double"
                    )
                    / F.lit(1000.0)
                    - F.lit(1.0)
                )
                for j in range(dim)
            ]
        ).alias("embedding"),
    )


def ann_longrun_report(
    spark, n_batches: int = 60, compact_every: int = 16
) -> dict:
    """The streaming ANN index's long-run question: search cost against the
    folded index as batches accumulate, with and without compaction.  The
    index holds one row per vector regardless of batch count, so search
    growth should track CORPUS size (more members per probed cell), while
    file count — the parquet-open term — is what compaction bounds."""
    import time as _time

    from chainweb_data_spark.operators import similarity as sim
    from chainweb_data_spark.streaming.ann_index import (
        MEMBERS_TABLE,
        ann_index_search,
        update_ann_index,
    )
    from chainweb_data_spark.streaming.publish import read_manifest

    train = _vec_batch(spark, 0)
    cents = sim.ivf_train_kmeans(train, "vec_id", "embedding", 16)
    cb = sim.pq_train(train, "vec_id", "embedding", m=8, k=16)
    queries = _vec_batch(spark, 10_000, n=100).localCheckpoint(eager=True)

    marks = sorted({10, max(11, n_batches // 2), n_batches})
    report: dict = {"n_batches": n_batches, "compact_every": compact_every}
    for label, ce in (("compacted", compact_every), ("uncompacted", None)):
        out = os.path.join(WORK, f"ann_long_{label}")
        checkpoints = {}
        for b in range(n_batches):
            update_ann_index(
                spark, _vec_batch(spark, b), out, b, cents, cb, compact_every=ce
            )
            if b + 1 in marks:
                best = float("inf")
                for _ in range(2):
                    t0 = _time.perf_counter()
                    ann_index_search(
                        spark, out, queries, cents, cb, nprobe=2, k=5
                    ).collect()
                    best = min(best, _time.perf_counter() - t0)
                m = read_manifest(out)
                checkpoints[str(b + 1)] = {
                    "search_s": round(best, 3),
                    "live_files": len(m["tables"].get(MEMBERS_TABLE, [])),
                }
        report[label] = checkpoints
    return report


def _era_vec_batch(spark, b: int, lo=None, n: int = 300, dim: int = 32,
                   era_every: int = 8, shift: float = 1.5):
    """DRIFTING pseudo-vectors: unit-ish hash noise plus ``shift`` times an
    era-dependent center direction — the occupied region of embedding
    space MOVES every ``era_every`` batches (a new crawl source, a domain
    mix change).  A quantizer trained on era 0 tiles era 0's ball; later
    eras land on whichever old cells point their way, so occupancy skews
    and recall-at-fixed-nprobe decays — exactly the staleness
    maybe_rebuild_ann_index exists to catch."""
    from pyspark.sql import functions as F

    era = b // era_every
    lo = b * n if lo is None else lo

    def noise(j):
        return (
            F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(2001)).cast(
                "double"
            ) / 1000.0 - 1.0
        )

    def center(j):
        return (
            F.pmod(
                F.xxhash64(F.lit(int(era) * 131 + 7), F.lit(j)), F.lit(2001)
            ).cast("double") / 1000.0 - 1.0
        )

    return spark.range(lo, lo + n).select(
        F.col("id").alias("vec_id"),
        F.array(*[noise(j) + F.lit(shift) * center(j) for j in range(dim)])
        .alias("embedding"),
    )


def ann_retrain_report(
    spark, n_batches: int = 32, era_every: int = 8, threshold: float = 1.3
) -> dict:
    """Recall-vs-drift evidence for the staleness trigger (round-7 advice
    #6): two indexes fold the SAME drifting stream — one frozen on the
    era-0 quantizer, one with ``maybe_rebuild_ann_index`` offered every
    ``era_every`` batches — and recall@5 (vs exact driver-side cosine over
    the full current corpus, queries drawn from the LATEST era) is
    measured at each era boundary alongside the imbalance factor.
    Expectation: frozen recall collapses as eras shift while imbalance
    climbs; the retrained index recenters (one manifest flip per rebuild)
    and holds recall.  Absolute recall sits near nprobe/n_cells — the
    near-isotropic synthetic regime (tests/test_ann_recall.py header);
    the signal is HELD vs DECAYED, not the absolute level."""
    import time as _time

    import numpy as np

    from chainweb_data_spark.operators import similarity as sim
    from chainweb_data_spark.streaming.ann_index import (
        ann_index_imbalance,
        ann_index_search,
        maybe_rebuild_ann_index,
        rebuild_ann_index,
        update_ann_index,
    )

    n_cells = 16

    def _queries(b):
        return _era_vec_batch(spark, b, lo=10_000_000, n=100)

    def _recall(store, cents, cb, b, ids_np, X):
        qdf = _queries(b).localCheckpoint(eager=True)
        qrows = qdf.orderBy("vec_id").collect()
        Q = np.asarray([r["embedding"] for r in qrows])
        qids = [r["vec_id"] for r in qrows]
        Cn = X / np.linalg.norm(X, axis=1, keepdims=True)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        top = np.argsort(-(Qn @ Cn.T), axis=1)[:, :5]
        exact = [set(int(ids_np[r]) for r in row) for row in top]
        got = {q: set() for q in qids}
        t0 = _time.perf_counter()
        for r in ann_index_search(
            spark, store, qdf, cents, cb, nprobe=2, k=5, exclude_self=False
        ).collect():
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        wall = _time.perf_counter() - t0
        rec = sum(
            len(got.get(q, set()) & e) / 5 for q, e in zip(qids, exact)
        ) / len(qids)
        return round(rec, 3), round(wall, 3)

    train = _era_vec_batch(spark, 0)
    cents = sim.ivf_train_kmeans(train, "vec_id", "embedding", n_cells)
    cb = sim.pq_train(train, "vec_id", "embedding", m=8, k=16)
    frozen = os.path.join(WORK, "annretrain_frozen")
    retrain = os.path.join(WORK, "annretrain_retrain")
    fc, fb = cents, cb
    rc, rb = cents, cb
    all_ids: list = []
    all_np: list = []
    rebuilds = 0
    checkpoints: dict = {}
    for b in range(n_batches):
        batch = _era_vec_batch(spark, b).localCheckpoint(eager=True)
        rows = batch.orderBy("vec_id").collect()
        all_ids.extend(r["vec_id"] for r in rows)
        all_np.extend(r["embedding"] for r in rows)
        update_ann_index(spark, batch, frozen, b, fc, fb)
        update_ann_index(spark, batch, retrain, b, rc, rb)
        if (b + 1) % era_every == 0:
            corpus_df = spark.createDataFrame(
                list(zip(all_ids, [list(v) for v in all_np])),
                "vec_id long, embedding array<double>",
            )
            t_rb = _time.perf_counter()
            r = maybe_rebuild_ann_index(
                spark, retrain, corpus_df, rc, rb,
                threshold=threshold, n_cells=n_cells,
            )
            t_rb = _time.perf_counter() - t_rb
            rc, rb = r["centroids"], r["codebooks"]
            rebuilds += int(r["rebuilt"])
            ids_np, X = np.array(all_ids), np.array(all_np)
            f_rec, f_s = _recall(frozen, fc, fb, b, ids_np, X)
            r_rec, r_s = _recall(retrain, rc, rb, b, ids_np, X)
            checkpoints[f"{(b + 1) // era_every}x"] = {
                "frozen": {
                    "recall_at_5": f_rec,
                    "imbalance": round(ann_index_imbalance(frozen, n_cells), 2),
                    "search_s": f_s,
                },
                "retrain": {
                    "recall_at_5": r_rec,
                    "imbalance": round(ann_index_imbalance(retrain, n_cells), 2),
                    "search_s": r_s,
                    "rebuilds_so_far": rebuilds,
                    "trigger_imbalance": round(r["imbalance"], 2),
                    # r9 (verdict #7): the COST side of the threshold
                    # trade — rebuild is O(corpus) re-encode when it
                    # fires, a footer-stat check when it doesn't; the
                    # corpus size is recorded so successive checkpoints
                    # give rebuild wall vs corpus growth directly
                    "rebuilt_this_checkpoint": bool(r["rebuilt"]),
                    "maybe_rebuild_s": round(t_rb, 3),
                    "corpus_vectors": len(all_ids),
                },
            }
    # r9 (verdict #7): the rebuild-COST row — rebuild_ann_index is
    # O(corpus) re-encode by design (a quantizer swap invalidates every
    # code), and the trigger threshold is a trade between that cost and
    # the recall cliff the checkpoints above measure.  Time a FORCED
    # rebuild at 1x and 10x corpus so the threshold has data behind it.
    import shutil as _sh

    rebuild_cost: dict = {}
    for mult in (1, 10):
        n_vec = 300 * era_every * mult
        corpus = _era_vec_batch(spark, 0, lo=0, n=n_vec).localCheckpoint(
            eager=True
        )
        store = os.path.join(WORK, f"annrebuild_{mult}x")
        _sh.rmtree(store, ignore_errors=True)
        c0 = sim.ivf_train_kmeans(corpus, "vec_id", "embedding", n_cells)
        cb0 = sim.pq_train(corpus, "vec_id", "embedding", m=8, k=16)
        update_ann_index(spark, corpus, store, 0, c0, cb0)
        t0 = _time.perf_counter()
        rebuild_ann_index(spark, store, corpus, n_cells=n_cells, m=8)
        rebuild_cost[f"{mult}x"] = {
            "corpus_vectors": n_vec,
            "rebuild_s": round(_time.perf_counter() - t0, 3),
        }
    rebuild_cost["growth"] = round(
        rebuild_cost["10x"]["rebuild_s"]
        / max(rebuild_cost["1x"]["rebuild_s"], 1e-9),
        2,
    )
    return {
        "n_batches": n_batches,
        "era_every": era_every,
        "threshold": threshold,
        "checkpoints": checkpoints,
        "rebuild_cost": rebuild_cost,
    }


_VOCAB = "the of and to a in is it you that he was for on are".split()


def _mixed_doc_batch(spark, b: int, n: int = 500):
    """A batch with a genuine QUALITY GRADIENT (the uniform _doc_batch
    corpus cannot bootstrap a trained gate — every doc's proxy NLL is
    identical, the labels collapse to one class, and train_quality_model
    rightly refuses): even positions are per-doc unique markers (so no
    two docs are near-dups — every shingle contains one), odd positions
    are common-vocabulary words for the first ``20 - 4·(id % 5)`` slots
    and additional unique markers after — id%5 is the doc's quality tier,
    giving a stopword-ratio AND rare-token-NLL gradient the proxy labels
    and the five features both see."""
    from pyspark.sql import functions as F

    varr = F.array(*[F.lit(w) for w in _VOCAB])
    tier = F.pmod(F.col("id"), F.lit(5))  # 0 best .. 4 worst
    toks = []
    for i in range(40):
        if i % 2 == 0:
            toks.append(F.concat(F.lit(f"u{b}x{i}n"), F.col("id")))
        else:
            vocab_tok = F.element_at(
                varr,
                (F.pmod(F.col("id") + F.lit(i), F.lit(15)) + 1).cast("int"),
            )
            rare_tok = F.concat(F.lit(f"r{b}x{i}n"), F.col("id"))
            toks.append(
                F.when(F.lit(i // 2) < 20 - tier * 4, vocab_tok).otherwise(
                    rare_tok
                )
            )
    return spark.range(b * n, (b + 1) * n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *toks).alias("text"),
    )


def _time_fullstack_batch(spark, path: str, model: dict, n: int) -> float:
    """Steady-state per-arrival cost of the TRAINED-GATE sink against the
    accumulated history — same rollback discipline as time_curate_batch
    (copy aside, time a fresh batch, restore) so every timing faces
    identical history."""
    import shutil as _sh

    from chainweb_data_spark.streaming.curation import curate_batch

    probe = _mixed_doc_batch(spark, 20_000)
    backup = path + "_backup"
    _sh.copytree(path, backup)
    best = float("inf")
    for _ in range(max(1, n)):
        t0 = time.perf_counter()
        curate_batch(
            spark, probe, path, batch_id=999_999, quality_model=model
        )
        best = min(best, time.perf_counter() - t0)
        _sh.rmtree(path)
        _sh.copytree(backup, path)
    _sh.rmtree(backup)
    return round(best, 3)


def fullstack_report(
    spark,
    n_batches: int = 100,
    compact_every: int = 16,
    bootstrap_at: int = 10,
) -> dict:
    """The FULL continuous-curation stack in one rehearsal (round-6
    verdict #9): the unified curation sink (all eight tables — five
    curation + the embedded dedup index — in one commit per batch) with
    the TRAINED quality gate active from batch ``bootstrap_at`` onward,
    and the streaming ANN index sink folding a vector batch beside it,
    for ``n_batches`` batches.  The long-run claims under test:

    - per-batch curation cost FLAT (hash probe + index probe are pruned
      to the batch's buckets; compaction bounds the live-file term),
    - ANN search cost growing only with CORPUS (members per probed
      cell), its file term bounded by compaction,
    - live file counts bounded across BOTH logs simultaneously.

    Batches 0..bootstrap_at-1 run the permissive heuristic cold start
    (min_quality low so the filler stratum reaches the curated history —
    a gate can only learn a contrast it has seen); then
    ``train_quality_model`` bootstraps the trained gate from the sink's
    own history, self-measured against its held-out AUC floor, and every
    later batch gates on the model logit."""
    import time as _time

    from chainweb_data_spark.operators import similarity as sim
    from chainweb_data_spark.streaming.ann_index import (
        MEMBERS_TABLE,
        ann_index_search,
        update_ann_index,
    )
    from chainweb_data_spark.streaming.curation import (
        curate_batch,
        train_quality_model,
    )
    from chainweb_data_spark.streaming.publish import read_manifest

    out_cur = os.path.join(WORK, "fullstack_cur")
    out_ann = os.path.join(WORK, "fullstack_ann")
    train = _vec_batch(spark, 0)
    cents = sim.ivf_train_kmeans(train, "vec_id", "embedding", 16)
    cb = sim.pq_train(train, "vec_id", "embedding", m=8, k=16)
    queries = _vec_batch(spark, 10_000, n=100).localCheckpoint(eager=True)

    marks = sorted(
        {max(bootstrap_at + 5, n_batches // 4), n_batches // 2, n_batches}
    )
    report: dict = {
        "n_batches": n_batches,
        "compact_every": compact_every,
        "bootstrap_at": bootstrap_at,
    }
    model: dict | None = None
    checkpoints: dict = {}
    pinned: dict | None = None
    for b in range(n_batches):
        if b == bootstrap_at:
            # round-8: a "training run" pins its dataset_snapshot version
            # HERE and re-reads it after the full run's compaction churn —
            # the retention-lease contract (pin_version) end to end
            from pyspark.sql import functions as F

            from chainweb_data_spark.streaming.curation import dataset_snapshot

            v, snap_df = dataset_snapshot(spark, out_cur, pin=True)
            pinned = {
                "version": v,
                "rows": snap_df.count(),
                "checksum": str(
                    snap_df.agg(
                        F.sum(
                            F.xxhash64("doc_id", "content_hash").cast(
                                "decimal(38,0)"
                            )
                        )
                    ).collect()[0][0]
                ),
            }
            model = train_quality_model(spark, out_cur)
            ev = model["eval"]
            report["gate_eval"] = {
                "auc": round(ev["auc"], 4),
                "precision_at_0": (
                    None
                    if ev["precision_at_0"] is None
                    else round(ev["precision_at_0"], 4)
                ),
                "n_train": ev["n_train"],
                "n_holdout": ev["n_holdout"],
            }
        s = curate_batch(
            spark,
            _mixed_doc_batch(spark, b),
            out_cur,
            batch_id=b,
            compact_every=compact_every,
            quality_model=model,
            **({} if model is not None else {"min_quality": 0.05}),
        )
        update_ann_index(
            spark, _vec_batch(spark, b), out_ann, b, cents, cb,
            compact_every=compact_every,
        )
        if b + 1 in marks:
            best = float("inf")
            for _ in range(2):
                t0 = _time.perf_counter()
                ann_index_search(
                    spark, out_ann, queries, cents, cb, nprobe=2, k=5
                ).collect()
                best = min(best, _time.perf_counter() - t0)
            mc = read_manifest(out_cur)
            ma = read_manifest(out_ann)
            checkpoints[str(b + 1)] = {
                "curate_s": _time_fullstack_batch(spark, out_cur, model, 2),
                "cur_live_files": sum(
                    len(v) for v in mc["tables"].values()
                ),
                "ann_search_s": round(best, 3),
                "ann_live_files": len(ma["tables"].get(MEMBERS_TABLE, [])),
                "n_kept_last": s["n_kept"],
                "n_quality_last": s["n_quality"],
            }
    report["checkpoints"] = checkpoints
    if pinned is not None:
        # after n_batches of appends + compaction sawteeth: the pinned
        # snapshot must re-read byte-identically (same rows, same
        # order-invariant checksum) — vacuum honored the lease
        from pyspark.sql import functions as F

        from chainweb_data_spark.streaming.curation import dataset_snapshot

        _, again = dataset_snapshot(spark, out_cur, version=pinned["version"])
        got = {
            "rows": again.count(),
            "checksum": str(
                again.agg(
                    F.sum(
                        F.xxhash64("doc_id", "content_hash").cast(
                            "decimal(38,0)"
                        )
                    )
                ).collect()[0][0]
            ),
        }
        report["pinned_snapshot"] = {
            **pinned,
            "reread_identical": got["rows"] == pinned["rows"]
            and got["checksum"] == pinned["checksum"],
        }
    return report


def main() -> None:
    from chainweb_data_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    longrun = "--longrun" in sys.argv[1:]
    ann_longrun = "--annlongrun" in sys.argv[1:]
    ann_retrain = "--annretrain" in sys.argv[1:]
    cur_longrun = "--curlongrun" in sys.argv[1:]
    fullstack = "--fullstack" in sys.argv[1:]
    mult = int(args[0]) if args else 10
    n = int(args[1]) if len(args) > 1 else 3
    spark = get_spark("cds-streaming-rehearsal")
    shutil.rmtree(WORK, ignore_errors=True)

    # the longrun regimes read the positional arg as N BATCHES, not the
    # 10x multiplier — left unset, each runs its documented default
    # (100 dedup / 60 ann batches), never the multiplier default of 10
    # (at 10 batches compact_every=16 would never fire and the
    # compacted-vs-raw comparison would be vacuous)
    if fullstack:
        print(json.dumps({
            "regime": "fullstack",
            "fullstack": fullstack_report(
                spark, n_batches=int(args[0]) if args else 100
            ),
        }))
        return

    if ann_longrun:
        print(json.dumps({
            "regime": "ann_longrun",
            "ann_index": ann_longrun_report(
                spark, n_batches=int(args[0]) if args else 60
            ),
        }))
        return

    if ann_retrain:
        print(json.dumps({
            "regime": "ann_retrain",
            "ann_retrain": ann_retrain_report(
                spark, n_batches=int(args[0]) if args else 32
            ),
        }))
        return

    if cur_longrun:
        print(json.dumps({
            "regime": "curation_longrun",
            "curation": curation_longrun_report(
                spark, n_batches=int(args[0]) if args else 60
            ),
        }))
        return

    if longrun:
        print(json.dumps({
            "regime": "longrun",
            "dedup_index": longrun_report(
                spark, n_batches=int(args[0]) if args else 100, n=n
            ),
        }))
        return

    result = {"multiplier": mult, "costs": {}}

    a1 = time_atomic_publish(spark, "hist1x", BASE_BUCKETS, n)
    a10 = time_atomic_publish(spark, "hist10x", BASE_BUCKETS * mult, n)
    result["costs"]["atomic_publish"] = {
        "base_s": a1, "scaled_s": a10, "growth": round(a10 / max(a1, 1e-9), 2)
    }

    s1 = build_stats_history(spark, "stats1x", 30)
    s10 = build_stats_history(spark, "stats10x", 30 * mult)
    w1 = time_stats_probe(spark, s1, 30, n)
    w10 = time_stats_probe(spark, s10, 30 * mult, n)
    result["costs"]["windowed_stats_probe"] = {
        "base_s": w1, "scaled_s": w10, "growth": round(w10 / max(w1, 1e-9), 2)
    }

    d1 = build_dedup_history(spark, "dedup1x", 2)
    d10 = build_dedup_history(spark, "dedup10x", 2 * mult)
    di1 = time_dedup_probe(spark, d1, n)
    di10 = time_dedup_probe(spark, d10, n)
    result["costs"]["dedup_index_probe"] = {
        "base_s": di1, "scaled_s": di10, "growth": round(di10 / max(di1, 1e-9), 2)
    }

    c1 = build_curation_history(spark, "cur1x", 2)
    c10 = build_curation_history(spark, "cur10x", 2 * mult)
    cu1 = time_curate_batch(spark, c1, n)
    cu10 = time_curate_batch(spark, c10, n)
    result["costs"]["curation_batch"] = {
        "base_s": cu1, "scaled_s": cu10, "growth": round(cu10 / max(cu1, 1e-9), 2)
    }

    print(json.dumps(result))


if __name__ == "__main__":
    main()
