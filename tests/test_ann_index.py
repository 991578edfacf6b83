"""Incremental streaming ANN index (streaming/ann_index.py): the folded
index must answer searches exactly like the one-shot in-plan IVFPQ over the
same corpus, replays must merge to nothing, and the sink wrapper must build
the same index through a real stream with checkpointed batch ids."""

import pytest

import os

from pyspark.sql import functions as F

from chainweb_data_spark.operators import similarity as sim
from chainweb_data_spark.streaming.ann_index import (
    MEMBERS_TABLE,
    ann_index_search,
    ann_index_sink,
    update_ann_index,
)
from chainweb_data_spark.streaming.publish import read_manifest, read_published

NPROBE, K = 2, 4


def _vec_rows(lo, hi):
    rows = []
    for i in range(lo, hi):
        base = [(1.0 if (j // 4) % 4 == i % 4 else 0.1) for j in range(16)]
        rows.append((i, [b + (i % 5) * 2e-3 * ((j % 3) - 1) for j, b in enumerate(base)]))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _quantizer(spark, rows):
    df = _df(spark, rows)
    cents = sim.ivf_train_kmeans(df, "vec_id", "embedding", 4)
    cb = sim.pq_train(df, "vec_id", "embedding", m=4, k=8)
    return cents, cb


def _pairs(df):
    return sorted(
        (r["vec_id"], r["neighbor_id"], r["adc"]) for r in df.collect()
    )


@pytest.mark.heavy
def test_incremental_index_equals_oneshot_ivfpq(spark, tmp_path):
    out = str(tmp_path / "idx")
    all_rows = _vec_rows(0, 60)
    cents, cb = _quantizer(spark, all_rows)

    for b, (lo, hi) in enumerate(((0, 20), (20, 40), (40, 60))):
        n = update_ann_index(
            spark, _df(spark, _vec_rows(lo, hi)), out, b, cents, cb
        )
        assert n == 20

    full = _df(spark, all_rows)
    got = ann_index_search(
        spark, out, full, cents, cb, nprobe=NPROBE, k=K
    )
    want = sim.ivfpq_topk(
        full, "vec_id", "embedding", cents, cb, nprobe=NPROBE, k=K
    )
    assert _pairs(got) == _pairs(want)

    # the index is clustered by cell: one key_bucket dir per live cell
    members = read_published(spark, out, MEMBERS_TABLE)
    assert members.count() == 60
    assert "key_bucket" in members.columns


@pytest.mark.heavy
def test_replayed_batch_merges_to_nothing(spark, tmp_path):
    out = str(tmp_path / "idx2")
    rows = _vec_rows(0, 30)
    cents, cb = _quantizer(spark, rows)
    update_ann_index(spark, _df(spark, rows[:15]), out, 0, cents, cb)
    update_ann_index(spark, _df(spark, rows[15:]), out, 1, cents, cb)
    before = read_published(spark, out, MEMBERS_TABLE).count()
    v_before = read_manifest(out)["version"]
    # crash-replay of batch 1: identical content, PK anti-join drops it all
    update_ann_index(spark, _df(spark, rows[15:]), out, 1, cents, cb)
    after = read_published(spark, out, MEMBERS_TABLE)
    assert after.count() == before == 30
    assert after.select("vec_id").distinct().count() == 30
    # a fully-duplicate replay stages nothing and burns NO version
    # (empty deltas would shrink the retention horizon)
    assert read_manifest(out)["version"] == v_before


@pytest.mark.heavy
def test_sink_wrapper_builds_same_index(spark, tmp_path):
    feed = str(tmp_path / "feed")
    out = str(tmp_path / "idx3")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed)
    rows = _vec_rows(0, 40)
    cents, cb = _quantizer(spark, rows)

    _df(spark, rows[:20]).coalesce(1).write.mode("append").parquet(feed)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(feed)
    q = ann_index_sink(stream, out, ckpt, cents, cb, compact_every=None)
    q.awaitTermination(300)
    assert read_published(spark, out, MEMBERS_TABLE).count() == 20

    # second tranche through the SAME checkpoint: only new files process
    _df(spark, rows[20:]).coalesce(1).write.mode("append").parquet(feed)
    stream2 = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(feed)
    q2 = ann_index_sink(stream2, out, ckpt, cents, cb, compact_every=None)
    q2.awaitTermination(300)

    members = read_published(spark, out, MEMBERS_TABLE)
    assert members.count() == 40
    # searches through the sink-built index match the one-shot plan
    full = _df(spark, rows)
    got = ann_index_search(spark, out, full, cents, cb, nprobe=NPROBE, k=K)
    want = sim.ivfpq_topk(
        full, "vec_id", "embedding", cents, cb, nprobe=NPROBE, k=K
    )
    assert _pairs(got) == _pairs(want)


def test_search_empty_index_is_schema_stable(spark, tmp_path):
    out = str(tmp_path / "idx4")
    rows = _vec_rows(0, 8)
    cents, cb = _quantizer(spark, rows)
    res = ann_index_search(spark, out, _df(spark, rows), cents, cb)
    assert res.count() == 0
    assert [f.name for f in res.schema.fields] == ["vec_id", "neighbor_id", "adc"]
    # a non-default id_col keeps the SAME schema in the empty and
    # non-empty paths (the empty path must not hardcode vec_id)
    q2 = _df(spark, rows).withColumnRenamed("vec_id", "doc_id")
    res2 = ann_index_search(spark, out, q2, cents, cb, id_col="doc_id")
    assert [f.name for f in res2.schema.fields] == ["doc_id", "neighbor_id", "adc"]


def test_search_exclude_self_is_for_shared_id_spaces(spark, tmp_path):
    """exclude_self=True (default) drops id-equal pairs — right when
    queries ARE members.  A foreign-id query batch passes False: the
    id-equal member is a DIFFERENT object and must compete (here it is
    the query's exact vector, so it comes back as the top neighbor)."""
    out = str(tmp_path / "idx6")
    rows = _vec_rows(0, 30)
    cents, cb = _quantizer(spark, rows)
    update_ann_index(spark, _df(spark, rows), out, 0, cents, cb)

    q = _df(spark, rows[:1])  # external query that happens to carry id 0
    with_self = ann_index_search(
        spark, out, q, cents, cb, nprobe=NPROBE, k=K, exclude_self=False
    ).collect()
    without = ann_index_search(
        spark, out, q, cents, cb, nprobe=NPROBE, k=K
    ).collect()
    neigh_with = {r["neighbor_id"] for r in with_self}
    neigh_without = {r["neighbor_id"] for r in without}
    assert 0 in neigh_with and 0 not in neigh_without
    top = max(with_self, key=lambda r: (r["adc"], -r["neighbor_id"]))
    assert top["neighbor_id"] == 0  # its own stored twin wins


def test_search_prunes_to_probed_cells(spark, tmp_path):
    """With prune_cells, a single-query search pushes the probed cells as a
    partition filter — the index scan reads fewer files than the index
    holds — and returns exactly the unpruned results."""
    out = str(tmp_path / "idx5")
    rows = _vec_rows(0, 60)
    cents, cb = _quantizer(spark, rows)
    update_ann_index(spark, _df(spark, rows), out, 0, cents, cb)

    one = _df(spark, rows[:1])
    pruned = ann_index_search(spark, out, one, cents, cb, nprobe=1, k=K)
    loose = ann_index_search(
        spark, out, one, cents, cb, nprobe=1, k=K, prune_cells=False
    )
    assert _pairs(pruned) == _pairs(loose)

    probed = {
        f"c{r['cell']}"
        for r in sim.pq_assign_cells(one, "vec_id", "embedding", cents, 1)
        .select(F.explode("probe_cells").alias("cell"))
        .collect()
    }
    assert len(probed) == 1
    # the probed-cell filter reaches the scan as a PARTITION filter (split
    # planning then skips the other cells' directories entirely)
    filtered = read_published(spark, out, MEMBERS_TABLE).filter(
        F.col("key_bucket").isin(list(probed))
    )
    filtered.collect()
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(key_bucket" in plan
    assert f"= {next(iter(probed))}" in plan


def _drifted_rows(lo, hi, shift):
    """Vectors whose cluster structure CONCENTRATES as ``shift`` grows:
    shift=0 spreads over 4 groups (the trained layout), shift=2 collapses
    arrivals onto 2 of them — the drift that piles a frozen quantizer's
    occupancy into hot cells."""
    n_groups = max(1, 4 - shift)
    rows = []
    for i in range(lo, hi):
        g = i % n_groups
        base = [
            (1.0 if (j // 4) % 4 == g else 0.05 + 0.02 * shift)
            for j in range(16)
        ]
        rows.append(
            (i, [b + (i % 7) * 1e-3 * ((j % 5) - 2) for j, b in enumerate(base)])
        )
    return rows


@pytest.mark.heavy
def test_quantizer_digest_pins_fold_and_search(spark, tmp_path):
    import pytest as pt

    from chainweb_data_spark.streaming.ann_index import (
        QuantizerMismatchError,
        META_TABLE,
    )

    out = str(tmp_path / "pin")
    rows = _vec_rows(0, 30)
    cents, cb = _quantizer(spark, rows)
    update_ann_index(spark, _df(spark, rows), out, 0, cents, cb)
    # the first fold pinned the digest in the same commit
    meta = read_published(spark, out, META_TABLE).collect()
    assert len(meta) == 1 and meta[0]["epoch"] == 0

    other_c, other_b = _quantizer(spark, _vec_rows(100, 140))
    with pt.raises(QuantizerMismatchError, match="mismatched quantizer"):
        update_ann_index(
            spark, _df(spark, _vec_rows(30, 40)), out, 1, other_c, other_b
        )
    with pt.raises(QuantizerMismatchError, match="mismatched quantizer"):
        ann_index_search(
            spark, out, _df(spark, rows[:3]), other_c, other_b, k=2
        )


@pytest.mark.heavy
def test_stats_track_imbalance_per_batch(spark, tmp_path):
    from chainweb_data_spark.streaming.ann_index import (
        STATS_TABLE,
        ann_index_imbalance,
        cell_occupancy,
    )

    out = str(tmp_path / "stats")
    rows = _vec_rows(0, 60)
    cents, cb = _quantizer(spark, rows)
    for b, (lo, hi) in enumerate(((0, 20), (20, 40), (40, 60))):
        update_ann_index(spark, _df(spark, _vec_rows(lo, hi)), out, b, cents, cb)
    stats = sorted(
        (r["batch_id"], r["n_added"], r["imbalance"])
        for r in read_published(spark, out, STATS_TABLE).collect()
    )
    assert [s[0] for s in stats] == [0, 1, 2]
    assert all(s[1] == 20 for s in stats)
    # the last logged estimate equals the live footer-count measure
    assert stats[-1][2] == ann_index_imbalance(out, len(cents))
    assert sum(cell_occupancy(out).values()) == 60
    # balanced fixture: near-uniform occupancy
    assert stats[-1][2] < 2.0


@pytest.mark.heavy
def test_rebuild_recenters_and_is_one_flip(spark, tmp_path):
    import numpy as np

    from chainweb_data_spark.streaming.ann_index import (
        META_TABLE,
        ann_index_imbalance,
        rebuild_ann_index,
    )
    from chainweb_data_spark.streaming.publish import history

    out = str(tmp_path / "rb")
    rows0 = _drifted_rows(0, 40, shift=0)
    cents, cb = _quantizer(spark, rows0)
    update_ann_index(spark, _df(spark, rows0), out, 0, cents, cb)
    # drifted arrivals pile into few cells — imbalance rises
    drift = _drifted_rows(40, 160, shift=2)
    update_ann_index(spark, _df(spark, drift), out, 1, cents, cb)
    imb_before = ann_index_imbalance(out, len(cents))

    all_vecs = _df(spark, rows0 + drift)
    new_c, new_b = rebuild_ann_index(
        spark, out, all_vecs, n_cells=4, m=4, k_codes=8
    )
    v_rebuild = read_manifest(out)["version"]
    assert history(out)[-1]["op"] == "rebuild"  # ONE commit swapped it all
    imb_after = ann_index_imbalance(out, 4)
    assert imb_after < imb_before  # recentring flattened the cells
    meta = sorted(
        r["epoch"] for r in read_published(spark, out, META_TABLE).collect()
    )
    assert meta == [0, 1]

    # searches must use the NEW quantizer; results match one-shot IVFPQ
    got = ann_index_search(spark, out, all_vecs, new_c, new_b, nprobe=2, k=3)
    want = sim.ivfpq_topk(
        all_vecs, "vec_id", "embedding", new_c, new_b, nprobe=2, k=3
    )
    assert _pairs(got) == _pairs(want)

    # replay-idempotence: re-running the rebuild (a crashed run's retry)
    # trains the same quantizer and leaves an equivalent index
    new_c2, new_b2 = rebuild_ann_index(
        spark, out, all_vecs, n_cells=4, m=4, k_codes=8
    )
    assert np.array_equal(new_c, new_c2) and np.array_equal(new_b, new_b2)
    assert read_published(spark, out, MEMBERS_TABLE).count() == 160
    got2 = ann_index_search(spark, out, all_vecs, new_c2, new_b2, nprobe=2, k=3)
    assert _pairs(got2) == _pairs(got)
    assert read_manifest(out)["version"] == v_rebuild + 1  # one more flip


@pytest.mark.heavy
def test_maybe_rebuild_trigger(spark, tmp_path):
    from chainweb_data_spark.streaming.ann_index import maybe_rebuild_ann_index

    out = str(tmp_path / "trig")
    rows0 = _drifted_rows(0, 40, shift=0)
    cents, cb = _quantizer(spark, rows0)
    update_ann_index(spark, _df(spark, rows0), out, 0, cents, cb)
    all_vecs = _df(spark, rows0)
    # balanced: below threshold, frozen quantizer rides through unchanged
    r = maybe_rebuild_ann_index(spark, out, all_vecs, cents, cb, threshold=2.0)
    assert not r["rebuilt"] and r["centroids"] is cents

    drift = _drifted_rows(40, 160, shift=2)
    update_ann_index(spark, _df(spark, drift), out, 1, cents, cb)
    all_vecs = _df(spark, rows0 + drift)
    r2 = maybe_rebuild_ann_index(
        spark, out, all_vecs, cents, cb, threshold=1.2, n_cells=4
    )
    assert r2["rebuilt"] and r2["imbalance"] > 1.2
    # the returned arrays are the index's pinned quantizer now
    ann_index_search(
        spark, out, all_vecs, r2["centroids"], r2["codebooks"], k=2
    ).collect()
