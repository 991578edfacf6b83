"""Parquet checkpoints for the transaction log (streaming/publish.py,
r9): the O(live files) snapshot half of a checkpoint lives in a zstd
parquet sidecar while the commit JSON stays O(1) bytes — Delta's
checkpoint move, closing the module's former "known residual at extreme
file counts".  Covered here: thin-JSON form on disk, hydration
equivalence, crash-orphan sidecar reclamation (referenced sidecars never
deleted), and file skipping through sidecar-carried stats."""

import pytest
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import chainweb_data_spark.streaming.publish as pub
from chainweb_data_spark.streaming.publish import (
    publish_batch,
    read_manifest,
    read_published,
    vacuum,
)

PK = {"t": ("id",)}


def _batch(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(F.col("id"), (F.col("id") * 2).alias("val"))
        .coalesce(1)
    )


def _grow(spark, out, n, start=0):
    for i in range(n):
        lo = start + i * 10
        publish_batch(spark, {"t": _batch(spark, lo, lo + 10)}, out, pks=PK)


@pytest.mark.heavy
def test_checkpoint_json_is_thin_and_sidecar_hydrates(spark, tmp_path):
    out = str(tmp_path / "cp")
    _grow(spark, out, pub.CHECKPOINT_EVERY + 2)
    latest = read_manifest(out)["version"]
    ckpt_v = (latest // pub.CHECKPOINT_EVERY) * pub.CHECKPOINT_EVERY
    c = pub._load_commit(out, ckpt_v)
    # thin form: no inline file list, a sidecar reference + count instead
    assert "tables" not in c and "stats" not in c
    assert c["ckpt"].startswith(f"ckpt-v{ckpt_v}-")
    side = os.path.join(out, "_manifest", c["ckpt"])
    assert os.path.exists(side)
    assert c["n_files"] == pq.read_metadata(side).num_rows
    # hydration: resolving AT the checkpoint equals replaying the full log
    snap = read_manifest(out, ckpt_v)
    alive = {
        r["id"] for r in read_published(spark, out, "t", version=ckpt_v).collect()
    }
    # batches are 10 contiguous ids each; the checkpoint's view must be a
    # contiguous prefix (no lost or phantom batch through the sidecar)
    assert alive == set(range(0, len(alive)))
    assert len(alive) % 10 == 0 and len(alive) >= 10 * (ckpt_v - 2)
    assert snap["tables"]["t"]  # non-empty file list
    # stats rode the sidecar: per-file min/max present after hydration
    some_file = snap["tables"]["t"][0]
    assert snap["stats"]["t"][some_file]  # at least one column range


@pytest.mark.heavy
def test_orphan_sidecars_reclaimed_referenced_kept(spark, tmp_path):
    out = str(tmp_path / "or")
    _grow(spark, out, pub.CHECKPOINT_EVERY)
    mdir = os.path.join(out, "_manifest")
    live_sidecars = {
        pub._load_commit(out, v).get("ckpt")
        for v in range(1, read_manifest(out)["version"] + 1)
        if "ckpt" in pub._load_commit(out, v)
    }
    assert len(live_sidecars) >= 2  # v1 + the CHECKPOINT_EVERY boundary
    # plant orphans: a racing loser for an existing version, and a crash
    # before the commit link for a future version
    loser = os.path.join(mdir, "ckpt-v1-deadbeef0000.parquet")
    crash = os.path.join(mdir, "ckpt-v999-deadbeef0000.parquet")
    ref = next(iter(live_sidecars))
    import shutil

    shutil.copy(os.path.join(mdir, ref), loser)
    shutil.copy(os.path.join(mdir, ref), crash)
    removed = vacuum(out, keep_versions=0)
    assert os.path.join("_manifest", os.path.basename(loser)) in removed
    # a sidecar AHEAD of the latest commit is indistinguishable from an
    # IN-FLIGHT writer's (renamed, link not yet created) — r10: it always
    # gets the full grace window, even under explicit min_age_s=0, because
    # deleting it would break every resolve at that checkpoint after the
    # writer's os.link succeeds
    assert os.path.exists(crash)
    old = pub.time.time() - pub.VACUUM_GRACE_S - 5
    os.utime(crash, (old, old))
    removed = vacuum(out, keep_versions=0)
    assert os.path.join("_manifest", os.path.basename(crash)) in removed
    for name in live_sidecars:
        assert os.path.exists(os.path.join(mdir, name))
    # the store still resolves end to end after the sweep
    pub._SNAP_CACHE.clear()
    n = read_published(spark, out, "t").count()
    assert n >= 10 * (pub.CHECKPOINT_EVERY - 1)
    # grace window: a YOUNG orphan (concurrent writer mid-commit) survives
    shutil.copy(os.path.join(mdir, ref), crash)
    assert vacuum(out, keep_versions=0, min_age_s=3600) == []
    assert os.path.exists(crash)


@pytest.mark.heavy
def test_file_skipping_through_sidecar_stats(spark, tmp_path):
    """read_published(where=...) must keep pruning files whose min/max
    ranges exclude the predicate when the stats come from a parquet
    checkpoint, not inline JSON."""
    out = str(tmp_path / "fs")
    _grow(spark, out, pub.CHECKPOINT_EVERY)
    ckpt_v = pub.CHECKPOINT_EVERY
    pub._SNAP_CACHE.clear()
    snap = read_manifest(out, ckpt_v)
    n_all = len(snap["tables"]["t"])
    assert n_all >= pub.CHECKPOINT_EVERY - 1  # one file per batch
    per_file = snap["stats"]["t"]
    picked = [
        f
        for f in snap["tables"]["t"]
        if pub._file_may_match(per_file.get(f), {"id": (5, 14)})
    ]
    assert 1 <= len(picked) <= 2  # two disjoint 10-row batches overlap
    rows = read_published(
        spark, out, "t", version=ckpt_v, where={"id": (5, 14)}
    )
    got = {r["id"] for r in rows.collect() if 5 <= r["id"] <= 14}
    assert got == set(range(5, 15))
