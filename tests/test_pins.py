"""Retention leases (streaming/publish.py pin_version/unpin_version):
a pinned snapshot's files survive compaction + vacuum cycles arbitrarily
far past the keep_versions horizon — the dataset_snapshot provenance
contract — and an unpin releases them for reclamation."""

import os

import pytest

import chainweb_data_spark.streaming.publish as pub
from chainweb_data_spark.streaming.publish import (
    compact_published,
    pin_version,
    pinned_versions,
    publish_batch,
    read_manifest,
    read_published,
    unpin_version,
    vacuum,
)

PK = {"t": ("id",)}


def _batch(spark, lo, hi):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(F.col("id"), (F.col("id") * 2).alias("val"))
        .coalesce(1)
    )


def _rows(df):
    return sorted((r["id"], r["val"]) for r in df.collect())


def _churn(spark, out, rounds, start):
    """Publish + compact + aggressive vacuum ``rounds`` times — each
    cycle rewrites the live file set, so any unpinned old snapshot's
    files fall outside retention immediately."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pub, "MAINT_KEEP_VERSIONS", 0)
        for i in range(rounds):
            lo = start + i * 10
            publish_batch(spark, {"t": _batch(spark, lo, lo + 10)}, out, pks=PK)
            compact_published(spark, out, "t")
            vacuum(out, keep_versions=0)


def test_pin_survives_compaction_and_vacuum_cycles(spark, tmp_path):
    out = str(tmp_path / "p1")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    publish_batch(spark, {"t": _batch(spark, 10, 20)}, out, pks=PK)
    v_pin = read_manifest(out)["version"]
    want = _rows(read_published(spark, out, "t", version=v_pin))
    pin_version(out, v_pin, name="training-run-7")
    assert pinned_versions(out) == {v_pin: "training-run-7"}

    # churn far past any keep_versions horizon (MAINT_KEEP_VERSIONS = 2)
    _churn(spark, out, rounds=pub.MAINT_KEEP_VERSIONS + 3, start=20)

    # the pinned snapshot re-reads byte-identically
    got = read_published(spark, out, "t", version=v_pin)
    assert _rows(got) == want
    # and the lease itself survived the churn's commits
    assert pinned_versions(out) == {v_pin: "training-run-7"}


def test_unpin_releases_files_for_reclamation(spark, tmp_path):
    out = str(tmp_path / "p2")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    v_pin = read_manifest(out)["version"]
    pin_version(out, v_pin)
    _churn(spark, out, rounds=2, start=10)
    pinned_files = set(
        read_manifest(out, v_pin)["tables"]["t"]
    )  # still on disk under the lease
    tdir = os.path.join(out, "t.parquet")
    assert all(os.path.exists(os.path.join(tdir, f)) for f in pinned_files)

    unpin_version(out, v_pin)
    assert pinned_versions(out) == {}
    removed = vacuum(out, keep_versions=0)
    # the compacted-away originals are now reclaimable ...
    assert any(f.split(os.sep, 1)[-1] in r for f in pinned_files for r in removed)
    # ... and the pinned read fails loudly, not wrongly
    with pytest.raises(Exception):
        read_published(spark, out, "t", version=v_pin).collect()


def test_pin_refuses_uncommitted_or_reclaimed_versions(spark, tmp_path):
    out = str(tmp_path / "p3")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    with pytest.raises(ValueError, match="not in committed range"):
        pin_version(out, 99)
    v_old = read_manifest(out)["version"]
    _churn(spark, out, rounds=2, start=10)
    # v_old's file was compacted away and vacuumed — the lease would
    # promise a read that can never succeed
    with pytest.raises(ValueError, match="no longer re-readable"):
        pin_version(out, v_old)


def test_unpin_without_active_pin_refused(spark, tmp_path):
    out = str(tmp_path / "p4")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    with pytest.raises(ValueError, match="no active pin"):
        unpin_version(out, 1)


def test_pin_commit_on_checkpoint_boundary(spark, tmp_path, monkeypatch):
    # a pin landing exactly on a CHECKPOINT_EVERY-th version takes the
    # full-snapshot commit form — the pin field must persist there too
    monkeypatch.setattr(pub, "CHECKPOINT_EVERY", 2)
    out = str(tmp_path / "p5")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    while (read_manifest(out)["version"] + 1) % 2 != 0:
        publish_batch(
            spark,
            {"t": _batch(spark, 100, 110)},
            out,
            pks=PK,
        )
    v = read_manifest(out)["version"]
    pin_version(out, v, name="ckpt")
    assert (v + 1) % 2 == 0  # the pin commit itself was a checkpoint
    assert pinned_versions(out) == {v: "ckpt"}


def test_dataset_snapshot_pin_flag(spark, tmp_path):
    from pyspark.sql import functions as F

    from chainweb_data_spark.streaming.curation import dataset_snapshot

    out = str(tmp_path / "p6")
    docs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"), F.lit("body text").alias("text")
    )
    publish_batch(
        spark, {"curated_docs": docs}, out, pks={"curated_docs": ("doc_id",)}
    )
    v, df = dataset_snapshot(spark, out, pin=True)
    assert df.count() == 20
    assert pinned_versions(out) == {v: "dataset_snapshot"}


@pytest.mark.heavy
def test_pins_folded_into_checkpoints_bounds_the_scan(spark, tmp_path):
    """r9 (ADVICE): pinned_versions must replay O(CHECKPOINT_EVERY)
    commits, not the whole log — checkpoints carry the folded pin set,
    and the fold survives pins/unpins committed across several
    checkpoint boundaries."""
    out = str(tmp_path / "pf")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    pin_version(out, 1, name="keep-1")
    # churn across at least two checkpoint boundaries, pinning/unpinning
    # along the way so the fold has real state to carry
    for i in range(2 * pub.CHECKPOINT_EVERY + 3):
        lo = 10 + i * 10
        publish_batch(spark, {"t": _batch(spark, lo, lo + 10)}, out, pks=PK)
    v_mid = read_manifest(out)["version"]
    pin_version(out, v_mid, name="keep-mid")
    unpin_version(out, 1)
    for i in range(pub.CHECKPOINT_EVERY + 2):
        lo = 1000 + i * 10
        publish_batch(spark, {"t": _batch(spark, lo, lo + 10)}, out, pks=PK)
    latest = read_manifest(out)["version"]
    assert latest > 3 * pub.CHECKPOINT_EVERY

    # ground truth: full replay from v1
    full = {}
    for v in range(1, latest + 1):
        c = pub._load_commit(out, v)
        p = c.get("pin")
        if p and c.get("op") == "pin":
            full[int(p["version"])] = p.get("name")
        elif p and c.get("op") == "unpin":
            full.pop(int(p["version"]), None)
    assert pinned_versions(out) == full == {v_mid: "keep-mid"}

    # the newest checkpoint carries the fold, and the walk stops there:
    # count the commits _pins_at actually loads
    ckpt = (latest // pub.CHECKPOINT_EVERY) * pub.CHECKPOINT_EVERY
    assert "pins" in pub._load_commit(out, ckpt)
    loads = []
    orig = pub._load_commit

    def counting(out_dir, version):
        loads.append(version)
        return orig(out_dir, version)

    try:
        pub._load_commit = counting
        got = pinned_versions(out)
    finally:
        pub._load_commit = orig
    assert got == full
    assert len(loads) <= pub.CHECKPOINT_EVERY
    assert min(loads) >= ckpt


def test_pin_lost_race_with_vacuum_fails_loudly(spark, tmp_path, monkeypatch):
    """r9 (ADVICE): a vacuum that reclaims the files BETWEEN pin_version's
    pre-check and its commit must surface as a loud error with the lease
    released — never a silently unreadable pin.  Interleave by deleting
    the files from inside the commit write."""
    out = str(tmp_path / "pr")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    v_old = read_manifest(out)["version"]
    publish_batch(spark, {"t": _batch(spark, 10, 20)}, out, pks=PK)
    monkeypatch.setattr(pub, "MAINT_KEEP_VERSIONS", 0)
    compact_published(spark, out, "t")
    old_files = read_manifest(out, v_old)["tables"]["t"]

    orig = pub._write_manifest

    def racing(out_dir, manifest):
        orig(out_dir, manifest)
        if manifest.get("op") == "pin":
            # the concurrent vacuum wins: files reclaimed post-commit
            for rel in old_files:
                f = os.path.join(out_dir, "t.parquet", rel)
                if os.path.exists(f):
                    os.remove(f)

    monkeypatch.setattr(pub, "_write_manifest", racing)
    with pytest.raises(ValueError, match="concurrent vacuum"):
        pin_version(out, v_old, name="doomed")
    monkeypatch.setattr(pub, "_write_manifest", orig)
    # the hollow lease was released, not left dangling
    assert v_old not in pinned_versions(out)


def test_vacuum_detects_hollow_lease(spark, tmp_path):
    """r10 (ADVICE): pin_version's loud-failure guarantee needs the
    pinning process to SURVIVE to its post-commit re-verify — a crash in
    that window leaves a lease whose files are already gone, and until
    now nothing ever noticed.  vacuum's sweep sees every on-disk file, so
    it now warns when a pinned snapshot references a file the walk never
    found."""
    import warnings

    out = str(tmp_path / "hl")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    publish_batch(spark, {"t": _batch(spark, 10, 20)}, out, pks=PK)
    v_pin = read_manifest(out)["version"]
    pin_version(out, v_pin, name="provenance")

    # healthy lease: the sweep stays silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        vacuum(out, keep_versions=0)

    # simulate the crash window: a pinned data file reclaimed out-of-band
    victim = read_manifest(out, v_pin)["tables"]["t"][0]
    os.remove(os.path.join(out, "t.parquet", victim))
    with pytest.warns(RuntimeWarning, match="HOLLOW"):
        vacuum(out, keep_versions=0)
    # detection does not auto-release: the lease (the provenance evidence)
    # survives for the operator to investigate
    assert v_pin in pinned_versions(out)
