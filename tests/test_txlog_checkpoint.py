"""Checkpoint commits and the maintenance path of the transaction log
(streaming/publish.py): every checkpoint sidecar is the parent snapshot
folded with the commit's own delta (`_write_checkpoint` over the one
resolver, `_snapshot`), every writer commits delta-form
(`_commit_delta`), and vacuum / pin_version / unpin_version run on the
driver without a Spark job.

The load-bearing property: a checkpoint's sidecar holds exactly the
parent snapshot folded with the checkpoint's own delta (same rows, same
order, same stats encoding), so every sidecar consumer reads the same
snapshot a delta replay would."""

import json
import os
import warnings

import pytest

import chainweb_data_spark.streaming.publish as pub
from tests.test_delta_spill import _added_between
from chainweb_data_spark.streaming.publish import (
    pin_version,
    publish_batch,
    read_manifest,
    read_published,
    unpin_version,
    vacuum,
)

PK = {"t": ("id",)}

#: the u files `_meta_commit` added to each store, oldest first
_HELPER_U: dict[str, list[str]] = {}


def _meta_commit(out):
    """One synthetic delta commit named after its version: adds a file to
    two tables (the t file with stats), and every 5th version also
    removes the oldest u file this helper added that is still live."""
    v = pub._latest_version(out) + 1
    add = {
        "t": [f"height_bucket={v % 4}/part-{v:04d}.parquet"],
        "u": [f"part-u-{v:04d}.parquet"],
    }
    stats_add = {"t": {add["t"][0]: {"id": [v * 10, v * 10 + 9]}}}
    remove = {}
    mine = _HELPER_U.setdefault(out, [])
    if v % 5 == 0 and mine:
        victim = mine.pop(0)
        live_u = pub._live_files(out, v - 1, "u")
        assert victim in live_u, f"v{v}: {victim} is not live"
        remove = {"u": [victim]}
    pub._commit_delta(out, v, add, remove, stats_add, op="publish")
    mine.append(add["u"][0])


def _seed(out, n_files):
    """Commit v1: ``n_files`` t files with stats, through the one
    checkpoint builder like every other v1."""
    os.makedirs(out, exist_ok=True)
    files = [f"height_bucket=0/seed-{k:04d}.parquet" for k in range(n_files)]
    pub._commit_delta(
        out, 1, {"t": files}, {},
        {"t": {f: {"id": [-k - 1, -k - 1]} for k, f in enumerate(files)}},
        op="seed",
    )


def _grow_meta(out, n, seed_files=0):
    _seed(out, seed_files)
    for _ in range(n):
        _meta_commit(out)


def _materialize(out, version):
    """Write a placeholder data file for every file of ``version`` (the
    stores here are metadata-only; pin_version probes the files)."""
    for t, fs in read_manifest(out, version)["tables"].items():
        for rel in fs:
            p = os.path.join(out, f"{t}.parquet", rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            if not os.path.exists(p):
                with open(p, "wb") as f:
                    f.write(b"d")


def _stats_json(s):
    return json.dumps(s, separators=(",", ":")) if s else None


def test_checkpoint_sidecar_is_parent_resolve_folded_with_its_delta(
    spark, tmp_path, monkeypatch
):
    """Each checkpoint sidecar (v1, v16, v32) holds exactly the rows of a
    cache-cleared ``read_manifest(v - 1)`` folded with that commit's
    delta, in (table, file) order — over removes, stats, a pin and an
    unpin, a spilled delta inside the v16 window and a spilled delta ON
    v32.  The builder never builds the dict snapshot, and a job group
    set around the checkpoint commits, vacuum, pin_version and
    unpin_version records no Spark job."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "fold")
    own = {}
    real_build = pub._write_checkpoint
    real_manifest = pub.read_manifest

    def spy(out_dir, version, add, remove, stats_add):
        own[version] = (
            {t: list(fs) for t, fs in add.items()},
            {t: list(fs) for t, fs in remove.items()},
            {t: dict(per) for t, per in stats_add.items()},
        )
        return real_build(out_dir, version, add, remove, stats_add)

    def boom(*a, **k):
        raise AssertionError("the checkpoint path built the dict snapshot")

    def spilled_rewrite(version):
        live = pub._live_files(out, version - 1, "t")
        new = [f"height_bucket=9/rw-{version}-{k}.parquet" for k in range(6)]
        monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", 4)
        pub._commit_delta(
            out, version, {"t": new}, {"t": live},
            {"t": {f: {"id": [k, k + 1]} for k, f in enumerate(new)}},
            op="rewrite",
        )
        monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", 10**9)
        assert "delta" in pub._load_commit(out, version)

    monkeypatch.setattr(pub, "_write_checkpoint", spy)
    monkeypatch.setattr(pub, "read_manifest", boom)
    pub._SNAP_CACHE.clear()
    sc = spark.sparkContext
    sc.setJobGroup("txlog-one-path", "checkpoints and maintenance")
    try:
        _seed(out, 3)
        while pub._latest_version(out) < 6:
            _meta_commit(out)
        spilled_rewrite(7)
        while pub._latest_version(out) < pub.CHECKPOINT_EVERY - 1:
            _meta_commit(out)
        _materialize(out, 12)
        pin_version(out, 12, name="lease")  # lands on v16
        while pub._latest_version(out) < 19:
            _meta_commit(out)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            vacuum(out, keep_versions=99)
        unpin_version(out, 12)
        while pub._latest_version(out) < 2 * pub.CHECKPOINT_EVERY - 1:
            _meta_commit(out)
        spilled_rewrite(2 * pub.CHECKPOINT_EVERY)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("txlog-one-path") == []
    monkeypatch.setattr(pub, "read_manifest", real_manifest)

    c16 = pub._load_commit(out, pub.CHECKPOINT_EVERY)
    c32 = pub._load_commit(out, 2 * pub.CHECKPOINT_EVERY)
    assert c16["op"] == "pin" and c16["pins"] == {"12": "lease"}
    assert "delta" in c32 and c32["pins"] == {}
    for v in (1, pub.CHECKPOINT_EVERY, 2 * pub.CHECKPOINT_EVERY):
        pub._SNAP_CACHE.clear()
        parent = real_manifest(out, v - 1)
        add, remove, stats_add = own[v]
        rows = {
            (t, f): _stats_json(parent["stats"].get(t, {}).get(f))
            for t, fs in parent["tables"].items()
            for f in fs
        }
        for t, fs in remove.items():
            for f in fs:
                del rows[(t, f)]
        for t, fs in add.items():
            for f in fs:
                rows[(t, f)] = _stats_json(stats_add.get(t, {}).get(f))
        want = sorted((t, f, s) for (t, f), s in rows.items())
        c = pub._load_commit(out, v)
        got = pq.read_table(os.path.join(out, "_manifest", c["ckpt"]))
        assert got.column_names == ["table", "file", "stats"]
        got = got.to_pydict()
        assert list(zip(got["table"], got["file"], got["stats"])) == want, v
        assert c["n_files"] == len(want)
        counts = {}
        for t, _f, _s in want:
            counts[t] = counts.get(t, 0) + 1
        assert c["n_files_by_table"] == counts
        assert c["table_names"] == sorted(counts)


def test_checkpoints_carry_their_delta_for_race_detection(
    tmp_path, monkeypatch
):
    """Checkpoint commits record their own add/remove in the O(1) JSON,
    so race detection (_added_dirs_between) never resolves a snapshot
    when a checkpoint lands inside a race window."""
    out = str(tmp_path / "rd")
    _grow_meta(out, pub.CHECKPOINT_EVERY)
    c = pub._load_commit(out, pub.CHECKPOINT_EVERY)
    assert "ckpt" in c and "add" in c, sorted(c)

    def boom(*a, **k):
        raise AssertionError(
            "race detection resolved a full snapshot despite the "
            "checkpoint carrying its delta"
        )

    window = (pub.CHECKPOINT_EVERY - 2, pub.CHECKPOINT_EVERY)
    monkeypatch.setattr(pub, "_snapshot", boom)
    dirs = pub._added_dirs_between(out, *window)
    monkeypatch.undo()
    # the window spans a delta + the checkpoint: adds fold from the
    # commit JSONs alone, and agree with the file-level reference
    ref = _added_between(out, *window)
    assert ref["t"] and ref["u"]
    assert dirs == {t: {os.path.dirname(f) for f in fs} for t, fs in ref.items()}


def test_maintenance_ops_commit_delta_form(spark, tmp_path, monkeypatch):
    """compact / z-order / expire must write delta commits (add/remove,
    no full snapshot) off checkpoint boundaries — the form that keeps
    every maintenance commit O(changed files)."""
    from chainweb_data_spark.sources.maintenance import (
        expire_files,
        rewrite_zordered,
    )

    monkeypatch.setattr(pub, "MAINT_KEEP_VERSIONS", 99)
    out = str(tmp_path / "mf")
    for i in range(3):
        publish_batch(
            spark,
            {"t": spark.range(i * 10, i * 10 + 10).selectExpr(
                "id", "id * 2 as val", "id % 4 as height_bucket")},
            out,
            pks=PK,
        )
    pub.compact_published(spark, out, "t")
    v = pub._latest_version(out)
    c = pub._load_commit(out, v)
    assert c["op"] == "compact" and "tables" not in c and "ckpt" not in c
    assert c["add"] and c["remove"]

    rewrite_zordered(spark, out, "t", ["id"], target_files=2)
    c = pub._load_commit(out, pub._latest_version(out))
    assert c["op"] == "zorder" and "tables" not in c
    assert c["add"]["t"] and c["remove"]["t"]

    res = expire_files(spark, out, "t", "id", 10**9)
    assert res["removed"] > 0
    c = pub._load_commit(out, pub._latest_version(out))
    assert c["op"] == "expire" and "tables" not in c
    assert c.get("remove", {}).get("t") and "add" not in c
    # the table still resolves and reads coherently after all three
    pub._SNAP_CACHE.clear()
    assert read_published(spark, out, "t") is None  # everything expired


def test_hidden_dir_orphans_are_reclaimed(spark, tmp_path):
    """A crashed non-staged writer's _temporary tree inside a table dir
    is reclaimed: vacuum walks hidden subdirectories and filters only
    hidden file names."""
    out = str(tmp_path / "hd")
    publish_batch(
        spark,
        {"t": spark.range(0, 10).selectExpr("id", "id % 4 as height_bucket")},
        out,
        pks=PK,
    )
    tmpdir = os.path.join(out, "t.parquet", "_temporary", "0")
    os.makedirs(tmpdir)
    with open(os.path.join(tmpdir, "part-crashed.parquet"), "wb") as f:
        f.write(b"junk")
    removed = vacuum(out, keep_versions=0)
    assert any("part-crashed.parquet" in r for r in removed), removed


def test_hollow_warning_reports_full_count_across_tables(spark, tmp_path):
    """A pinned snapshot that lost files in two tables warns once, naming
    the first lost file and counting every loss across both tables."""
    out = str(tmp_path / "hc")
    for i in range(3):
        publish_batch(
            spark,
            {
                t: spark.range(i * 10, i * 10 + 10).selectExpr(
                    "id", "id % 4 as height_bucket")
                for t in ("t", "u")
            },
            out,
            pks={"t": ("id",), "u": ("id",)},
        )
    v_pin = read_manifest(out)["version"]
    pin_version(out, v_pin, name="prov")
    snap = read_manifest(out, v_pin)["tables"]
    for t, n in (("t", 3), ("u", 2)):
        for rel in snap[t][:n]:
            os.remove(os.path.join(out, f"{t}.parquet", rel))
    with pytest.warns(RuntimeWarning, match=r"HOLLOW") as rec:
        vacuum(out, keep_versions=0)
    hollow = [str(w.message) for w in rec if "HOLLOW" in str(w.message)]
    assert len(hollow) == 1, hollow
    assert f"t/{snap['t'][0]} (and 4 more)" in hollow[0], hollow[0]


def test_history_reports_checkpoint_deltas(tmp_path):
    """A checkpoint carrying its delta must show its TRUE add/remove in
    history(), not a phantom whole-snapshot write."""
    out = str(tmp_path / "h")
    _grow_meta(out, pub.CHECKPOINT_EVERY, seed_files=2)
    h = {e["version"]: e for e in pub.history(out)}
    ck = h[pub.CHECKPOINT_EVERY]
    assert ck["kind"] == "checkpoint"
    assert ck["added"] == 2  # one file into each of t and u
    # v1 is a checkpoint too, and its delta is the seed
    assert h[1]["kind"] == "checkpoint" and h[1]["added"] == 2


def test_read_published_schema_probe_error_names_the_snapshot(
    spark, tmp_path
):
    out = str(tmp_path / "probe")
    publish_batch(
        spark,
        {"t": spark.range(0, 10).selectExpr("id", "id % 4 as height_bucket")},
        out,
        pks=PK,
    )
    # a where that prunes EVERY file forces the schema probe; deleting
    # the probe file first simulates a vacuum racing the read
    files = read_manifest(out)["tables"]["t"]
    for rel in files:
        os.remove(os.path.join(out, "t.parquet", rel))
    with pytest.raises(RuntimeError, match="schema probe"):
        read_published(spark, out, "t", where={"id": (10**6, None)})


def test_url_scheme_out_dir_is_refused(spark, tmp_path):
    """The txlog's contract is shared POSIX storage — an ``s3://…``
    out_dir must fail loudly at every entry point instead of silently
    creating a relative LOCAL store named ``s3:/…``."""
    for fn in (
        lambda: publish_batch(
            spark, {"t": spark.range(3).selectExpr("id")},
            "s3://bucket/store", pks=PK),
        lambda: read_published(spark, "s3://bucket/store", "t"),
        lambda: vacuum("s3://bucket/store"),
        lambda: read_manifest("s3://bucket/store"),
    ):
        with pytest.raises(ValueError, match="URL scheme"):
            fn()
    assert not os.path.exists("s3:"), "a local s3:/ directory was created"
