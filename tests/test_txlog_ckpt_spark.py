"""Cluster-side checkpoint WRITES and the auto-selected scale path
(streaming/publish.py, r11): past ``CLUSTER_PATH_MIN_FILES`` the
checkpoint sidecar is derived from the previous sidecar + the delta
chain and written by a Spark job (`_write_checkpoint_spark`), every
writer commits delta-form (`_commit_delta`), and vacuum/pin_version
auto-select the cluster plan from the store's free ``n_files`` metadata.

The load-bearing property throughout: the spark-built checkpoint is
VALUE-IDENTICAL to the driver-built one (same rows, same order, same
stats encoding), so every sidecar consumer works on either."""

import os

import pytest

import chainweb_data_spark.streaming.publish as pub
from chainweb_data_spark.streaming.publish import (
    pin_version,
    publish_batch,
    read_manifest,
    read_published,
    unpin_version,
    vacuum,
)

PK = {"t": ("id",)}


def _meta_commit(out, i, spark=None):
    """One synthetic delta commit (deterministic file names, so twin
    stores are byte-comparable): adds a file to two tables with stats,
    and every 5th commit also removes an earlier file."""
    v = pub._latest_version(out) + 1
    add = {
        "t": [f"height_bucket={i % 4}/part-{i:04d}.parquet"],
        "u": [f"part-u-{i:04d}.parquet"],
    }
    stats_add = {"t": {add["t"][0]: {"id": [i * 10, i * 10 + 9]}}}
    remove = {}
    if i and i % 5 == 0:
        j = i - 2
        remove = {"u": [f"part-u-{j:04d}.parquet"]}
    pub._commit_delta(
        out, v, add, remove, stats_add, op="publish", spark=spark
    )


def _grow_meta(out, n, spark=None, seed_files=0):
    os.makedirs(out, exist_ok=True)
    seed = {
        "t": [f"height_bucket=0/seed-{k:04d}.parquet" for k in range(seed_files)]
    }
    pub._write_manifest(out, {"version": 1, "tables": seed, "op": "seed"})
    for i in range(n):
        _meta_commit(out, i, spark=spark)


def test_spark_checkpoint_is_value_identical_to_driver_checkpoint(
    spark, tmp_path, monkeypatch
):
    """Twin stores with identical commit histories: the v16 checkpoint
    built cluster-side must carry the same commit metadata and a sidecar
    with exactly the same (table, file, stats) rows in the same order as
    the driver-built one — and resolve identically afterwards."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
    outs = {}
    for mode in ("driver", "spark"):
        out = str(tmp_path / mode)
        # cross the v16 boundary with deltas carrying adds, removes, a
        # pin, and an unpin — everything the sidecar + pins fold covers
        os.makedirs(out)
        pub._write_manifest(
            out,
            {"version": 1, "tables": {"t": ["height_bucket=0/seed.parquet"]},
             "op": "seed"},
        )
        sp = spark if mode == "spark" else None
        for i in range(12):
            _meta_commit(out, i, spark=sp)
        pub._commit_pin_op(out, "pin", {"version": 3, "name": "lease"},
                           spark=sp)
        pub._commit_pin_op(out, "pin", {"version": 5, "name": "kept"},
                           spark=sp)
        pub._commit_pin_op(out, "unpin", {"version": 3}, spark=sp)
        while pub._latest_version(out) < pub.CHECKPOINT_EVERY + 1:
            _meta_commit(out, pub._latest_version(out), spark=sp)
        outs[mode] = out

    cks = {}
    for mode, out in outs.items():
        c = pub._load_commit(out, pub.CHECKPOINT_EVERY)
        assert "ckpt" in c and "tables" not in c, (mode, c)
        cks[mode] = c
    # the O(1) commit metadata agrees exactly
    for key in ("n_files", "table_names", "n_files_by_table", "pins", "op"):
        assert cks["driver"][key] == cks["spark"][key], key
    # the sidecars are value-identical, row order included
    payloads = {}
    for mode, out in outs.items():
        t = pq.read_table(
            os.path.join(out, "_manifest", cks[mode]["ckpt"])
        )
        payloads[mode] = t.to_pydict()
        assert t.column_names == ["table", "file", "stats"], mode
    assert payloads["driver"] == payloads["spark"]
    # and both stores resolve identically at / around the boundary
    for v in (pub.CHECKPOINT_EVERY - 1, pub.CHECKPOINT_EVERY,
              pub.CHECKPOINT_EVERY + 1):
        snaps = {}
        for mode, out in outs.items():
            pub._SNAP_CACHE.clear()
            snaps[mode] = pub._resolve(out, v)
        assert snaps["driver"] == snaps["spark"], v


def test_spark_checkpoint_path_keeps_snap_cache_clean(
    spark, tmp_path, monkeypatch
):
    """The cluster-side checkpoint build must never hydrate the parent
    snapshot into _SNAP_CACHE — the O(live files) driver dict the path
    exists to avoid."""
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
    out = str(tmp_path / "nc")
    _grow_meta(out, 3, spark=spark)
    pub._SNAP_CACHE.clear()

    def boom(*a, **k):  # the driver resolve must not run on this path
        raise AssertionError("_resolve called on the cluster checkpoint path")

    monkeypatch.setattr(pub, "_resolve", boom)
    while pub._latest_version(out) < pub.CHECKPOINT_EVERY:
        _meta_commit(out, pub._latest_version(out), spark=spark)
    assert pub._SNAP_CACHE == {}
    c = pub._load_commit(out, pub.CHECKPOINT_EVERY)
    assert "ckpt" in c


def test_multipart_sidecar_roundtrips_and_vacuums(
    spark, tmp_path, monkeypatch
):
    """Past SIDECAR_ROWS_PER_PART the cluster-built checkpoint is a
    DIRECTORY of range-partitioned parts (Delta's multi-part move):
    every consumer — driver resolve, per-table filtered read, DataFrame
    resolve, read_published — must work on it unchanged, and a race
    loser's orphan multi-part sidecar must be reclaimed by vacuum."""
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
    monkeypatch.setattr(pub, "SIDECAR_ROWS_PER_PART", 10)  # force parts
    out = str(tmp_path / "mp")
    _grow_meta(out, pub.CHECKPOINT_EVERY + 1, spark=spark, seed_files=20)
    c = pub._load_commit(out, pub.CHECKPOINT_EVERY)
    side = os.path.join(out, "_manifest", c["ckpt"])
    assert os.path.isdir(side), "expected a multi-part sidecar directory"
    n_parts = len(
        [f for f in os.listdir(side) if not f.startswith(("_", "."))]
    )
    assert n_parts > 1, n_parts
    # every resolve path agrees with the delta-chain ground truth
    pub._SNAP_CACHE.clear()
    full = pub._resolve(out, pub.CHECKPOINT_EVERY)
    assert sum(len(fs) for fs in full["tables"].values()) == c["n_files"]
    files, stats = pub._table_files(
        out, pub.CHECKPOINT_EVERY, "t", with_stats=True
    )
    assert files == full["tables"]["t"]
    assert stats == full["stats"].get("t", {})
    df_rows = sorted(
        (r["table"], r["file"])
        for r in pub.snapshot_files_df(
            spark, out, pub.CHECKPOINT_EVERY
        ).collect()
    )
    assert df_rows == sorted(
        (t, f) for t, fs in full["tables"].items() for f in fs
    )
    # a race loser's orphan multi-part sidecar is reclaimed
    orphan = os.path.join(out, "_manifest", "ckpt-v7-deadbeef.parquet")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"x")
    removed = vacuum(out, keep_versions=99, spark=None)
    assert any("ckpt-v7-deadbeef" in r for r in removed)
    assert not os.path.exists(orphan)
    # the referenced multi-part sidecar itself is never touched
    assert os.path.isdir(side)


def test_checkpoints_carry_their_delta_for_race_detection(
    spark, tmp_path, monkeypatch
):
    """r11: checkpoint commits record their own add/remove in the O(1)
    JSON, so _added_between never resolves full snapshots when a
    checkpoint lands inside a race window — on either builder path."""
    for mode in ("driver", "spark"):
        out = str(tmp_path / mode)
        if mode == "spark":
            monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
        else:
            monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 10**9)
        _grow_meta(
            out, pub.CHECKPOINT_EVERY + 1,
            spark=spark if mode == "spark" else None,
        )
        c = pub._load_commit(out, pub.CHECKPOINT_EVERY)
        assert "ckpt" in c and "add" in c, (mode, sorted(c))

        def boom(*a, **k):
            raise AssertionError(
                "race detection resolved a full snapshot despite the "
                "checkpoint carrying its delta"
            )

        orig = pub._snapshot_files
        pub._snapshot_files = boom
        try:
            added = pub._added_between(
                out, pub.CHECKPOINT_EVERY - 2, pub.CHECKPOINT_EVERY + 1
            )
        finally:
            pub._snapshot_files = orig
        # the window spans two deltas + the checkpoint: adds fold from
        # the commit JSONs alone
        assert any(fs for fs in added.values())


@pytest.mark.heavy
def test_publish_batch_engages_spark_checkpoint_end_to_end(
    spark, tmp_path, monkeypatch
):
    """The sink's own write path (publish_batch → _commit_append) must
    route checkpoint versions through the cluster builder past the
    threshold: the driver resolve is bombed for the whole growth, so
    any full-snapshot hydration anywhere in the hot loop fails the
    test; the store must still read back complete."""
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
    out = str(tmp_path / "e2e")
    # v1 (adopt) + v2 are written before the bomb: v1 is a legitimate
    # driver-side checkpoint (no parent to derive from)
    publish_batch(
        spark,
        {"t": spark.range(0, 10).selectExpr("id", "id % 4 as height_bucket")},
        out,
        pks=PK,
    )

    def boom(*a, **k):
        raise AssertionError("full-snapshot resolve on the hot write path")

    monkeypatch.setattr(pub, "_resolve", boom)
    i = 1
    while pub._latest_version(out) < pub.CHECKPOINT_EVERY + 1:
        publish_batch(
            spark,
            {"t": spark.range(i * 10, i * 10 + 10).selectExpr(
                "id", "id % 4 as height_bucket")},
            out,
            pks=PK,
        )
        i += 1
    monkeypatch.undo()
    c = pub._load_commit(out, pub.CHECKPOINT_EVERY)
    assert "ckpt" in c and c["add"]["t"], sorted(c)
    pub._SNAP_CACHE.clear()
    assert read_published(spark, out, "t").count() == i * 10


def test_store_n_files_folds_delta_metadata(tmp_path):
    out = str(tmp_path / "nf")
    _grow_meta(out, 20, seed_files=3)
    latest = pub._latest_version(out)
    for v in (1, 5, pub.CHECKPOINT_EVERY, latest):
        pub._SNAP_CACHE.clear()
        want = sum(len(fs) for fs in pub._snapshot_files(out, v).values())
        assert pub._store_n_files(out, v) == want, v
    assert pub._store_n_files(out, 0) is None


def test_auto_select_routes_vacuum_and_pin_through_cluster_path(
    spark, tmp_path, monkeypatch
):
    """With an active session and a store past the (monkeypatched)
    threshold, vacuum()/pin_version() called WITHOUT a spark argument
    must route cluster-side; spark=None must force the driver path."""
    out = str(tmp_path / "auto")
    for i in range(3):
        publish_batch(
            spark,
            {"t": spark.range(i * 10, i * 10 + 10).selectExpr(
                "id", "id * 2 as val", "id % 4 as height_bucket")},
            out,
            pks=PK,
        )
    calls = {"vacuum": 0, "snap_df": 0}
    orig_vds = pub._vacuum_data_spark
    orig_sdf = pub.snapshot_files_df

    def counting_vds(*a, **k):
        calls["vacuum"] += 1
        return orig_vds(*a, **k)

    def counting_sdf(*a, **k):
        calls["snap_df"] += 1
        return orig_sdf(*a, **k)

    monkeypatch.setattr(pub, "_vacuum_data_spark", counting_vds)
    monkeypatch.setattr(pub, "snapshot_files_df", counting_sdf)

    # below threshold: AUTO resolves to the driver path
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 10**9)
    vacuum(out, keep_versions=99)
    v = read_manifest(out)["version"]
    pin_version(out, v, name="a")
    unpin_version(out, v)
    assert calls == {"vacuum": 0, "snap_df": 0}

    # past threshold: AUTO picks the active session
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
    vacuum(out, keep_versions=99)
    assert calls["vacuum"] == 1
    pin_version(out, v, name="a")
    assert calls["snap_df"] >= 1
    unpin_version(out, v)

    # explicit None is the small-store override, regardless of size
    before = dict(calls)
    vacuum(out, keep_versions=99, spark=None)
    pin_version(out, v, name="b", spark=None)
    unpin_version(out, v, spark=None)
    assert calls == before


def test_maintenance_ops_commit_delta_form(spark, tmp_path):
    """compact / z-order / expire must write delta commits (add/remove,
    no full snapshot) off checkpoint boundaries — the r11 form that
    keeps every maintenance commit O(changed files)."""
    from chainweb_data_spark.sources.maintenance import (
        expire_files,
        rewrite_zordered,
    )

    out = str(tmp_path / "mf")
    for i in range(3):
        publish_batch(
            spark,
            {"t": spark.range(i * 10, i * 10 + 10).selectExpr(
                "id", "id * 2 as val", "id % 4 as height_bucket")},
            out,
            pks=PK,
        )
    pub.compact_published(spark, out, "t", keep_versions=99)
    v = pub._latest_version(out)
    c = pub._load_commit(out, v)
    assert c["op"] == "compact" and "tables" not in c and "ckpt" not in c
    assert c["add"] and c["remove"]

    rewrite_zordered(spark, out, "t", ["id"], target_files=2,
                     keep_versions=99)
    c = pub._load_commit(out, pub._latest_version(out))
    assert c["op"] == "zorder" and "tables" not in c
    assert c["add"]["t"] and c["remove"]["t"]

    res = expire_files(spark, out, "t", "id", 10**9, keep_versions=99)
    assert res["removed"] > 0
    c = pub._load_commit(out, pub._latest_version(out))
    assert c["op"] == "expire" and "tables" not in c
    assert c.get("remove", {}).get("t") and "add" not in c
    # the table still resolves and reads coherently after all three
    pub._SNAP_CACHE.clear()
    assert read_published(spark, out, "t") is None  # everything expired


def test_hidden_dir_orphans_reclaim_identically(spark, tmp_path):
    """A crashed non-staged writer's _temporary tree inside a table dir
    must be reclaimed by BOTH vacuum paths (r11 advice: the spark walk
    previously skipped hidden top-level subdirectories)."""
    removed = {}
    for mode in ("driver", "spark"):
        out = str(tmp_path / mode)
        publish_batch(
            spark,
            {"t": spark.range(0, 10).selectExpr(
                "id", "id % 4 as height_bucket")},
            out,
            pks=PK,
        )
        tmpdir = os.path.join(out, "t.parquet", "_temporary", "0")
        os.makedirs(tmpdir)
        with open(os.path.join(tmpdir, "part-crashed.parquet"), "wb") as f:
            f.write(b"junk")
        removed[mode] = vacuum(
            out, keep_versions=0, spark=spark if mode == "spark" else None
        )
    for mode, rels in removed.items():
        assert any("part-crashed.parquet" in r for r in rels), (mode, rels)


def test_spark_vacuum_raises_when_walk_sees_nothing_the_driver_can(
    spark, tmp_path, monkeypatch
):
    """Non-shared storage guard: an empty distributed inventory for a
    table whose live files the driver CAN see must fail loudly, not
    report 'nothing to reclaim'."""
    out = str(tmp_path / "inv")
    publish_batch(
        spark,
        {"t": spark.range(0, 10).selectExpr("id", "id % 4 as height_bucket")},
        out,
        pks=PK,
    )

    def empty_walk(sp, out_dir, tables):
        return sp.createDataFrame([], "table string, file string, mtime double")

    monkeypatch.setattr(pub, "_disk_files_df", empty_walk)
    with pytest.raises(RuntimeError, match="not visible to executors"):
        vacuum(out, keep_versions=0, spark=spark)


def test_spark_hollow_warning_reports_full_count(spark, tmp_path):
    out = str(tmp_path / "hc")
    for i in range(3):
        publish_batch(
            spark,
            {"t": spark.range(i * 10, i * 10 + 10).selectExpr(
                "id", "id % 4 as height_bucket")},
            out,
            pks=PK,
        )
    v_pin = read_manifest(out)["version"]
    pin_version(out, v_pin, name="prov", spark=spark)
    victims = pub._snapshot_files(out, v_pin)["t"][:3]
    for rel in victims:
        os.remove(os.path.join(out, "t.parquet", rel))
    with pytest.warns(RuntimeWarning, match=r"and 2 more"):
        vacuum(out, keep_versions=0, spark=spark)


def test_auto_vacuum_degrades_to_driver_on_invisible_storage(
    spark, tmp_path, monkeypatch
):
    """AUTO-selected cluster sweeps must not turn a previously-working
    default vacuum() into a hard error on non-shared storage: warn and
    run the driver sweep instead.  An EXPLICIT spark= still raises."""
    out = str(tmp_path / "fb")
    publish_batch(
        spark,
        {"t": spark.range(0, 10).selectExpr("id", "id % 4 as height_bucket")},
        out,
        pks=PK,
    )
    orphan = os.path.join(out, "t.parquet", "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"x")
    os.utime(orphan, (1.0, 1.0))  # predate the walk: genuine blindness

    def empty_walk(sp, out_dir, tables):
        return sp.createDataFrame([], "table string, file string, mtime double")

    monkeypatch.setattr(pub, "_disk_files_df", empty_walk)
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
    with pytest.warns(RuntimeWarning, match="driver path ran instead"):
        removed = vacuum(out, keep_versions=99)  # AUTO
    assert any("part-orphan" in r for r in removed)
    with open(orphan, "wb") as f:
        f.write(b"x")
    os.utime(orphan, (1.0, 1.0))
    with pytest.raises(pub.StorageVisibilityError):
        vacuum(out, keep_versions=99, spark=spark)  # explicit


def test_vacuum_probe_ignores_files_staged_during_the_walk(tmp_path):
    """The storage-visibility probe must not mistake a concurrent
    writer's freshly-staged file (created after the walk began) for
    evidence the walk was blind."""
    tdir = str(tmp_path / "t.parquet")
    os.makedirs(tdir)
    p = os.path.join(tdir, "part-new.parquet")
    with open(p, "wb") as f:
        f.write(b"x")
    import time as _time

    walk_started = _time.time() - 60
    # staged AFTER the walk began: not evidence
    assert pub._first_data_file(tdir, before=walk_started) is None
    # predates the walk: genuine evidence
    os.utime(p, (walk_started - 10, walk_started - 10))
    assert pub._first_data_file(tdir, before=walk_started) == "part-new.parquet"


def test_classify_pin_miss_separates_vacuumed_from_invisible(tmp_path):
    out = str(tmp_path / "st")
    tdir = os.path.join(out, "t.parquet")
    os.makedirs(tdir)
    with open(os.path.join(tdir, "part-live.parquet"), "wb") as f:
        f.write(b"x")
    # driver can't see it either: genuinely vacuumed
    assert (
        pub._classify_pin_miss(out, "t", "part-ghost.parquet", False, None)
        == "t/part-ghost.parquet"
    )
    # driver CAN see it: explicit spark raises the storage error...
    with pytest.raises(pub.StorageVisibilityError, match="not on shared"):
        pub._classify_pin_miss(out, "t", "part-live.parquet", False, None)
    # ...AUTO warns and defers to the driver probe's verdict
    with pytest.warns(RuntimeWarning, match="driver probe"):
        got = pub._classify_pin_miss(
            out, "t", "part-live.parquet", True, lambda: None
        )
    assert got is None


def test_history_reports_checkpoint_deltas(spark, tmp_path, monkeypatch):
    """A checkpoint carrying its delta must show its TRUE add/remove in
    history(), not a phantom whole-snapshot write."""
    out = str(tmp_path / "h")
    _grow_meta(out, pub.CHECKPOINT_EVERY + 1, seed_files=2)
    h = {e["version"]: e for e in pub.history(out)}
    ck = h[pub.CHECKPOINT_EVERY]
    assert ck["kind"] == "checkpoint"
    assert ck["added"] == 2  # one file into each of t and u
    # a checkpoint written without a stated delta (the v1 seed) reports
    # none — history reads counts from the commit JSON only
    assert h[1]["kind"] == "checkpoint" and h[1]["added"] == 0


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
    files = pub._snapshot_files(out, read_manifest(out)["version"])["t"]
    for rel in files:
        os.remove(os.path.join(out, "t.parquet", rel))
    with pytest.raises(RuntimeError, match="schema probe"):
        read_published(spark, out, "t", where={"id": (10**6, None)})


def test_url_scheme_out_dir_is_refused(spark, tmp_path):
    """r12: the txlog's contract is shared POSIX storage — an
    ``s3://…`` out_dir must fail loudly at every entry point instead of
    silently creating a relative LOCAL store named ``s3:/…``."""
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


def test_spark_checkpoint_derives_table_counts_from_metadata(
    spark, tmp_path, monkeypatch
):
    """r12: once a checkpoint carries ``n_files_by_table``, the NEXT
    cluster-side checkpoint derives its table_names/counts by folding
    commit metadata — the post-write Spark aggregate over the sidecar
    must not run, and the folded counts must equal ground truth."""
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
    out = str(tmp_path / "tc")
    _grow_meta(out, pub.CHECKPOINT_EVERY + 1, spark=spark, seed_files=2)
    c16 = pub._load_commit(out, pub.CHECKPOINT_EVERY)
    assert "n_files_by_table" in c16, sorted(c16)

    # the v32 build must take the metadata fold: fail on the mismatch
    # warning that would re-route to the sidecar aggregate
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)
        while pub._latest_version(out) < 2 * pub.CHECKPOINT_EVERY:
            _meta_commit(out, pub._latest_version(out), spark=spark)
    c32 = pub._load_commit(out, 2 * pub.CHECKPOINT_EVERY)
    assert "ckpt" in c32
    pub._SNAP_CACHE.clear()
    truth = pub._snapshot_files(out, 2 * pub.CHECKPOINT_EVERY)
    assert c32["n_files_by_table"] == {
        t: len(fs) for t, fs in truth.items() if fs
    }
    assert c32["table_names"] == sorted(
        t for t, fs in truth.items() if fs
    )
    assert c32["n_files"] == sum(len(fs) for fs in truth.values())


def test_store_table_counts_matches_snapshots(tmp_path):
    """The per-table metadata fold equals the resolved snapshot at every
    probed version."""
    out = str(tmp_path / "stc")
    _grow_meta(out, 20, seed_files=3)
    latest = pub._latest_version(out)
    for v in (1, 5, latest):
        pub._SNAP_CACHE.clear()
        want = {
            t: len(fs)
            for t, fs in pub._snapshot_files(out, v).items()
            if fs
        }
        got = pub._store_table_counts(out, v)
        assert got is not None
        assert {t: n for t, n in got.items() if n > 0} == want, v


def test_vacuum_spares_in_flight_ckpt_build_staging(tmp_path):
    """r12 (advice): a ckpt-build staging dir whose target version is
    AHEAD of the newest commit is an in-flight cluster build — even a
    min_age_s=0 vacuum must leave it alone while its newest file is
    inside the grace window; a build for an already-committed version
    is dead and sweeps normally."""
    out = str(tmp_path / "ib")
    _grow_meta(out, 3)
    latest = pub._latest_version(out)
    sroot = os.path.join(out, "_staging")
    live = os.path.join(sroot, f"ckpt-build-v{latest + 1}-abc123")
    dead = os.path.join(sroot, f"ckpt-build-v{latest}-dead99")
    plain = os.path.join(sroot, "stage-xyz")
    for d in (live, dead, plain):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "wb") as f:
            f.write(b"x")
    # age everything far past min_age_s — only the grace rule may save
    # the live build (its file mtimes stay FRESH: the job keeps writing)
    old = pub.time.time() - 10 * pub.VACUUM_GRACE_S
    for d in (dead, plain):
        os.utime(os.path.join(d, "part-0.parquet"), (old, old))
        os.utime(d, (old, old))
    os.utime(live, (old, old))  # stale TOP dir, fresh content inside
    vacuum(out, keep_versions=99, min_age_s=0, spark=None)
    assert os.path.isdir(live), "in-flight ckpt build was reclaimed"
    assert not os.path.exists(dead)
    assert not os.path.exists(plain)
    # once the newest file inside ages past the grace window, the build
    # is abandoned and reclaims like any crashed stage
    os.utime(os.path.join(live, "part-0.parquet"), (old, old))
    vacuum(out, keep_versions=99, min_age_s=0, spark=None)
    assert not os.path.exists(live)


def test_vacuum_crosscheck_relists_before_raising(
    spark, tmp_path, monkeypatch
):
    """r12 (advice): a driver-probe hit after an empty walk can be a
    concurrent-rename RACE, not broken storage — the cross-check must
    re-list that one table executor-side and proceed when the fresh
    listing sees the file."""
    out = str(tmp_path / "cc")
    for i in range(2):
        publish_batch(
            spark,
            {"t": spark.range(i * 10, i * 10 + 10).selectExpr(
                "id", "id % 4 as height_bucket")},
            out,
            pks=PK,
        )
    calls = {"n": 0}
    orig = pub._disk_files_df

    def racy_walk(sp, od, tables):
        calls["n"] += 1
        if calls["n"] == 1:
            # the persisted walk ran while every table dir was empty
            return sp.createDataFrame(
                [], "table string, file string, mtime double"
            )
        return orig(sp, od, tables)

    monkeypatch.setattr(pub, "_disk_files_df", racy_walk)
    # without the re-list this raises StorageVisibilityError; with it
    # the vacuum proceeds (and deletes nothing: the stale inventory has
    # no candidates)
    removed = vacuum(out, keep_versions=99, spark=spark)
    assert calls["n"] >= 2, "cross-check never re-listed"
    assert removed == []


def test_auto_vacuum_degrades_when_executors_cannot_see_the_log(
    spark, tmp_path, monkeypatch
):
    """r12 (advice): when executors cannot read the commit log at all
    (non-shared storage), AUTO must degrade to the driver sweep with the
    documented warning — not die in an opaque executor scan — and an
    explicit spark= must raise StorageVisibilityError by name."""
    out = str(tmp_path / "nv")
    for i in range(2):
        publish_batch(
            spark,
            {"t": spark.range(i * 10, i * 10 + 10).selectExpr(
                "id", "id % 4 as height_bucket")},
            out,
            pks=PK,
        )
    monkeypatch.setattr(pub, "_executor_visible", lambda sp, p: False)
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)

    def boom(*a, **k):
        raise AssertionError("cluster sweep ran against invisible storage")

    monkeypatch.setattr(pub, "_vacuum_data_spark", boom)
    with pytest.warns(RuntimeWarning, match="not visible to executors"):
        vacuum(out, keep_versions=99)  # AUTO → degrade to driver sweep
    with pytest.raises(pub.StorageVisibilityError, match="commit log"):
        vacuum(out, keep_versions=99, spark=spark)


def test_vacuum_shares_sidecar_scans_across_versions(
    spark, tmp_path, monkeypatch
):
    """r12: resolving many retained/pinned versions that share a
    checkpoint ancestor must scan that ancestor's sidecar ONCE (the
    base_cache seam) — and a pin-heavy vacuum must still reclaim
    exactly its orphans with pins intact."""
    monkeypatch.setattr(pub, "CLUSTER_PATH_MIN_FILES", 0)
    out = str(tmp_path / "bc")
    _grow_meta(out, pub.CHECKPOINT_EVERY + 4, spark=spark)
    latest = pub._latest_version(out)
    # the direct seam: one shared cache, many versions, one base entry
    cache = {}
    dfs = {
        v: pub._snapshot_df(
            spark, out, v, with_stats=False, base_cache=cache
        )
        for v in range(pub.CHECKPOINT_EVERY, latest + 1)
    }
    try:
        assert len(cache) == 1, "versions share one checkpoint ancestor"
        for v, df in dfs.items():
            pub._SNAP_CACHE.clear()
            truth = sorted(
                (t, f)
                for t, fs in pub._snapshot_files(out, v).items()
                for f in fs
            )
            got = sorted((r["table"], r["file"]) for r in df.collect())
            assert got == truth, v
    finally:
        for b in cache.values():
            b.unpersist()
    # end-to-end: four pins + an orphan, cluster sweep (materialize the
    # pinned snapshots' files first — the store above is metadata-only
    # and pin_version rightly refuses a lease it cannot re-read)
    for v in (2, 5, latest - 1, latest):
        pub._SNAP_CACHE.clear()
        for t, fs in pub._snapshot_files(out, v).items():
            for rel in fs:
                p = os.path.join(out, f"{t}.parquet", rel)
                os.makedirs(os.path.dirname(p), exist_ok=True)
                if not os.path.exists(p):
                    with open(p, "wb") as f:
                        f.write(b"d")
    for v in (2, 5, latest - 1, latest):
        pin_version(out, v, name=f"lease-{v}", spark=spark)
    orphan = os.path.join(out, "t.parquet", "height_bucket=0",
                          "orphan-x.parquet")
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "wb") as f:
        f.write(b"x")
    import time as _time

    old = _time.time() - 10 ** 6
    os.utime(orphan, (old, old))
    removed = vacuum(out, keep_versions=1, spark=spark)
    assert any("orphan-x" in r for r in removed)
    assert set(pub.pinned_versions(out)) == {2, 5, latest - 1, latest}
