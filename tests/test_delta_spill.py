"""Spilled mega-delta commits (streaming/publish.py, r12): past
``DELTA_SIDECAR_MIN_FILES`` changed files a delta commit's add/remove
lists spill into a ``delta-v<N>-*.parquet`` sidecar and the commit JSON
stays O(1) bytes + O(#tables) counts — a format migration at the
10^5–10^6-file regime must not inline the whole table's file list into
a v<N>.json that every subsequent resolve re-parses.

The load-bearing property: a SPILLED store is value-identical to an
INLINE twin with the same commit history, on every consumer — the
checkpoint built across the spill, history, race-window conflict
detection.  (Resolving spilled deltas against a reference model is
tests/test_snapshot_model.py.)"""

import json
import os
import time

import pytest

import chainweb_data_spark.streaming.publish as pub


def _added_between(out_dir, old_v, new_v):
    """Files ADDED by commits ``old_v+1 .. new_v``, per table: the
    file-level reference semantics that the production race fold,
    ``_added_dirs_between`` (partition directories only, spilled deltas
    answered from their JSON), is checked against.  Reads each commit
    JSON and, for a spilled delta, its sidecar's add rows."""
    added = {}
    for v in range(old_v + 1, new_v + 1):
        c = pub._load_commit(out_dir, v)
        adds = c.get("add", {})
        if "delta" in c:
            rows = pub.LOG_STORE.read_parquet(
                os.path.join(out_dir, pub._MANIFEST_DIR, c["delta"]),
                columns=["action", "table", "file"],
            ).to_pylist()
            adds = {}
            for r in rows:
                if r["action"] == "add":
                    adds.setdefault(r["table"], []).append(r["file"])
        for t, rels in adds.items():
            added.setdefault(t, []).extend(rels)
    return added


def _dirs(added):
    return {t: {os.path.dirname(f) for f in fs} for t, fs in added.items()}


def _no_snapshot(monkeypatch):
    def boom(*a, **k):
        raise AssertionError("race detection resolved a full snapshot")

    monkeypatch.setattr(pub, "_snapshot", boom)


def _grow_twin(out, spill):
    """Seed + 3 small deltas + one mega rewrite (remove ALL of t, add 8)
    + 2 more small deltas — identical histories either way."""
    os.makedirs(out)
    pub._commit_delta(
        out, 1, {"t": [f"b=0/s{k}.parquet" for k in range(4)]}, {}, {},
        op="seed",
    )
    for i in range(3):
        pub._commit_delta(
            out, pub._latest_version(out) + 1,
            {"t": [f"b={i % 2}/p{i}.parquet"], "u": [f"u{i}.parquet"]},
            {},
            {"t": {f"b={i % 2}/p{i}.parquet": {"id": [i, i + 9]}}},
            op="publish",
        )
    pub._SNAP_CACHE.clear()
    livet = pub._live_files(out, pub._latest_version(out), "t")
    pub._commit_delta(
        out, pub._latest_version(out) + 1,
        {"t": [f"b=9/r{k}.parquet" for k in range(8)]},
        {"t": livet},
        {"t": {f"b=9/r{k}.parquet": {"id": [k, k]} for k in range(8)}},
        op="rewrite",
    )
    for i in range(3, 5):
        pub._commit_delta(
            out, pub._latest_version(out) + 1,
            {"u": [f"u{i}.parquet"]}, {"u": [f"u{i - 3}.parquet"]}, {},
            op="publish",
        )


@pytest.fixture
def twins(tmp_path, monkeypatch):
    outs = {}
    for mode, thr in (("inline", 10 ** 9), ("spill", 5)):
        monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", thr)
        out = str(tmp_path / mode)
        _grow_twin(out, spill=mode == "spill")
        outs[mode] = out
    pub._SNAP_CACHE.clear()
    return outs


def test_mega_delta_commit_json_is_o1_bytes(twins):
    c = pub._load_commit(twins["spill"], 5)
    assert "delta" in c and "add" not in c and "remove" not in c
    assert len(json.dumps(c)) < 300  # O(1) + O(#tables) counts
    assert c["n_add_by_table"] == {"t": 8}
    assert c["n_remove_by_table"] == {"t": 7}
    # the sidecar exists, version-named, durable in _manifest
    assert os.path.isfile(
        os.path.join(twins["spill"], "_manifest", c["delta"])
    )
    # the inline twin recorded the same change the heavy way
    ci = pub._load_commit(twins["inline"], 5)
    assert len(ci["add"]["t"]) == 8 and len(ci["remove"]["t"]) == 7


def test_spilled_store_history_and_race_detection(twins, monkeypatch):
    ha, hb = pub.history(twins["inline"]), pub.history(twins["spill"])
    assert [(e["added"], e["removed"], e["kind"]) for e in ha] == [
        (e["added"], e["removed"], e["kind"]) for e in hb
    ]
    a = _added_between(twins["inline"], 3, 6)
    b = _added_between(twins["spill"], 3, 6)
    assert {t: sorted(f) for t, f in a.items()} == {
        t: sorted(f) for t, f in b.items()
    }
    assert set(a["t"]) >= {f"b=9/r{k}.parquet" for k in range(8)}
    # race-window adds fold from the commits, never a snapshot diff
    _no_snapshot(monkeypatch)
    for out in twins.values():
        assert pub._added_dirs_between(out, 3, 6) == _dirs(a)


def test_checkpoint_crosses_spilled_delta(twins):
    """The checkpoint builder must fold a spilled delta in its ancestry
    (hydrated through the delta sidecar) into the same sidecar rows and
    commit counts as the inline twin."""
    import pyarrow.parquet as pq

    for out in twins.values():
        while pub._latest_version(out) < pub.CHECKPOINT_EVERY:
            i = pub._latest_version(out)
            pub._commit_delta(
                out, i + 1, {"u": [f"uu{i}.parquet"]}, {}, {},
                op="publish",
            )
    cks = {
        m: pub._load_commit(twins[m], pub.CHECKPOINT_EVERY)
        for m in twins
    }
    for key in ("n_files", "table_names", "n_files_by_table"):
        assert cks["inline"][key] == cks["spill"][key], key
    rows = {
        m: pq.read_table(
            os.path.join(twins[m], "_manifest", cks[m]["ckpt"])
        ).to_pydict()
        for m in twins
    }
    assert rows["inline"] == rows["spill"]
    assert set(rows["spill"]["file"]) >= {f"b=9/r{k}.parquet" for k in range(8)}
    pub._SNAP_CACHE.clear()
    assert pub._snapshot(twins["inline"], pub.CHECKPOINT_EVERY).equals(
        pub._snapshot(twins["spill"], pub.CHECKPOINT_EVERY)
    )


def test_mega_delta_on_checkpoint_boundary_spills(tmp_path, monkeypatch):
    """A mega-rewrite landing exactly ON a checkpoint version spills its
    own delta too: the ckpt JSON carries delta+counts, not the list, and
    race detection still folds O(delta)."""
    out = str(tmp_path / "ckb")
    os.makedirs(out)
    pub._commit_delta(
        out, 1, {"t": [f"b=0/s{k}.parquet" for k in range(6)]}, {}, {},
        op="seed",
    )
    monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", 5)
    while pub._latest_version(out) < pub.CHECKPOINT_EVERY - 1:
        i = pub._latest_version(out)
        pub._commit_delta(
            out, i + 1, {"u": [f"u{i}.parquet"]}, {}, {}, op="publish"
        )
    pub._SNAP_CACHE.clear()
    livet = pub._live_files(out, pub._latest_version(out), "t")
    pub._commit_delta(
        out, pub.CHECKPOINT_EVERY,
        {"t": [f"b=9/r{k}.parquet" for k in range(8)]},
        {"t": livet}, {}, op="rewrite",
    )
    c = pub._load_commit(out, pub.CHECKPOINT_EVERY)
    assert "ckpt" in c and "delta" in c and "add" not in c
    assert c["n_add_by_table"] == {"t": 8}
    assert c["n_remove_by_table"] == {"t": 6}
    window = (pub.CHECKPOINT_EVERY - 2, pub.CHECKPOINT_EVERY)
    added = _added_between(out, *window)
    assert added["t"] == sorted(f"b=9/r{k}.parquet" for k in range(8))
    _no_snapshot(monkeypatch)
    assert pub._added_dirs_between(out, *window) == _dirs(added)


def test_vacuum_reclaims_orphan_delta_spills_keeps_referenced(
    twins,
):
    """A commit-race loser's delta spill is an orphan vacuum reclaims by
    its embedded version; the referenced spill is metadata and is NEVER
    deleted (time-travel reads replay it)."""
    out = twins["spill"]
    mdir = os.path.join(out, "_manifest")
    ref = pub._load_commit(out, 5)["delta"]
    orphan = os.path.join(mdir, "delta-v3-deadbeef0000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"x")
    old = time.time() - 10 ** 6
    os.utime(orphan, (old, old))
    removed = pub.vacuum(out, keep_versions=99)
    assert any("delta-v3-deadbeef0000" in r for r in removed)
    assert not os.path.exists(orphan)
    assert os.path.exists(os.path.join(mdir, ref))
    # an in-flight spill (version ahead of latest) gets the grace window
    ahead = os.path.join(
        mdir, f"delta-v{pub._latest_version(out) + 1}-ffff00001111.parquet"
    )
    with open(ahead, "wb") as f:
        f.write(b"x")
    pub.vacuum(out, keep_versions=99, min_age_s=0)
    assert os.path.exists(ahead), "in-flight delta spill reclaimed"
    # time-travel still replays the spilled rewrite after the vacuum
    pub._SNAP_CACHE.clear()
    assert pub._live_files(out, 5, "t") == sorted(
        f"b=9/r{k}.parquet" for k in range(8)
    )


def test_stats_less_snapshot_prunes_spill_stats(twins, monkeypatch):
    """A stats-less resolve (vacuum, the pin probe) must never
    deserialize the spill sidecar's stats column — the dominant
    payload."""
    calls = []
    orig = pub.LOG_STORE.read_parquet

    def spy(path, columns=None, filters=None):
        calls.append((os.path.basename(path), tuple(columns or ())))
        return orig(path, columns=columns, filters=filters)

    monkeypatch.setattr(pub.LOG_STORE, "read_parquet", spy)
    pub._SNAP_CACHE.clear()
    pub._snapshot(twins["spill"], 6, stats=False)
    spill_reads = [c for c in calls if c[0].startswith("delta-v")]
    assert spill_reads, "spill sidecar never read"
    assert all("stats" not in cols for _n, cols in spill_reads), spill_reads
    # the stats-bearing resolve still fetches them
    calls.clear()
    pub._SNAP_CACHE.clear()
    pub._snapshot(twins["spill"], 6)
    assert any(
        "stats" in cols
        for n, cols in calls
        if n.startswith("delta-v")
    )


def test_vacuum_reclaims_crash_leaked_stage_tmps(twins):
    """r12 review: a hard kill between staging and finalize leaves a
    hidden .tmp beside the log; vacuum age-gates and reclaims it, and
    never touches a fresh (in-flight) stage."""
    out = twins["spill"]
    mdir = os.path.join(out, "_manifest")
    old_tmp = os.path.join(mdir, ".ckpt-v9-aaaa.parquet.deadbeef.tmp")
    fresh_tmp = os.path.join(mdir, ".ckpt-v9-bbbb.parquet.cafef00d.tmp")
    for p in (old_tmp, fresh_tmp):
        with open(p, "wb") as f:
            f.write(b"x")
    old = time.time() - 10 ** 6
    os.utime(old_tmp, (old, old))
    removed = pub.vacuum(out, keep_versions=99)
    assert any(".deadbeef.tmp" in r for r in removed)
    assert not os.path.exists(old_tmp)
    assert os.path.exists(fresh_tmp)


def test_failed_sidecar_write_leaves_no_stage_litter(
    tmp_path, monkeypatch
):
    """r12 review: ENOSPC mid-write (simulated) must not leave hidden
    .tmp litter beside the log."""
    out = str(tmp_path / "ns")
    os.makedirs(os.path.join(out, "_manifest"))
    import pyarrow.parquet as pq_mod

    def boom(*a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(pq_mod, "write_table", boom)
    with pytest.raises(OSError):
        pub._write_delta_sidecar(
            os.path.join(out, "_manifest"), 5,
            {"t": ["a.parquet"]}, {}, {},
        )
    monkeypatch.undo()
    litter = [
        f for f in os.listdir(os.path.join(out, "_manifest"))
        if f.endswith(".tmp")
    ]
    assert litter == [], litter
    # write_atomic's own failure path cleans up too (bomb the final
    # rename — the test runs as root, so permission bits can't simulate
    # the failure)
    store = pub.LOG_STORE
    d = tmp_path / "wa"
    d.mkdir()

    def boom_rename(src, dst):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(os, "rename", boom_rename)
    try:
        with pytest.raises(OSError):
            store.write_atomic(str(d / "x.json"), b"data")
    finally:
        monkeypatch.undo()
    assert list(d.iterdir()) == []


def test_conflict_detection_never_opens_spill_sidecar(twins, monkeypatch):
    """r12: race-window conflict detection answers from the spilled
    commit's add_dirs_by_table JSON — the sidecar read is bombed, and
    the dirs fold must agree with the file-level reference fold on the
    inline twin."""
    c = pub._load_commit(twins["spill"], 5)
    assert c["add_dirs_by_table"] == {"t": ["b=9"]}

    def boom(path, columns=None, filters=None):
        raise AssertionError(
            "conflict detection opened the spill sidecar"
        )

    monkeypatch.setattr(pub.LOG_STORE, "read_parquet", boom)
    dirs = pub._added_dirs_between(twins["spill"], 3, 6)
    monkeypatch.undo()
    assert dirs == _dirs(_added_between(twins["inline"], 3, 6))
    # staged work colliding / not colliding with the rewrite's buckets
    hit = pub._conflicting_tables(
        twins["spill"], 3, 6, {"t": (["b=9/mine.parquet"], {})}
    )
    miss = pub._conflicting_tables(
        twins["spill"], 3, 6, {"t": (["b=7/mine.parquet"], {})}
    )
    assert hit == {"t"} and miss == set()


def test_overcap_spill_dirs_go_wildcard(tmp_path, monkeypatch):
    """A spilled rewrite spanning more than DELTA_DIRS_CAP directories
    stores null and conservatively conflicts with any same-table
    stage."""
    monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", 5)
    monkeypatch.setattr(pub, "DELTA_DIRS_CAP", 3)
    out = str(tmp_path / "oc")
    os.makedirs(out)
    pub._commit_delta(out, 1, {"t": ["b=0/s.parquet"]}, {}, {}, op="seed")
    pub._commit_delta(
        out, 2,
        {"t": [f"b={k}/n.parquet" for k in range(1, 7)]}, {}, {},
        op="rewrite",
    )
    c = pub._load_commit(out, 2)
    assert c["add_dirs_by_table"] == {"t": None}
    assert pub._added_dirs_between(out, 1, 2) == {"t": None}
    hit = pub._conflicting_tables(
        out, 1, 2, {"t": (["b=99/mine.parquet"], {})}
    )
    assert hit == {"t"}
