"""The storage seam (streaming/logstore.py, r12): the txlog's LOG
surface must run entirely through the injectable LogStore.  The proof
is a whole driver-path store LIFECYCLE against InMemoryLogStore rooted
at a filesystem path that DOES NOT EXIST — any protocol code bypassing
the seam with a direct ``os.*``/``open`` call either fails on the
missing directory or creates it, and the final real-filesystem probe
catches both."""

import json
import os
import uuid

import pytest

import chainweb_data_spark.streaming.publish as pub
from chainweb_data_spark.streaming.logstore import (
    InMemoryLogStore,
    PosixLogStore,
)
from tests.test_delta_spill import _added_between


@pytest.fixture
def memstore(monkeypatch):
    store = InMemoryLogStore()
    monkeypatch.setattr(pub, "LOG_STORE", store)
    root = f"/tmp/logstore-bypass-trap-{uuid.uuid4().hex}"
    out = os.path.join(root, "store")
    yield store, root, out
    assert not os.path.exists(root), (
        "protocol code bypassed the LogStore seam and touched the real "
        "filesystem"
    )


def test_lifecycle_runs_entirely_through_the_seam(memstore, monkeypatch):
    store, root, out = memstore
    pub._SNAP_CACHE.clear()
    # start an empty store: v1 checkpoint (sidecar via write_atomic)
    m = pub.ensure_manifest(out)
    assert m["version"] == 1 and m["tables"] == {}
    # micro-batch deltas (put_if_absent commit point + CURRENT hint)
    for i in range(3):
        pub._commit_delta(
            out, pub._latest_version(out) + 1,
            {"t": [f"b={i % 2}/p{i}.parquet"]}, {},
            {"t": {f"b={i % 2}/p{i}.parquet": {"id": [i, i]}}},
            op="publish",
        )
    # a racing committer of the same version loses loudly
    with pytest.raises(pub.ConcurrentWriteError):
        pub._commit_delta(out, 4, {"t": ["b=0/race.parquet"]}, {}, {})
    # a spilled mega-delta (delta sidecar via write_atomic, read back
    # through read_parquet with the per-table predicate)
    monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", 2)
    pub._SNAP_CACHE.clear()
    live = pub._live_files(out, 4, "t")
    pub._commit_delta(
        out, 5, {"t": [f"b=9/r{k}.parquet" for k in range(4)]},
        {"t": live}, {}, op="rewrite",
    )
    c5 = pub._load_commit(out, 5)
    assert "delta" in c5 and "add" not in c5
    monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", 10 ** 9)
    # cross a checkpoint boundary (the builder folds the v1 sidecar with
    # the deltas since, the spill included, all through the seam)
    while pub._latest_version(out) < pub.CHECKPOINT_EVERY:
        i = pub._latest_version(out)
        pub._commit_delta(
            out, i + 1, {"u": [f"u{i}.parquet"]}, {}, {}, op="publish"
        )
    ck = pub._load_commit(out, pub.CHECKPOINT_EVERY)
    assert "ckpt" in ck and ck["n_files_by_table"]["t"] == 4
    # every metadata consumer agrees with the resolve
    pub._SNAP_CACHE.clear()
    snap = pub.read_manifest(out, pub.CHECKPOINT_EVERY)["tables"]
    assert snap["t"] == sorted(f"b=9/r{k}.parquet" for k in range(4))
    assert sum(len(fs) for fs in snap.values()) == ck["n_files"]
    assert pub._live_files(out, pub.CHECKPOINT_EVERY, "t") == snap["t"]
    assert _added_between(out, 4, 5)["t"] == sorted(
        f"b=9/r{k}.parquet" for k in range(4)
    )
    assert pub._added_dirs_between(out, 4, 5) == {"t": {"b=9"}}
    assert len(pub.history(out)) == pub.CHECKPOINT_EVERY
    # pins: materialize the snapshot's data files IN the fake, then
    # lease, vacuum, and release — probe + sweep all through the seam
    latest = pub._latest_version(out)
    pub._SNAP_CACHE.clear()
    for t, fs in pub.read_manifest(out, latest)["tables"].items():
        for rel in fs:
            store.write_atomic(
                os.path.join(out, f"{t}.parquet", rel), b"d"
            )
    pub.pin_version(out, latest, name="lease")
    assert pub.pinned_versions(out) == {latest: "lease"}
    # plant a dead data file + an orphan ckpt sidecar + an orphan delta
    # spill, age them, vacuum: exactly those go
    dead = os.path.join(out, "t.parquet", "b=0", "dead.parquet")
    store.write_atomic(dead, b"x")
    mdir = os.path.join(out, pub._MANIFEST_DIR)
    store.write_atomic(
        os.path.join(mdir, "ckpt-v3-feedface0000.parquet"), b"x"
    )
    store.write_atomic(
        os.path.join(mdir, "delta-v2-feedface0000.parquet"), b"x"
    )
    for p in (dead,
              os.path.join(mdir, "ckpt-v3-feedface0000.parquet"),
              os.path.join(mdir, "delta-v2-feedface0000.parquet")):
        store.mtimes[p] -= 10 ** 6
    removed = pub.vacuum(out, keep_versions=0)
    assert any("dead.parquet" in r for r in removed)
    assert any("ckpt-v3-feedface0000" in r for r in removed)
    assert any("delta-v2-feedface0000" in r for r in removed)
    # the pinned snapshot survived in full and reads back
    pub._SNAP_CACHE.clear()
    for t, fs in pub.read_manifest(out, latest)["tables"].items():
        for rel in fs:
            assert store.exists(os.path.join(out, f"{t}.parquet", rel))
    pub.unpin_version(out, latest)
    assert pub.pinned_versions(out) == {}
    # the referenced sidecars (v1 + v16 ckpt, v5 spill) were never touched
    assert store.exists(os.path.join(mdir, ck["ckpt"]))
    assert store.exists(os.path.join(mdir, c5["delta"]))


def test_memstore_refuses_schemes_and_double_commit(memstore):
    store, root, out = memstore
    with pytest.raises(ValueError, match="URL scheme"):
        pub.read_manifest("s3://bucket/x")
    store.put_if_absent("a/b.json", b"1")
    with pytest.raises(FileExistsError):
        store.put_if_absent("a/b.json", b"2")
    assert store.read_bytes("a/b.json") == b"1"


def test_posix_store_primitives_roundtrip(tmp_path):
    """The default backend's own conformance: put_if_absent is atomic
    and refuses seconds, write_atomic overwrites, finalize moves, and
    the probes agree with the real filesystem."""
    st = PosixLogStore()
    p = str(tmp_path / "v1.json")
    st.put_if_absent(p, b"one")
    with pytest.raises(FileExistsError):
        st.put_if_absent(p, b"two")
    assert st.read_bytes(p) == b"one"
    st.write_atomic(p, b"three")
    assert st.read_bytes(p) == b"three"
    # no tmp litter from either path
    assert [f for f in os.listdir(tmp_path) if f.startswith(".")] == []
    stage = str(tmp_path / "stage.bin")
    with open(stage, "wb") as f:
        f.write(b"s")
    st.finalize_file(stage, str(tmp_path / "final.bin"))
    assert not os.path.exists(stage)
    assert st.read_bytes(str(tmp_path / "final.bin")) == b"s"
    d = tmp_path / "d" / "sub"
    st.makedirs(str(d))
    st.write_atomic(str(d / "x.json"), b"{}")
    assert st.isdir(str(tmp_path / "d"))
    assert st.listdir(str(tmp_path / "d")) == ["sub"]
    assert list(st.walk(str(tmp_path / "d")))[-1][2] == ["x.json"]
    assert st.getmtime(str(d / "x.json")) > 0
    st.remove(str(d / "x.json"))
    st.rmtree(str(tmp_path / "d"))
    assert not st.exists(str(tmp_path / "d"))
    with pytest.raises(ValueError, match="URL scheme"):
        st.validate("s3://bucket/x")


def test_memstore_walk_and_parquet_match_posix(tmp_path):
    """InMemoryLogStore's derived namespace (walk/listdir/isdir) and its
    parquet reads agree with PosixLogStore over the same content."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mem, posix = InMemoryLogStore(), PosixLogStore()
    table = pa.table({"table": ["a", "a", "b"], "file": ["1", "2", "3"],
                      "stats": [None, '{"x":[1,2]}', None]})
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    data = buf.getvalue().to_pybytes()
    vroot = "mem/root"
    proot = str(tmp_path)
    for st, root in ((mem, vroot), (posix, proot)):
        st.makedirs(os.path.join(root, "sub"))
        st.write_atomic(os.path.join(root, "sub", "s.parquet"), data)
        st.write_atomic(os.path.join(root, "top.txt"), b"t")
    assert mem.listdir(vroot) == sorted(posix.listdir(proot))
    assert [
        (os.path.relpath(r, vroot), ds, fs)
        for r, ds, fs in mem.walk(vroot)
    ] == [
        (os.path.relpath(r, proot), sorted(ds), sorted(fs))
        for r, ds, fs in posix.walk(proot)
    ]
    for st, root in ((mem, vroot), (posix, proot)):
        t = st.read_parquet(
            os.path.join(root, "sub", "s.parquet"),
            columns=["table", "file"],
            filters=[("table", "==", "a")],
        )
        assert t.column("file").to_pylist() == ["1", "2"]
