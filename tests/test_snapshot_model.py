"""Model-based test of the transaction log's one resolver
(streaming/publish.py ``_snapshot``), at metadata level: no Spark.

Random commit sequences over three tables (one nested name) run against
a plain-Python model — per version, ``{table: {file: stats or None}}``.
The sequences cross at least two checkpoint boundaries
(``CHECKPOINT_EVERY`` is lowered to 3 so they stay short), remove files
added since the last checkpoint as well as files of the parent sidecar,
spill every delta of ``SPILL`` or more changed files into a ``delta-v*``
sidecar, and interleave pins, unpins and vacuums.  After every operation
each version the log holds must resolve to the model, through
``_snapshot`` (with and without stats) and ``read_manifest``, with the
snapshot cache cold and warm; the pin set, the files vacuum leaves on
disk and pin_version's re-readability verdict must match the model too.

The model is the reference; it replaces the earlier tests that checked
one resolve path against another (per-table vs full resolve, file-set
vs full resolve, inline vs spilled twins)."""

import json
import os
import tempfile
import warnings

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import chainweb_data_spark.streaming.publish as pub

TABLES = ("a", "b/nested", "c")
CKPT = 3
SPILL = 3


def _file(table: str, n: int, part: int | None) -> str:
    name = f"f{n:04d}-{table.replace('/', '_')}.parquet"
    return name if part is None else f"k={part}/{name}"


_stats = st.one_of(
    st.none(),
    st.fixed_dictionaries(
        {"id": st.tuples(st.integers(-9, 9), st.integers(10, 99)).map(list)}
    ),
    st.fixed_dictionaries(
        {"h": st.tuples(st.text("xyz", max_size=2), st.just("zz")).map(list)}
    ),
)
_commit = st.tuples(
    st.just("commit"),
    # adds: (table index, partition or None, stats)
    st.lists(
        st.tuples(
            st.integers(0, 2), st.one_of(st.none(), st.integers(0, 2)), _stats
        ),
        max_size=4,
    ),
    # removes: (table index, index into that table's sorted live files)
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 99)), max_size=3),
)
_op = st.one_of(
    _commit,
    _commit,
    _commit,
    st.tuples(st.just("pin"), st.integers(1, 99)),
    st.tuples(st.just("unpin"), st.integers(0, 9)),
    st.tuples(st.just("vacuum"), st.integers(0, 2)),
)


class Model:
    """The plain-Python reference: the snapshot of every version, the
    active pins, and the data files on disk."""

    def __init__(self) -> None:
        self.snaps: list[dict] = [{}]  # index = version; v0 is empty
        self.pins: dict[int, str | None] = {}
        self.disk: set[tuple[str, str]] = set()
        self.n = 0

    @property
    def latest(self) -> int:
        return len(self.snaps) - 1

    def files(self, v: int) -> set[tuple[str, str]]:
        return {(t, f) for t, per in self.snaps[v].items() for f in per}

    def rows(self, v: int) -> list[tuple]:
        return sorted(
            (t, f, json.dumps(s, separators=(",", ":")) if s else None)
            for t, per in self.snaps[v].items()
            for f, s in per.items()
        )

    def manifest(self, v: int) -> dict:
        snap = self.snaps[v]
        return {
            "version": v,
            "tables": {t: sorted(per) for t, per in sorted(snap.items()) if per},
            "stats": {
                t: {f: s for f, s in per.items() if s}
                for t, per in snap.items()
                if any(per.values())
            },
        }


def _check(out: str, model: Model) -> None:
    latest = pub._latest_version(out)
    assert latest == model.latest
    assert pub.pinned_versions(out) == model.pins
    versions = range(latest, 0, -1)
    # warm: the cache holds earlier resolves, so the newest version folds
    # from a cached ancestor and the rest are exact hits
    for v in versions:
        want = model.rows(v)
        got = pub._snapshot(out, v)
        assert list(zip(*got.to_pydict().values())) == want, v
    # cold: one clear, then newest first, so no resolve finds an ancestor
    # cached and each walks back to its checkpoint sidecar
    pub._SNAP_CACHE.clear()
    for v in versions:
        got = pub._snapshot(out, v, stats=False).to_pydict()
        assert list(zip(got["table"], got["file"])) == [
            r[:2] for r in model.rows(v)
        ], v
        got = pub._snapshot(out, v)
        assert got.column_names == ["table", "file", "stats"]
        assert list(zip(*got.to_pydict().values())) == model.rows(v), v
        assert pub.read_manifest(out, v) == model.manifest(v), v
    assert pub.read_manifest(out) == model.manifest(latest)


def _commit_op(out: str, model: Model, adds, removes) -> None:
    snap = {t: dict(per) for t, per in model.snaps[-1].items()}
    add: dict[str, list] = {}
    stats_add: dict[str, dict] = {}
    for ti, part, s in adds:
        t = TABLES[ti]
        model.n += 1
        rel = _file(t, model.n, part)
        add.setdefault(t, []).append(rel)
        if s:
            stats_add.setdefault(t, {})[rel] = s
        snap.setdefault(t, {})[rel] = s
        path = os.path.join(out, f"{t}.parquet", rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        open(path, "wb").close()
        model.disk.add((t, rel))
    remove: dict[str, list] = {}
    for ti, k in removes:
        t = TABLES[ti]
        # files this commit adds are not live yet; names are never reused
        live = sorted(
            f for f in model.snaps[-1].get(t, {}) if f not in remove.get(t, [])
        )
        if live:
            rel = live[k % len(live)]
            remove.setdefault(t, []).append(rel)
            del snap[t][rel]
    pub._commit_delta(
        out, model.latest + 1, add, remove, stats_add, op="publish"
    )
    model.snaps.append({t: per for t, per in snap.items() if per})


def _run(out: str, model: Model, op) -> None:
    kind = op[0]
    if kind == "commit":
        _commit_op(out, model, op[1], op[2])
    elif kind == "pin":
        v = 1 + op[1] % model.latest
        if model.files(v) <= model.disk:
            pub.pin_version(out, v, name=f"p{v}")
            model.pins[v] = f"p{v}"
            model.snaps.append(model.snaps[-1])
        else:
            with pytest.raises(ValueError, match="no longer re-readable"):
                pub.pin_version(out, v)
    elif kind == "unpin" and model.pins:
        v = sorted(model.pins)[op[1] % len(model.pins)]
        pub.unpin_version(out, v)
        del model.pins[v]
        model.snaps.append(model.snaps[-1])
    elif kind == "vacuum":
        keep = op[1]
        retained = set(range(max(1, model.latest - keep), model.latest + 1))
        live = set().union(
            *(model.files(v) for v in retained | set(model.pins))
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # no lease is ever hollow here
            removed = pub.vacuum(out, keep_versions=keep)
        gone = model.disk - live
        assert sorted(removed) == sorted(
            os.path.join(f"{t}.parquet", f) for t, f in gone
        )
        model.disk -= gone
        on_disk = {
            (t, os.path.relpath(os.path.join(r, f), tdir))
            for t in TABLES
            for tdir in [os.path.join(out, f"{t}.parquet")]
            for r, _d, fs in os.walk(tdir)
            for f in fs
        }
        assert on_disk == model.disk


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_op, min_size=4, max_size=12), st.booleans())
def test_one_resolver_matches_the_model(ops, splice):
    with pytest.MonkeyPatch.context() as mp, tempfile.TemporaryDirectory() as d:
        mp.setattr(pub, "CHECKPOINT_EVERY", CKPT)
        mp.setattr(pub, "DELTA_SIDECAR_MIN_FILES", SPILL)
        # snapshots this small always take the fold's sort; half the
        # examples force its bisect splice instead
        mp.setattr(pub, "_SPLICE_COST", 0 if splice else pub._SPLICE_COST)
        pub._SNAP_CACHE.clear()
        out = os.path.join(d, "store")
        pub.ensure_manifest(out)
        model = Model()
        model.snaps.append({})  # v1: the empty checkpoint
        _check(out, model)
        for op in ops:
            _run(out, model, op)
            _check(out, model)
        # pad with commits so every sequence crosses two checkpoints and
        # folds both delta forms: three adds and a remove spill, two adds
        # stay inline
        def forms():
            deltas = [
                pub._load_commit(out, v)
                for v in range(2, model.latest + 1)
            ]
            deltas = [c for c in deltas if "ckpt" not in c]
            return (
                any("delta" in c for c in deltas),
                any("delta" not in c for c in deltas),
            )

        while model.latest <= 2 * CKPT or not all(forms()):
            if forms()[0]:
                op = ("commit", [(0, 1, None), (1, None, None)], [])
            else:
                op = ("commit", [(0, 1, None), (1, None, None), (2, 0, None)], [(0, 3)])
            _run(out, model, op)
            _check(out, model)
        assert all(forms())
        commits = [pub._load_commit(out, v) for v in range(1, model.latest + 1)]
        assert sum("ckpt" in c for c in commits) >= 3
    pub._SNAP_CACHE.clear()


def test_vacuum_sweeps_an_emptied_nested_table(tmp_path):
    """A nested table (``b/nested``) whose every file was removed is named
    by no retained snapshot and has no top-level directory, yet vacuum
    must still reclaim its files (the model test's first find)."""
    out = str(tmp_path / "store")
    pub.ensure_manifest(out)
    rel = "f1.parquet"
    path = os.path.join(out, "b", "nested.parquet", rel)
    os.makedirs(os.path.dirname(path))
    open(path, "wb").close()
    pub._commit_delta(out, 2, {"b/nested": [rel]}, {}, {})
    pub._commit_delta(out, 3, {}, {"b/nested": [rel]}, {})
    # a second store kept in a subdirectory: its tables are not this log's
    other = os.path.join(out, "b", "other")
    pub.ensure_manifest(other)
    theirs = os.path.join(other, "t.parquet", rel)
    os.makedirs(os.path.dirname(theirs))
    open(theirs, "wb").close()
    assert pub.vacuum(out, keep_versions=0) == [
        os.path.join("b", "nested.parquet", rel)
    ]
    assert not os.path.exists(path)
    assert os.path.exists(theirs)
