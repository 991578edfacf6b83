"""Atomic multi-table publish on a parquet transaction log — the
parquet-native analog of the reference's single-transaction write of all six
tables per block (``haskell-src/exec/Chainweb/Worker.hs:50-82``).

Store layout (format 1, the only one this module reads or writes):

    out_dir/
      <table>.parquet/<bucket>=<v>/part-*.parquet   data files, append-only
      _manifest/v<N>.json     commit N — a checkpoint or a delta
      _manifest/ckpt-v<N>-*.parquet   checkpoint sidecar: every live file
      _manifest/delta-v<N>-*.parquet  spilled add/remove lists of a mega-delta
      _manifest/CURRENT       discovery hint naming the newest commit file

Every commit JSON carries ``"format": 1`` (:data:`FORMAT`), written by
:func:`_link_commit` and checked by :func:`_load_commit`; any other value
raises :class:`StoreFormatError`.  A commit has one of two shapes:

- **checkpoint** (v1 and every ``CHECKPOINT_EVERY``-th version):
  ``ckpt`` (the sidecar name), ``n_files``, ``n_files_by_table``,
  ``table_names``, ``pins`` (the folded retention leases) and the
  commit's own delta.  The O(live files) snapshot — file names plus
  per-file footer stats as a JSON string column — lives in the zstd
  sidecar, so the commit JSON stays O(#tables) bytes.
- **delta** (every other version): ``parent`` plus inline ``add`` /
  ``remove`` / ``stats_add`` lists, or — past
  :data:`DELTA_SIDECAR_MIN_FILES` changed files — a ``delta`` sidecar
  with per-table counts (``n_add_by_table``, ``n_remove_by_table``) and
  the added files' partition directories (``add_dirs_by_table``) in the
  JSON.  Pin/unpin commits carry a ``pin`` record.

Every reader resolves a version the same way, through ONE resolver
(:func:`_snapshot`): :func:`_chain` walks back to the checkpoint at or
below it (at most ``CHECKPOINT_EVERY - 1`` deltas) or to a cached
ancestor, then :func:`_fold` applies the deltas since.  The snapshot is
one Arrow table ``(table, file, stats)`` sorted by (table, file), stats
kept as JSON strings: the checkpoint sidecar's own shape, so a
checkpoint is the parent snapshot plus the commit's delta written out,
a per-table read is a slice, and vacuum is ``is_in`` over Arrow arrays.
:func:`read_manifest` is the one place it becomes Python dicts.

A batch stages ALL tables' new files first (files on disk but referenced by
no commit ⇒ invisible to snapshot readers), then publishes ONE commit.  The
commit point is the creation of ``v<N>.json`` itself via ``os.link`` —
put-if-absent on POSIX — so (a) a reader holding :func:`read_published`
sees the previous snapshot or the complete new one, never a partial block
set, and (b) two writers racing for version N cannot both win: the loser
gets :class:`ConcurrentWriteError` and rebases (optimistic concurrency,
the Delta-log protocol on a filesystem with atomic link).  ``CURRENT`` is
only a hint — readers probe forward from it, so a crash between the link
and the hint update loses nothing.  Crash at ANY point before the link
leaves orphan data files that no commit references; :func:`vacuum`
reclaims them (with a ``min_age_s`` grace window so a CONCURRENT writer's
staged-but-uncommitted files — indistinguishable from crash orphans by
reference alone — survive until its commit lands), and the duplicate
probe only consults published rows (null-safe on PK components), so
the replayed batch re-stages identical content — or stages nothing at
all, in which case NO commit is written (a version burned per replay
would silently shrink the retention horizon).

Scale properties:

- **O(delta) commits.**  Every writer (publish, compact, z-order, expire,
  rewrite, pin) commits through :func:`_commit_delta` — exactly the
  files it changed, no parent hydration or set-diff between
  checkpoints; the checkpoint every ``CHECKPOINT_EVERY``-th commit
  amortizes the O(live files) snapshot.
- **One staging path.**  Every writer that adds data files (publish,
  compact, z-order, rewrite) stages them through :func:`_stage`: the
  bucket-partitioned write, the optional sort led by the bucket column,
  the ``_staging`` directory and the move into the table directory.
- **No directory listings, no schema inference.**  Readers get explicit
  file lists from the snapshot (``basePath`` preserves bucket-partition
  columns), so the object-store LIST that dominates partitioned-table
  reads at scale never happens, and the data schema from the files'
  footers (:func:`_read_files`), so planning a read runs no Spark job.
- **File skipping.**  Staging records per-file min/max column stats from
  the parquet footers into the commit; ``read_published(where=...)``
  prunes files whose ranges are disjoint from the predicate — the same
  mechanism as Delta/Iceberg data skipping.
- **Time travel.**  ``read_manifest``/``read_published`` accept
  ``version=`` — any retained commit resolves to its exact snapshot
  (``vacuum`` bounds how far back the data files themselves survive).
- **Cached, sliced reads.**  Resolved snapshots are cached per
  immutable version, so the hot loop folds only the deltas since its
  last read (a few added files are spliced in by bisect).
  ``read_published`` takes its table's slice and turns only those
  paths into Python objects; vacuum and the pin probe resolve with the
  stats column projected away.
- **One maintenance path.**  Checkpoint builds, resolves, vacuum and
  pin probes all run on the driver over the log seam, on the one
  snapshot form: the O(live files) driver state is Arrow buffers,
  never Python objects.  The seam keeps every path working on storage
  executors cannot see and on :class:`~.logstore.InMemoryLogStore`.

Concurrent writers rebase with CONFLICT DETECTION: a losing writer
compares its staged files' partition directories with what the racers
ADDED in between — overlapping tables re-run their PK anti-join against
the fresh snapshot (duplicates a racer published are dropped; the stale
staging is vacuumed as an orphan), disjoint tables rebase verbatim.
Partition values are deterministic functions of row content
(height/key buckets), so directory disjointness implies PK disjointness;
unpartitioned tables conservatively re-stage on any same-table race.
The maintenance rewrites stage nothing a racer could duplicate, so their
stance is simpler: compaction and z-order commit through one swap
(:func:`_swap`) that rebases once if every file it removes is still live
and abandons otherwise (Delta's OPTIMIZE rule); expiry recomputes its
drop set; a whole-table rewrite (:func:`rewrite_published_many`) raises.

The STORAGE SEAM (Delta's LogStore move): every durability- or
atomicity-bearing call on the LOG surface — the put-if-absent commit
link, the CURRENT hint, sidecar writes/reads, orphan sweeps, staging
reclamation and the pin probe — goes through the
injectable :data:`LOG_STORE` (:class:`~.logstore.PosixLogStore` by
default), so an object-store backend (conditional PUT) slots in without
touching protocol code; URL-scheme ``out_dir``s are refused by the POSIX
backend.  DATA files stay on the data plane: Spark writes staged parquet
and ``read_published`` scans by path; every staging move
(:func:`_land_staged`, called only by :func:`_stage`) is a
same-filesystem rename of Spark-written files.

With Delta/Iceberg available this module disappears into their
transaction log — same protocol (stage files, commit one metadata delta,
checkpoint, vacuum); the log here keeps the repo dependency-free.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .listen import TABLE_PKS
from .logstore import InMemoryLogStore, PosixLogStore  # noqa: F401

#: the txlog's storage seam (r12 — Delta's LogStore move): every
#: durability/atomicity-bearing call on the LOG surface (commit JSONs,
#: CURRENT, sidecars, orphan sweeps, the pin probe) goes through
#: this object, so an object-store backend slots in without touching
#: protocol code.  Swap per-deployment (``publish.LOG_STORE = MyStore()``)
#: — DATA files are still written/read by Spark by path, exactly as
#: Delta reads data through Hadoop filesystems (see logstore.py).
LOG_STORE = PosixLogStore()

_MANIFEST_DIR = "_manifest"

#: the on-disk format every commit carries (``"format"`` in its JSON);
#: readers refuse any other value with :class:`StoreFormatError`.
FORMAT = 1

#: every Nth commit is written as a full snapshot; readers replay at most
#: N-1 incremental deltas on top of the nearest checkpoint at or below the
#: requested version.
CHECKPOINT_EVERY = 16

#: per-file stats are kept for at most this many columns (footer order) to
#: bound commit JSON size on wide tables.
_MAX_STATS_COLUMNS = 24

#: how many snapshots BEFORE the newest the maintenance ops
#: (compact_published, rewrite_zordered, rewrite_published_many,
#: expire_files) retain when they auto-vacuum after their commit, read at
#: call time.  0 would delete the previous snapshot's replaced files the
#: instant the swap commits — destroying time travel and breaking any
#: reader still scanning a DataFrame pinned to it
#: (read_published hands out explicit file lists, so the scan runs
#: arbitrarily later).  Delta solves this with a time-based retention
#: horizon (default 7 days); version-count retention is the analog a
#: wall-clock-free test environment can assert on.  Production tuning: set
#: it to cover the longest reader pin / time-travel window divided by the
#: maintenance cadence.
MAINT_KEEP_VERSIONS = 2

#: concurrent-writer grace window (seconds) for the maintenance ops'
#: auto-vacuum: unreferenced files younger than this survive, because a
#: concurrent writer's staged-but-uncommitted files look exactly like
#: crash orphans until its commit lands.  15 minutes comfortably covers a
#: staging write; explicit vacuum(out) keeps grace 0 for quiesced cleanup.
VACUUM_GRACE_S = 900.0


class StoreFormatError(RuntimeError):
    """The store holds something this build does not read: a commit whose
    ``format`` is not :data:`FORMAT`, or data files in a directory with no
    commit log.  ``path`` names the commit file (or the table directory)
    and ``version`` the commit version (None for a log-less directory)."""

    def __init__(self, path: str, version: int | None, found: str) -> None:
        where = path if version is None else f"{path} (version {version})"
        super().__init__(
            f"{where}: {found} — this build reads only format-{FORMAT} "
            "stores; republish the data through publish_batch into a "
            "fresh directory"
        )
        self.path = path
        self.version = version


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer was about to.

    Raised from the put-if-absent commit; callers re-read the log and
    rebase (``publish_batch`` retries automatically, ``compact_published``
    rebases once or abandons — compaction is an optimization)."""


# ---------------------------------------------------------------------------
# commit-log I/O
# ---------------------------------------------------------------------------


def _manifest_path(out_dir: str) -> str:
    _check_posix_path(out_dir)
    return os.path.join(out_dir, _MANIFEST_DIR)


def _check_posix_path(out_dir: str) -> None:
    """The store's path guard, checked at :func:`_manifest_path` so one
    check covers every txlog entry point — :class:`PosixLogStore`
    refuses URL schemes (``s3://bucket/x`` would otherwise be treated as
    a weird RELATIVE local path and the sink would silently create a
    working-looking local store); a non-POSIX backend accepts its own
    scheme here."""
    LOG_STORE.validate(out_dir)


def _commit_name(version: int) -> str:
    return f"v{version:09d}.json"


def _load_commit(out_dir: str, version: int) -> dict:
    """Commit ``version`` — the one place a commit is read back, so the
    one format check every reader passes through."""
    path = os.path.join(_manifest_path(out_dir), _commit_name(version))
    commit = json.loads(LOG_STORE.read_bytes(path))
    if commit.get("format") != FORMAT:
        raise StoreFormatError(
            path, version, f"commit format {commit.get('format')!r}"
        )
    return commit


def _chain(
    out_dir: str, version: int, held=None
) -> tuple[dict, list[dict]]:
    """The one walk over the log: from ``version`` back to its checkpoint
    (at most ``CHECKPOINT_EVERY - 1`` deltas).  Returns ``(base,
    deltas)`` with the deltas after the base, oldest first.  The base is
    the checkpoint commit — or, when ``held(v)`` returns a snapshot
    already resolved for a version on the way (the snapshot cache's
    Arrow table), that snapshot, and the walk stops there."""
    deltas: list[dict] = []
    v = version
    while v >= 1:
        base = held(v) if held is not None else None
        if base is None:
            commit = _load_commit(out_dir, v)
            base = commit if "ckpt" in commit else None
        if base is not None:
            deltas.reverse()
            return base, deltas
        deltas.append(commit)
        v -= 1
    raise RuntimeError(
        f"commit chain for version {version} in {out_dir} has no "
        "checkpoint ancestor — log is corrupt"
    )


def _delta_counts(commit: dict) -> tuple[dict[str, int], dict[str, int]]:
    """Per-table ``(added, removed)`` file counts of the delta a commit
    states — from the JSON count fields of a spilled delta, from the
    inline lists otherwise (checkpoint commits carry their own delta
    too)."""
    if "delta" in commit:
        return (
            {t: int(n) for t, n in commit.get("n_add_by_table", {}).items()},
            {
                t: int(n)
                for t, n in commit.get("n_remove_by_table", {}).items()
            },
        )
    return (
        {t: len(fs) for t, fs in commit.get("add", {}).items()},
        {t: len(fs) for t, fs in commit.get("remove", {}).items()},
    )


#: delta commits whose changed-file count reaches this spill their
#: add/remove lists into a ``delta-v<N>-*.parquet`` sidecar and keep the
#: commit JSON O(1) bytes (plus O(#tables) count fields).  Without the
#: spill a mega-rewrite (format migration, whole-table re-sort) inlines
#: the ENTIRE table's file list into v<N>.json — which every resolve
#: between checkpoints then re-parses.  Ordinary micro-batch commits
#: (a few files) never come near this.
DELTA_SIDECAR_MIN_FILES = 100_000

#: cap on per-table partition-directory lists carried in a spilled
#: commit's JSON (``add_dirs_by_table``) — above it the entry is null
#: (= wildcard: same-table races conservatively re-stage)
DELTA_DIRS_CAP = 4096


def _write_sidecar_parquet(mdir: str, name: str, table) -> None:
    """Stream a log sidecar to the store: stage where the store says
    (pyarrow streams the parquet — no in-memory double buffer), then
    durably publish through the seam's ``finalize_file`` (POSIX:
    fsync + same-dir rename).  Shared by the checkpoint and delta-spill
    writers so the format knobs — zstd and the 262 144-row group bound
    that keeps the sorted key columns' per-group min/max pruning
    fine-grained — cannot drift apart.  A
    failed stage never outlives the call."""
    import pyarrow.parquet as pq

    store = LOG_STORE
    final = os.path.join(mdir, name)
    stage = store.stage_path(final)
    try:
        pq.write_table(
            table, stage, compression="zstd", row_group_size=262_144
        )
        store.finalize_file(stage, final)
    except BaseException:
        if os.path.exists(stage):
            os.unlink(stage)
        raise


def _write_delta_sidecar(
    mdir: str,
    version: int,
    add: dict[str, list],
    remove: dict[str, list],
    stats_add: dict[str, dict],
) -> str:
    """Spill a mega-delta's add/remove lists to a zstd parquet sidecar —
    one row per changed file: ``(action, table, file, stats)`` with
    ``action`` in {'add','remove'} and stats the same compact JSON-string
    encoding as checkpoint sidecars.  Durable before return (fsync +
    same-dir rename), version+uuid named exactly like checkpoint sidecars
    so a commit-race loser's spill becomes a vacuumable orphan.  Rows
    sort by (action, table, file): readers that want one action or one
    table prune row groups on the sorted columns' min/max."""
    import pyarrow as pa

    parts = []
    for action, rows in (
        ("add", _rows(add, stats_add, _SIDECAR_SCHEMA)),
        ("remove", _rows(remove, {}, _SIDECAR_SCHEMA)),
    ):
        parts.append(
            rows.add_column(
                0, "action", pa.array([action] * rows.num_rows, pa.string())
            )
        )
    name = f"delta-v{version}-{uuid.uuid4().hex[:12]}.parquet"
    # durable before the commit link — a lost commit race leaves a
    # vacuumable orphan, never a torn sidecar
    _write_sidecar_parquet(
        mdir,
        name,
        pa.concat_tables(parts).sort_by(
            [("action", "ascending")] + _SORT_KEY
        ),
    )
    return name


#: the snapshot's columns, and the checkpoint sidecar's: one row per live
#: file, stats as a compact JSON string (heterogeneous per table, so a
#: string column beats a union of typed structs; readers that don't want
#: it column-prune it)
_SIDECAR_SCHEMA = "table", "file", "stats"

#: the order every snapshot and checkpoint sidecar keeps
_SORT_KEY = [("table", "ascending"), ("file", "ascending")]

#: :func:`_insert` splices k added rows into an n-row snapshot by bisect
#: while ``k * log2(n) * _SPLICE_COST < n`` and sorts the concatenation
#: otherwise.  A bisect step costs about 2.5 us of Python; a sort about
#: 0.3 us per row in Arrow, less the 0.07 us per row the splice pays to
#: re-combine its slices, so the splice wins while k * log2(n) < n / 9
#: (``plans/arrow_snapshots/splice_vs_sort.py``: the sort wins a
#: tip-shaped 4k-row fold of 66 adds, the splice a 1M-row fold of 1024)
_SPLICE_COST = 9


def _schema(cols):
    import pyarrow as pa

    return pa.schema([(c, pa.string()) for c in cols])


def _rows(files: dict[str, list], stats: dict[str, dict], cols):
    """Per-table file lists (and their per-file stats dicts) as snapshot
    rows in ``cols`` — how an inline delta enters the fold."""
    import pyarrow as pa

    data: dict[str, list] = {"table": [], "file": [], "stats": []}
    for t, rels in files.items():
        per = stats.get(t, {})
        for rel in rels:
            s = per.get(rel)
            data["table"].append(t)
            data["file"].append(rel)
            data["stats"].append(
                json.dumps(s, separators=(",", ":")) if s else None
            )
    return pa.table(
        [pa.array(data[c], pa.string()) for c in cols], schema=_schema(cols)
    )


def _delta_tables(out_dir: str, commit: dict, cols):
    """The delta a commit states (checkpoint commits carry their own
    too), as ``(removes, adds)``: the removed ``(table, file)`` rows and
    the added rows in ``cols``.  A spilled delta is read as the Arrow
    table its ``delta-v*`` sidecar already is, stats column-pruned
    unless ``cols`` asks for them."""
    import pyarrow.compute as pc

    if "delta" not in commit:
        return (
            _rows(commit.get("remove", {}), {}, ("table", "file")),
            _rows(commit.get("add", {}), commit.get("stats_add", {}), cols),
        )
    path = os.path.join(_manifest_path(out_dir), commit["delta"])
    t = LOG_STORE.read_parquet(path, columns=["action", *cols])
    is_add = pc.equal(t["action"], "add")
    return (
        t.filter(pc.invert(is_add)).select(["table", "file"]),
        t.filter(is_add).select(list(cols)).cast(_schema(cols)),
    )


def _drop(rows, removes):
    """``rows`` without the ``(table, file)`` pairs of ``removes``: one
    ``pc.equal`` & ``pc.is_in`` mask per removed table."""
    import pyarrow.compute as pc

    drop = None
    for t in pc.unique(removes["table"]).to_pylist():
        gone = removes.filter(pc.equal(removes["table"], t))["file"]
        hit = pc.and_(
            pc.equal(rows["table"], t), pc.is_in(rows["file"], value_set=gone)
        )
        drop = hit if drop is None else pc.or_(drop, hit)
    return rows.filter(pc.invert(drop))


def _insert(snap, adds):
    """Sorted ``snap`` with the sorted rows ``adds`` inserted at their
    (table, file) positions, as one chunk.  A few adds into a large
    snapshot are spliced in — a bisect per added row, one slice per run
    of adds landing between the same two rows, then one combine — and
    otherwise the concatenation is sorted (:data:`_SPLICE_COST`)."""
    import bisect
    import math

    import pyarrow as pa

    n = snap.num_rows
    if adds.num_rows * math.log2(n + 2) * _SPLICE_COST >= n:
        return pa.concat_tables([snap, adds]).sort_by(_SORT_KEY)
    t_col, f_col = snap["table"], snap["file"]
    index = range(n)
    pieces, lo, run = [], 0, 0
    for i, key in enumerate(
        zip(adds["table"].to_pylist(), adds["file"].to_pylist())
    ):
        pos = bisect.bisect_left(
            index, key, lo, key=lambda j: (t_col[j].as_py(), f_col[j].as_py())
        )
        if pos > lo:
            pieces += [adds.slice(run, i - run), snap.slice(lo, pos - lo)]
            run, lo = i, pos
    pieces += [adds.slice(run), snap.slice(lo)]
    return pa.concat_tables([p for p in pieces if p.num_rows]).combine_chunks()


def _fold(snap, removes, adds):
    """The one fold of the delta semantics: ``snap`` (sorted by (table,
    file)) with the removed rows dropped and the added rows inserted in
    order.  ``removes``/``adds`` may gather several consecutive deltas:
    data file names are never reused, so a remove either drops a
    snapshot row or cancels an add of an earlier delta."""
    if removes.num_rows:
        snap, adds = _drop(snap, removes), _drop(adds, removes)
    if adds.num_rows:
        snap = _insert(snap, adds.sort_by(_SORT_KEY))
    return snap


def _write_checkpoint(
    out_dir: str,
    version: int,
    add: dict[str, list],
    remove: dict[str, list],
    stats_add: dict[str, dict],
) -> dict:
    """Build checkpoint ``version``'s sidecar: the snapshot of
    ``version - 1`` (:func:`_snapshot`, empty for v1) folded with this
    commit's own delta, written out — stats stay JSON strings, never
    parsed.  Durable before return, named with the version AND a uuid
    so racing writers of the same version cannot collide — the loser's
    sidecar becomes an orphan that vacuum reclaims.  Returns the
    checkpoint's commit fields (``ckpt``, ``n_files``, ``table_names``,
    ``n_files_by_table``), all taken from the table written."""
    import pyarrow.compute as pc

    snap = _fold(
        _snapshot(out_dir, version - 1),
        *_delta_tables(
            out_dir,
            {"add": add, "remove": remove, "stats_add": stats_add},
            _SIDECAR_SCHEMA,
        ),
    )
    mdir = _manifest_path(out_dir)
    name = f"ckpt-v{version}-{uuid.uuid4().hex[:12]}.parquet"
    LOG_STORE.makedirs(mdir)
    _write_sidecar_parquet(mdir, name, snap)
    counts = pc.value_counts(snap["table"])
    by_t = dict(
        zip(
            counts.field("values").to_pylist(),
            counts.field("counts").to_pylist(),
        )
    )
    return {
        "ckpt": name,
        "n_files": snap.num_rows,
        # table NAMES and counts are O(dozens): a reader learns the
        # snapshot's tables without scanning the O(live files) sidecar
        "table_names": sorted(by_t),
        "n_files_by_table": {t: by_t[t] for t in sorted(by_t)},
    }


def _latest_version(out_dir: str) -> int:
    """Newest committed version: start from the CURRENT hint and probe
    forward (a crash between the commit link and the hint update, or a
    racing writer, can leave commits newer than the hint).  Falls back to
    a directory scan when the hint is missing."""
    store = LOG_STORE
    mdir = _manifest_path(out_dir)
    cur = os.path.join(mdir, "CURRENT")
    v = 0
    if store.exists(cur):
        name = store.read_bytes(cur).decode().strip()
        try:
            v = int(name[1:].split(".")[0])
        except ValueError:
            v = 0
    if v == 0:
        if not store.isdir(mdir):
            return 0
        for name in store.listdir(mdir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    v = max(v, int(name[1:-5]))
                except ValueError:
                    continue
        if v == 0:
            return 0
    while store.exists(os.path.join(mdir, _commit_name(v + 1))):
        v += 1
    return v


#: resolved snapshots (Arrow tables) keyed by (abspath, version).  A
#: committed version is immutable (put-if-absent commit files are never
#: rewritten), so entries never go stale; the cache turns the
#: single-writer hot loop's resolve into O(deltas since last read).
#: Entries are ``(table, buffer bytes)``, shared and read-only (Arrow
#: tables are immutable).  A stats-less entry never replaces one with
#: stats.  Bounded by count and by bytes (buffers shared between entries
#: count once per entry), oldest evicted first; the newest always stays.
_SNAP_CACHE: dict[tuple, tuple] = {}
_SNAP_CACHE_MAX = 32
_SNAP_CACHE_MAX_BYTES = 1 << 30
_SNAP_LOCK = threading.Lock()


def _cache_put(key: tuple, snap) -> None:
    with _SNAP_LOCK:
        old = _SNAP_CACHE.pop(key, None)
        if old is not None and old[0].num_columns >= snap.num_columns:
            _SNAP_CACHE[key] = old
        else:
            _SNAP_CACHE[key] = (snap, snap.get_total_buffer_size())
        size = sum(n for _s, n in _SNAP_CACHE.values())
        while len(_SNAP_CACHE) > 1 and (
            len(_SNAP_CACHE) > _SNAP_CACHE_MAX
            or size > _SNAP_CACHE_MAX_BYTES
        ):
            size -= _SNAP_CACHE.pop(next(iter(_SNAP_CACHE)))[1]


def _snapshot(out_dir: str, version: int, stats: bool = True):
    """THE resolver: the snapshot at ``version`` as one Arrow table
    ``(table, file, stats)`` sorted by (table, file), stats as JSON
    strings (version 0 is the empty table).  Walks :func:`_chain` back
    to a checkpoint sidecar or to a cached ancestor, then folds the
    deltas since in one :func:`_fold`; every resolve fills
    :data:`_SNAP_CACHE`.  ``stats=False`` projects the stats column
    away — the sidecars' dominant bytes, which vacuum and the pin probe
    never read — and is served by any cached entry."""
    import pyarrow as pa

    cols = _SIDECAR_SCHEMA if stats else ("table", "file")
    if version == 0:
        return _schema(cols).empty_table()
    root = os.path.abspath(out_dir)

    def held(v):
        snap, _n = _SNAP_CACHE.get((root, v), (None, 0))
        if snap is None or snap.num_columns < len(cols):
            return None
        return snap.select(list(cols))

    base, deltas = _chain(out_dir, version, held=held)
    if isinstance(base, dict):
        base = LOG_STORE.read_parquet(
            os.path.join(_manifest_path(out_dir), base["ckpt"]),
            columns=list(cols),
        ).cast(_schema(cols))
    if deltas:
        parts = [_delta_tables(out_dir, c, cols) for c in deltas]
        base = _fold(
            base,
            pa.concat_tables([r for r, _ in parts]),
            pa.concat_tables([a for _, a in parts]),
        )
    _cache_put((root, version), base)
    return base


def _table_rows(snap, table: str):
    """``table``'s rows of a snapshot: a zero-copy slice found by bisect
    on the sorted ``table`` column."""
    import bisect

    t_col = snap["table"]
    index = range(snap.num_rows)
    lo = bisect.bisect_left(index, table, key=lambda i: t_col[i].as_py())
    hi = bisect.bisect_right(
        index, table, lo, key=lambda i: t_col[i].as_py()
    )
    return snap.slice(lo, hi - lo)


def _table_names(snap) -> list[str]:
    import pyarrow.compute as pc

    return pc.unique(snap["table"]).to_pylist()


def _live_files(out_dir: str, version: int, table: str) -> list[str]:
    """``table``'s live files at ``version``, sorted — the one Python
    list a reader builds, for the table whose paths Spark needs."""
    return _table_rows(_snapshot(out_dir, version), table)["file"].to_pylist()


def _file_stats(rows) -> dict[str, dict]:
    """``{file: {col: [min, max]}}`` of one table's snapshot rows (files
    without stats are absent)."""
    return {
        rel: json.loads(s)
        for rel, s in zip(rows["file"].to_pylist(), rows["stats"].to_pylist())
        if s
    }


def read_manifest(out_dir: str, version: int | None = None) -> dict:
    """The snapshot at ``version`` (default: newest): ``{"version": N,
    "tables": {name: [relative files]}, "stats": {name: {file: {col:
    [min, max]}}}}`` — or an empty v0 when nothing is published.  Any
    retained version time-travels (data-file survival is bounded by
    :func:`vacuum`).  The one place the snapshot becomes Python dicts."""
    latest = _latest_version(out_dir)
    if version is None:
        version = latest
    if version > latest:
        raise ValueError(f"version {version} > latest committed {latest}")
    snap = _snapshot(out_dir, version)
    tables: dict[str, list] = {}
    stats: dict[str, dict] = {}
    for t in _table_names(snap):
        rows = _table_rows(snap, t)
        tables[t] = rows["file"].to_pylist()
        per = _file_stats(rows)
        if per:
            stats[t] = per
    return {"version": version, "tables": tables, "stats": stats}


def _disk_files(out_dir: str, table: str):
    """The data files under ``table``'s directory as an Arrow string
    array of paths relative to it (hidden and ``_``-prefixed names
    skipped): one walk through the log seam."""
    import pyarrow as pa

    tdir = os.path.join(out_dir, f"{table}.parquet")
    rels: list[str] = []
    if LOG_STORE.isdir(tdir):
        for root, _dirs, files in LOG_STORE.walk(tdir):
            sub = os.path.relpath(root, tdir)
            pre = "" if sub == "." else sub + os.sep
            rels.extend(
                pre + f for f in files if not f.startswith(("_", "."))
            )
    return pa.array(rels, pa.string())


def _missing(snap, on_disk: dict) -> tuple[str, str, int] | None:
    """The one "snapshot files missing on disk" check, shared by
    pin_version's re-readability probe and vacuum's hollow-lease
    detection: ``(table, file, n)`` naming the first file of ``snap``
    that no ``on_disk[table]`` listing (:func:`_disk_files`) holds and
    counting the misses across every table; None when all are there."""
    import pyarrow as pa
    import pyarrow.compute as pc

    first, n = None, 0
    for t in _table_names(snap):
        files = _table_rows(snap, t)["file"]
        disk = on_disk.get(t, pa.array([], pa.string()))
        gone = files.filter(pc.invert(pc.is_in(files, value_set=disk)))
        if len(gone):
            first = first or (t, gone[0].as_py())
            n += len(gone)
    return None if first is None else (*first, n)


def _fold_checkpoint_pins(
    out_dir: str, version: int, op: str, pin: dict | None
) -> dict[str, str | None]:
    """The ACTIVE pin set this checkpoint must fold (the table-state
    amortization applied to leases): pinned_versions then replays at
    most CHECKPOINT_EVERY-1 commits instead of the whole log."""
    pins = {} if version == 1 else _pins_at(out_dir, version - 1)
    if op == "pin":
        pins[int(pin["version"])] = pin.get("name")
    elif op == "unpin":
        pins.pop(int(pin["version"]), None)
    return {str(k): n for k, n in sorted(pins.items())}


def _attach_delta(
    commit: dict,
    mdir: str,
    version: int,
    manifest: dict,
) -> None:
    """The ONE spill-or-inline decision (delta commits and checkpoint
    commits both funnel here, so the threshold semantics cannot
    diverge): inline ``add``/``remove``/``stats_add`` below
    :data:`DELTA_SIDECAR_MIN_FILES` changed files, a spilled
    ``delta-v*`` sidecar + O(#tables) count fields past it."""
    add = manifest.get("add", {})
    remove = manifest.get("remove", {})
    stats_add = manifest.get("stats_add", {})
    n_changed = sum(len(fs) for fs in add.values()) + sum(
        len(fs) for fs in remove.values()
    )
    if n_changed >= DELTA_SIDECAR_MIN_FILES:
        commit["delta"] = _write_delta_sidecar(
            mdir, version, add, remove, stats_add
        )
        if add:
            commit["n_add_by_table"] = {
                t: len(fs) for t, fs in sorted(add.items())
            }
            # the added files' partition DIRECTORIES (bounded:
            # partition values are content-derived buckets, O(dozens)
            # per table) ride in the JSON so race-window conflict
            # detection (_conflicting_tables) never opens the sidecar —
            # the one remaining O(changed files) read a spilled
            # mega-rewrite cost a racing writer.  A table spanning more
            # than DELTA_DIRS_CAP dirs stores null = wildcard: any
            # same-table race conservatively re-stages (the safe call
            # against a rewrite that wide).
            dirs_by_t = {}
            for t, fs in sorted(add.items()):
                d = {os.path.dirname(f) for f in fs}
                dirs_by_t[t] = sorted(d) if len(d) <= DELTA_DIRS_CAP else None
            commit["add_dirs_by_table"] = dirs_by_t
        if remove:
            commit["n_remove_by_table"] = {
                t: len(fs) for t, fs in sorted(remove.items())
            }
        return
    if add:
        commit["add"] = add
    if remove:
        commit["remove"] = remove
    if stats_add:
        commit["stats_add"] = stats_add


def _write_manifest(out_dir: str, manifest: dict) -> None:
    """Commit ``manifest`` as version N — the single commit choke point.

    Two accepted shapes, each with the commit's own ``add`` /
    ``remove`` (+ ``stats_add``) lists:

    - DELTA form (no ``ckpt`` — the hot path, :func:`_commit_delta`):
      the record is written directly, O(changed files) with NO
      parent-snapshot hydration or set-diff.  ``stats_add`` is filtered
      to the files in ``add``.  Refused on checkpoint versions (those
      owe readers a full snapshot).
    - CHECKPOINT form (``ckpt`` + ``n_files`` + ``table_names`` +
      ``n_files_by_table``, v1 and every ``CHECKPOINT_EVERY``-th version
      only): the sidecar :func:`_write_checkpoint` already made durable;
      the O(1) commit JSON gets the pin fold and the commit's own delta,
      so race-window conflict detection stays O(delta).

    Mega-deltas (format migration, whole-table rewrite) spill their file
    lists to a parquet sidecar (:func:`_attach_delta`) on either shape.
    Either way the commit point is :func:`_link_commit`'s put-if-absent
    ``os.link`` — a concurrent committer of the same version raises
    :class:`ConcurrentWriteError` instead of silently clobbering."""
    mdir = _manifest_path(out_dir)
    LOG_STORE.makedirs(mdir)
    version = manifest["version"]
    op = manifest.get("op", "write")
    is_ckpt = "ckpt" in manifest
    if is_ckpt != (version == 1 or version % CHECKPOINT_EVERY == 0):
        raise ValueError(
            f"{'checkpoint' if is_ckpt else 'delta'}-form commit for "
            f"{'non-' if is_ckpt else ''}checkpoint version {version} — "
            "checkpoints carry the full snapshot (_commit_delta builds "
            "it), deltas between checkpoints use the delta form"
        )
    add = {t: sorted(fs) for t, fs in manifest.get("add", {}).items() if fs}
    remove = {
        t: sorted(fs) for t, fs in manifest.get("remove", {}).items() if fs
    }
    stats_add: dict[str, dict] = {}
    if is_ckpt:
        # the added files' stats live in the sidecar
        commit = {
            "version": version,
            "ts": round(time.time(), 3),
            "op": op,
            "ckpt": manifest["ckpt"],
            "n_files": int(manifest["n_files"]),
            "table_names": sorted(manifest["table_names"]),
            "n_files_by_table": {
                t: int(n)
                for t, n in sorted(manifest["n_files_by_table"].items())
            },
        }
    else:
        commit = {
            "version": version,
            "parent": version - 1,
            "ts": round(time.time(), 3),
            "op": op,
        }
        # hoist the per-table membership sets: rebuilding set(add[t])
        # inside the inner comprehension is O(n^2) for an n-file table,
        # which bites mega-rewrites (whole-table delta commits)
        added_sets = {t: set(fs) for t, fs in add.items()}
        stats_add = {
            t: {rel: s for rel, s in per.items() if rel in added_sets[t]}
            for t, per in manifest.get("stats_add", {}).items()
            if per and t in added_sets
        }
        stats_add = {t: per for t, per in stats_add.items() if per}
    _attach_delta(
        commit, mdir, version,
        {"add": add, "remove": remove, "stats_add": stats_add},
    )
    if "pin" in manifest:  # pin/unpin ops change no files
        commit["pin"] = manifest["pin"]
    if is_ckpt:
        commit["pins"] = _fold_checkpoint_pins(
            out_dir, version, op, manifest.get("pin")
        )
    _link_commit(mdir, version, commit)


def _link_commit(mdir: str, version: int, commit: dict) -> None:
    """Durably publish one commit record through the storage seam:
    ``put_if_absent`` of ``v<N>.json`` (THE commit point — POSIX: fsync'd
    temp + ``os.link``; object stores: conditional PUT; a concurrent
    committer of the same version raises :class:`ConcurrentWriteError`
    instead of silently clobbering), then the CURRENT discovery hint via
    ``write_atomic``.  Every commit is stamped ``"format": FORMAT``
    here, the one place a commit is serialized."""
    name = _commit_name(version)
    data = json.dumps(
        {"format": FORMAT, **commit}, separators=(",", ":")
    ).encode()
    try:
        LOG_STORE.put_if_absent(os.path.join(mdir, name), data)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"version {version} already committed in {os.path.dirname(mdir)}"
        ) from None
    LOG_STORE.write_atomic(
        os.path.join(mdir, "CURRENT"), name.encode()
    )  # hint, not the commit


def _commit_delta(
    out_dir: str,
    version: int,
    add: dict[str, list],
    remove: dict[str, list],
    stats_add: dict[str, dict],
    op: str = "publish",
    pin: dict | None = None,
) -> None:
    """Commit ``version`` from exactly what the writer CHANGED — the
    single commit every writer (create, publish, compact, z-order,
    expire, rewrite, pin) funnels through.  Non-checkpoint versions
    write the delta record DIRECTLY: O(changed files) driver work, no
    parent-snapshot hydration, no full-list set-diff.  Checkpoint
    versions (v1 and every ``CHECKPOINT_EVERY``-th) owe readers the full
    snapshot: :func:`_write_checkpoint` folds the parent sidecar with
    the deltas since and this commit's own, and the commit JSON names
    the sidecar it wrote.

    Same commit point (``_link_commit``'s put-if-absent), so racing
    writers fail loudly and rebase; both forms funnel through
    ``_write_manifest``, the single injectable choke point."""
    manifest = {"version": version, "op": op, "add": add, "remove": remove}
    if version == 1 or version % CHECKPOINT_EVERY == 0:
        manifest.update(
            _write_checkpoint(out_dir, version, add, remove, stats_add)
        )
    else:
        manifest["stats_add"] = stats_add
    if pin is not None:
        manifest["pin"] = pin
    _write_manifest(out_dir, manifest)


def history(out_dir: str) -> list[dict]:
    """The commit log, oldest first: ``[{version, op, ts, kind, added,
    removed}]`` — the DESCRIBE HISTORY analog."""
    out: list[dict] = []
    for v in range(1, _latest_version(out_dir) + 1):
        c = _load_commit(out_dir, v)
        # counts ride in the commit JSON (checkpoints carry their own
        # delta), so history never opens a sidecar
        added, removed = _delta_counts(c)
        out.append(
            {
                "version": v,
                "op": c["op"],
                "ts": c["ts"],
                "kind": "checkpoint" if "ckpt" in c else "delta",
                "added": sum(added.values()),
                "removed": sum(removed.values()),
            }
        )
    return out


def _pins_at(out_dir: str, version: int) -> dict[int, str | None]:
    """The active pin set AS OF ``version``: the checkpoint's folded
    ``pins`` plus the pin/unpin ops since — the same amortization as
    table state, so this is O(commits since last checkpoint), not
    O(total versions)."""
    if version < 1:
        return {}
    ckpt, deltas = _chain(out_dir, version)
    pins = {int(k): n for k, n in ckpt["pins"].items()}
    for c in deltas:
        p = c.get("pin")
        if p and c["op"] == "pin":
            pins[int(p["version"])] = p.get("name")
        elif p and c["op"] == "unpin":
            pins.pop(int(p["version"]), None)
    return pins


def pinned_versions(out_dir: str) -> dict[int, str | None]:
    """The ACTIVE retention leases: ``{pinned version: name}``, folded
    from the ``pin`` / ``unpin`` ops in the commit log (the registry
    lives IN the log — a pin is itself a commit, so it is atomic,
    crash-durable, and visible to every concurrent maintenance writer
    through the same protocol as data).  Amortized by the checkpoint
    fold (see :func:`_pins_at`): maintenance loops that call this after
    every compaction pay O(CHECKPOINT_EVERY) commit reads, not O(total
    versions) — the r8-flagged quadratic."""
    return _pins_at(out_dir, _latest_version(out_dir))


def pin_version(out_dir: str, version: int, name: str | None = None) -> dict:
    """Take a RETENTION LEASE on snapshot ``version``: commit a ``pin``
    log entry that :func:`vacuum` (and therefore every maintenance op's
    auto-vacuum) must honor — the pinned snapshot's data files survive
    any number of compaction/vacuum cycles past ``MAINT_KEEP_VERSIONS``,
    so a training run's ``dataset_snapshot`` provenance version stays
    byte-identically re-readable until :func:`unpin_version` releases it.
    Refuses a version that is uncommitted or whose files are ALREADY
    reclaimed (a lease on an unreadable snapshot would promise the
    impossible).  Returns the pin COMMIT RECORD ({version, op, pin} —
    an O(1) delta commit off checkpoint boundaries), not a snapshot;
    callers that want the snapshot read it (``read_manifest`` /
    ``read_published``).  The re-readability probe lists each of the
    snapshot's table directories once through the log seam and checks
    the stats-less snapshot against the listings (:func:`_missing`).

    Concurrency: a vacuum IN FLIGHT while this commits may have read the
    pin set before the pin landed.  The files are re-verified AFTER the
    pin commit and the lease is released (plus a loud raise) if any were
    lost — so a lost race surfaces as an error, never as a silently
    unreadable lease.  The residual window (vacuum deletes after this
    re-verify returns) requires the single-maintenance-writer discipline
    every other maintenance op here already assumes: don't run vacuum
    concurrently with pin_version on versions at/past the retention
    horizon."""
    latest = _latest_version(out_dir)
    if not 1 <= version <= latest:
        raise ValueError(
            f"pin_version: version {version} not in committed range "
            f"1..{latest} of {out_dir!r}"
        )

    def _missing_file() -> str | None:
        snap = _snapshot(out_dir, version, stats=False)
        miss = _missing(
            snap, {t: _disk_files(out_dir, t) for t in _table_names(snap)}
        )
        return None if miss is None else f"{miss[0]}/{miss[1]}"

    gone = _missing_file()
    if gone is not None:
        raise ValueError(
            f"pin_version: version {version} is no longer "
            f"re-readable — {gone} was already vacuumed; "
            "pin BEFORE the retention horizon passes"
        )
    for _ in range(2):
        try:
            commit = _commit_pin_op(
                out_dir, "pin", {"version": version, "name": name}
            )
        except ConcurrentWriteError:
            continue
        # re-verify AFTER the lease is durable: a vacuum that snapshotted
        # the pin set before this commit may have reclaimed the files in
        # between — release the now-hollow lease and fail loudly
        gone = _missing_file()
        if gone is not None:
            unpin_version(out_dir, version)
            raise ValueError(
                f"pin_version: lost the race with a concurrent vacuum — "
                f"{gone} was reclaimed while the pin committed; the lease "
                "was released (see the single-maintenance-writer note)"
            )
        return commit
    raise ConcurrentWriteError(
        f"pin_version: lost the commit race twice in {out_dir!r}"
    )


def unpin_version(out_dir: str, version: int) -> dict:
    """Release the retention lease on ``version`` (a ``unpin`` log
    entry); its files become reclaimable by the next :func:`vacuum` when
    outside the normal retention horizon.  Refuses when no active pin
    exists — an unpin that silently no-ops would mask a double-release
    bug in the caller's provenance bookkeeping."""
    if version not in pinned_versions(out_dir):
        raise ValueError(
            f"unpin_version: version {version} holds no active pin in "
            f"{out_dir!r}"
        )
    for _ in range(2):
        try:
            return _commit_pin_op(out_dir, "unpin", {"version": version})
        except ConcurrentWriteError:
            continue
    raise ConcurrentWriteError(
        f"unpin_version: lost the commit race twice in {out_dir!r}"
    )


def _commit_pin_op(out_dir: str, op: str, pin: dict) -> dict:
    """One ``pin``/``unpin`` log entry.  A lease changes NO files, so off
    checkpoint boundaries this is an O(1) delta-form commit; a commit
    landing ON a checkpoint boundary writes the checkpoint the protocol
    owes readers there (and folds the pin set), like every other
    checkpoint (:func:`_commit_delta`).  Raises
    :class:`ConcurrentWriteError` on a lost race; returns the pin commit
    record ``{version, op, pin}`` (version metadata only — even on a
    checkpoint boundary the sidecar keys stay in the log; read the
    commit with ``_load_commit`` if you need them)."""
    v_next = _latest_version(out_dir) + 1
    _commit_delta(out_dir, v_next, {}, {}, {}, op=op, pin=pin)
    return {"version": v_next, "op": op, "pin": pin}


def ensure_manifest(out_dir: str) -> dict:
    """Start the commit log of a fresh store: commit an EMPTY v1 —
    before any staging, so once a commit exists a crash mid-stage leaves
    only orphans (files outside the log, reclaimed by :func:`vacuum`),
    and version numbering and checkpoint placement are the same for
    every store.  A log-less directory whose ``<table>.parquet`` already
    holds data files is refused with :class:`StoreFormatError`: those
    files are in no commit, and nothing adopts them.  Idempotent;
    returns the live snapshot."""
    if _latest_version(out_dir) > 0:
        return read_manifest(out_dir)
    store = LOG_STORE
    if store.isdir(out_dir):
        for entry in sorted(store.listdir(out_dir)):
            tdir = os.path.join(out_dir, entry)
            if (
                entry.endswith(".parquet")
                and store.isdir(tdir)
                and _first_data_file(tdir) is not None
            ):
                raise StoreFormatError(
                    tdir, None, "data files in a directory with no commit log"
                )
    try:
        _commit_delta(out_dir, 1, {}, {}, {}, op="create")
    except ConcurrentWriteError:
        pass  # another writer created v1 first — theirs serves
    return read_manifest(out_dir)


def _file_may_match(
    stats: dict | None, where: dict[str, tuple] | None
) -> bool:
    """Range-overlap test: False only when the file's recorded [min, max]
    for some predicate column is provably disjoint from the requested
    bounds.  Missing stats (column or file) keep the file — pruning is an
    optimization, never a filter."""
    if not where:
        return True
    if not stats:
        return True
    for col, (lo, hi) in where.items():
        rng = stats.get(col)
        if not rng:
            continue
        fmin, fmax = rng
        if fmin is None or fmax is None:
            continue
        try:
            if lo is not None and fmax < lo:
                return False
            if hi is not None and fmin > hi:
                return False
        except TypeError:
            continue  # bound/stat type mismatch: never prune on it
    return True


def read_published(
    spark: SparkSession,
    out_dir: str,
    table: str,
    version: int | None = None,
    where: dict[str, tuple] | None = None,
) -> DataFrame | None:
    """The committed view of ``table``: exactly the snapshot's file list,
    with bucket partition columns preserved (``basePath``) so probe filters
    still prune.  ``None`` when the table has no published rows.

    ``version`` time-travels to an older snapshot.  ``where`` ({col:
    (lo, hi)}, either bound None for open) SKIPS files whose footer stats
    are disjoint from the bounds — the result may still contain
    non-matching rows (callers apply the row filter; this prunes I/O,
    like Delta data skipping, it does not implement the predicate).

    The file list is ``table``'s slice of the one cached snapshot
    (:func:`_snapshot`); only that table's paths (and, for a ``where``,
    its stats) become Python objects.  Planning the read runs no Spark
    job: the data schema comes from the files' footers
    (:func:`_read_files`), the way Delta keeps the schema beside the file
    list so a read never opens data to plan."""
    latest = _latest_version(out_dir)
    if version is None:
        version = latest
    elif version > latest:
        raise ValueError(f"version {version} > latest committed {latest}")
    if version == 0:
        return None
    rows = _table_rows(_snapshot(out_dir, version), table)
    all_files = rows["file"].to_pylist()
    if not all_files:
        return None
    tdir = os.path.join(out_dir, f"{table}.parquet")
    files = all_files
    if where:
        per_file = _file_stats(rows)
        files = [f for f in files if _file_may_match(per_file.get(f), where)]
        if not files:
            # every file pruned: empty result with the table's full schema
            # (one-file read keeps partition columns via basePath)
            try:
                schema = _read_files(spark, tdir, all_files[:1]).schema
            except Exception as e:
                # the probe file can vanish between resolve and read if a
                # concurrent vacuum reclaimed this snapshot's horizon —
                # surface the snapshot context instead of an opaque
                # parquet path error (r11)
                raise RuntimeError(
                    f"read_published: schema probe file "
                    f"{table}/{all_files[0]} of snapshot v{version} in "
                    f"{out_dir!r} is unreadable — was the version vacuumed "
                    "between resolve and read?  Pin the version "
                    "(pin_version) to hold its files."
                ) from e
            return spark.createDataFrame([], schema)
    return _read_files(spark, tdir, files)


def _read_files(spark: SparkSession, tdir: str, rels: list[str]) -> DataFrame:
    """Spark's read of the data files ``rels`` of table directory ``tdir``,
    bucket partition columns typed from the paths (``basePath``).  The
    data schema is handed to the reader (:func:`_data_schema`), so Spark
    runs no inference job.  Writers never store a partition column in a
    data file, so the schema leaves Spark to type the partition columns
    from the paths, as inference does.  Files without Spark's footer key,
    or files that disagree, get Spark's inferred read instead."""
    paths = [os.path.join(tdir, r) for r in rels]
    reader = spark.read.option("basePath", tdir)
    schema = _data_schema(paths)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


# ---------------------------------------------------------------------------
# staged write + commit
# ---------------------------------------------------------------------------


def _json_safe(v):
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    return None


def _footer(path: str) -> tuple[int | None, dict[str, list], dict | None]:
    """One read of ``path``'s parquet footer: the row count (None when
    unreadable), per-column [min, max] folded across row groups — free at
    stage time, and what lets ``read_published(where=...)`` skip files
    without opening them; only JSON-comparable scalar types are kept — and
    the key-value metadata that holds Spark's schema."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return None, {}, None
    acc: dict[str, list] = {}
    skipped: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name or name in skipped:
                continue  # nested leaves don't map to predicate columns
            st = col.statistics
            if st is None or not st.has_min_max:
                skipped.add(name)
                acc.pop(name, None)
                continue
            lo, hi = _json_safe(st.min), _json_safe(st.max)
            if lo is None or hi is None:
                skipped.add(name)
                acc.pop(name, None)
                continue
            if name in acc:
                acc[name] = [min(acc[name][0], lo), max(acc[name][1], hi)]
            else:
                acc[name] = [lo, hi]
    if len(acc) > _MAX_STATS_COLUMNS:
        acc = dict(sorted(acc.items())[:_MAX_STATS_COLUMNS])
    return md.num_rows, acc, md.metadata


#: the footer key under which Spark's parquet writer stores the rows'
#: schema as StructType JSON — the key Spark's own schema inference reads
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: bound on the data-file → schema map, oldest entry evicted first.  Data
#: files are immutable and their names embed a UUID, so a path's schema
#: never changes.  One StructType is kept per distinct footer JSON.
_SCHEMA_CACHE_MAX = 1 << 16
_FILE_SCHEMAS: dict = {}
_SCHEMAS: dict = {}
_SCHEMA_LOCK = threading.Lock()
_UNSEEN = object()


def _remember_schema(path: str, kv: dict | None):
    """Record under data file ``path`` the Spark schema that its footer's
    key-value metadata ``kv`` holds, and return it (None when the file
    carries no Spark key)."""
    from pyspark.sql.types import StructType

    raw = (kv or {}).get(_SPARK_SCHEMA_KEY)
    with _SCHEMA_LOCK:
        schema = _SCHEMAS.get(raw)
        if raw is not None and schema is None:
            try:
                schema = StructType.fromJson(json.loads(raw))
            except Exception:
                pass  # a schema this client cannot parse: Spark infers
            else:
                if len(_SCHEMAS) >= _SCHEMA_CACHE_MAX:
                    _SCHEMAS.clear()
                _SCHEMAS[raw] = schema
        if len(_FILE_SCHEMAS) >= _SCHEMA_CACHE_MAX:
            del _FILE_SCHEMAS[next(iter(_FILE_SCHEMAS))]
        _FILE_SCHEMAS[os.path.abspath(path)] = schema
    return schema


def _data_schema(paths: list[str]):
    """The Spark data schema that every file of ``paths`` carries in its
    footer, or None when a file lacks Spark's key, is unreadable, or
    disagrees with another.  Files the map does not hold cost one pyarrow
    footer read each, on the driver."""
    found = None
    for p in paths:
        schema = _FILE_SCHEMAS.get(os.path.abspath(p), _UNSEEN)
        if schema is _UNSEEN:
            try:
                import pyarrow.parquet as pq

                schema = _remember_schema(p, pq.read_metadata(p).metadata)
            except Exception:
                return None
        if schema is None or (found is not None and schema != found):
            return None
        found = schema
    return found


def _land_staged(
    staging: str, tdir: str, drop_empty: bool = False
) -> tuple[list[str], dict[str, dict]]:
    """Move a staged Spark write's data files into table directory
    ``tdir``, keeping their partition-relative paths (part file names
    embed a UUID, so they never collide), and return the sorted relative
    paths with their footer stats.  Each footer's schema seeds the read
    map, so the first read of the new files runs no inference job.
    ``drop_empty`` leaves 0-row files behind; the staging directory is
    removed either way."""
    moved: list[str] = []
    stats: dict[str, dict] = {}
    for root, _dirs, files in os.walk(staging):
        for fname in files:
            if fname.startswith(("_", ".")):
                continue
            src = os.path.join(root, fname)
            n_rows, fs, kv = _footer(src)
            if drop_empty and n_rows == 0:
                continue
            rel = os.path.relpath(src, staging)
            dest = os.path.join(tdir, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(src, dest)
            _remember_schema(dest, kv)
            moved.append(rel)
            if fs:
                stats[rel] = fs
    shutil.rmtree(staging, ignore_errors=True)
    return sorted(moved), stats


def _bucket_col(df: DataFrame) -> str | None:
    """The table's bucket partition column: ``height_bucket`` or
    ``key_bucket``, whichever ``df`` carries, None for a flat table."""
    return next(
        (c for c in ("height_bucket", "key_bucket") if c in df.columns), None
    )


def _stage(
    df: DataFrame,
    out_dir: str,
    table: str,
    kind: str,
    sort: tuple = (),
    drop_empty: bool = False,
) -> tuple[list[str], dict[str, dict]]:
    """Write ``df`` into ``table``'s directory and return the new files'
    relative paths and footer stats — on disk, in no commit.  The one
    place data files are staged and moved (publish, compaction, Z-order,
    rewrite).  The caller shapes the partitions; the write is laid out
    ``partitionBy`` the bucket column, and ``sort`` sorts each partition
    on (bucket, ``*sort``).  The sort must lead with the partition
    column: the V1 planned-write rule inserts its own Sort(partition),
    and EliminateSorts drops whichever sort is subsumed — a bare
    ``sortWithinPartitions(sort)`` would be the one silently dropped.
    Spark writes into ``_staging/<kind>-<table>-<uuid>`` (a nested
    table's ``os.sep`` flattened, so landing leaves no parent directory
    behind), then :func:`_land_staged` moves the files."""
    bucket = _bucket_col(df)
    part = [bucket] if bucket is not None else []
    if sort:
        df = df.sortWithinPartitions(*part, *sort)
    name = f"{kind}-{table.replace(os.sep, '_')}-{uuid.uuid4().hex}"
    staging = os.path.join(out_dir, "_staging", name)
    df.write.mode("overwrite").partitionBy(*part).parquet(staging)
    tdir = os.path.join(out_dir, f"{table}.parquet")
    return _land_staged(staging, tdir, drop_empty=drop_empty)


def batch_buckets(
    batch: DataFrame, bucket_col: str | None
) -> tuple | list | None:
    """The partitions the batch can collide with: the (lo, hi) RANGE of
    height_bucket (the stream is height-clustered; (None, None) for an
    empty batch), the distinct key_bucket values (key buckets are a pure
    function of the PK), or None when the batch carries no bucket.  One
    action on ``batch``."""
    from pyspark.sql import functions as F

    if bucket_col == "height_bucket":
        return tuple(batch.agg(F.min(bucket_col), F.max(bucket_col)).first())
    if bucket_col is not None:
        return [r[0] for r in batch.select(bucket_col).distinct().collect()]
    return None


def prune_existing_to_batch(
    existing: DataFrame, bucket_col: str | None, buckets: tuple | list | None
) -> DataFrame:
    """Bound the duplicate-probe scan to the partitions
    :func:`batch_buckets` found: a [min, max] RANGE on height_bucket, an
    IN-set on key_bucket, the full table when the batch carries no bucket
    or no rows."""
    from pyspark.sql import functions as F

    if bucket_col == "height_bucket":
        lo, hi = buckets
        if lo is not None:
            return existing.filter(
                (F.col(bucket_col) >= lo) & (F.col(bucket_col) <= hi)
            )
    elif bucket_col is not None and buckets:
        return existing.filter(F.col(bucket_col).isin(buckets))
    return existing


def _probe_plan(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    table: str,
    pk: tuple[str, ...],
) -> tuple[DataFrame, str | None, DataFrame | None]:
    """The rows to stage — ``df`` deduplicated on ``pk``, minus rows whose
    PK is already PUBLISHED (ON CONFLICT DO NOTHING, Worker.hs:54-77) —
    with the table's bucket column and the cached copy of ``df`` the
    caller releases after its write (None when nothing was cached).

    The duplicate probe is bounded by partition pruning (reference
    parity: Worker.hs:50-82 touches only the incoming rows' keys):

    - ``height_bucket`` tables: every PK embeds the block identity, so a
      replayed row lands in the same bucket, and the stream is
      height-clustered — a RANGE filter on the batch's [min, max] bucket
      prunes the probe to O(recent buckets).
    - ``key_bucket`` tables (signers, minerkeys, the silver and side
      tables): the bucket is a pure function of the row's identity, so an
      IN filter on the batch's distinct buckets is exact; probe cost
      scales with the batch's key spread, not table history.

    The equality is null-safe per PK column: silver-table identities
    carry nullable components (a continuation row's code), and plain
    equality (NULL != NULL) would re-append every NULL-keyed row on each
    crash replay — the duplication the probe exists to prevent."""
    bucket_col = _bucket_col(df)
    cached = None
    existing = read_published(spark, out_dir, table)
    if existing is not None and bucket_col is not None:
        from pyspark.sql import functions as F

        # a no-op projection behind an always-true filter on a fresh token
        # is its own cache entry: releasing it never drops a cache the
        # caller holds on ``df``, nor the copy a concurrent stage made of
        # an identical plan (equal plans share one cache entry, so the
        # first release would pull the blocks from under the other's
        # write).  The optimizer folds the filter away.  Bounds over the
        # input cover the deduplicated batch's buckets.
        token = F.lit(uuid.uuid4().hex).isNotNull()
        df = cached = df.select("*").where(token).cache()
        existing = prune_existing_to_batch(
            existing, bucket_col, batch_buckets(df, bucket_col)
        )
    batch = df.dropDuplicates(list(pk))
    if existing is not None:
        probe = existing.select(*pk)
        cond = None
        for c in pk:
            eq = batch[c].eqNullSafe(probe[c])
            cond = eq if cond is None else (cond & eq)
        batch = batch.join(probe, on=cond, how="left_anti")
    return batch, bucket_col, cached


def _stage_table(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    table: str,
    pk: tuple[str, ...],
    sort: tuple[str, ...] = (),
) -> tuple[list[str], dict[str, dict]]:
    """Anti-join ``df`` against the PUBLISHED rows (:func:`_probe_plan`),
    stage the survivors (:func:`_stage`), and return the new files'
    relative paths and footer stats — on disk but in no commit until the
    caller commits.

    Actions per table: the write alone when the table has no published
    rows or no bucket column; else the probe-bounds action, which fills a
    cached copy of ``df``, then the write, which reads that copy — either
    way ``df``'s lineage (for the chainweb tables: JSON decode, explode,
    transfers UDF) runs once.  The copy is released before returning.
    It is of ``df``, not of the deduplicated batch: a cached plan keeps
    its shuffle partitioning, so the write would lose AQE's coalescing
    and land up to ``spark.sql.shuffle.partitions`` files per bucket.  No
    emptiness check: zero survivors show up as 0-row staged files (their
    footers are opened for stats anyway), which are dropped — no 0-row
    file lands and, with no table staged, publish_batch burns no version.

    ``sort`` pins the file order: applied AFTER the PK
    dropDuplicates/anti-join (which shuffle, so any shaping the CALLER did
    upstream is destroyed by the time rows reach the writer — r9 find: the
    BM25 postings' term order only survived by accident of the dedup
    aggregate's internal ordering).  A sorted table is repartitioned on
    its bucket column first, one file per touched bucket."""
    batch, bucket_col, cached = _probe_plan(spark, df, out_dir, table, pk)
    if sort and bucket_col is not None:
        batch = batch.repartition(bucket_col)
    try:
        return _stage(batch, out_dir, table, "publish", sort=sort, drop_empty=True)
    finally:
        if cached is not None:
            cached.unpersist()


def _added_dirs_between(
    out_dir: str, old_v: int, new_v: int
) -> dict[str, set | None]:
    """The partition DIRECTORIES of files added by commits
    ``old_v+1 .. new_v`` — all conflict detection needs.  Spilled
    mega-deltas answer from their ``add_dirs_by_table`` JSON field
    without opening the sidecar; a ``None`` value is the over-cap
    wildcard (treat as conflicting with anything on that table)."""
    dirs: dict[str, set | None] = {}

    def _merge(t: str, ds) -> None:
        if dirs.get(t, set()) is None:
            return  # already wildcard
        if ds is None:
            dirs[t] = None
            return
        dirs.setdefault(t, set()).update(ds)

    for v in range(old_v + 1, new_v + 1):
        c = _load_commit(out_dir, v)
        if "delta" in c:
            for t, ds in c.get("add_dirs_by_table", {}).items():
                _merge(t, set(ds) if ds is not None else None)
            continue
        for t, rels in c.get("add", {}).items():
            if rels:
                _merge(t, {os.path.dirname(f) for f in rels})
    return dirs


def _conflicting_tables(
    out_dir: str, old_v: int, new_v: int, staged: dict
) -> set[str]:
    """Which staged tables a racing commit may have COLLIDED with on PK:
    the staged files' partition directories (``bucket=…`` prefixes, the
    deterministic function of each row's content) are compared with the
    racers' added files' directories — overlap means the pre-race
    anti-join may have missed a racer's row, so that table must re-stage
    against the fresh snapshot.  Flat (unpartitioned) tables share the
    empty prefix, so any racer touch of the same table re-stages —
    conservative by construction."""

    racer_dirs = _added_dirs_between(out_dir, old_v, new_v)
    out = set()
    for t, (files, _stats) in staged.items():
        if t not in racer_dirs:
            continue
        theirs_d = racer_dirs[t]
        ours_d = {os.path.dirname(f) for f in files}
        # a flat file ("" prefix) on EITHER side is a wildcard — its
        # rows carry no partition evidence — and so is an over-cap
        # spilled rewrite (theirs_d is None): any same-table race
        # conflicts
        if (
            theirs_d is None
            or "" in ours_d
            or "" in theirs_d
            or ours_d & theirs_d
        ):
            out.add(t)
    return out


def publish_batch(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    out_dir: str,
    pks: dict[str, tuple[str, ...]] | None = None,
    max_retries: int = 3,
    sort_within: dict[str, tuple[str, ...]] | None = None,
) -> dict:
    """Stage every table's merge, then commit ONE log entry covering all of
    them — the Worker.hs:50-82 transaction boundary.  On a version race
    (another writer committed first) the commit is retried against the
    fresh snapshot — with CONFLICT DETECTION (r9): a staged table whose
    partition directories overlap the racers' added files may have
    missed a racer's PK in its pre-race anti-join, so it is RE-STAGED
    against the fresh snapshot (duplicates drop; the stale staging
    becomes a vacuumable orphan); disjoint tables rebase verbatim (the
    fast path — the reference's disjoint-chain-range workers never
    re-stage).  Detection is sound because every partition value here is
    a deterministic function of the row's content (height/key buckets);
    flat tables are always conservatively re-staged.  ``sort_within``
    optionally pins a table's file order as ``{table: sort_cols}`` — see
    ``_stage_table``.

    Returns the COMMIT RECORD ``{"version": N, "op": "publish"|"noop",
    "add": {table: n_files}}`` — version metadata only (r10): the hot
    write path commits O(staged files) deltas directly
    (:func:`_commit_delta`) and never hydrates the full snapshot, so
    returning one would cost more than the commit; callers that want the
    snapshot read it (``read_manifest`` / ``read_published``)."""
    pks = pks or TABLE_PKS
    sort_within = sort_within or {}
    # commit the empty v1 before staging — see ensure_manifest for why
    # this must precede the first staged file (one-time path; the hot
    # loop skips the full-snapshot resolve)
    if _latest_version(out_dir) == 0:
        ensure_manifest(out_dir)
    base_v = _latest_version(out_dir)
    staged: dict[str, tuple[list[str], dict]] = {}
    # stage CONCURRENTLY: each table's probe+write is an independent small
    # Spark job against its own directory, and a micro-batch commit is
    # job-scheduling-bound, not data-bound — sequential staging of an
    # 8-table curation batch paid ~16 back-to-back job latencies where the
    # slowest one suffices (threaded job submission is the supported Spark
    # pattern; file contents per table are unchanged, so replay
    # byte-idempotence is unaffected)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(tables)))) as ex:
        futs = [
            (
                name,
                ex.submit(
                    _stage_table,
                    spark,
                    df,
                    out_dir,
                    name,
                    pks[name],
                    sort_within.get(name, ()),
                ),
            )
            for name, df in tables.items()
        ]
        for name, fut in futs:
            new_files, new_stats = fut.result()
            if new_files:
                staged[name] = (new_files, new_stats)
    if not staged:
        # nothing survived the duplicate probes — do NOT burn a version on
        # an empty delta: retention (MAINT_KEEP_VERSIONS) counts VERSIONS,
        # so a run of no-op commits (crash-replay storms) would silently
        # shrink the real time-travel / pinned-reader horizon toward zero
        return {"version": _latest_version(out_dir), "op": "noop", "add": {}}
    for attempt in range(max_retries + 1):
        add = {name: files for name, (files, _s) in staged.items()}
        stats_add = {
            name: fstats for name, (_f, fstats) in staged.items() if fstats
        }
        try:
            _commit_delta(
                out_dir, base_v + 1, add, {}, stats_add, op="publish"
            )
            return {
                "version": base_v + 1,
                "op": "publish",
                "add": {t: len(fs) for t, fs in add.items()},
            }
        except ConcurrentWriteError:
            if attempt == max_retries:
                raise
            fresh_v = _latest_version(out_dir)
            # conflict detection before the rebase: re-stage any table
            # whose partitions the racers touched (its pre-race anti-join
            # may have missed their rows); the stale staged files become
            # orphans for vacuum
            for name in _conflicting_tables(
                out_dir, base_v, fresh_v, staged
            ):
                staged.pop(name)
                nf, ns = _stage_table(
                    spark,
                    tables[name],
                    out_dir,
                    name,
                    pks[name],
                    sort_within.get(name, ()),
                )
                if nf:
                    staged[name] = (nf, ns)
            if not staged:
                # every row turned out already-published by the racers
                return {"version": fresh_v, "op": "noop", "add": {}}
            base_v = fresh_v  # rebase and retry
    raise AssertionError("unreachable")


def _swap(
    out_dir: str,
    table: str,
    version: int,
    inputs: list[str],
    staged: tuple[list[str], dict[str, dict]],
    op: str,
) -> bool:
    """Commit a rewrite of ``table`` read at ``version`` as ONE delta
    {remove: ``inputs``, add: the ``staged`` files} — compaction's and
    Z-order's swap, with Delta's OPTIMIZE conflict rule: on a version
    race it rebases once if every input is still live (the delta removes
    only the inputs, so a racer's appends survive), else abandons,
    leaving the staged files as orphans.  Either way it then
    auto-vacuums (:data:`MAINT_KEEP_VERSIONS`, :data:`VACUUM_GRACE_S`).
    Returns whether the swap committed."""
    added, stats = staged
    committed = False
    for rebase in (False, True):
        try:
            _commit_delta(
                out_dir,
                version + 1,
                add={table: added},
                remove={table: inputs},
                stats_add={table: stats},
                op=op,
            )
            committed = True
            break
        except ConcurrentWriteError:
            if rebase:
                raise
            version = _latest_version(out_dir)
            if not set(inputs) <= set(_live_files(out_dir, version, table)):
                break
    vacuum(out_dir, keep_versions=MAINT_KEEP_VERSIONS, min_age_s=VACUUM_GRACE_S)
    return committed


def compact_published(
    spark: SparkSession,
    out_dir: str,
    table: str,
    min_files: int = 2,
    sort_within: tuple[str, ...] | None = None,
) -> dict[str, tuple[int, int]]:
    """Log-aware compaction: rewrite every partition holding more than
    ``min_files`` LIVE files (the snapshot's list, not the directory's)
    into one file, then swap it in as ONE log entry (:func:`_swap`) — a
    reader sees the old snapshot or the compacted one, never a mix; rows
    are preserved exactly.  The replaced files fall out of the snapshot
    and are reclaimed by the swap's vacuum once they are
    :data:`MAINT_KEEP_VERSIONS` snapshots old (pinned readers and time
    travel keep the recent ones).  This is the append-only sink's
    autovacuum: cumulative file growth is O(batches) and probe cost is
    O(live files) at the parquet-open layer — periodic compaction is the
    long-run bound.  A version race rebases or abandons as :func:`_swap`
    says (compaction is an optimization; an abandoned rewrite is
    vacuumed).  Returns {partition: (files_before, files_after)}, {} when
    nothing was compacted.

    The whole table is ONE rewrite: all compactable buckets are read
    together (footer schema, :func:`_read_files`), shuffled by the bucket
    column and staged (:func:`_stage`), which lands one file per bucket,
    each sorted on ``sort_within``; a flat table is coalesced to one
    file."""
    from collections import Counter, defaultdict

    latest = _latest_version(out_dir)
    if latest == 0:
        return {}
    files = _live_files(out_dir, latest, table)
    by_part: dict[str, list[str]] = defaultdict(list)
    for rel in files:
        by_part[os.path.dirname(rel)].append(rel)
    todo = {
        p: rels for p, rels in by_part.items() if len(rels) > max(min_files, 1)
    }
    if not todo:
        return {}
    replaced = sorted(r for rels in todo.values() for r in rels)
    df = _read_files(spark, os.path.join(out_dir, f"{table}.parquet"), replaced)
    bucket = _bucket_col(df)
    # tables whose probes rely on row-group min/max pruning (e.g. the BM25
    # postings' term order) keep that order through compaction
    df = df.repartition(bucket) if bucket is not None else df.coalesce(1)
    staged = _stage(df, out_dir, table, "compact", sort=sort_within or ())
    if not _swap(out_dir, table, latest, replaced, staged, "compact"):
        return {}
    landed = Counter(os.path.dirname(rel) for rel in staged[0])
    return {p or ".": (len(todo[p]), landed[p]) for p in sorted(todo)}


def rewrite_published_many(
    spark: SparkSession,
    out_dir: str,
    tables: dict[str, DataFrame],
    op: str = "rewrite",
    extra_appends: dict[str, DataFrame] | None = None,
) -> dict:
    """Replace each table's ENTIRE live file list with a rewrite of its
    DataFrame, all in ONE commit — the format-migration primitive and the
    multi-table swap an index REBUILD needs (members re-encoded under a
    new quantizer + its stats/meta tables must flip together, or a reader
    could pair new codes with old metadata).  ``compact_published``
    deliberately keeps partition directory names, so it cannot express a
    key_bucket FORMAT change (new partition values need new directories);
    this op stages the rewrite partition-laid-out (:func:`_stage`).
    ``extra_appends`` stages additional tables whose staged files are
    APPENDED to (not replacing) their live lists in the same commit — the
    rebuild's meta-epoch row.

    A reader sees the old snapshot or the rewritten one, never a mix; the
    replaced files stay readable for pinned readers / time travel until
    they are :data:`MAINT_KEEP_VERSIONS` snapshots old.  Rewrites are
    administrative single-writer operations: a version race raises
    ``ConcurrentWriteError`` rather than rebasing — the rewrite replaces
    the whole table, so a rebase would keep a racer's old-format rows.

    Commits DELTA-form (r11): remove = each rewritten table's old live
    list (its slice of the cached snapshot), add = the staged files.
    Returns the commit record ``{"version": N, "op": op, "add": {table:
    n_files}}``."""
    latest = _latest_version(out_dir)
    version = latest + 1
    add: dict[str, list[str]] = {}
    remove: dict[str, list[str]] = {}
    stats_add: dict[str, dict] = {}
    for table, df in tables.items():
        moved, new_stats = _stage(df, out_dir, table, op)
        old = _live_files(out_dir, latest, table)
        if old:
            remove[table] = old
        add[table] = moved
        stats_add[table] = new_stats
    for table, df in (extra_appends or {}).items():
        moved, new_stats = _stage(df, out_dir, table, op)
        add[table] = sorted(add.get(table, []) + moved)
        stats_add.setdefault(table, {}).update(new_stats)
    _commit_delta(out_dir, version, add, remove, stats_add, op=op)
    vacuum(out_dir, keep_versions=MAINT_KEEP_VERSIONS, min_age_s=VACUUM_GRACE_S)
    return {
        "version": version,
        "op": op,
        "add": {t: len(fs) for t, fs in add.items()},
    }


def vacuum(
    out_dir: str,
    keep_versions: int = 0,
    min_age_s: float = 0.0,
) -> list[str]:
    """Delete data files referenced by NO retained snapshot (crash orphans
    from batches that staged but never committed, and files compacted
    away) plus leftover staging dirs.  ``keep_versions`` retains the files
    of that many snapshots BEFORE the newest as well, preserving time
    travel to them; the default keeps only the live snapshot (time-travel
    reads older than the horizon fail on missing data files, like Delta's
    VACUUM).  Commit-log JSON is never deleted — history stays readable.
    Safe under the committed-log protocol: a file outside every retained
    snapshot can never be read via read_published at those versions.

    ``min_age_s`` — concurrent-writer grace window (Delta's
    file-retention-age analog): unreferenced files and staging dirs
    YOUNGER than this are kept, because a concurrent writer's
    staged-but-uncommitted files are indistinguishable from crash orphans
    by reference alone — deleting them would corrupt the snapshot that
    writer is about to commit.  The maintenance ops' auto-vacuum passes
    :data:`VACUUM_GRACE_S`; an explicit ``vacuum(out)`` defaults to 0
    (immediate reclamation — correct once all writers are quiesced).

    A directory with NO commit log yet is left untouched: an empty live
    set there means "nothing published", not "everything is garbage".
    Only the log's namespace is swept — ``<table>.parquet`` directories
    at any depth outside ``_``/``.``-prefixed directories (table names
    may be nested), the tables the retained snapshots name, ``_staging``
    and ``_manifest`` — so other directories in the store (a stream's
    ``_checkpoint``) are never touched.

    The sweep runs on the driver over Arrow arrays: it resolves each
    retained snapshot stats-less (:func:`_snapshot`), lists each table
    directory once through the log seam, and deletes the listed files
    that no retained or pinned snapshot names (``~is_in(disk, live)``).
    The same listings find hollow leases (see below)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    latest = _latest_version(out_dir)
    removed: list[str] = []
    if latest == 0:
        return removed
    store = LOG_STORE
    now = time.time()

    def _old_enough(p: str) -> bool:
        if min_age_s <= 0:
            return True
        try:
            return now - store.getmtime(p) >= min_age_s
        except OSError:
            return False  # vanished concurrently — another vacuum got it
    retained = set(range(max(1, latest - keep_versions), latest + 1))
    # retention leases: every PINNED snapshot stays fully readable no
    # matter how far past the keep_versions horizon it falls — the
    # dataset_snapshot provenance contract (pin_version)
    pins = set(pinned_versions(out_dir))
    retained.update(pins)
    staging_root = os.path.join(out_dir, "_staging")
    if store.isdir(staging_root):
        for d in store.listdir(staging_root):
            p = os.path.join(staging_root, d)
            if _old_enough(p):
                store.rmtree(p)
    # orphan checkpoint / delta-spill sidecars: a crash between the
    # sidecar rename and the commit link, or the loser of a version
    # race, leaves a ckpt-v<N>-*.parquet (or delta-v<N>-*.parquet, the
    # r12 mega-delta spill) no commit references.  The name embeds the
    # version, so the check is one JSON read per CANDIDATE — never a log
    # scan; referenced sidecars are metadata and are NEVER deleted (old
    # checkpoints AND the spilled deltas after them must stay resolvable
    # for history/time-travel reads)
    mdir = _manifest_path(out_dir)
    if store.isdir(mdir):
        for name in store.listdir(mdir):
            if name.startswith(".") and name.endswith(".tmp"):
                # a crash between staging and finalize leaves a hidden
                # .<name>.<uuid>.tmp beside the log (the failure paths
                # unlink their own stage, but a hard kill can't).  Live
                # stages exist for milliseconds, so the full grace
                # window is a safe age gate.
                p = os.path.join(mdir, name)
                try:
                    if now - store.getmtime(p) >= VACUUM_GRACE_S:
                        store.remove(p)
                        removed.append(os.path.join(_MANIFEST_DIR, name))
                except OSError:
                    pass  # vanished concurrently
                continue
            if not name.endswith(".parquet"):
                continue
            if name.startswith("ckpt-v"):
                prefix, ref_key = "ckpt-v", "ckpt"
            elif name.startswith("delta-v"):
                prefix, ref_key = "delta-v", "delta"
            else:
                continue
            try:
                cv = int(name[len(prefix) :].split("-", 1)[0])
            except ValueError:
                continue
            ref = None
            if store.exists(os.path.join(mdir, _commit_name(cv))):
                ref = _load_commit(out_dir, cv).get(ref_key)
            p = os.path.join(mdir, name)
            if cv > latest:
                # a sidecar AHEAD of the newest commit is most likely an
                # in-flight writer's (renamed, commit link not yet created)
                # — unlike a staged DATA file, deleting it mid-window breaks
                # every snapshot resolve at/after that checkpoint until the
                # next one lands, so these always get the full grace window
                # even under an explicit min_age_s=0 vacuum
                try:
                    if time.time() - store.getmtime(p) < VACUUM_GRACE_S:
                        continue
                except OSError:
                    continue
            if name != ref and _old_enough(p):
                if store.isdir(p):  # a directory-shaped sidecar
                    store.rmtree(p)
                else:
                    store.remove(p)
                removed.append(os.path.join(_MANIFEST_DIR, name))
    if not store.isdir(out_dir):
        return removed
    # re-read the pin set as LATE as possible (cheap post-r9: checkpoint
    # fold) and union in any lease that committed while the sweeps above
    # ran — narrows the pin/vacuum window to the gap between this read
    # and the deletes; pin_version's post-commit re-verify turns whatever
    # slips through into a loud failure
    late = set(pinned_versions(out_dir)) - retained
    pins |= late
    retained |= late
    snaps = {v: _snapshot(out_dir, v, stats=False) for v in sorted(retained)}
    # candidate tables: every <table>.parquet dir, nested ones included —
    # table names may be nested ("dedup_index/minhash_bands", the curation
    # sink's unified commit), and a nested table no retained snapshot
    # names any more (every file removed) must still be swept — PLUS
    # every name the retained snapshots reference
    candidates = _table_dirs(out_dir)
    for snap in snaps.values():
        candidates.update(_table_names(snap))
    on_disk: dict = {}
    for table in sorted(candidates):
        entry = f"{table}.parquet"
        tdir = os.path.join(out_dir, entry)
        if not store.isdir(tdir):
            continue
        disk = on_disk[table] = _disk_files(out_dir, table)
        live = pa.chunked_array(
            [c for snap in snaps.values()
             for c in _table_rows(snap, table)["file"].chunks],
            pa.string(),
        )
        dead = disk.filter(pc.invert(pc.is_in(disk, value_set=live)))
        for rel in dead.to_pylist():
            full = os.path.join(tdir, rel)
            if _old_enough(full):
                try:
                    store.remove(full)
                except OSError:
                    continue  # vanished concurrently
                removed.append(os.path.join(entry, rel))
    # HOLLOW-LEASE detection (r9 advice): pin_version's loud-failure
    # guarantee needs the pinning process to survive to its post-commit
    # re-verify — a crash in that window (or a lost unpin race in its
    # cleanup) leaves a lease whose data files are already reclaimed, and
    # nothing would ever notice.  The sweep above just listed every
    # on-disk file, so the probe is the shared missing-files check
    # against those listings: any pinned snapshot referencing a file the
    # listing lacks is no longer re-readable.
    # Warn rather than auto-release: vacuum is a reader of the pin
    # registry, and silently unpinning would erase the provenance evidence
    # the operator needs to investigate the loss.
    # One warning per lease: it names the first lost file and counts the
    # losses across every table.
    for v in sorted(pins):
        miss = _missing(snaps[v], on_disk)
        if miss is not None:
            _warn_hollow(out_dir, v, *miss)
    return sorted(removed)


def _table_dirs(out_dir: str) -> set[str]:
    """The table name of every ``<name>.parquet`` directory under
    ``out_dir``, nested names included, found with one ``listdir`` per
    directory above the tables; ``_``- and ``.``-prefixed directories
    (the log, staging, a stream's checkpoint) are never entered, and a
    directory holding its own ``_manifest`` is another store whose
    tables this log never names."""
    store = LOG_STORE
    names: set[str] = set()
    stack = [""]
    while stack:
        rel = stack.pop()
        entries = store.listdir(os.path.join(out_dir, rel) if rel else out_dir)
        if rel and _MANIFEST_DIR in entries:
            continue
        for entry in entries:
            sub = os.path.join(rel, entry)
            if entry.endswith(".parquet"):
                names.add(sub[: -len(".parquet")])
            elif not entry.startswith(("_", ".")) and store.isdir(
                os.path.join(out_dir, sub)
            ):
                stack.append(sub)
    return names


def _warn_hollow(
    out_dir: str, version: int, table: str, rel: str, n_lost: int
) -> None:
    import warnings

    more = f" (and {n_lost - 1} more)" if n_lost > 1 else ""
    warnings.warn(
        f"vacuum: pinned version {version} in {out_dir!r} is HOLLOW —"
        f" {table}/{rel}{more} no longer exist on disk; the lease"
        " promises a snapshot that cannot be re-read.  Investigate, then"
        f" release it with unpin_version(out_dir, {version}).",
        RuntimeWarning,
        stacklevel=3,
    )


def _first_data_file(tdir: str) -> str | None:
    """The first non-hidden data file under a table directory — an
    early-exit walk touching O(few) entries (the log-less-data refusals
    of :func:`ensure_manifest` and ``silver.continuation_tables``)."""
    store = LOG_STORE
    if not store.isdir(tdir):
        return None
    for root, _dirs, files in store.walk(tdir):
        for fname in files:
            if fname.startswith(("_", ".")):
                continue
            return os.path.relpath(os.path.join(root, fname), tdir)
    return None


