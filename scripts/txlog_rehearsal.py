"""Commit-cost rehearsal for the transaction log (streaming/publish.py).

The question a 100 TB table asks of its metadata layer: what does ONE
commit cost when the table already holds N live files?  The v5 manifest
rewrote the complete O(N) file list every batch; the log writes O(delta)
with an O(N) checkpoint every CHECKPOINT_EVERY-th commit.  This rehearsal
measures both schemes at a simulated large-table file count — metadata
only, no Spark: the cost under test is JSON bytes + fsync, which is
exactly what an object-store commit pays.

Output: one JSON line {live_files, n_commits, schemes: {log: {...},
full_rewrite: {...}}} with the metadata bytes the ``n_commits`` commits
wrote after the seed (total and per-commit mean), wall seconds, and
worst-case snapshot-resolve time for the log.

Usage: python scripts/txlog_rehearsal.py [live_files] [n_commits]

Other modes:

  --bigsweep [n_files]   The large-store maintenance row: a store whose
      v1 checkpoint names ``n_files`` live files (default 1M), with real
      orphans planted on disk.  Reports the cold and steady vacuum walls
      with driver RSS growth (both sweeps must reclaim exactly the
      planted orphans), the cold resolve wall of the one resolver
      (``_snapshot``, the Arrow snapshot read from the sidecar), the
      wall and driver RSS growth of the next checkpoint commit (that
      snapshot plus the deltas since, written out), and the wall and
      driver RSS growth of ``pin_version`` on a second store of
      ``PIN_FILES`` (10^6) live files, every one materialized as an
      empty file so the re-readability probe passes.  Metadata only,
      no Spark.

  --megarewrite [n_files]   The spilled-delta row: a whole-table rewrite
      committed at ``n_files`` live files, inline vs spilled sidecar
      form on twin stores — commit JSON bytes, commit/resolve/conflict-
      fold walls, identical results required.

  --race [rounds]        Two genuinely interleaved writers (threads,
      shared session) publishing to the same table for ``rounds``
      commits each — once on DISJOINT height_bucket partitions (the
      reference's chain-range workers) and once on OVERLAPPING ids with
      shared PKs.  Asserts zero lost rows and zero duplicate PKs in
      both, and reports how many rebases took the verbatim fast path vs
      a conflict re-stage.

  --race --maintenance [rounds]   A writer thread publishing while a
      maintenance thread loops pin_version → vacuum → pinned re-read →
      unpin.  Asserts zero lost rows and duplicate PKs, every pinned
      re-read ok, the planted orphans reclaimed, and that an injected
      hollow lease warns.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from chainweb_data_spark.streaming import publish as pub  # noqa: E402

TABLES = ["blocks", "transactions", "events", "transfers", "signers", "minerkeys"]


def _seed_snapshot(live_files: int) -> dict:
    per = live_files // len(TABLES)
    return {
        t: [f"height_bucket={i % 64}/part-{i:07d}-{t[:4]}.snappy.parquet" for i in range(per)]
        for t in TABLES
    }


def _dir_bytes(mdir: str) -> int:
    # commit JSONs + (r9) parquet checkpoint sidecars — the log's whole
    # metadata footprint
    return sum(
        os.path.getsize(os.path.join(mdir, f))
        for f in os.listdir(mdir)
        if f.endswith(".json") or f.endswith(".parquet")
    )


def _seed(out: str, tables: dict) -> None:
    """Commit ``tables`` as the v1 checkpoint through the one commit path
    (the O(live files) snapshot lands in the parquet sidecar; past
    ``DELTA_SIDECAR_MIN_FILES`` the seed's own delta spills too)."""
    os.makedirs(out, exist_ok=True)
    pub._commit_delta(out, 1, tables, {}, {}, op="seed")


def run_log(base: str, tables: dict, n_commits: int) -> dict:
    out = os.path.join(base, "log")
    _seed(out, tables)
    seed_bytes = _dir_bytes(os.path.join(out, "_manifest"))
    per_commit: list[tuple[bool, float]] = []
    t0 = time.perf_counter()
    for b in range(n_commits):
        # the writer path: version discovery + a DIRECT delta commit of
        # the files this batch staged (publish_batch's _commit_delta) —
        # O(staged files) per commit; checkpoint versions fold the
        # parent sidecar into a new one (amortized)
        v = pub._latest_version(out)
        add = {
            t: [f"height_bucket={b % 64}/part-new-{b}-{t[:4]}.parquet"]
            for t in TABLES[:3]  # a block batch touches a few tables
        }
        tc = time.perf_counter()
        pub._commit_delta(out, v + 1, add, {}, {}, op="publish")
        per_commit.append(
            ((v + 1) % pub.CHECKPOINT_EVERY == 0, time.perf_counter() - tc)
        )
    wall = time.perf_counter() - t0
    deltas = sorted(s for ck, s in per_commit if not ck)
    ckpts = [s for ck, s in per_commit if ck]
    # worst-case COLD resolve (fresh reader, no snapshot cache): the
    # version just before a checkpoint replays CHECKPOINT_EVERY-1 deltas
    latest = pub._latest_version(out)
    worst = latest - (latest % pub.CHECKPOINT_EVERY) - 1
    pub._SNAP_CACHE.clear()
    t1 = time.perf_counter()
    pub.read_manifest(out, version=max(worst, 1))
    resolve_s = time.perf_counter() - t1
    total = _dir_bytes(os.path.join(out, "_manifest")) - seed_bytes
    return {
        "total_meta_bytes": total,
        "bytes_per_commit": round(total / n_commits),
        "wall_s": round(wall, 2),
        "commit_ms": round(wall / n_commits * 1000, 2),
        # the split the mean hides: delta commits are O(staged files)
        # regardless of table size (_commit_delta); the amortized
        # spikes are the every-16th checkpoint's full-snapshot sidecar
        "delta_commit_ms_p50": round(deltas[len(deltas) // 2] * 1000, 2)
        if deltas
        else None,
        "checkpoint_ms_mean": round(sum(ckpts) / len(ckpts) * 1000, 2)
        if ckpts
        else None,
        "worst_resolve_ms": round(resolve_s * 1000, 2),
    }


def run_full_rewrite(base: str, tables: dict, n_commits: int) -> dict:
    """The v5 scheme: every commit serializes the complete live file list
    (write-tmp + fsync + rename, same durability)."""
    out = os.path.join(base, "full", "_manifest")
    os.makedirs(out)

    def write(version: int, tbls: dict) -> None:
        name = f"v{version:09d}.json"
        tmp = os.path.join(out, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": version, "tables": tbls}, f, separators=(",", ":"))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(out, name))

    cur = {t: list(fs) for t, fs in tables.items()}
    write(1, cur)
    seed_bytes = _dir_bytes(out)
    t0 = time.perf_counter()
    for b in range(n_commits):
        for t in TABLES[:3]:
            cur[t].append(f"height_bucket={b % 64}/part-new-{b}-{t[:4]}.parquet")
        write(b + 2, cur)
    wall = time.perf_counter() - t0
    total = _dir_bytes(out) - seed_bytes
    return {
        "total_meta_bytes": total,
        "bytes_per_commit": round(total / n_commits),
        "wall_s": round(wall, 2),
        "commit_ms": round(wall / n_commits * 1000, 2),
    }


def _vm_rss_mb() -> float:
    """Current (not peak) resident set of THIS Python process, MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return round(int(line.split()[1]) / 1024.0, 1)
    return -1.0


#: live files of the --bigsweep pin_version store (all materialized on disk)
PIN_FILES = 1_000_000


def run_pin(base: str, n_files: int) -> dict:
    """``pin_version`` on a v1 store of ``n_files`` live files, each an
    empty file on disk: the probe runs before and after the pin commit."""
    tables = _seed_snapshot(n_files)
    out = os.path.join(base, "pinstore")
    _seed(out, tables)
    for t, rels in tables.items():
        tdir = os.path.join(out, f"{t}.parquet")
        for d in {os.path.dirname(r) for r in rels}:
            os.makedirs(os.path.join(tdir, d), exist_ok=True)
        for rel in rels:
            os.close(os.open(os.path.join(tdir, rel), os.O_CREAT | os.O_WRONLY))
    pub._SNAP_CACHE.clear()
    rss0 = _vm_rss_mb()
    t0 = time.perf_counter()
    rec = pub.pin_version(out, 1, name="bigsweep")
    wall = time.perf_counter() - t0
    rss1 = _vm_rss_mb()
    assert rec["version"] == 2 and pub.pinned_versions(out) == {1: "bigsweep"}
    return {
        "live_files": sum(len(v) for v in tables.values()),
        "wall_s": round(wall, 3),
        "driver_rss_growth_mb": round(rss1 - rss0, 1),
    }


def run_bigsweep(n_files: int) -> dict:
    """Maintenance at ``n_files`` live files: vacuum (cold, then steady)
    with planted orphans, the cold resolve, the next checkpoint commit,
    and pin_version at ``PIN_FILES`` — the one driver path, metadata
    only."""
    tables = _seed_snapshot(n_files)
    n_orphans = 512
    report: dict = {"live_files": sum(len(v) for v in tables.values()),
                    "planted_orphans": n_orphans}
    base = tempfile.mkdtemp(prefix="txlog-bigsweep-")
    try:
        out = os.path.join(base, "store")
        # v1 checkpoint: the O(n_files) snapshot rides the parquet
        # sidecar; the commit JSON stays O(1)
        _seed(out, tables)

        def plant_orphans() -> list[str]:
            kept = []
            for t in TABLES[:2]:
                tdir = os.path.join(out, f"{t}.parquet")
                for i in range(n_orphans // 2):
                    d = os.path.join(tdir, f"height_bucket={i % 64}")
                    os.makedirs(d, exist_ok=True)
                    with open(
                        os.path.join(d, f"part-orphan-{i:05d}.parquet"), "wb"
                    ) as f:
                        f.write(b"x")
                for rel in tables[t][:8]:
                    full = os.path.join(tdir, rel)
                    os.makedirs(os.path.dirname(full), exist_ok=True)
                    if not os.path.exists(full):
                        with open(full, "wb") as f:
                            f.write(b"y")
                    kept.append(full)
            return kept

        # two timed sweeps: the FIRST pays the cold page cache of the
        # sidecar and the table directories; the SECOND, with orphans
        # replanted, is the steady-state cost a long-lived maintenance
        # service pays per cycle.  Both must reclaim exactly the planted
        # orphans and keep the live files.
        walls = []
        for run in ("cold", "steady"):
            kept = plant_orphans()
            pub._SNAP_CACHE.clear()
            rss0 = _vm_rss_mb()
            t0 = time.perf_counter()
            removed = pub.vacuum(out, keep_versions=0)
            walls.append(time.perf_counter() - t0)
            rss1 = _vm_rss_mb()
            assert len(removed) == n_orphans, (run, len(removed))
            assert all(os.path.exists(p) for p in kept), run
        report["vacuum"] = {
            "wall_s": round(walls[1], 3),
            "cold_wall_s": round(walls[0], 3),
            "driver_rss_growth_mb": round(rss1 - rss0, 1),
        }
        pub._SNAP_CACHE.clear()
        t0 = time.perf_counter()
        n = pub._snapshot(out, 1).num_rows
        report["resolve_s"] = round(time.perf_counter() - t0, 3)
        assert n == report["live_files"]

        # the checkpoint COMMIT: advance to one version short of the
        # boundary with tiny deltas, then time the checkpoint commit —
        # the Arrow fold of the v1 sidecar with the deltas since
        while (pub._latest_version(out) + 1) % pub.CHECKPOINT_EVERY:
            v = pub._latest_version(out) + 1
            pub._commit_delta(
                out, v,
                {"blocks": [f"part-delta-{v:04d}.parquet"]}, {}, {},
                op="publish",
            )
        v_ck = pub._latest_version(out) + 1
        pub._SNAP_CACHE.clear()
        rss0 = _vm_rss_mb()
        t0 = time.perf_counter()
        pub._commit_delta(
            out, v_ck, {"blocks": [f"part-ck-{v_ck:04d}.parquet"]}, {}, {},
            op="publish",
        )
        wall = time.perf_counter() - t0
        rss1 = _vm_rss_mb()
        c = pub._load_commit(out, v_ck)
        assert "ckpt" in c and c["n_files"] == n + v_ck - 1, c["n_files"]
        report["ckpt_commit"] = {
            "wall_s": round(wall, 3),
            "driver_rss_growth_mb": round(rss1 - rss0, 1),
            "n_files": c["n_files"],
        }
        shutil.rmtree(out, ignore_errors=True)
        pub._SNAP_CACHE.clear()
        report["pin_version"] = run_pin(base, PIN_FILES)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return report


def run_race(rounds: int) -> dict:
    """Two interleaved writers on one table: disjoint partitions (the
    verbatim-rebase fast path) vs overlapping PKs (conflict re-stage)."""
    import threading

    from pyspark.sql import functions as F

    from chainweb_data_spark.session import get_spark
    from chainweb_data_spark.streaming import publish as pub10

    spark = get_spark("txlog-race")
    PK = {"t": ("id",)}
    report: dict = {"rounds_per_writer": rounds}

    def batch(lo, hi, bucket_base):
        return (
            spark.range(lo, hi)
            .select(
                F.col("id"),
                (F.col("id") * 2).alias("val"),
                (bucket_base + F.col("id") % 4).alias("height_bucket"),
            )
            .coalesce(1)
        )

    for scenario in ("disjoint", "overlap"):
        base = tempfile.mkdtemp(prefix=f"txlog-race-{scenario}-")
        out = os.path.join(base, "store")
        # count conflict decisions by wrapping the detector: each racing
        # retry calls it once; the tables it returns are re-staged, the
        # rest rebase verbatim
        races = {"detector_calls": 0, "tables_restaged": 0}
        orig_conflicts = pub10._conflicting_tables

        def counting(out_dir, old_v, new_v, staged):
            res = orig_conflicts(out_dir, old_v, new_v, staged)
            races["detector_calls"] += 1
            races["tables_restaged"] += len(res)
            return res

        pub10._conflicting_tables = counting
        errors: list = []
        expected: set = set()

        def writer(w: int):
            try:
                for r in range(rounds):
                    if scenario == "disjoint":
                        lo = (r * 2 + w) * 50
                        hi = lo + 50
                        bb = w * 4  # buckets {0..3} vs {4..7}
                    else:
                        lo = r * 100 + w * 25  # 25 shared ids per round
                        hi = lo + 50
                        bb = 0  # same bucket space — PK collisions
                    expected.update(range(lo, hi))
                    pub10.publish_batch(
                        spark, {"t": batch(lo, hi, bb)}, out, pks=PK,
                        max_retries=8,
                    )
            except Exception as e:  # pragma: no cover - rehearsal guard
                errors.append(e)

        try:
            threads = [
                threading.Thread(target=writer, args=(w,)) for w in (0, 1)
            ]
            t0 = time.perf_counter()
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            wall = time.perf_counter() - t0
            assert not errors, errors
            df = pub10.read_published(spark, out, "t")
            got = {r["id"] for r in df.select("id").collect()}
            dup_pks = (
                df.groupBy("id").count().filter(F.col("count") > 1).count()
            )
            assert got == expected, (
                f"{scenario}: lost {len(expected - got)} rows, "
                f"phantom {len(got - expected)}"
            )
            assert dup_pks == 0, f"{scenario}: {dup_pks} duplicate PKs"
            report[scenario] = {
                "commits": pub10._latest_version(out),
                "rows": len(got),
                "lost_rows": 0,
                "duplicate_pks": 0,
                "conflict_checks": races["detector_calls"],
                "tables_restaged": races["tables_restaged"],
                "verbatim_rebases": races["detector_calls"]
                - races["tables_restaged"],
                "wall_s": round(wall, 2),
            }
        finally:
            pub10._conflicting_tables = orig_conflicts
            shutil.rmtree(base, ignore_errors=True)
    return report


def run_race_maintenance(rounds: int) -> dict:
    """Maintenance under genuine interleaving: a writer thread publishing
    micro-batches while a maintenance thread loops pin_version → vacuum
    → pinned-snapshot re-read → unpin — so vacuum walks, pin probes and
    checkpoint builds all run while commits land.  Pre-aged orphans are
    planted for the sweeps to reclaim (min_age_s=30 keeps the writer's
    in-flight staging safe, exactly the production configuration).
    Asserts zero lost rows / duplicate PKs, every pinned snapshot
    re-readable while its lease was held, and zero HOLLOW warnings —
    then injects one genuinely hollow lease, which MUST warn."""
    import threading
    import warnings

    from pyspark.sql import functions as F

    from chainweb_data_spark.session import get_spark
    from chainweb_data_spark.streaming import publish as pub10

    spark = get_spark("txlog-race-maintenance")
    PK = {"t": ("id",)}
    base = tempfile.mkdtemp(prefix="txlog-race-maint-")
    out = os.path.join(base, "store")

    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(
                F.col("id"),
                (F.col("id") * 2).alias("val"),
                (F.col("id") % 4).alias("height_bucket"),
            )
            .coalesce(1)
        )

    report: dict = {"rounds": rounds}
    errors: list = []
    expected: set = set()
    stop = threading.Event()
    stats = {
        "pins": 0,
        "rereads_ok": 0,
        "vacuums": 0,
        "orphans_reclaimed": 0,
        "pin_lost_races": 0,
    }
    hollow: list = []

    # commit an EMPTY v1 first: once a commit exists, junk planted below
    # is an orphan (with no log, the sink would refuse the directory)
    os.makedirs(os.path.join(out, "t.parquet"), exist_ok=True)
    pub10.ensure_manifest(out)
    # pre-aged orphans: reclaimable through min_age_s=30 from the start
    planted = 0
    for i in range(48):
        d = os.path.join(out, "t.parquet", f"height_bucket={i % 4}")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"part-aged-orphan-{i:03d}.parquet")
        with open(p, "wb") as f:
            f.write(b"x")
        os.utime(p, (time.time() - 3600, time.time() - 3600))
        planted += 1

    def writer():
        try:
            for r in range(rounds):
                lo = r * 50
                expected.update(range(lo, lo + 50))
                pub10.publish_batch(
                    spark, {"t": batch(lo, lo + 50)}, out, pks=PK,
                    max_retries=8,
                )
        except Exception as e:  # pragma: no cover - rehearsal guard
            errors.append(e)
        finally:
            stop.set()

    def maintainer():
        try:
            cycle = 0
            while not errors and not stop.is_set():
                v = pub10._latest_version(out)
                if v < 2:
                    time.sleep(0.02)
                    continue
                cycle += 1
                held = None
                try:
                    pub10.pin_version(out, v, name="race")
                    held = v
                    stats["pins"] += 1
                except ValueError:
                    # lost the pin/vacuum race — the LOUD contract
                    stats["pin_lost_races"] += 1
                # vacuum every THIRD cycle: the race-window coverage under
                # test is the pin/read/unpin vs writer interleaving, so
                # let those cycles outnumber the sweeps
                if cycle % 3 == 1:
                    with warnings.catch_warnings(record=True) as w:
                        warnings.simplefilter("always")
                        removed = pub10.vacuum(
                            out, keep_versions=1, min_age_s=30.0
                        )
                    hollow.extend(
                        x for x in w if "HOLLOW" in str(x.message)
                    )
                    stats["vacuums"] += 1
                    stats["orphans_reclaimed"] += len(removed)
                if held is not None:
                    # the lease's promise: the snapshot re-reads fully
                    pub10._SNAP_CACHE.clear()
                    df = pub10.read_published(spark, out, "t", version=held)
                    if df is not None:
                        df.count()
                    stats["rereads_ok"] += 1
                    pub10.unpin_version(out, held)
        except Exception as e:  # pragma: no cover - rehearsal guard
            errors.append(e)

    try:
        threads = [
            threading.Thread(target=writer),
            threading.Thread(target=maintainer),
        ]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        assert not errors, errors
        assert not hollow, [str(x.message) for x in hollow]
        df = pub10.read_published(spark, out, "t")
        got = {r["id"] for r in df.select("id").collect()}
        dup_pks = (
            df.groupBy("id").count().filter(F.col("count") > 1).count()
        )
        assert got == expected, (
            f"lost {len(expected - got)}, phantom {len(got - expected)}"
        )
        assert dup_pks == 0, f"{dup_pks} duplicate PKs"
        assert stats["orphans_reclaimed"] >= planted, stats

        # injected hollow lease: delete a pinned file mid-lease — the
        # next vacuum MUST warn (and name the loss count)
        v_pin = pub10._latest_version(out)
        pub10.pin_version(out, v_pin, name="doomed")
        victim = pub10._live_files(out, v_pin, "t")[0]
        os.remove(os.path.join(out, "t.parquet", victim))
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            pub10.vacuum(out, keep_versions=0, min_age_s=30.0)
        injected = [x for x in w if "HOLLOW" in str(x.message)]
        assert injected, "injected hollow lease did not warn"

        report.update(
            {
                "commits": pub10._latest_version(out),
                "rows": len(got),
                "lost_rows": 0,
                "duplicate_pks": 0,
                "planted_aged_orphans": planted,
                **stats,
                "hollow_warnings_unexpected": 0,
                "injected_hollow_warned": True,
                "wall_s": round(wall, 2),
            }
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return report


def run_megarewrite(n_files: int) -> dict:
    """The r12 spilled-delta row: a whole-table rewrite (format
    migration) committed against a store with ``n_files`` live files,
    spilled vs the pre-r12 inline form, on twin stores.  Reports commit
    JSON bytes (the number every subsequent resolve re-parses), commit
    wall, the race-window conflict fold wall (``_added_dirs_between``
    across the rewrite), and the post-rewrite resolve wall — identical
    results required both ways.  Metadata-only, like the base rehearsal: the
    cost under test is JSON/parquet bytes + fsync."""
    tables = _seed_snapshot(n_files)
    rw_table = TABLES[0]
    new_files = [
        f"height_bucket={i % 64}/rewrite-{i:07d}.zstd.parquet"
        for i in range(len(tables[rw_table]))
    ]
    report: dict = {
        "live_files": sum(len(v) for v in tables.values()),
        "rewritten_files": len(tables[rw_table]),
        "spill_threshold": pub.DELTA_SIDECAR_MIN_FILES,
    }
    base = tempfile.mkdtemp(prefix="txlog-megarw-")
    old_thresh = pub.DELTA_SIDECAR_MIN_FILES
    try:
        for mode in ("inline", "spill"):
            pub.DELTA_SIDECAR_MIN_FILES = (
                10 ** 12 if mode == "inline" else old_thresh
            )
            out = os.path.join(base, mode)
            os.makedirs(out)
            _seed(out, tables)
            # a couple of small deltas first, so the rewrite lands
            # off-boundary like a real maintenance op
            for i in range(2):
                pub._commit_delta(
                    out, pub._latest_version(out) + 1,
                    {rw_table: [f"pre-{i}.parquet"]}, {}, {}, op="publish",
                )
            pub._SNAP_CACHE.clear()
            old_live = pub._live_files(out, 3, rw_table)
            rss0 = _vm_rss_mb()
            t0 = time.perf_counter()
            pub._commit_delta(
                out, 4, {rw_table: new_files}, {rw_table: old_live}, {},
                op="rewrite",
            )
            commit_wall = time.perf_counter() - t0
            c = pub._load_commit(out, 4)
            mdir = os.path.join(out, "_manifest")
            json_bytes = os.path.getsize(os.path.join(mdir, "v000000004.json"))
            side_bytes = (
                os.path.getsize(os.path.join(mdir, c["delta"]))
                if "delta" in c
                else 0
            )
            # what a racing writer pays (r12): conflict detection folds
            # partition DIRS from JSON metadata — the spilled form
            # answers without opening the sidecar
            t0 = time.perf_counter()
            rd = pub._added_dirs_between(out, 2, 4)
            conflict_wall = time.perf_counter() - t0
            assert rd[rw_table] and len(rd[rw_table]) <= 65  # 64 buckets + flat pre-file
            pub._SNAP_CACHE.clear()
            t0 = time.perf_counter()
            snap = pub._snapshot(out, 4, stats=False)
            resolve_wall = time.perf_counter() - t0
            live = pub._table_rows(snap, rw_table)["file"].to_pylist()
            assert live == sorted(new_files)
            report[f"{mode}"] = {
                "commit_json_bytes": json_bytes,
                "sidecar_bytes": side_bytes,
                "commit_wall_s": round(commit_wall, 3),
                "conflict_fold_wall_s": round(conflict_wall, 3),
                "resolve_wall_s": round(resolve_wall, 3),
                "driver_rss_growth_mb": round(_vm_rss_mb() - rss0, 1),
            }
        report["json_bytes_ratio"] = round(
            report["inline"]["commit_json_bytes"]
            / report["spill"]["commit_json_bytes"],
            1,
        )
    finally:
        pub.DELTA_SIDECAR_MIN_FILES = old_thresh
        shutil.rmtree(base, ignore_errors=True)
    return report


def main() -> None:
    if "--megarewrite" in sys.argv:
        i = sys.argv.index("--megarewrite")
        n = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 1_000_000
        print(json.dumps({"megarewrite": run_megarewrite(n)}))
        return
    if "--bigsweep" in sys.argv:
        i = sys.argv.index("--bigsweep")
        n = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 1_000_000
        print(json.dumps({"bigsweep": run_bigsweep(n)}))
        return
    if "--race" in sys.argv:
        i = sys.argv.index("--race")
        counts = [a for a in sys.argv[i + 1:] if a.isdigit()]
        rounds = int(counts[0]) if counts else 12
        if "--maintenance" in sys.argv:
            print(json.dumps({"race_maintenance": run_race_maintenance(rounds)}))
        else:
            print(json.dumps({"race": run_race(rounds)}))
        return
    live_files = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
    n_commits = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    tables = _seed_snapshot(live_files)
    base = tempfile.mkdtemp(prefix="txlog-rehearsal-")
    try:
        report = {
            "live_files": live_files,
            "n_commits": n_commits,
            "checkpoint_every": pub.CHECKPOINT_EVERY,
            "schemes": {
                "log": run_log(base, tables, n_commits),
                "full_rewrite": run_full_rewrite(base, tables, n_commits),
            },
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)
    log_b = report["schemes"]["log"]["total_meta_bytes"]
    full_b = report["schemes"]["full_rewrite"]["total_meta_bytes"]
    report["meta_bytes_ratio"] = round(full_b / log_b, 1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
