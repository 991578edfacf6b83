"""Transaction-log semantics of streaming/publish.py — the Delta-log-shaped
upgrade over the v5 full-rewrite manifest: O(delta) incremental commits with
periodic checkpoints, put-if-absent commit (optimistic concurrency), time
travel, per-file footer stats with file skipping, and bounded vacuum.

The reference's transactional boundary is one Postgres transaction per
block (``haskell-src/exec/Chainweb/Worker.hs:50-82``); these tests pin the
parquet-native log that replaces it at 100 TB scale.
"""

import json
import os

import pytest

import chainweb_data_spark.streaming.publish as pub
from chainweb_data_spark.streaming.publish import (
    CHECKPOINT_EVERY,
    ConcurrentWriteError,
    history,
    publish_batch,
    read_manifest,
    read_published,
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


def test_incremental_commits_and_checkpoints(spark, tmp_path):
    """Commits between checkpoints are O(delta) file lists; every
    CHECKPOINT_EVERY-th version stores the full snapshot; resolution over
    any mix equals naive accumulation."""
    out = str(tmp_path / "t1")
    n_commits = CHECKPOINT_EVERY + 4
    for i in range(n_commits):
        publish_batch(spark, {"t": _batch(spark, i * 10, i * 10 + 10)}, out, pks=PK)

    m = read_manifest(out)
    # v1 adopt + one commit per publish
    assert m["version"] == n_commits + 1
    assert len(m["tables"]["t"]) == n_commits  # one coalesced file per batch
    got = read_published(spark, out, "t")
    assert got.count() == n_commits * 10

    kinds = {h["version"]: h["kind"] for h in history(out)}
    assert kinds[1] == "checkpoint"
    assert kinds[CHECKPOINT_EVERY] == "checkpoint"
    assert kinds[2] == "delta" and kinds[CHECKPOINT_EVERY + 1] == "delta"

    # the on-disk delta commits really are O(changed files), not O(live)
    with open(os.path.join(out, "_manifest", "v%09d.json" % (n_commits + 1))) as f:
        delta = json.load(f)
    assert "tables" not in delta
    assert sum(len(v) for v in delta["add"].values()) == 1


def test_time_travel(spark, tmp_path):
    out = str(tmp_path / "t2")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    publish_batch(spark, {"t": _batch(spark, 10, 30)}, out, pks=PK)
    v_mid = read_manifest(out)["version"]
    publish_batch(spark, {"t": _batch(spark, 30, 60)}, out, pks=PK)

    assert read_published(spark, out, "t").count() == 60
    assert read_published(spark, out, "t", version=v_mid).count() == 30
    assert read_published(spark, out, "t", version=v_mid - 1).count() == 10
    with pytest.raises(ValueError, match="latest"):
        read_manifest(out, version=999)


def test_current_is_only_a_hint(spark, tmp_path):
    """Crash between the commit link and the CURRENT update: readers probe
    forward from the hint and still see the newest commit."""
    out = str(tmp_path / "t3")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    publish_batch(spark, {"t": _batch(spark, 10, 20)}, out, pks=PK)
    v = read_manifest(out)["version"]
    # wind the hint back one commit — as if the writer died post-link
    with open(os.path.join(out, "_manifest", "CURRENT"), "w") as f:
        f.write("v%09d.json" % (v - 1))
    assert read_manifest(out)["version"] == v
    assert read_published(spark, out, "t").count() == 20


def test_optimistic_concurrency_rebases(spark, tmp_path):
    """A racing writer that steals the version number forces a
    ConcurrentWriteError; publish_batch rebases its staged files onto the
    fresh snapshot and both writers' data survive."""
    out = str(tmp_path / "t4")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)

    real_write = pub._write_manifest
    calls = {"n": 0}

    def racing_write(out_dir, manifest):
        calls["n"] += 1
        if calls["n"] == 1:
            # the OTHER writer lands the same version first (disjoint table)
            real_write(
                out_dir,
                {
                    "version": read_manifest(out_dir)["version"] + 1,
                    "add": {"raced": ["r.parquet"]},
                    "op": "race",
                },
            )
        real_write(out_dir, manifest)  # first call: raises ConcurrentWriteError

    pub._write_manifest = racing_write
    try:
        publish_batch(spark, {"t": _batch(spark, 10, 20)}, out, pks=PK)
    finally:
        pub._write_manifest = real_write

    m = read_manifest(out)
    assert m["tables"]["raced"] == ["r.parquet"]  # the racer's commit held
    assert read_published(spark, out, "t").count() == 20  # ours rebased in
    assert calls["n"] >= 2

    # direct double-commit of one version is refused, never clobbered
    with pytest.raises(ConcurrentWriteError):
        real_write(out, {"version": m["version"], "add": {"t": ["x.parquet"]}})


def test_file_skipping_by_footer_stats(spark, tmp_path):
    """read_published(where=...) prunes files whose footer [min,max] is
    disjoint from the predicate — fewer files opened, same matching rows."""
    out = str(tmp_path / "t5")
    for lo in (0, 100, 200):
        publish_batch(spark, {"t": _batch(spark, lo, lo + 100)}, out, pks=PK)

    stats = read_manifest(out)["stats"]["t"]
    assert all("id" in s and "val" in s for s in stats.values())

    full = read_published(spark, out, "t")
    pruned = read_published(spark, out, "t", where={"id": (150, None)})
    assert len(pruned.inputFiles()) == 2  # files [100,199] and [200,299]
    assert len(full.inputFiles()) == 3
    # pruning is I/O-only: after the row filter, results are identical
    assert (
        pruned.filter("id >= 150").count()
        == full.filter("id >= 150").count()
        == 150
    )
    # fully-disjoint predicate: every file skipped, schema-stable empty
    none = read_published(spark, out, "t", where={"id": (1000, None)})
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == ["id", "val"]
    # unknown column / unstatted bounds never prune
    loose = read_published(spark, out, "t", where={"nope": (0, 1)})
    assert loose.count() == 300


def test_vacuum_horizon_bounds_time_travel(spark, tmp_path):
    out = str(tmp_path / "t7")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    publish_batch(spark, {"t": _batch(spark, 10, 20)}, out, pks=PK)
    m = read_manifest(out)
    v_both = m["version"]
    old_files = [f for f in m["tables"]["t"]]
    # a shrink commit drops the first batch's file from the live snapshot
    keep = read_published(spark, out, "t").filter("id >= 10")
    pub._write_manifest(
        out,
        {
            "version": v_both + 1,
            "remove": {"t": old_files[:-1]},
            "op": "shrink",
        },
    )

    # keep_versions=1 retains the previous snapshot's files: time travel OK
    vacuum(out, keep_versions=1)
    assert read_published(spark, out, "t", version=v_both).count() == 20
    assert keep.count() == 10

    # default horizon: only the live snapshot's files survive
    removed = vacuum(out)
    assert removed, "shrunk-away file should be reclaimed"
    assert read_published(spark, out, "t").count() == 10
    # the old snapshot is no longer materializable (its data file is gone)
    with pytest.raises(Exception):
        read_published(spark, out, "t", version=v_both).count()


@pytest.mark.heavy
def test_zorder_rewrite_improves_file_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER composed with footer-stats skipping: after the
    rewrite, a height-only predicate prunes MORE files than under the
    lexicographic (chain, height) layout, chain-only predicates still
    prune, rows are preserved exactly, and the swap is one log commit."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.sources.maintenance import rewrite_zordered

    out = str(tmp_path / "z")
    grid = spark.range(8 * 1600).select(
        F.col("id"),
        (F.col("id") % 8).alias("chainid"),
        (F.col("id") / 8).cast("long").alias("height"),
    )
    # lexicographic (chain, height) layout, one file per (chain, half):
    # published slice-by-slice so the sink's dedup shuffle can't merge the
    # layout away — each file's footer box is one chain × half the heights
    for c in range(8):
        for lo, hi in ((0, 799), (800, 1599)):
            publish_batch(
                spark,
                {
                    "t": grid.filter(
                        f"chainid = {c} and height between {lo} and {hi}"
                    ).coalesce(1)
                },
                out,
                pks={"t": ("id",)},
            )

    total = len(read_published(spark, out, "t").inputFiles())
    lex_h = len(
        read_published(spark, out, "t", where={"height": (100, 149)}).inputFiles()
    )
    before_rows = read_published(spark, out, "t").count()

    res = rewrite_zordered(spark, out, "t", ["chainid", "height"], target_files=16)
    assert res["files"] == 16

    after = read_published(spark, out, "t")
    assert after.count() == before_rows
    assert (
        after.filter("chainid = 3 and height between 100 and 149").count() == 50
    )

    z_h = len(
        read_published(spark, out, "t", where={"height": (100, 149)}).inputFiles()
    )
    z_c = len(
        read_published(spark, out, "t", where={"chainid": (3, 3)}).inputFiles()
    )
    assert z_h < lex_h <= total, (z_h, lex_h, total)
    assert z_c < total
    # pruning never changes filtered results
    pr = read_published(spark, out, "t", where={"height": (100, 149)})
    assert pr.filter("height between 100 and 149").count() == 8 * 50
    assert history(out)[-1]["op"] == "zorder"


@pytest.mark.heavy
def test_two_real_writers_interleave_safely(spark, tmp_path):
    """Optimistic concurrency under REAL thread interleaving: two writers
    publish disjoint id ranges to the same directory concurrently; every
    row lands exactly once, versions are a contiguous chain, and at least
    the total number of commits happened (rebases add none — they reuse
    the staged files)."""
    import threading

    out = str(tmp_path / "race")
    publish_batch(spark, {"t": _batch(spark, 0, 1)}, out, pks=PK)  # adopt v1
    errors = []

    def writer(base):
        try:
            for b in range(6):
                lo = base + b * 100
                publish_batch(
                    spark,
                    {"t": _batch(spark, lo, lo + 50)},
                    out,
                    pks=PK,
                    max_retries=30,
                )
        except Exception as e:  # pragma: no cover - diagnostic
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(10_000,)),
        threading.Thread(target=writer, args=(20_000,)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    got = read_published(spark, out, "t")
    assert got.count() == 1 + 12 * 50
    assert got.select("id").distinct().count() == 1 + 12 * 50
    m = read_manifest(out)
    assert m["version"] >= 13  # 2 adopt/first + 12 publishes, rebases reuse
    # the log is a contiguous chain — every version loads
    assert [h["version"] for h in history(out)] == list(
        range(1, m["version"] + 1)
    )


def test_expire_files_is_metadata_only(spark, tmp_path):
    """TTL retention drops fully-expired files in one commit without
    reading data; straddling files survive whole; unstatted files are
    never dropped."""
    from chainweb_data_spark.sources.maintenance import expire_files

    out = str(tmp_path / "ttl")
    for lo in (0, 100, 200):  # files [0,99], [100,199], [200,299]
        publish_batch(spark, {"t": _batch(spark, lo, lo + 100)}, out, pks=PK)

    res = expire_files(spark, out, "t", "id", 150)
    assert res == {"removed": 1, "kept": 2}  # [0,99] gone; [100,199] straddles
    got = read_published(spark, out, "t")
    assert got.count() == 200
    assert got.agg({"id": "min"}).collect()[0][0] == 100
    assert history(out)[-1]["op"] == "expire"

    # nothing below the cutoff anymore except the straddler's tail
    assert expire_files(spark, out, "t", "id", 150) == {"removed": 0, "kept": 2}
    # a column with no stats never expires anything
    assert expire_files(spark, out, "t", "nope", 150) == {"removed": 0, "kept": 2}


def test_vacuum_never_touches_a_logless_directory(spark, tmp_path):
    """A directory with NO commit log must survive vacuum untouched: an
    empty live set there means 'nothing published', not 'everything is
    garbage'."""
    out = str(tmp_path / "legacy")
    _batch(spark, 0, 10).write.parquet(os.path.join(out, "t.parquet"))
    assert vacuum(out) == []
    assert spark.read.parquet(os.path.join(out, "t.parquet")).count() == 10


def test_vacuum_grace_window_spares_young_orphans(spark, tmp_path):
    """min_age_s keeps unreferenced files younger than the grace window —
    a concurrent writer's staged-but-uncommitted files are
    indistinguishable from crash orphans by reference alone.  Grace 0
    (the explicit-call default) reclaims them."""
    out = str(tmp_path / "grace")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    # simulate a concurrent writer mid-stage: a file in the table dir
    # referenced by no commit, just created (mtime = now)
    orphan = os.path.join(out, "t.parquet", "part-inflight.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1stub")
    assert vacuum(out, min_age_s=3600) == []  # young → spared
    assert os.path.exists(orphan)
    removed = vacuum(out)  # explicit quiesced cleanup: grace 0
    assert removed == [os.path.join("t.parquet", "part-inflight.parquet")]


def test_publish_batch_null_pk_replay_is_idempotent(spark, tmp_path):
    """The atomic sink's duplicate probe must be NULL-SAFE: a nullable
    PK component (silver-table shape) under plain equality would
    re-append every NULL-keyed row per replay."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "nullpk")
    rows = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, None, 30)], "id long, code string, v long"
    ).coalesce(1)
    pks = {"t": ("id", "code")}
    publish_batch(spark, {"t": rows}, out, pks=pks)
    publish_batch(spark, {"t": rows}, out, pks=pks)  # full replay
    got = read_published(spark, out, "t")
    assert got.count() == 3, "NULL-keyed rows duplicated on replay"
    assert got.filter(F.col("code").isNull()).count() == 2


def test_publish_batch_noop_burns_no_version_or_files(spark, tmp_path):
    """A fully-duplicate (or empty) batch commits nothing: no version
    bump (empty deltas would shrink the retention horizon) and no 0-row
    part files accumulating per replay."""
    out = str(tmp_path / "noop")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    v1 = read_manifest(out)["version"]
    n_files = len(read_manifest(out)["tables"]["t"])
    snap = publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    assert snap["version"] == v1  # returned the current snapshot
    assert read_manifest(out)["version"] == v1
    assert len(read_manifest(out)["tables"]["t"]) == n_files
    # empty input batch: same story
    publish_batch(spark, {"t": _batch(spark, 5, 5)}, out, pks=PK)
    assert read_manifest(out)["version"] == v1


def test_publish_batch_evaluates_input_once(spark, tmp_path):
    """Staging into a table that already has published rows runs the
    input's lineage once — not once for the probe bounds, once for the
    emptiness check and once for the write.  The key and the bucket come
    from a UDF that counts its calls, so no action can prune it away."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    out = str(tmp_path / "once")
    pks = {"t": ("id",)}

    def keyed(df):
        return df.withColumn(
            "height_bucket", (F.col("id") / 100).cast("long")
        ).coalesce(1)

    publish_batch(spark, {"t": keyed(spark.range(0, 150))}, out, pks=pks)
    calls = spark.sparkContext.accumulator(0)

    @udf("long")
    def counted(x):
        calls.add(1)
        return x

    batch = keyed(spark.range(100, 250).select(counted("id").alias("id")))
    rec = publish_batch(spark, {"t": batch}, out, pks=pks)
    assert rec["op"] == "publish"
    assert calls.value == 150
    got = read_published(spark, out, "t")
    assert got.count() == got.select("id").distinct().count() == 250


def test_maintenance_vacuum_preserves_recent_snapshots(spark, tmp_path):
    """Maintenance ops auto-vacuum with a RETENTION horizon, never 0 — a
    reader pinned to the pre-maintenance snapshot (or a time-travel read)
    must still find its data files after the swap commits."""
    from chainweb_data_spark.streaming.publish import compact_published

    out = str(tmp_path / "ret")
    for lo in (0, 100, 200):
        publish_batch(spark, {"t": _batch(spark, lo, lo + 100)}, out, pks=PK)
    v_pre = read_manifest(out)["version"]
    pinned = read_published(spark, out, "t", version=v_pre)

    done = compact_published(spark, out, "t", min_files=0)
    assert done, "compaction should have rewritten the partition"
    # the pinned reader's explicit file list still resolves: the replaced
    # files survive the MAINT_KEEP_VERSIONS horizon
    assert pinned.count() == 300
    assert read_published(spark, out, "t", version=v_pre).count() == 300
    # the live snapshot reads the compacted layout
    assert read_published(spark, out, "t").count() == 300
    # an explicit keep_versions=0 vacuum still reclaims them (the horizon
    # is policy, not a leak)
    removed = vacuum(out)
    assert removed
    with pytest.raises(Exception):
        read_published(spark, out, "t", version=v_pre).count()


def test_zorder_wide_range_column_does_not_overflow(spark, tmp_path):
    """Rank-scaling must happen in double: the int64 form (v-lo)*65535
    wraps negative once the span exceeds ~1.4e14 (4.5 years of microsecond
    timestamps) and the clamp collapses the top of the range to Z=0."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.sources.maintenance import zorder_expr

    lo, hi = 0, 4 * 10**15  # ~127 years in microseconds
    df = spark.range(5).select(
        (F.col("id") * (hi // 4)).alias("ts_us")
    )
    z = zorder_expr({"ts_us": (lo, hi)}, bits=16)
    vals = [r[0] for r in df.select(z.alias("z")).orderBy("ts_us").collect()]
    # strictly increasing, spanning the quantized range — no wrap-to-0
    assert vals == sorted(vals) and len(set(vals)) == 5, vals
    assert vals[0] == 0 and vals[-1] >= (1 << 16) - 2, vals


def test_zorder_all_null_column_is_skipped(spark, tmp_path):
    """An all-NULL Z column has no rank-scale; rewrite_zordered drops it
    (reported via skipped_cols) instead of dying on int(None), and
    zorder_expr itself refuses NULL bounds loudly."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.sources.maintenance import (
        rewrite_zordered,
        zorder_expr,
    )

    with pytest.raises(ValueError, match="NULL bounds"):
        zorder_expr({"c": (None, None)})

    out = str(tmp_path / "znull")
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 8).alias("chainid"),
        F.lit(None).cast("long").alias("optional_col"),
    )
    publish_batch(spark, {"t": df.coalesce(1)}, out, pks=PK)
    res = rewrite_zordered(
        spark, out, "t", ["chainid", "optional_col"], target_files=2
    )
    assert res["files"] == 2
    assert res["skipped_cols"] == ["optional_col"]
    assert list(res["ranges"]) == ["chainid"]
    assert read_published(spark, out, "t").count() == 100

    # every requested column all-NULL → no usable dimension, skip cleanly
    out2 = str(tmp_path / "znull2")
    publish_batch(spark, {"t": df.coalesce(1)}, out2, pks=PK)
    res2 = rewrite_zordered(spark, out2, "t", ["optional_col"])
    assert res2 == {"files": 0, "ranges": {}, "skipped_cols": ["optional_col"]}
    assert read_published(spark, out2, "t").count() == 100


def test_maintenance_ops_survive_version_races(spark, tmp_path, monkeypatch):
    """A concurrent commit between a maintenance op's snapshot read and
    its commit must not crash the job: expire_files REBASES (recomputes on
    the fresh snapshot); compaction and rewrite_zordered share one swap,
    which REBASES when every input file is still live (a racer's append
    survives beside the new layout) and ABANDONS when a racer removed an
    input (a racing compaction) — its staged files are vacuumed as
    orphans."""
    from chainweb_data_spark.sources.maintenance import (
        expire_files,
        rewrite_zordered,
    )
    from chainweb_data_spark.streaming.publish import compact_published

    out = str(tmp_path / "mrace")
    for lo in (0, 100, 200):
        publish_batch(spark, {"t": _batch(spark, lo, lo + 100)}, out, pks=PK)

    real_write = pub._write_manifest
    state = {"racer": None}

    def race_once(out_dir, manifest):
        racer = state["racer"]
        if racer is not None:
            state["racer"] = None
            racer()  # the interloper commits first
        return real_write(out_dir, manifest)

    def append(lo, hi):
        return lambda: publish_batch(
            spark, {"t": _batch(spark, lo, hi)}, out, pks=PK
        )

    def ids():
        return sorted(r["id"] for r in read_published(spark, out, "t").collect())

    monkeypatch.setattr(pub, "_write_manifest", race_once)
    state["racer"] = append(300, 400)
    res = expire_files(spark, out, "t", "id", 150)
    # rebased: the drop decision re-ran on the fresh snapshot
    assert res == {"removed": 1, "kept": 3}
    assert read_published(spark, out, "t").count() == 300  # 100..399

    state["racer"] = append(400, 500)
    res_z = rewrite_zordered(spark, out, "t", ["id"], target_files=2)
    # the racer only added a file: every input is still live, so the
    # swap rebased — the z-files are live beside the racer's file and
    # rows 100..499 (the expire + both interlopers) are intact
    assert res_z["files"] >= 1
    assert pub._load_commit(out, pub._latest_version(out))["op"] == "zorder"
    assert ids() == list(range(100, 500))

    tdir = os.path.join(out, "t.parquet")

    def _on_disk():
        return {
            os.path.relpath(os.path.join(r, f), tdir)
            for r, _d, fs in os.walk(tdir)
            for f in fs
            if not f.startswith(("_", "."))
        }

    # a racing compaction removes every input file: both callers of the
    # swap abandon, and their staged files are orphans
    for n, op in enumerate((
        lambda: compact_published(spark, out, "t", min_files=1),
        lambda: rewrite_zordered(spark, out, "t", ["id"], target_files=2),
    )):
        publish_batch(
            spark, {"t": _batch(spark, 500 + n * 10, 510 + n * 10)}, out, pks=PK
        )
        before = ids()
        state["racer"] = lambda: compact_published(spark, out, "t", min_files=1)
        assert op() == {}
        assert pub._load_commit(out, pub._latest_version(out))["op"] == "compact"
        assert ids() == before
        # the abandoned rewrite's staged files are referenced by NO
        # snapshot; the auto-vacuum's concurrency grace spares them while
        # young, and an explicit quiesced vacuum (grace 0) reclaims them
        m = read_manifest(out)
        referenced = set()
        for v in range(1, m["version"] + 1):
            referenced |= set(read_manifest(out, version=v)["tables"].get("t", []))
        assert _on_disk() - referenced, "expected the staged files to linger"
        vacuum(out)  # quiesced cleanup: grace 0, live snapshot only
        assert _on_disk() == set(m["tables"]["t"])


def test_race_with_pk_overlap_restages_and_dedups(spark, tmp_path):
    """r9 conflict detection: a racer that publishes the SAME PKs while
    our batch is staging forces a RE-STAGE against the fresh snapshot —
    the pre-race anti-join missed the racer's rows, and a verbatim rebase
    would have committed duplicates."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "cr1")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)

    real_write = pub._write_manifest
    state = {"raced": False}

    def racer_df():
        # ids 10..19 — OVERLAPS our writer's 10..25 (flat table: same
        # empty partition prefix, so detection must fire)
        return _batch(spark, 10, 20)

    def racing_write(out_dir, manifest):
        if not state["raced"] and manifest.get("op") == "publish":
            state["raced"] = True
            publish_batch(spark, {"t": racer_df()}, out_dir, pks=PK)
            raise pub.ConcurrentWriteError("injected race")
        return real_write(out_dir, manifest)

    pub._write_manifest = racing_write
    try:
        publish_batch(spark, {"t": _batch(spark, 10, 26)}, out, pks=PK)
    finally:
        pub._write_manifest = real_write

    rows = read_published(spark, out, "t").collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == list(range(0, 26))  # no duplicates, nothing lost
    assert len(ids) == len(set(ids))
    # the racer's copies of 10..19 won; ours re-staged to only 20..25
    assert (
        read_published(spark, out, "t")
        .groupBy("id").count().filter(F.col("count") > 1).count() == 0
    )


def test_race_fully_duplicate_batch_burns_no_version(spark, tmp_path):
    """When the racer published EVERYTHING our batch carries, the
    re-stage leaves zero survivors and publish_batch returns the fresh
    snapshot without committing an empty delta."""
    out = str(tmp_path / "cr2")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)

    real_write = pub._write_manifest
    state = {"raced": False}

    def racing_write(out_dir, manifest):
        if not state["raced"] and manifest.get("op") == "publish":
            state["raced"] = True
            publish_batch(spark, {"t": _batch(spark, 10, 20)}, out_dir, pks=PK)
            raise pub.ConcurrentWriteError("injected race")
        return real_write(out_dir, manifest)

    pub._write_manifest = racing_write
    try:
        got = publish_batch(spark, {"t": _batch(spark, 10, 20)}, out, pks=PK)
    finally:
        pub._write_manifest = real_write
    latest = read_manifest(out)
    assert got["version"] == latest["version"]  # no extra commit burned
    assert read_published(spark, out, "t").count() == 20


def test_race_disjoint_partitions_skips_restage(spark, tmp_path):
    """The fast path must survive: a racer in a DIFFERENT height bucket
    does not force a re-stage (the staged files rebase verbatim)."""
    from pyspark.sql import functions as F

    def hb_batch(lo, hi, bucket):
        return (
            spark.range(lo, hi)
            .select(
                F.col("id"),
                F.lit(bucket).alias("height_bucket"),
                (F.col("id") * 3).alias("val"),
            )
            .coalesce(1)
        )

    out = str(tmp_path / "cr3")
    publish_batch(spark, {"t": hb_batch(0, 10, 0)}, out, pks=PK)

    real_write = pub._write_manifest
    real_stage = pub._stage_table
    stage_calls = {"n": 0}
    state = {"raced": False}

    def counting_stage(*a, **kw):
        stage_calls["n"] += 1
        return real_stage(*a, **kw)

    def racing_write(out_dir, manifest):
        if not state["raced"] and manifest.get("op") == "publish":
            state["raced"] = True
            pub._stage_table = real_stage  # racer's staging not counted
            publish_batch(spark, {"t": hb_batch(100, 110, 7)}, out_dir, pks=PK)
            pub._stage_table = counting_stage
            raise pub.ConcurrentWriteError("injected race")
        return real_write(out_dir, manifest)

    pub._stage_table = counting_stage
    pub._write_manifest = racing_write
    try:
        publish_batch(spark, {"t": hb_batch(10, 20, 1)}, out, pks=PK)
    finally:
        pub._write_manifest = real_write
        pub._stage_table = real_stage

    assert stage_calls["n"] == 1  # staged once; rebase was verbatim
    assert read_published(spark, out, "t").count() == 30


def test_conflict_detection_flat_wildcard_and_bucket_overlap(spark, tmp_path):
    """r9 review find: the flat-file wildcard's actual behavioral delta —
    one side flat, the other partitioned (the table-creation race window
    around layout adoption) — must CONFLICT; bucket-disjoint partitioned
    sides must not.  Unit-tests _conflicting_tables against a real log."""
    from pyspark.sql import functions as F

    def hb_batch(lo, hi, bucket):
        return (
            spark.range(lo, hi)
            .select(
                F.col("id"),
                F.lit(bucket).alias("height_bucket"),
                (F.col("id") * 3).alias("val"),
            )
            .coalesce(1)
        )

    out = str(tmp_path / "cw")
    publish_batch(spark, {"t": hb_batch(0, 10, 0)}, out, pks=PK)
    old_v = read_manifest(out)["version"]
    # the "racer": a partitioned add in height_bucket=7
    publish_batch(spark, {"t": hb_batch(100, 110, 7)}, out, pks=PK)
    new_v = read_manifest(out)["version"]
    racer_files = set(read_manifest(out, new_v)["tables"]["t"]) - set(
        read_manifest(out, old_v)["tables"]["t"]
    )
    assert all(f.startswith("height_bucket=7/") for f in racer_files)

    def conflicts(staged_paths):
        return pub._conflicting_tables(
            out, old_v, new_v, {"t": (staged_paths, {})}
        )

    # our side FLAT (no partition evidence) → wildcard → conflict
    assert conflicts(["part-flat-abc.parquet"]) == {"t"}
    # our side partitioned, SAME bucket → conflict
    assert conflicts(["height_bucket=7/part-x.parquet"]) == {"t"}
    # our side partitioned, DIFFERENT bucket → disjoint → no re-stage
    assert conflicts(["height_bucket=3/part-x.parquet"]) == set()
    # racer untouched table → never a conflict
    assert (
        pub._conflicting_tables(
            out, old_v, new_v, {"other": (["part-1.parquet"], {})}
        )
        == set()
    )


def test_publish_commits_delta_directly_and_returns_commit_record(
    spark, tmp_path
):
    """r10: the hot write path commits O(staged files) deltas DIRECTLY —
    no parent-snapshot hydration, no full-list set-diff — and returns a
    commit record, not a hydrated snapshot.  The on-disk delta must name
    exactly the staged files; delta-form commits are refused on
    checkpoint versions (readers are owed a full snapshot there)."""
    out = str(tmp_path / "dd")
    rec = publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    assert rec["op"] == "publish" and rec["version"] == 2  # v1 = create
    assert set(rec["add"]) == {"t"} and rec["add"]["t"] >= 1
    c = pub._load_commit(out, 2)
    assert "tables" not in c and "ckpt" not in c and "remove" not in c
    assert c["parent"] == 1 and c["op"] == "publish"
    # the delta names exactly the live files the snapshot resolves to
    assert sorted(c["add"]["t"]) == read_manifest(out)["tables"]["t"]
    # and their footer stats rode the same commit
    assert set(c["stats_add"]["t"]) == set(c["add"]["t"])
    # a delta-form commit on a checkpoint version is a protocol violation
    with pytest.raises(ValueError, match="checkpoint version"):
        pub._write_manifest(
            out,
            {
                "version": pub.CHECKPOINT_EVERY,
                "op": "publish",
                "add": {"t": ["bogus.parquet"]},
            },
        )


def test_publish_after_zorder_keeps_every_row(spark, tmp_path):
    """rewrite_zordered keeps a bucketed table's bucket directories, so a
    later publish (which always stages into them) never puts bucket
    directories beside flat files — a layout mix that drops rows from the
    snapshot read."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.sources.maintenance import rewrite_zordered

    out = str(tmp_path / "zp")

    def bucketed(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 2).alias("height_bucket")
        )

    publish_batch(spark, {"t": bucketed(0, 20)}, out, pks=PK)
    rewrite_zordered(spark, out, "t", ["id"], target_files=2)
    assert all(
        f.startswith("height_bucket=") for f in read_manifest(out)["tables"]["t"]
    )
    publish_batch(spark, {"t": bucketed(20, 30)}, out, pks=PK)
    got = read_published(spark, out, "t")
    assert sorted(r["id"] for r in got.collect()) == list(range(30))


def test_identical_batches_staged_together_keep_separate_caches(spark, tmp_path):
    """publish_batch stages its tables in parallel threads, and two
    tables may receive equal DataFrame plans.  Each stage's cached copy
    must be its own cache entry: releasing one stage's copy must not
    drop the blocks another stage's write is still reading."""
    out = str(tmp_path / "twin")

    def batch():
        return spark.range(0, 10).selectExpr("id", "id % 4 as height_bucket")

    pks = {"t": ("id",), "u": ("id",)}
    publish_batch(spark, {"t": batch(), "u": batch()}, out, pks=pks)
    _b, _c, mine = pub._probe_plan(spark, batch(), out, "t", pks["t"])
    _b, _c, theirs = pub._probe_plan(spark, batch(), out, "u", pks["u"])
    assert mine is not None and theirs is not None
    mine.unpersist()
    level = theirs.storageLevel
    assert level.useMemory or level.useDisk
    theirs.unpersist()
