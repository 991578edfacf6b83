"""Atomic six-table publish (r02 verdict item 4): the reference commits all
six tables in ONE transaction (Worker.hs:50-82).  The manifest commit must
give readers the same guarantee on parquet: a crash-interrupted batch is
INVISIBLE until its single manifest flip, and replay then heals it.
"""

import json
import os

import pytest

import chainweb_data_spark.streaming.publish as pub
from chainweb_data_spark.fixtures.generate import generate_raw_rows
from chainweb_data_spark.ingest.transforms import payload_to_tables
from chainweb_data_spark.schemas.payload import RAW_SCHEMA
from chainweb_data_spark.streaming.listen import TABLE_PKS, listen_stream
from chainweb_data_spark.streaming.publish import (
    publish_batch,
    read_manifest,
    read_published,
    vacuum,
)
from tests.test_streaming import ACTIVATION, _write_feed


@pytest.fixture(scope="module")
def raw_rows():
    return generate_raw_rows(n_chains=2, max_height=80, seed=11)


def _raw_df(spark, rows):
    return spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in rows], RAW_SCHEMA
    )


@pytest.mark.heavy
def test_atomic_stream_equals_batch_and_replay_is_noop(
    spark, tmp_path_factory, raw_rows
):
    base = str(tmp_path_factory.mktemp("atomic"))
    feed = os.path.join(base, "feed")
    out = os.path.join(base, "tables")
    _write_feed(raw_rows, feed, 3)

    q = listen_stream(spark, feed, out, event_min_height=ACTIVATION)
    q.awaitTermination(300)

    expected = payload_to_tables(_raw_df(spark, raw_rows), event_min_height=ACTIVATION)
    for name, exp_raw in expected.items():
        got = read_published(spark, out, name)
        pk = list(TABLE_PKS[name])
        exp = exp_raw.dropDuplicates(pk)
        assert got is not None, f"{name}: nothing published"
        assert got.count() == exp.count(), f"{name}"
        assert (
            exp.select(pk).exceptAll(got.select(pk)).isEmpty()
            and got.select(pk).exceptAll(exp.select(pk)).isEmpty()
        ), f"{name}: PK sets differ"

    # replay on a fresh checkpoint: every file re-delivered, nothing changes
    v_before = read_manifest(out)["version"]
    q2 = listen_stream(
        spark, feed, out, checkpoint_dir=os.path.join(base, "ckpt2"),
        event_min_height=ACTIVATION,
    )
    q2.awaitTermination(300)
    for name in TABLE_PKS:
        got = read_published(spark, out, name)
        exp = expected[name].dropDuplicates(list(TABLE_PKS[name]))
        assert got.count() == exp.count(), f"{name}: replay changed rows"
    # a pure replay stages nothing and burns NO version: empty commits
    # would silently shrink the MAINT_KEEP_VERSIONS retention horizon
    assert read_manifest(out)["version"] == v_before


def _count(spark, out, name):
    df = read_published(spark, out, name)
    return 0 if df is None else df.count()


@pytest.mark.heavy
def test_reader_never_sees_half_applied_batch(spark, tmp_path_factory, raw_rows):
    """Crash AFTER staging/moving files for some tables but BEFORE the
    manifest flip: a reader must still see exactly the previous snapshot for
    ALL six tables; vacuum reclaims the orphans; re-publish heals."""
    out = str(tmp_path_factory.mktemp("crash-pub") / "tables")
    half = len(raw_rows) // 2
    t1 = payload_to_tables(_raw_df(spark, raw_rows[:half]), event_min_height=ACTIVATION)
    t2 = payload_to_tables(_raw_df(spark, raw_rows), event_min_height=ACTIVATION)

    publish_batch(spark, t1, out)
    snap = {n: _count(spark, out, n) for n in TABLE_PKS}

    # crash injection: _write_manifest dies — all staged files already moved
    # into the table dirs, no manifest commit
    real_write = pub._write_manifest
    try:
        def dying_write(out_dir, manifest):
            raise RuntimeError("injected crash before manifest flip")

        pub._write_manifest = dying_write
        with pytest.raises(RuntimeError, match="injected crash"):
            publish_batch(spark, t2, out)
    finally:
        pub._write_manifest = real_write

    # snapshot isolation: every table still reads exactly the old snapshot,
    # even though newer data files physically exist in the directories
    for name in TABLE_PKS:
        assert _count(spark, out, name) == snap[name], name
    manifest = read_manifest(out)
    on_disk = sum(
        1
        for n in TABLE_PKS
        for _root, _d, files in os.walk(os.path.join(out, f"{n}.parquet"))
        for f in files
        if not f.startswith(("_", "."))
    )
    published = sum(len(v) for v in manifest["tables"].values())
    assert on_disk > published, "crash should have left orphan data files"

    # vacuum drops exactly the orphans; published reads are untouched
    removed = vacuum(out)
    assert len(removed) == on_disk - published
    for name in TABLE_PKS:
        assert _count(spark, out, name) == snap[name], name

    # replayed publish commits the full batch atomically
    publish_batch(spark, t2, out)
    for name in TABLE_PKS:
        exp = t2[name].dropDuplicates(list(TABLE_PKS[name])).count()
        assert _count(spark, out, name) == exp, name


@pytest.mark.heavy
def test_publish_probe_skips_published_duplicates(spark, tmp_path_factory, raw_rows):
    """Publishing the same rows twice adds no rows and no files (the
    ON CONFLICT DO NOTHING semantics against the PUBLISHED snapshot)."""
    out = str(tmp_path_factory.mktemp("dup-pub") / "tables")
    tables = payload_to_tables(_raw_df(spark, raw_rows), event_min_height=ACTIVATION)
    m1 = publish_batch(spark, tables, out)
    files_after_first = read_manifest(out)["tables"]
    m2 = publish_batch(spark, tables, out)
    # the re-publish is a true no-op: no files AND no version burned
    # (empty deltas would shrink the retention horizon)
    assert m2["version"] == m1["version"] and m2["op"] == "noop"
    assert read_manifest(out)["tables"] == files_after_first, (
        "re-publish added files despite no new rows"
    )


def test_manifest_flip_is_atomic_rename(tmp_path):
    """CURRENT is replaced by os.rename of a fully-written tmp file — no
    in-place truncation window.  (Protocol test: write two manifests and
    check CURRENT always parses and points at a complete snapshot.)"""
    out = str(tmp_path / "t")
    pub._commit_delta(out, 1, {"blocks": ["a"]}, {}, {})
    pub._write_manifest(out, {"version": 2, "add": {"blocks": ["b"]}})
    m = read_manifest(out)
    assert m["version"] == 2 and m["tables"]["blocks"] == ["a", "b"]
    mdir = os.path.join(out, "_manifest")
    # no tmp debris left behind
    assert not [f for f in os.listdir(mdir) if f.endswith(".tmp")]
    # every committed snapshot file is valid JSON
    for f in os.listdir(mdir):
        if f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                json.load(fh)
