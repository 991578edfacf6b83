"""Streaming listen path: replay + orphan idempotence (SURVEY §7.1 step 7).

The reference's guarantees (Listen.hs + Worker.hs ON CONFLICT DO NOTHING):
re-delivered blocks change nothing; orphan twins at the same height coexist;
the streamed result equals a one-shot batch ingest of the same feed.
"""

import json
import os

import pytest

from chainweb_data_spark.fixtures.generate import generate_raw_rows
from chainweb_data_spark.ingest.transforms import payload_to_tables
from chainweb_data_spark.schemas.payload import RAW_SCHEMA
from chainweb_data_spark.streaming.listen import TABLE_PKS, listen_stream

# the generator's event-activation floor is 60 (fixtures ACTIVATION_FLOOR);
# run past it so events/transfers actually flow through the stream
ACTIVATION = 60


@pytest.fixture(scope="module")
def raw_rows():
    return generate_raw_rows(n_chains=2, max_height=100, seed=7)


def _write_feed(rows, feed_dir, chunks):
    os.makedirs(feed_dir, exist_ok=True)
    n = len(rows)
    bounds = [int(n * i / chunks) for i in range(chunks + 1)]
    for i in range(chunks):
        with open(os.path.join(feed_dir, f"feed_{i:03d}.json"), "w") as f:
            for r in rows[bounds[i] : bounds[i + 1]]:
                f.write(json.dumps(r) + "\n")


@pytest.mark.heavy
def test_stream_equals_batch_and_replay_is_noop(spark, tmp_path_factory, raw_rows):
    base = str(tmp_path_factory.mktemp("stream"))
    feed = os.path.join(base, "feed")
    out = os.path.join(base, "tables")
    # 3 chunks + chunk 0 re-delivered under a new filename (listener
    # reconnect replays recent blocks, Server.hs:171-182)
    _write_feed(raw_rows, feed, 3)
    with open(os.path.join(feed, "feed_000.json")) as f:
        dup = f.read()
    with open(os.path.join(feed, "feed_900_replay.json"), "w") as f:
        f.write(dup)

    q = listen_stream(spark, feed, out, event_min_height=ACTIVATION)
    q.awaitTermination(300)

    raw = spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in raw_rows], RAW_SCHEMA
    )
    expected = payload_to_tables(raw, event_min_height=ACTIVATION)
    for name, exp_raw in expected.items():
        got = spark.read.parquet(os.path.join(out, f"{name}.parquet"))
        pk = list(TABLE_PKS[name])
        # ON CONFLICT DO NOTHING collapses PK twins (e.g. a signer row
        # re-introduced by an orphan branch) — dedup the batch oracle too
        exp = exp_raw.dropDuplicates(pk)
        assert got.count() == got.dropDuplicates(pk).count(), f"{name}: dup PKs"
        assert got.count() == exp.count(), f"{name}: stream {got.count()} != batch {exp.count()}"
        # exact content match on the PK set
        assert (
            exp.select(pk).exceptAll(got.select(pk)).isEmpty()
            and got.select(pk).exceptAll(exp.select(pk)).isEmpty()
        ), f"{name}: PK sets differ"


@pytest.mark.heavy
def test_second_run_is_noop(spark, tmp_path_factory, raw_rows):
    base = str(tmp_path_factory.mktemp("stream2"))
    feed = os.path.join(base, "feed")
    out = os.path.join(base, "tables")
    _write_feed(raw_rows, feed, 2)
    q = listen_stream(spark, feed, out, event_min_height=ACTIVATION)
    q.awaitTermination(300)
    counts1 = {
        n: spark.read.parquet(os.path.join(out, f"{n}.parquet")).count()
        for n in TABLE_PKS
    }
    # fresh checkpoint → every file re-delivered end-to-end
    q2 = listen_stream(
        spark, feed, out, checkpoint_dir=os.path.join(base, "ckpt2"),
        event_min_height=ACTIVATION,
    )
    q2.awaitTermination(300)
    counts2 = {
        n: spark.read.parquet(os.path.join(out, f"{n}.parquet")).count()
        for n in TABLE_PKS
    }
    assert counts1 == counts2, f"replay changed tables: {counts1} vs {counts2}"


def _publish_one(spark, df, out, table, pk):
    from chainweb_data_spark.streaming.publish import publish_batch

    publish_batch(spark, {table: df}, out, pks={table: pk})


def test_merge_probe_prunes_to_batch_buckets(spark, tmp_path_factory):
    """The publish duplicate probe must scan ONLY the partition buckets the
    batch can collide with — numFiles of the executed anti-join plan equals
    the probed bucket's files, not the whole table's (same technique as
    tests/test_layout.py)."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.streaming.publish import _probe_plan, read_published

    out = str(tmp_path_factory.mktemp("merge"))
    base = spark.range(0, 10_000).select(
        F.md5(F.col("id").cast("string")).alias("hash"),
        F.col("id").alias("height"),
        (F.col("id") / 1_000).cast("long").alias("height_bucket"),
    )
    _publish_one(spark, base, out, "blocks", ("hash",))
    n_total_files = len(read_published(spark, out, "blocks").inputFiles())
    assert n_total_files >= 10  # one dir per bucket at least

    # a new batch confined to the top bucket: half replayed, half new
    batch = spark.range(9_500, 10_500).select(
        F.md5(F.col("id").cast("string")).alias("hash"),
        F.col("id").alias("height"),
        (F.col("id") / 1_000).cast("long").alias("height_bucket"),
    )
    # the rows publish_batch would stage, and the cached input it releases
    plan, bucketed, cached = _probe_plan(spark, batch, out, "blocks", ("hash",))
    assert bucketed == "height_bucket"
    # the probe side is the only parquet scan in the plan
    from tests.test_layout import _scan_files_read

    files_read = _scan_files_read(plan)
    assert files_read < n_total_files, "probe scanned the full table"
    per_bucket = n_total_files / 10
    assert files_read <= 2 * per_bucket, (files_read, n_total_files)
    # and the probe itself is exact: only the 500 genuinely-new rows stage
    assert plan.count() == 500
    cached.unpersist()


def test_merge_probe_prunes_key_buckets(spark, tmp_path_factory):
    """signers/minerkeys carry no height (a requestkey re-mined after an
    orphan may reappear at any later height), so their probe prunes on the
    PK-prefix key_bucket instead: a batch touching few buckets must scan
    only those partitions, never the full table."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.streaming.publish import _probe_plan, read_published

    out = str(tmp_path_factory.mktemp("mergek"))
    pk = ("requestkey", "idx")
    base = spark.range(0, 20_000).select(
        F.md5(F.col("id").cast("string")).alias("requestkey"),
        F.lit(0).cast("int").alias("idx"),
    ).withColumn("key_bucket", F.substring("requestkey", 1, 1))
    _publish_one(spark, base, out, "signers", pk)
    existing = read_published(spark, out, "signers")
    n_buckets = existing.select("key_bucket").distinct().count()
    assert n_buckets == 16  # md5 hex → 16 prefix buckets, all populated
    n_total_files = len(existing.inputFiles())

    # a batch confined to two buckets: half replayed, half new keys
    batch = (
        base.filter(F.col("key_bucket").isin("a", "b")).limit(100)
        .unionByName(
            spark.range(0, 100).select(
                F.concat(F.lit("a-new-"), F.col("id").cast("string")).alias(
                    "requestkey"
                ),
                F.lit(0).cast("int").alias("idx"),
            ).withColumn("key_bucket", F.substring("requestkey", 1, 1))
        )
    )
    plan, bucketed, cached = _probe_plan(spark, batch, out, "signers", pk)
    assert bucketed == "key_bucket"
    from tests.test_layout import _scan_files_read

    files_read = _scan_files_read(plan)
    assert files_read < n_total_files, "probe scanned the full table"
    assert files_read <= 2 * (2 / 16) * n_total_files, (files_read, n_total_files)
    assert plan.count() == 100  # replayed rows dropped, new keys kept
    cached.unpersist()


def test_stream_partitions_all_six_tables(spark, tmp_path_factory, raw_rows):
    """Reference parity for Worker.hs:50-82 at the layout level: after a
    stream run, EVERY table directory is partition-laid-out, so every
    subsequent merge probe can prune (height_bucket for the height tables,
    key_bucket for signers/minerkeys)."""
    base = str(tmp_path_factory.mktemp("streamp"))
    feed = os.path.join(base, "feed")
    out = os.path.join(base, "tables")
    _write_feed(raw_rows, feed, 1)
    q = listen_stream(spark, feed, out, event_min_height=ACTIVATION)
    q.awaitTermination(300)
    expect_prefix = {
        "blocks": "height_bucket=",
        "transactions": "height_bucket=",
        "events": "height_bucket=",
        "transfers": "height_bucket=",
        "signers": "key_bucket=",
        "minerkeys": "key_bucket=",
    }
    for name, prefix in expect_prefix.items():
        tdir = os.path.join(out, f"{name}.parquet")
        parts = [d for d in os.listdir(tdir) if d.startswith(prefix)]
        assert parts, f"{name}: no {prefix}* partition dirs in {os.listdir(tdir)[:5]}"


@pytest.mark.heavy
def test_crash_mid_atomic_batch_is_invisible_then_heals(
    spark, tmp_path_factory, raw_rows, monkeypatch
):
    """Kill the stream after some tables of
    a micro-batch are staged but before the manifest flip.  Snapshot readers
    must see the previous complete batch set for ALL six tables (no
    half-applied block, Worker.hs:50-82 parity); a restart on the same
    checkpoint re-delivers and commits the whole batch; vacuum reclaims the
    crash orphans."""
    import chainweb_data_spark.streaming.publish as pub_mod
    from chainweb_data_spark.streaming.publish import (
        read_manifest,
        read_published,
        vacuum,
    )

    base = str(tmp_path_factory.mktemp("crash-atomic"))
    feed = os.path.join(base, "feed")
    out = os.path.join(base, "tables")
    ckpt = os.path.join(base, "ckpt")
    # 8 feed files at maxFilesPerTrigger=4 → two micro-batches, so the
    # crash lands mid-SECOND batch and the previous snapshot is non-trivial
    _write_feed(raw_rows, feed, 8)

    real_stage = pub_mod._stage_table
    calls = {"n": 0}

    def dying_stage(spark_, df, out_dir, table, pk, layout=None):
        calls["n"] += 1
        # batch 0 stages 6 tables cleanly; die mid-batch-1.  Staging is
        # THREADED (publish_batch submits all six concurrently), so the
        # dying call's siblings may still complete after it raises —
        # more staged orphans, same guarantee: the commit never happens.
        if calls["n"] == 9:
            raise RuntimeError("injected crash mid-atomic-batch")
        return real_stage(spark_, df, out_dir, table, pk, layout)

    monkeypatch.setattr(pub_mod, "_stage_table", dying_stage)
    q = listen_stream(spark, feed, out, checkpoint_dir=ckpt,
                      event_min_height=ACTIVATION)
    try:
        q.awaitTermination(300)
    except Exception:
        pass
    assert calls["n"] >= 9, "crash injection did not fire"

    # snapshot isolation: published view == exactly batch 0's commit for
    # EVERY table, while batch 1's staged orphans physically exist on disk
    v_crash = read_manifest(out)["version"]
    snap = {}
    for name in TABLE_PKS:
        df = read_published(spark, out, name)
        snap[name] = 0 if df is None else df.count()
    assert snap["blocks"] > 0, "batch 0 should have committed before the crash"
    on_disk = sum(
        1
        for n in TABLE_PKS
        for _root, _d, files in os.walk(os.path.join(out, f"{n}.parquet"))
        for f in files
        if not f.startswith(("_", "."))
    )
    published = sum(
        len(v) for v in read_manifest(out)["tables"].values()
    )
    assert on_disk > published, "crash should leave staged orphan files"

    # restart on the SAME checkpoint: the full batch re-delivers and commits
    monkeypatch.setattr(pub_mod, "_stage_table", real_stage)
    q2 = listen_stream(spark, feed, out, checkpoint_dir=ckpt,
                       event_min_height=ACTIVATION)
    q2.awaitTermination(300)
    assert read_manifest(out)["version"] > v_crash

    raw = spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in raw_rows], RAW_SCHEMA
    )
    expected = payload_to_tables(raw, event_min_height=ACTIVATION)
    for name, exp_raw in expected.items():
        got = read_published(spark, out, name)
        pk = list(TABLE_PKS[name])
        exp = exp_raw.dropDuplicates(pk)
        assert got is not None and got.count() == exp.count(), name
        assert (
            exp.select(pk).exceptAll(got.select(pk)).isEmpty()
            and got.select(pk).exceptAll(exp.select(pk)).isEmpty()
        ), f"{name}: PK sets differ after atomic crash-recovery"
    # the replay re-staged identical content, so the crashed files are
    # orphans forever — vacuum reclaims them and published reads move not
    vacuum(out)
    for name in TABLE_PKS:
        got = read_published(spark, out, name)
        exp = expected[name].dropDuplicates(list(TABLE_PKS[name]))
        assert got.count() == exp.count(), f"{name}: vacuum changed published rows"


def test_orphan_twins_coexist(spark, raw_rows):
    raw = spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in raw_rows], RAW_SCHEMA
    )
    blocks = payload_to_tables(raw, event_min_height=ACTIVATION)["blocks"]
    from pyspark.sql import functions as F

    twins = (
        blocks.groupBy("chainid", "height").count().filter(F.col("count") > 1)
    )
    assert not twins.isEmpty(), "fixture must contain orphan twins"
    # twins have distinct hashes (PK) — both retained
    assert blocks.select("hash").distinct().count() == blocks.count()


def test_key_bucket_survives_all_digit_first_batch(spark, tmp_path_factory):
    """A tiny first batch whose PKs all start with digits must not poison
    the table: without the 'k' prefix, partition inference read the
    all-numeric dir set back as INT and the next batch's letter bucket
    crashed the pruned probe's cast (CAST_INVALID_INPUT)."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.ingest.transforms import _key_bucket
    from chainweb_data_spark.streaming.publish import read_published

    out = str(tmp_path_factory.mktemp("kbdigit"))
    pk = ("requestkey", "idx")

    def _batch(keys):
        return spark.createDataFrame(
            [(k, 0) for k in keys], "requestkey string, idx int"
        ).select("requestkey", "idx", _key_bucket(F.col("requestkey")))

    _publish_one(spark, _batch(["7abc", "3xyz"]), out, "signers", pk)
    # pre-fix: this second publish raised NumberFormatException in the probe
    _publish_one(spark, _batch(["Babc"]), out, "signers", pk)
    back = read_published(spark, out, "signers")
    assert back.count() == 3
    assert sorted(r[0] for r in back.select("key_bucket").collect()) == [
        "k3",
        "k7",
        "kB",
    ]
    # replay stays a no-op across the type boundary too
    _publish_one(spark, _batch(["Babc", "7abc"]), out, "signers", pk)
    assert read_published(spark, out, "signers").count() == 3
