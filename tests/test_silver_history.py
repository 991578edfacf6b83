"""Incremental continuation-history silver table (SURVEY §2.3 J4 option b):
streaming the tx feed through per-batch updates must produce exactly the
ancestry a direct Python walk over the full tx table produces, replays must
be no-ops, and the endpoint lookup must be a single-bucket read."""

import os

import pytest

from pyspark.sql import functions as F

from chainweb_data_spark.fixtures.generate import generate_raw_rows
from chainweb_data_spark.ingest.transforms import payload_to_tables
from chainweb_data_spark.schemas.payload import RAW_SCHEMA
from chainweb_data_spark.streaming.publish import read_published
from chainweb_data_spark.streaming.silver import (
    lookup_history,
    update_continuation_history,
)

ACTIVATION = 60


@pytest.fixture(scope="module")
def tx(spark):
    rows = generate_raw_rows(n_chains=2, max_height=120, seed=11)
    raw = spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in rows], RAW_SCHEMA
    )
    return payload_to_tables(raw, event_min_height=ACTIVATION)[
        "transactions"
    ].cache()


def _python_walk(tx_rows):
    """Independent spec: breadth-first over pactid links, fanning out over
    every distinct (pactid, code) row a requestkey carries (a re-mined
    requestkey may appear with different code — the reference's recursive
    join fans out over distinct rows)."""
    by_rk: dict[str, set] = {}
    for r in tx_rows:
        by_rk.setdefault(r["requestkey"], set()).add((r["pactid"], r["code"]))
    expected = set()
    for rk, variants in by_rk.items():
        frontier = {p for (p, _) in variants if p is not None}
        depth = 0
        while frontier:
            nxt_frontier = set()
            for parent in frontier:
                for p_pactid, p_code in by_rk.get(parent, ()):
                    expected.add((rk, depth, parent, p_code))
                    if p_pactid is not None:
                        nxt_frontier.add(p_pactid)
            frontier = nxt_frontier
            depth += 1
    return expected


@pytest.fixture(scope="module")
def silver_dir(spark, tx, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("silver"))
    # three causal batches: continuation steps always reference earlier
    # heights, so height-sliced batches respect the feed's causality
    for lo, hi in ((0, 40), (40, 80), (80, 1_000_000)):
        batch = tx.filter((F.col("height") >= lo) & (F.col("height") < hi))
        update_continuation_history(spark, batch, out)
    return out


def test_incremental_equals_direct_walk(spark, tx, silver_dir):
    expected = _python_walk(
        tx.select("requestkey", "pactid", "code").collect()
    )
    assert expected, "fixture must contain continuation chains"
    assert any(d >= 2 for (_, d, _, _) in expected), "need chains of len >= 3"
    assert _history(spark, silver_dir) == expected


def _history(spark, out):
    return {
        (r["start_rk"], r["depth"], r["rk"], r["code"])
        for r in read_published(spark, out, "cont_history").collect()
    }


def test_replay_is_noop(spark, tx, silver_dir):
    before = read_published(spark, silver_dir, "cont_history").count()
    last = tx.filter(F.col("height") >= 80)
    update_continuation_history(spark, last, silver_dir)
    after = read_published(spark, silver_dir, "cont_history").count()
    assert after == before


def test_lookup_reads_one_bucket_in_depth_order(spark, tx, silver_dir):
    hist = read_published(spark, silver_dir, "cont_history")
    tip = (
        hist.groupBy("start_rk")
        .count()
        .orderBy(F.desc("count"), "start_rk")
        .first()["start_rk"]
    )
    rows = lookup_history(spark, silver_dir, tip).collect()
    assert [r["depth"] for r in rows] == list(range(len(rows)))
    assert len(rows) >= 2
    # the read opens only files of the tip's key bucket: the footer-stats
    # skip on start_rk leaves no file of another bucket in the scan
    files = lookup_history(spark, silver_dir, tip).inputFiles()
    assert files and all(f"key_bucket=k{tip[:1]}" in f for f in files)


@pytest.fixture(scope="module")
def listen_feed(tmp_path_factory):
    import json

    feed = str(tmp_path_factory.mktemp("listen_feed"))
    rows = generate_raw_rows(n_chains=2, max_height=120, seed=11)
    third = (len(rows) + 2) // 3
    for i in range(3):
        path = os.path.join(feed, f"f{i}.json")
        with open(path, "w") as f:
            for r in rows[i * third : (i + 1) * third]:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (1_700_000_000 + i * 10,) * 2)
    return feed


def _listen(spark, feed, out):
    from chainweb_data_spark.streaming.listen import listen_stream

    q = listen_stream(
        spark, feed, out, event_min_height=ACTIVATION, continuation_history=True
    )
    q.awaitTermination(300)


@pytest.fixture(scope="module")
def listen_store(spark, listen_feed, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("listen_silver") / "tables")
    _listen(spark, listen_feed, out)
    return out


def test_listen_stream_maintains_silver_history(spark, listen_store):
    """End-to-end: the live listen pipeline with continuation_history=True
    produces the same ancestry as the direct walk over the ingested txs,
    committed in the same version as the six tables."""
    from chainweb_data_spark.streaming.publish import read_manifest

    ingested = read_published(spark, listen_store, "transactions")
    expected = _python_walk(
        ingested.select("requestkey", "pactid", "code").collect()
    )
    assert expected and _history(spark, listen_store) == expected
    # one batch: the empty v1, then ONE commit holding bronze and silver
    assert set(read_manifest(listen_store, 2)["tables"]) >= {
        "transactions",
        "tx_lineage",
        "cont_history",
    }


def test_listen_crash_while_staging_silver_commits_nothing(
    spark, listen_feed, listen_store, tmp_path, monkeypatch
):
    """A failure while ``cont_history`` stages inside the listen batch's
    commit writes no version — ``transactions`` stays invisible — and
    the replay lands bronze and silver in ONE version whose history
    equals the crash-free run's."""
    from pyspark.errors import StreamingQueryException

    from chainweb_data_spark.streaming import publish

    out = str(tmp_path / "tables")
    stage = publish._stage_table

    def failing(spark, df, out_dir, table, *args):
        if table == "cont_history":
            raise RuntimeError("injected: crash while staging cont_history")
        return stage(spark, df, out_dir, table, *args)

    monkeypatch.setattr(publish, "_stage_table", failing)
    with pytest.raises(StreamingQueryException, match="injected"):
        _listen(spark, listen_feed, out)
    assert publish._latest_version(out) <= 1  # at most the empty v1
    assert read_published(spark, out, "transactions") is None
    monkeypatch.setattr(publish, "_stage_table", stage)

    _listen(spark, listen_feed, out)  # same checkpoint: the batch replays
    commits = [h for h in publish.history(out) if h["op"] == "publish"]
    assert len(commits) == 1
    assert {"transactions", "tx_lineage", "cont_history"} <= set(
        publish.read_manifest(out, commits[0]["version"])["tables"]
    )
    assert _history(spark, out) == _history(spark, listen_store)


def test_pactid_cycle_stops_at_max_depth(spark, tmp_path):
    """A corrupt feed whose pactids form a cycle (a -> b -> a) must not
    walk forever: the walk stops after MAX_DEPTH levels.  The cycle closes
    across two batches, so the stored-lineage lookup is on the path."""
    from chainweb_data_spark.streaming.silver import MAX_DEPTH

    out = str(tmp_path)
    schema = "requestkey string, pactid string, code string"
    for row in (("ka", "kb", "code-a"), ("kb", "ka", "code-b")):
        update_continuation_history(spark, spark.createDataFrame([row], schema), out)
    rows = lookup_history(spark, out, "kb").collect()
    assert [r["depth"] for r in rows] == list(range(MAX_DEPTH))
    assert [r["rk"] for r in rows[:4]] == ["ka", "kb", "ka", "kb"]


def test_rounds_leave_no_persisted_copy(spark, tx, tmp_path):
    """Five publish + silver rounds keep the JVM's count of persistent
    RDDs flat: every cached copy a round makes is released by the round.
    localCheckpoint copies are not counted — the context cleaner frees
    those once the JVM drops its last reference, which the py4j
    finalizers send asynchronously, so their count is timing, not code."""
    from chainweb_data_spark.streaming.publish import publish_batch

    def persisted():
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return sum(not rdds[k].rdd().isLocallyCheckpointed() for k in rdds)

    out = str(tmp_path)
    pks = {"transactions": ("block", "requestkey")}
    tx.count()  # the fixture's own cached copy
    base = persisted()
    sizes = []
    for lo in range(0, 120, 24):
        batch = tx.filter((F.col("height") >= lo) & (F.col("height") < lo + 24))
        publish_batch(spark, {"transactions": batch}, out, pks=pks)
        update_continuation_history(spark, batch, out)
        sizes.append(persisted())
    assert sizes == [base] * 5


def test_vacuum_keeps_the_silver_tables(spark, tx, tmp_path):
    """The silver tables are tables of the commit log, so publish.vacuum
    keeps every file the live snapshot names: a publish, a silver update
    and a vacuum leave every continuation-history lookup unchanged."""
    from chainweb_data_spark.streaming.publish import publish_batch, vacuum

    out = str(tmp_path / "store")
    publish_batch(spark, {"transactions": tx}, out)
    update_continuation_history(spark, tx, out)
    tips = sorted({start_rk for start_rk, *_ in _history(spark, out)})[:4]

    def lookups():
        return {
            t: [tuple(r) for r in lookup_history(spark, out, t).collect()]
            for t in tips
        }

    before = lookups()
    assert tips and all(before.values())
    vacuum(out)
    assert lookups() == before


def test_log_less_silver_directory_is_refused(spark, tx, tmp_path):
    """A store whose ``_silver/`` still holds data files (the layout
    before silver joined the commit log) is refused by the silver writer:
    those rows are in no commit, and nothing adopts them."""
    from chainweb_data_spark.streaming.publish import StoreFormatError

    out = str(tmp_path / "store")
    spark.createDataFrame(
        [("ka", None, "code")], "requestkey string, pactid string, code string"
    ).write.parquet(os.path.join(out, "_silver", "tx_lineage.parquet"))
    with pytest.raises(StoreFormatError, match="_silver"):
        update_continuation_history(spark, tx, out)
    assert not os.path.exists(os.path.join(out, "_manifest"))
