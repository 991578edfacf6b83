"""End-to-end gap fill (plans/gapfill.py — the reference's ``gaps``
command): a store published from a feed with blocks withheld must, after one
fill_gaps run against a mock node serving the full feed, contain exactly
the tables a direct full ingest produces, with no interior gaps left — and
the filled rows are published through the store's log like any other."""

import json
from collections import defaultdict

import pytest

from chainweb_data_spark.fixtures.generate import generate_raw_rows
from chainweb_data_spark.ingest.transforms import payload_to_tables
from chainweb_data_spark.operators.gaps import detect_gaps
from chainweb_data_spark.plans.gapfill import fill_gaps, find_gap_plan
from chainweb_data_spark.schemas.payload import RAW_SCHEMA
from chainweb_data_spark.streaming.listen import TABLE_PKS
from chainweb_data_spark.streaming.publish import (
    publish_batch,
    read_published,
    vacuum,
)

ACTIVATION = 60
MAX_HEIGHT = 90
N_CHAINS = 2
# withheld interior heights per chain — the gaps to be filled
WITHHELD = {0: {20, 21, 22, 70}, 1: {45}}


@pytest.fixture(scope="module")
def raw_rows():
    return generate_raw_rows(n_chains=N_CHAINS, max_height=MAX_HEIGHT, seed=23)


def _height(r):
    return json.loads(r["header"])["height"]


def _chain(r):
    return json.loads(r["header"])["chainId"]


def _transport(rows):
    """A mock node serving ``rows`` through the fetch transport API."""
    by_chain = defaultdict(list)
    for r in rows:
        by_chain[_chain(r)].append((_height(r), r))

    def transport(chain, low, high):
        items = [
            {
                "header": json.loads(r["header"]),
                "powHash": r["powHash"],
                "payloadWithOutputs": json.loads(r["payload"]),
            }
            for height, r in by_chain.get(chain, [])
            if low <= height <= high
        ]
        return 200, json.dumps({"items": items})

    return transport


def _publish(spark, rows, store):
    raw = spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in rows], RAW_SCHEMA
    )
    publish_batch(spark, payload_to_tables(raw, event_min_height=ACTIVATION), store)


@pytest.fixture(scope="module")
def mock_node(raw_rows):
    return _transport(raw_rows)


@pytest.fixture(scope="module")
def gappy_store(spark, raw_rows, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("gappy"))
    _publish(
        spark,
        [r for r in raw_rows if _height(r) not in WITHHELD[_chain(r)]],
        store,
    )
    return store


def test_find_gap_plan_covers_exactly_the_withheld_heights(spark, gappy_store):
    plan = find_gap_plan(spark, gappy_store, chunk=2)
    covered = {
        (c, h) for c, lo, hi in plan for h in range(lo, hi + 1)
    }
    expected = {(c, h) for c, hs in WITHHELD.items() for h in hs}
    # the withheld heights that bordered other gaps in the generator's own
    # feed may merge into wider ranges; at minimum every withheld height is
    # covered and nothing outside a true store gap is fetched
    assert expected <= covered
    blocks = read_published(spark, gappy_store, "blocks")
    present = {
        (r["chainid"], r["height"])
        for r in blocks.select("chainid", "height").collect()
    }
    assert not (covered & present)


@pytest.mark.heavy
def test_fill_gaps_restores_full_ingest(spark, raw_rows, gappy_store, mock_node):
    report = fill_gaps(
        spark, gappy_store, mock_node, event_min_height=ACTIVATION, chunk=2
    )
    assert not report.failures
    assert report.rows, "must have fetched the withheld blocks"

    raw = spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in raw_rows], RAW_SCHEMA
    )
    expected = payload_to_tables(raw, event_min_height=ACTIVATION)
    for name, exp in expected.items():
        got = read_published(spark, gappy_store, name)
        pk = list(TABLE_PKS[name])
        exp_d = exp.dropDuplicates(pk)
        assert got.count() == exp_d.count(), name
        assert got.join(exp_d, pk, "left_anti").count() == 0, name

    # no interior gaps remain beyond the generator's OWN feed gaps
    blocks = read_published(spark, gappy_store, "blocks")
    feed_heights = defaultdict(set)
    for r in raw_rows:
        feed_heights[_chain(r)].add(_height(r))
    remaining = {
        (r["chainid"], r["gap_start"], r["gap_end"])
        for r in detect_gaps(
            blocks.select("chainid", "height"), "chainid", "height"
        ).collect()
    }
    for c, lo, hi in remaining:
        for h in range(lo, hi + 1):
            assert h not in feed_heights[c], (c, h)


@pytest.mark.heavy
def test_fill_gaps_is_idempotent(spark, gappy_store, mock_node):
    # heavy, paired with test_fill_gaps_restores_full_ingest above: the
    # idempotence claim is "a SECOND fill changes nothing" and depends on
    # that test's first fill of the module-scoped store
    before = {
        name: read_published(spark, gappy_store, name).count()
        for name in TABLE_PKS
    }
    fill_gaps(spark, gappy_store, mock_node, event_min_height=ACTIVATION, chunk=2)
    after = {
        name: read_published(spark, gappy_store, name).count()
        for name in TABLE_PKS
    }
    assert after == before


def test_filled_rows_are_published_and_survive_vacuum(spark, tmp_path):
    """The fill commits through the store's log: every withheld height is
    in the published snapshot, and a vacuum (which deletes files no commit
    references) keeps them."""
    rows = generate_raw_rows(n_chains=1, max_height=30, seed=23)
    withheld = {5, 6, 20}  # heights the generated feed holds
    store = str(tmp_path / "store")
    _publish(spark, [r for r in rows if _height(r) not in withheld], store)
    report = fill_gaps(
        spark, store, _transport(rows), event_min_height=ACTIVATION, chunk=2
    )
    assert report.rows and not report.failures
    vacuum(store)
    heights = {
        r["height"]
        for r in read_published(spark, store, "blocks").select("height").collect()
    }
    assert withheld <= heights
