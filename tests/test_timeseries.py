"""Time-series joins (operators/timeseries.py): as-of semantics against a
brute-force reference, inclusive boundaries, tolerance nulling, the binned
range join's exact-once pair guarantee across bin boundaries, the fan-out
guard, and plan-shape assertions (as-of has no join node; the range join is
an equi-join, never a nested loop)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from chainweb_data_spark.operators.timeseries import asof_join, binned_range_join

T0 = dt.datetime(2024, 1, 1)


def _ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10), "l-a"),
            (1, _ts(20), "l-b"),
            (1, _ts(5), "l-early"),   # before any right row
            (2, _ts(30), "l-c"),
            (3, _ts(30), "l-lonely"),  # key with no right rows at all
        ],
        "k long, ts timestamp, lval string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(10), 100.0),  # ties l-a's ts exactly → inclusive match
            (1, _ts(15), 150.0),
            (2, _ts(1), 210.0),
            (2, _ts(29), 290.0),
        ],
        "k long, rts timestamp, rval double",
    )
    return left.cache(), right.cache()


def test_asof_backward_inclusive(spark, frames):
    left, right = frames
    out = {
        r["lval"]: (r["rval"], r["rts"])
        for r in asof_join(left, right, "k", "ts", "rts").collect()
    }
    assert out["l-a"] == (100.0, _ts(10))      # equality is inclusive
    assert out["l-b"] == (150.0, _ts(15))      # newest ≤ ts wins
    assert out["l-early"] == (None, None)      # nothing at or before
    assert out["l-c"] == (290.0, _ts(29))
    assert out["l-lonely"] == (None, None)     # left-join semantics
    assert len(out) == 5


def test_asof_tolerance(spark, frames):
    left, right = frames
    out = {
        r["lval"]: r["rval"]
        for r in asof_join(
            left, right, "k", "ts", "rts", tolerance_us=5 * 60 * 1_000_000
        ).collect()
    }
    assert out["l-a"] == 100.0      # age 0 ≤ 5 min
    assert out["l-b"] == 150.0      # age exactly 5 min — inclusive
    assert out["l-c"] == 290.0      # age 1 min — fresh
    assert out["l-early"] is None   # no match at all stays null


def test_asof_tolerance_nulls_stale(spark):
    left = spark.createDataFrame(
        [(1, _ts(100), "x")], "k long, ts timestamp, lval string"
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 1.0)], "k long, rts timestamp, rval double"
    )
    fresh = asof_join(
        left, right, "k", "ts", "rts", tolerance_us=91 * 60 * 1_000_000
    ).collect()[0]
    stale = asof_join(
        left, right, "k", "ts", "rts", tolerance_us=89 * 60 * 1_000_000
    ).collect()[0]
    assert fresh["rval"] == 1.0
    assert stale["rval"] is None and stale["lval"] == "x"


def test_asof_rejects_ambiguous_columns(spark, frames):
    left, right = frames
    bad_right = right.withColumnRenamed("rval", "lval")
    with pytest.raises(ValueError, match="ambiguous"):
        asof_join(left, bad_right, "k", "ts", "rts")


def test_asof_plan_has_no_join(spark, frames):
    left, right = frames
    plan = asof_join(left, right, "k", "ts", "rts")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # union–sort–fill: window only, no join operator


def test_range_join_matches_bruteforce_and_exact_once(spark):
    # intervals spanning multiple bins; duplicates would show up if an
    # interval's replicas each matched the same point
    points = spark.createDataFrame(
        [(k, i, _ts(i * 7)) for k in (1, 2) for i in range(40)],
        "k long, pid long, pts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (1, 100, _ts(0), _ts(60)),     # spans 3 bins at 30min width
            (1, 101, _ts(50), _ts(55)),
            (2, 200, _ts(140), _ts(141)),
            (2, 201, _ts(300), _ts(400)),  # beyond all points
        ],
        "k long, iid long, istart timestamp, iend timestamp",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in binned_range_join(
            points, intervals, "k", "pts", "istart", "iend",
            bin_width_us=30 * 60 * 1_000_000,
        ).collect()
    )
    expect = sorted(
        (p, i)
        for (pk, p, pt) in [(r["k"], r["pid"], r["pts"]) for r in points.collect()]
        for (ik, i, s, e) in [
            (r["k"], r["iid"], r["istart"], r["iend"]) for r in intervals.collect()
        ]
        if pk == ik and s <= pt <= e
    )
    assert got == expect
    assert len(got) == len(set(got))  # exact-once per qualifying pair


def test_range_join_boundary_inclusive(spark):
    points = spark.createDataFrame(
        [(1, 1, _ts(0)), (1, 2, _ts(30))], "k long, pid long, pts timestamp"
    )
    intervals = spark.createDataFrame(
        [(1, 9, _ts(0), _ts(30))], "k long, iid long, istart timestamp, iend timestamp"
    )
    got = binned_range_join(
        points, intervals, "k", "pts", "istart", "iend",
        bin_width_us=60 * 1_000_000,
    ).count()
    assert got == 2  # both endpoints inclusive


def test_range_join_fanout_guard(spark):
    points = spark.createDataFrame(
        [(1, 1, _ts(0))], "k long, pid long, pts timestamp"
    )
    wide = spark.createDataFrame(
        [(1, 9, _ts(0), _ts(10_000))],
        "k long, iid long, istart timestamp, iend timestamp",
    )
    with pytest.raises(Exception, match="spans too many bins"):
        binned_range_join(
            points, wide, "k", "pts", "istart", "iend",
            bin_width_us=60 * 1_000_000, max_bins=8,
        ).collect()


def test_range_join_plan_is_equi_join(spark):
    points = spark.createDataFrame(
        [(1, 1, _ts(0))], "k long, pid long, pts timestamp"
    )
    intervals = spark.createDataFrame(
        [(1, 9, _ts(0), _ts(30))],
        "k long, iid long, istart timestamp, iend timestamp",
    )
    plan = binned_range_join(
        points, intervals, "k", "pts", "istart", "iend",
        bin_width_us=60 * 1_000_000,
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_matches_bruteforce_random(spark):
    import random

    rng = random.Random(1234)
    keys = list(range(8))
    left_rows = [
        (rng.choice(keys), _ts(rng.randint(0, 5000)), i) for i in range(300)
    ]
    right_rows = []
    seen = set()
    for j in range(150):
        k, m = rng.choice(keys), rng.randint(0, 5000)
        if (k, m) in seen:  # asof needs unique (key, ts) on the right
            continue
        seen.add((k, m))
        right_rows.append((k, _ts(m), float(j)))
    left = spark.createDataFrame(left_rows, "k long, ts timestamp, lid long")
    right = spark.createDataFrame(right_rows, "k long, rts timestamp, rv double")

    got = {
        r["lid"]: (r["rts"], r["rv"])
        for r in asof_join(left, right, "k", "ts", "rts").collect()
    }
    for k, ts, lid in left_rows:
        cands = [(rt, rv) for (rk, rt, rv) in right_rows if rk == k and rt <= ts]
        expect = max(cands) if cands else (None, None)
        assert got[lid] == expect, (lid, got[lid], expect)
    assert len(got) == len(left_rows)


def test_asof_bucketed_equals_unbucketed(spark):
    """The skew rail (bucket_width_us) is output-equivalent to the
    single-window plan — same random corpus as the brute-force test, every
    width regime: narrower than gaps, comparable, and wider than the whole
    span (degenerates to one bucket)."""
    import random

    rng = random.Random(4321)
    keys = list(range(6))
    left_rows = [
        (rng.choice(keys), _ts(rng.randint(0, 5000)), i) for i in range(250)
    ]
    right_rows, seen = [], set()
    for j in range(120):
        k, m = rng.choice(keys), rng.randint(0, 5000)
        if (k, m) in seen:
            continue
        seen.add((k, m))
        right_rows.append((k, _ts(m), float(j)))
    left = spark.createDataFrame(left_rows, "k long, ts timestamp, lid long")
    right = spark.createDataFrame(right_rows, "k long, rts timestamp, rv double")

    base = sorted(
        (r["lid"], r["rts"], r["rv"])
        for r in asof_join(left, right, "k", "ts", "rts").collect()
    )
    MIN_US = 60 * 1_000_000
    for width in (7 * MIN_US, 500 * MIN_US, 10_000 * MIN_US):
        got = sorted(
            (r["lid"], r["rts"], r["rv"])
            for r in asof_join(
                left, right, "k", "ts", "rts", bucket_width_us=width
            ).collect()
        )
        assert got == base, width
    # tolerance composes with the rail identically too
    base_tol = sorted(
        (r["lid"], r["rts"], r["rv"])
        for r in asof_join(
            left, right, "k", "ts", "rts", tolerance_us=90 * MIN_US
        ).collect()
    )
    got_tol = sorted(
        (r["lid"], r["rts"], r["rv"])
        for r in asof_join(
            left, right, "k", "ts", "rts",
            tolerance_us=90 * MIN_US, bucket_width_us=90 * MIN_US,
        ).collect()
    )
    assert got_tol == base_tol


def test_asof_bucketed_null_semantics(spark):
    """NULL keys and NULL timestamps behave identically under the rail:
    survive with NULL right columns, never match, never fail the job."""
    left = spark.createDataFrame(
        [(None, _ts(10), "null-key"), (1, None, "null-ts"), (1, _ts(10), "real")],
        "k long, ts timestamp, lval string",
    )
    right = spark.createDataFrame(
        [(None, _ts(5), 9.0), (1, None, 666.0), (1, _ts(5), 5.0)],
        "k long, rts timestamp, rval double",
    )
    out = {
        r["lval"]: r["rval"]
        for r in asof_join(
            left, right, "k", "ts", "rts", bucket_width_us=60_000_000
        ).collect()
    }
    assert out == {"null-key": None, "null-ts": None, "real": 5.0}


def test_asof_bucketed_hot_key_parallelism(spark):
    """The rail's load-bearing property: with a bucket width set, a single
    hot key's rows sort in MANY window partitions, not one — asserted on
    the physical plan's partitioning expressions, not wall time."""
    hot = spark.range(0, 5000).select(
        F.lit(1).alias("k"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        F.col("id").alias("lid"),
    )
    rdim = spark.range(0, 50).select(
        F.lit(1).alias("k"),
        F.timestamp_micros(F.col("id") * 100_000_000 + 7).alias("rts"),
        F.col("id").cast("double").alias("rv"),
    )
    plan = asof_join(
        hot, rdim, "k", "ts", "rts", bucket_width_us=100_000_000
    )._jdf.queryExecution().executedPlan().toString()
    # the phase-1 window partitions by (k, _b) — the bucket column appears
    # in a Window's partition spec
    assert "_b" in plan
    # and the result is still exactly right on a spot check
    got = {
        r["lid"]: r["rv"]
        for r in asof_join(
            hot, rdim, "k", "ts", "rts", bucket_width_us=100_000_000
        ).collect()
    }
    # left at t=250s matches right at t=200.000007s (id 2)
    assert got[250] == 2.0
    # left before the first right (t=0 < t=0.000007) matches nothing
    assert got[0] is None


def test_range_join_matches_bruteforce_random(spark):
    import random

    rng = random.Random(99)
    keys = list(range(6))
    points = [(rng.choice(keys), i, _ts(rng.randint(0, 2000))) for i in range(200)]
    ivals = []
    for j in range(80):
        s = rng.randint(0, 2000)
        ivals.append((rng.choice(keys), 1000 + j, _ts(s), _ts(s + rng.randint(0, 120))))
    p = spark.createDataFrame(points, "k long, pid long, pts timestamp")
    i = spark.createDataFrame(ivals, "k long, iid long, istart timestamp, iend timestamp")
    got = sorted(
        (r["pid"], r["iid"])
        for r in binned_range_join(
            p, i, "k", "pts", "istart", "iend", bin_width_us=45 * 60 * 1_000_000
        ).collect()
    )
    expect = sorted(
        (pid, iid)
        for (pk, pid, pt) in points
        for (ik, iid, s, e) in ivals
        if pk == ik and s <= pt <= e
    )
    assert got == expect


def test_asof_null_keys_never_match(spark):
    left = spark.createDataFrame(
        [(None, _ts(10), "null-key"), (1, _ts(10), "real-key")],
        "k long, ts timestamp, lval string",
    )
    right = spark.createDataFrame(
        [(None, _ts(5), 9.0), (1, _ts(5), 1.0)],
        "k long, rts timestamp, rval double",
    )
    out = {r["lval"]: r["rval"] for r in asof_join(left, right, "k", "ts", "rts").collect()}
    # equality-join semantics: NULL never matches NULL; the row survives
    assert out == {"null-key": None, "real-key": 1.0}


def test_asof_null_timestamps_never_match(spark):
    """ASOF semantics (DuckDB / merge_asof): a NULL timestamp on either
    side never participates in a match — a NULL-left_ts row gets NULL
    right columns, and a NULL-right_ts row is never a fill source (both
    would otherwise meet at the head of the NULLS-FIRST sort)."""
    left = spark.createDataFrame(
        [(1, None, "null-ts"), (1, _ts(10), "real-ts")],
        "k long, ts timestamp, lval string",
    )
    right = spark.createDataFrame(
        [(1, None, 666.0), (1, _ts(5), 5.0)],
        "k long, rts timestamp, rval double",
    )
    out = {
        r["lval"]: r["rval"]
        for r in asof_join(left, right, "k", "ts", "rts").collect()
    }
    # the NULL-ts left row survives (left join) but matches nothing; the
    # real row matches the real right row, not the NULL-ts one
    assert out == {"null-ts": None, "real-ts": 5.0}


def test_range_join_null_bounds_match_nothing(spark):
    """An interval with a NULL start or end produces NO matches (the
    containment predicate is NULL → inner-join drops it) instead of
    tripping the fan-out guard and failing the whole job."""
    points = spark.createDataFrame(
        [(1, _ts(10), "p")], "k long, pts timestamp, pval string"
    )
    intervals = spark.createDataFrame(
        [
            (1, _ts(5), _ts(15), "good"),
            (1, None, _ts(15), "null-start"),
            (1, _ts(5), None, "null-end"),
            (1, None, None, "null-both"),
        ],
        "k long, istart timestamp, iend timestamp, iname string",
    )
    out = binned_range_join(
        points, intervals, "k", "pts", "istart", "iend",
        bin_width_us=10 * 60 * 1_000_000,
    )
    assert [r["iname"] for r in out.collect()] == ["good"]


def test_asof_composite_key(spark):
    left = spark.createDataFrame(
        [(1, "x", _ts(10), "a"), (1, "y", _ts(10), "b"), (2, "x", _ts(10), "c")],
        "k1 long, k2 string, ts timestamp, lval string",
    )
    right = spark.createDataFrame(
        [(1, "x", _ts(5), 10.0), (1, "y", _ts(6), 20.0), (2, "z", _ts(1), 99.0)],
        "k1 long, k2 string, rts timestamp, rval double",
    )
    out = {
        r["lval"]: r["rval"]
        for r in asof_join(left, right, ["k1", "k2"], "ts", "rts").collect()
    }
    # composite keys match on BOTH columns; (2,"x") finds nothing
    assert out == {"a": 10.0, "b": 20.0, "c": None}
