"""Bounded-scan governor (plans/bounded_scan.py — BoundedScan.hs:90-254).

The reference's invariant: repeated bounded requests enumerate EXACTLY the
full result set in cursor order; a full page ALWAYS carries a resume cursor
(BSContinuation), even when the scan range was exhausted in the same
request — the remaining matches of the final slice must surface on resume.
"""

import pytest
from pyspark.sql import functions as F

from chainweb_data_spark.operators.cursor import CursorSpec
from chainweb_data_spark.plans.bounded_scan import bounded_scan


def bounded_scan_all(df, predicate, spec, **kw) -> list:
    """Drain the governor to exhaustion: the total result must equal the
    un-governed query — the reference's invariant that repeated bounded
    requests enumerate the full set."""
    rows: list = []
    cursor = None
    while True:
        res = bounded_scan(df, predicate, spec, cursor=cursor, **kw)
        rows.extend(res.rows)
        if res.next_cursor is None:
            return rows
        cursor = res.next_cursor

SPEC = CursorSpec(cols=("height", "rk"), descs=(True, False))


def _table(spark, n=300, match_every=2):
    """Rows at heights 0..n-1, one row per height; every ``match_every``-th
    row matches the predicate (flag=1)."""
    rows = [(h, f"rk-{h:05d}", 1 if h % match_every == 0 else 0) for h in range(n)]
    return spark.createDataFrame(rows, "height long, rk string, flag int")


def test_full_page_at_floor_returns_cursor(spark):
    """ADVICE scenario: ONE slice covers the whole range down to the floor
    and holds 30 matches with limit=10 — the first request must return 10
    rows AND a cursor (not None), or the remaining 20 silently vanish."""
    df = _table(spark, n=60, match_every=2)  # 30 matches in heights 0..59
    res = bounded_scan(
        df,
        F.col("flag") == 1,
        SPEC,
        limit=10,
        slice_width=100,  # one slice spans everything
        budget_slices=4,
        floor=0,
    )
    assert len(res.rows) == 10
    assert res.next_cursor is not None, "full page at floor must resume"


def test_drain_equals_ungoverned(spark):
    df = _table(spark, n=250, match_every=3)
    expected = [
        (r.height, r.rk)
        for r in df.filter(F.col("flag") == 1)
        .orderBy(F.desc("height"), F.asc("rk"))
        .collect()
    ]
    got = [
        (r.height, r.rk)
        for r in bounded_scan_all(
            df,
            F.col("flag") == 1,
            SPEC,
            limit=7,
            slice_width=40,
            budget_slices=2,
            floor=0,
        )
    ]
    assert got == expected


def test_drain_with_matches_exceeding_limit_in_floor_slice(spark):
    """Matches concentrated in the floor-reaching slice, count > limit:
    drain must still enumerate all of them (regression for the dropped-rows
    bug when the full page coincided with floor exhaustion)."""
    df = _table(spark, n=50, match_every=1)  # every height matches
    got = bounded_scan_all(
        df,
        F.col("flag") == 1,
        SPEC,
        limit=8,
        slice_width=1000,
        budget_slices=4,
        floor=0,
    )
    assert len(got) == 50
    heights = [r.height for r in got]
    assert heights == sorted(heights, reverse=True)


@pytest.mark.heavy
def test_empty_result(spark):
    df = _table(spark, n=40)
    res = bounded_scan(df, F.col("flag") == 99, SPEC, limit=5, slice_width=10,
                       budget_slices=100, floor=0)
    assert res.rows == [] and res.next_cursor is None


def test_scaled_budget_matches_reference_throttle():
    """X5 (Server.hs:128-132,659-666): full budget at ≤ LOAD_PER_STEP
    in-flight requests, then divided by load // 3, floored at 1 slice so
    every request keeps progressing."""
    from chainweb_data_spark.plans.bounded_scan import scaled_budget

    assert [scaled_budget(8, a) for a in range(0, 16)] == [
        8, 8, 8, 8, 8, 8,   # load 0-5   → divisor 1
        4, 4, 4,            # load 6-8   → divisor 2
        2, 2, 2,            # load 9-11  → divisor 3
        2, 2, 2,            # load 12-14 → divisor 4
        1,                  # load 15    → divisor 5
    ]
    assert scaled_budget(4, 100) == 1  # never starves


@pytest.mark.heavy
def test_truly_concurrent_drains_throttle_and_stay_exact(spark):
    """Eight REAL threads drain the same governed scan concurrently.  A
    barrier inside the gauge's first entry makes the overlap deterministic:
    all eight are registered in-flight before any computes its budget, so
    every thread's FIRST request must run with the throttled budget
    (8 // (8//3) = 4 slices), and — the reference invariant — every
    thread's complete drain must still enumerate EXACTLY the full result
    set.  Throttling trades latency, never rows."""
    import threading

    from chainweb_data_spark.plans.bounded_scan import LoadGauge, bounded_scan

    N_THREADS = 8

    class FirstEntryBarrierGauge(LoadGauge):
        def __init__(self, parties: int) -> None:
            super().__init__()
            self._barrier = threading.Barrier(parties)
            self._tl = threading.local()

        def __enter__(self):
            out = super().__enter__()
            if not getattr(self._tl, "synced", False):
                self._tl.synced = True
                self._barrier.wait(timeout=120)
            return out

    # matches concentrated at the BOTTOM of the range: the first (throttled)
    # request scans empty top slices, so the budget — not the limit — is
    # what stops it, making slices_examined observe the throttle directly
    df = _table(spark, n=400, match_every=1).cache()
    df.count()
    pred = F.col("height") < 50
    kw = dict(limit=7, slice_width=50, budget_slices=8, floor=0)
    expected = [(h, f"rk-{h:05d}") for h in range(49, -1, -1)]

    gauge = FirstEntryBarrierGauge(N_THREADS)
    results: list = [None] * N_THREADS
    errors: list = []

    def drain(idx: int) -> None:
        try:
            rows: list = []
            first_examined = None
            cursor = None
            while True:
                res = bounded_scan(
                    df, pred, SPEC, cursor=cursor, gauge=gauge, **kw
                )
                if first_examined is None:
                    first_examined = res.slices_examined
                rows.extend(res.rows)
                if res.next_cursor is None:
                    break
                cursor = res.next_cursor
            results[idx] = (rows, first_examined)
        except Exception as e:  # surface in the main thread
            errors.append(e)

    threads = [
        threading.Thread(target=drain, args=(i,)) for i in range(N_THREADS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert gauge.active == 0
    for rows, first_examined in results:
        # all 8 overlapped at their first budget computation (barrier), so
        # each saw active=8 → budget 8 // (8//3) = 4 slices
        assert first_examined == 4, first_examined
        assert [(r.height, r.rk) for r in rows] == expected


@pytest.mark.heavy
def test_concurrent_governed_scans_get_smaller_budgets(spark):
    """Under simulated load the governor examines proportionally fewer
    slices per request, and the under-budget request still hands back a
    resume cursor (clients lose latency, never rows)."""
    from chainweb_data_spark.plans.bounded_scan import LoadGauge

    df = _table(spark, n=400, match_every=1000)  # ~no matches: budget binds
    kw = dict(limit=5, slice_width=50, budget_slices=8, floor=0)

    gauge = LoadGauge()
    res_idle = bounded_scan(df, F.col("flag") == 1, SPEC, gauge=gauge, **kw)
    assert res_idle.slices_examined == 8  # height range 0..399 = 8 slices

    # 8 other requests in flight → this one runs with budget 8 // (9//3) = 2
    stack = [gauge.__enter__() for _ in range(8)]
    try:
        res_loaded = bounded_scan(df, F.col("flag") == 1, SPEC, gauge=gauge, **kw)
    finally:
        for _ in stack:
            gauge.__exit__()
    assert res_loaded.slices_examined == 2
    assert res_loaded.next_cursor is not None, "throttled scan must resume"
    assert gauge.active == 0  # the governed call released its own slot


@pytest.mark.heavy
def test_snapshot_pinned_pagination_is_isolated(spark, tmp_path):
    """SURVEY X6: the reference holds ONE REPEATABLE READ snapshot across
    the bounded scan (Server.hs:525).  A pagination session pinned to the
    first request's log version must produce an IDENTICAL page stream —
    token round-trip included — even when a conflicting batch commits
    mid-pagination; an unpinned request sees the new rows (the pin is
    load-bearing)."""
    from chainweb_data_spark.operators.cursor import (
        decode_pinned_token,
        encode_pinned_token,
    )
    from chainweb_data_spark.plans.bounded_scan import bounded_scan_published
    from chainweb_data_spark.streaming.publish import publish_batch

    out = str(tmp_path / "log")
    pks = {"idx": ("height", "rk")}
    publish_batch(spark, {"idx": _table(spark, n=120, match_every=2)}, out, pks=pks)

    pred = F.col("flag") == 1
    kw = dict(limit=7, slice_width=30, budget_slices=2, floor=0)

    def drain(perturb_after_first_page: bool):
        pages, cursor, version = [], None, None
        token = None
        first = True
        while True:
            res, version = bounded_scan_published(
                spark, out, "idx", pred, SPEC,
                cursor=cursor, version=version, **kw,
            )
            pages.append([(r.height, r.rk) for r in res.rows])
            if res.next_cursor is None:
                return pages, version
            # full token round-trip between requests, as a server would
            token = encode_pinned_token(res.next_cursor, version)
            if first and perturb_after_first_page:
                extra = spark.createDataFrame(
                    [(h, f"aa-{h:05d}", 1) for h in range(1, 120, 2)],
                    "height long, rk string, flag int",
                )
                publish_batch(spark, {"idx": extra}, out, pks=pks)
            first = False
            cur, _off, ver = decode_pinned_token(token)
            cursor, version = tuple(cur), ver

    ref_pages, v0 = drain(perturb_after_first_page=False)
    # rebuild a fresh log for the perturbed run so both start identical
    out2 = str(tmp_path / "log2")
    out = out2
    publish_batch(spark, {"idx": _table(spark, n=120, match_every=2)}, out, pks=pks)
    got_pages, v_pinned = drain(perturb_after_first_page=True)
    assert got_pages == ref_pages
    assert v_pinned == v0  # every request resolved through the pinned version

    # unpinned: a fresh session at the live version sees the injected rows
    res, v_live = bounded_scan_published(
        spark, out, "idx", pred, SPEC, version=None, **kw
    )
    assert v_live > v_pinned
    assert any(r.rk.startswith("aa-") for r in res.rows)


def test_published_first_request_plans_ceiling_from_stats(spark, tmp_path):
    """r10 (r9 verdict #5): bounded_scan_published's first request must
    derive its height ceiling from the txlog's per-file footer stats —
    commit metadata — not an agg(max) data scan.  Proven by bombing
    DataFrame.agg for the call's duration: the slices themselves never
    aggregate, so any agg is the planning scan this test forbids.  The
    drained result must still equal the un-governed query."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from chainweb_data_spark.plans.bounded_scan import (
        _stats_ceiling,
        bounded_scan_published,
    )
    from chainweb_data_spark.streaming.publish import publish_batch

    out = str(tmp_path / "log")
    pks = {"idx": ("height", "rk")}
    publish_batch(spark, {"idx": _table(spark, n=120, match_every=3)}, out, pks=pks)

    # the stats ceiling is exact (parquet int min/max), so planning needs
    # no data scan at all
    assert _stats_ceiling(out, "idx", 2, "height") == 119
    pred = F.col("flag") == 1
    kw = dict(limit=7, slice_width=30, budget_slices=2, floor=0)

    rows, cursor, version = [], None, None
    first = True
    while True:
        if first:
            with mock.patch.object(
                DataFrame,
                "agg",
                side_effect=AssertionError(
                    "agg(max) data scan before the first slice"
                ),
            ):
                res, version = bounded_scan_published(
                    spark, out, "idx", pred, SPEC, cursor=None, **kw
                )
            first = False
        else:
            res, version = bounded_scan_published(
                spark, out, "idx", pred, SPEC,
                cursor=cursor, version=version, **kw,
            )
        rows.extend((r.height, r.rk) for r in res.rows)
        if res.next_cursor is None:
            break
        cursor = res.next_cursor
    want = [(h, f"rk-{h:05d}") for h in range(119, -1, -1) if h % 3 == 0]
    assert rows == want
