"""Stateful streaming operators: watermark windowed aggregation, streaming
dedup, applyInPandasWithState sessionization (SURVEY §2.9 Spark mappings).

Each test drives a file-source stream micro-batch-by-micro-batch (one file
per trigger) so watermark advancement and cross-batch state are exercised
deterministically, then compares against an independently computed batch
answer.
"""

import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from chainweb_data_spark.streaming.stateful import (
    advance_sessions,
    dedup_within_watermark,
    sessionize_stream,
    windowed_counts,
)

US = 1_000_000
MIN = 60 * US
BASE = 1_700_000_000 * US  # an arbitrary UTC instant, µs


def _write_feed(tmp, name, batches):
    """One json-lines file per micro-batch of (key, us) rows.  The file
    source picks oldest-modification-time first, and same-second writes tie
    arbitrarily — so stamp strictly increasing mtimes to make pickup order
    (and therefore watermark advancement) deterministic."""
    feed = os.path.join(tmp, name)
    os.makedirs(feed, exist_ok=True)
    for i, rows in enumerate(batches):
        path = os.path.join(feed, f"b{i:03d}.json")
        with open(path, "w") as f:
            for key, us in rows:
                f.write(json.dumps({"k": key, "us": us}) + "\n")
        t = 1_700_000_000 + i * 10
        os.utime(path, (t, t))
    return feed


def _read_stream(spark, feed):
    raw = (
        spark.readStream.schema("k long, us long")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )
    return raw.select("k", F.timestamp_micros(F.col("us")).alias("ts"))


def _run_to_memory(df, name, timeout=300):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


def test_windowed_counts_emit_and_late_drop(spark, tmp_path):
    # batch 0: two 10-min windows' worth of events; batches 1-2: far-ahead
    # events that advance the watermark past both windows (so they emit);
    # batch 3: a late row inside window 0, behind the watermark → dropped.
    # The late row needs TWO advancing batches before it: the watermark
    # value batch N filters against is derived from data seen through batch
    # N-2 (the commit pipeline lags event-time stats by one batch — verified
    # empirically against StreamingQueryProgress.numRowsDroppedByWatermark).
    w0, w1 = BASE, BASE + 10 * MIN
    feed = _write_feed(
        str(tmp_path),
        "wfeed",
        [
            [(1, w0 + 1 * MIN), (1, w0 + 2 * MIN), (2, w0 + 3 * MIN), (1, w1 + 1 * MIN)],
            [(1, w0 + 90 * MIN)],  # event-time high mark → BASE+90min
            [(1, w0 + 91 * MIN)],  # makes BASE+60min the active watermark
            [(1, w0 + 4 * MIN)],  # late: behind the watermark → dropped
        ],
    )
    out = windowed_counts(
        _read_stream(spark, feed),
        ts_col="ts",
        key_col="k",
        window="10 minutes",
        watermark="30 minutes",
    )
    _run_to_memory(out, "win_counts")
    got = {
        (r["k"], r["window_start"].strftime("%H:%M")): r["n"]
        for r in spark.table("win_counts").collect()
    }
    # compute window starts from the engine instead of hand-deriving wall time
    w0_start = spark.sql(
        f"SELECT date_format(window(timestamp_micros({w0 + MIN}), '10 minutes').start, 'HH:mm') AS s"
    ).first()["s"]
    w1_start = spark.sql(
        f"SELECT date_format(window(timestamp_micros({w1 + MIN}), '10 minutes').start, 'HH:mm') AS s"
    ).first()["s"]
    # window 0: 2 events for key 1 (the late 4-min row was dropped), 1 for
    # key 2; window 1: 1 event for key 1.  The far-ahead batch-1 row's
    # window is still open (never emitted in append mode).
    assert got == {(1, w0_start): 2, (2, w0_start): 1, (1, w1_start): 1}


def test_dedup_within_watermark_suppresses_replay(spark, tmp_path):
    # the same (k, us) row re-delivered in the next micro-batch (listener
    # reconnect replay) is suppressed while inside the watermark.
    feed = _write_feed(
        str(tmp_path),
        "dfeed",
        [
            [(10, BASE), (11, BASE + MIN)],
            [(10, BASE), (12, BASE + 2 * MIN)],  # replay of (10, BASE)
        ],
    )
    out = dedup_within_watermark(
        _read_stream(spark, feed), pk=("k",), ts_col="ts", watermark="1 hour"
    )
    _run_to_memory(out, "dedup_stream")
    rows = spark.table("dedup_stream").collect()
    assert sorted(r["k"] for r in rows) == [10, 11, 12]


def _expected_sessions(events, gap_us):
    """Pure-Python gap segmentation: closed sessions only (the last session
    per key stays open)."""
    out = []
    by_key = {}
    for k, us in events:
        by_key.setdefault(k, []).append(us)
    for k, times in by_key.items():
        times.sort()
        start = last = times[0]
        n = 1
        for t in times[1:]:
            if t - last > gap_us:
                out.append((k, start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        # final session left open — not emitted
    return sorted(out)


@settings(max_examples=200, deadline=None)
@given(
    times=st.lists(st.integers(min_value=0, max_value=10_000), max_size=60),
    cuts=st.lists(st.integers(min_value=0, max_value=60), max_size=4),
    gap=st.integers(min_value=1, max_value=500),
)
def test_advance_sessions_is_split_invariant(times, cuts, gap):
    """Folding all events in one batch == folding any time-ordered
    batch-split of them (the invariant that makes the streaming operator
    agree with batch lag-segmentation).  Pure function — no Spark."""
    ordered = sorted(times)
    one_shot = advance_sessions(None, ordered, gap)
    # split the ORDERED sequence at arbitrary points (per-key batch
    # monotonicity is the operator's documented feed requirement)
    bounds = sorted({min(c, len(ordered)) for c in cuts} | {0, len(ordered)})
    if len(bounds) == 1:  # empty input still folds one (empty) batch
        bounds = bounds * 2
    state, closed = None, []
    for lo, hi in zip(bounds, bounds[1:]):
        c, state = advance_sessions(state, ordered[lo:hi], gap)
        closed.extend(c)
    assert (closed, state) == one_shot
    # and the segmentation itself is correct vs the obvious spec
    exp_closed = _expected_sessions([(0, t) for t in times], gap)
    assert [(0, a, b, n) for a, b, n in closed] == exp_closed


def test_sessionize_stream_spans_batches_and_matches_batch_segmentation(
    spark, tmp_path
):
    gap = 30 * MIN
    # key 1: a session SPLIT ACROSS the two batch files (must not be split
    # by the operator — the cross-batch state is the point), then a gap,
    # then a closing sentinel far ahead.  key 2: two sessions entirely in
    # batch 0, sentinel in batch 1.
    b0 = [
        (1, BASE),
        (1, BASE + 5 * MIN),
        (2, BASE),
        (2, BASE + 40 * MIN),  # closes key 2's first session (40 > 30 gap)
    ]
    b1 = [
        (1, BASE + 10 * MIN),  # continues key 1's open session across files
        (1, BASE + 120 * MIN),  # closes session 1, opens session 2
        (1, BASE + 600 * MIN),  # sentinel: closes session 2
        (2, BASE + 600 * MIN),  # sentinel: closes key 2's second session
    ]
    feed = _write_feed(str(tmp_path), "sfeed", [b0, b1])
    out = sessionize_stream(
        _read_stream(spark, feed), gap_us=gap, ts_col="ts", key_col="k"
    )
    _run_to_memory(out, "sessions_stream")
    got = sorted(
        (r["k"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.table("sessions_stream").collect()
    )
    assert got == _expected_sessions(b0 + b1, gap)
    # the boundary-spanning session came out as ONE session of 3 events
    assert (1, BASE, BASE + 10 * MIN, 3) in got


def test_windowed_counts_sink_persists_and_replay_is_noop(
    spark, tmp_path_factory
):
    """Finalized windows land in the published stats table exactly once;
    a fresh-checkpoint replay of the same feed adds nothing (PK probe)."""
    import os

    from chainweb_data_spark.streaming.publish import read_published
    from chainweb_data_spark.streaming.stateful import windowed_counts_sink

    base = str(tmp_path_factory.mktemp("wsink"))
    feed = _write_feed(
        base,
        "feed",
        [
            [(1, BASE + 1 * MIN), (1, BASE + 2 * MIN), (2, BASE + 3 * MIN)],
            [(1, BASE + 90 * MIN)],
            [(1, BASE + 91 * MIN)],  # advances the active watermark past w0
        ],
    )
    out = os.path.join(base, "stats")

    def run(tag):
        q = windowed_counts_sink(
            _read_stream(spark, feed),
            out,
            os.path.join(base, f"ckpt_{tag}"),
            ts_col="ts",
            key_col="k",
            window="10 minutes",
            watermark="30 minutes",
        )
        q.awaitTermination(300)

    def stats():
        return read_published(spark, out, "windowed_counts")

    run("a")
    rows = {(r["k"], r["n"]) for r in stats().select("k", "n").collect()}
    assert rows == {(1, 2), (2, 1)}  # window 0 finalized; later windows open
    n_before = stats().count()
    run("b")  # fresh checkpoint: full re-emission, probed away
    assert stats().count() == n_before


# ---------------------------------------------------------------------------
# streaming as-of enrichment
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),          # side weight source
            st.integers(0, 10**6),      # fact id / dim val seed
        ),
        max_size=40,
    ),
    split=st.integers(0, 40),
)
@settings(max_examples=200, deadline=None)
def test_advance_asof_batch_split_composability(rows, split):
    from chainweb_data_spark.streaming.stateful import advance_asof

    # strictly increasing timestamps: the monotonic-feed contract under
    # which batch-splitting anywhere must not change the result
    feed = [
        (BASE + i * US, 0 if s == 0 else 1, seed, float(seed) / 3.0)
        for i, (s, seed) in enumerate(rows)
    ]
    one_out, one_state = advance_asof(None, feed)
    split = min(split, len(feed))
    a_out, mid = advance_asof(None, feed[:split])
    b_out, two_state = advance_asof(mid, feed[split:])
    assert one_out == a_out + b_out
    assert one_state == two_state


def test_advance_asof_semantics():
    from chainweb_data_spark.streaming.stateful import advance_asof

    t = lambda m: BASE + m * MIN
    # dim at t0; fact at t0 (tie → inclusive match); fact before any dim;
    # stale dim update ignored; late fact older than state matches None
    out, state = advance_asof(
        None,
        [
            (t(0), 1, 7, float("nan")),   # fact before any dim → None
            (t(0), 0, -1, 1.0),           # dim at the same us → processed first
            (t(5), 0, -1, 2.0),
            (t(6), 1, 8, float("nan")),   # → dim 2.0
        ],
    )
    # the t(0) fact ties with the t(0) dim: dims sort first → inclusive
    assert out == [(7, t(0), (t(0), 1.0)), (8, t(6), (t(5), 2.0))]
    assert state == (t(5), 2.0)
    # stale dim (older than state) is ignored; late fact gets None
    out2, state2 = advance_asof(state, [(t(1), 0, -1, 9.0), (t(2), 1, 9, 0.0)])
    assert state2 == (t(5), 2.0)
    assert out2 == [(9, t(2), None)]


def _write_asof_feed(tmp, name, batches, fields):
    feed = os.path.join(tmp, name)
    os.makedirs(feed, exist_ok=True)
    for i, rows in enumerate(batches):
        path = os.path.join(feed, f"b{i:03d}.json")
        with open(path, "w") as f:
            for row in rows:
                f.write(json.dumps(dict(zip(fields, row))) + "\n")
        t = 1_700_000_000 + i * 10
        os.utime(path, (t, t))
    return feed


def test_enrich_asof_stream_cross_batch(spark, tmp_path):
    from chainweb_data_spark.streaming.stateful import enrich_asof_stream

    t = lambda m: BASE + m * MIN
    dims_feed = _write_asof_feed(
        str(tmp_path),
        "dims",
        [
            [(1, t(0), 10.0), (2, t(0), 20.0)],
            [(1, t(5), 11.0)],
        ],
        ("k", "us", "dim_val"),
    )
    facts_feed = _write_asof_feed(
        str(tmp_path),
        "facts",
        [
            [(1, t(1), 100)],
            [(1, t(4), 102), (1, t(6), 101), (2, t(6), 200), (3, t(6), 300)],
        ],
        ("k", "us", "fact_id"),
    )
    facts = (
        spark.readStream.schema("k long, us long, fact_id long")
        .option("maxFilesPerTrigger", 1)
        .json(facts_feed)
    )
    dims = (
        spark.readStream.schema("k long, us long, dim_val double")
        .option("maxFilesPerTrigger", 1)
        .json(dims_feed)
    )
    out = enrich_asof_stream(facts, dims, key_col="k")
    _run_to_memory(out, "asof_stream")
    got = sorted(
        (r["k"], r["fact_id"], r["fact_us"], r["dim_us"], r["dim_val"])
        for r in spark.table("asof_stream").collect()
    )
    assert got == sorted(
        [
            (1, 100, t(1), t(0), 10.0),   # batch-0 dim, batch-0 fact
            (1, 102, t(4), t(0), 10.0),   # in-batch replay: before the t5 dim
            (1, 101, t(6), t(5), 11.0),   # same-batch dim update applies
            (2, 200, t(6), t(0), 20.0),   # dim carried ACROSS batches in state
            (3, 300, t(6), None, None),   # no dim ever → left semantics
        ]
    )


# ---------------------------------------------------------------------------
# watermark-bounded reordering
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(st.tuples(st.integers(0, 400), st.integers(0, 10**6)), max_size=40),
    wms=st.lists(st.integers(0, 400), min_size=1, max_size=4),
)
@settings(max_examples=200, deadline=None)
def test_advance_reorder_emits_globally_sorted(rows, wms):
    from chainweb_data_spark.streaming.stateful import advance_reorder

    wms = sorted(wms)  # watermark is nondecreasing by contract
    feed = [(BASE + m * US, v) for m, v in rows]
    per_batch = len(feed) // len(wms) + 1
    buf, emitted, prev_wm, dropped = [], [], -1, 0
    for i, wm in enumerate(wms):
        arr = feed[i * per_batch : (i + 1) * per_batch]
        emit, buf, d = advance_reorder(buf, arr, BASE + wm * US, prev_wm)
        prev_wm = max(prev_wm, BASE + wm * US)
        emitted.extend(emit)
        dropped += d
    assert emitted == sorted(emitted)  # global per-key order, across batches
    # conservation: every arrival is emitted, still buffered, or dropped —
    # and dropped ONLY when at-or-behind a previously emitted watermark
    assert len(emitted) + len(buf) + dropped == len(feed)


def test_advance_reorder_admits_boundary_window_rows():
    """A row arriving in the same batch that emits its (prev_wm, wm] window
    is MERGED into that emit, not dropped (the ADVICE boundary fix): only
    rows at-or-behind a PREVIOUSLY emitted watermark are late."""
    from chainweb_data_spark.streaming.stateful import advance_reorder

    t = lambda m: BASE + m * US
    # batch 0: wm=t(0) → nothing emits, rows held
    emit, buf, d = advance_reorder([], [(t(5), 50), (t(9), 90)], t(0), -1)
    assert emit == [] and d == 0
    # batch 1: wm advances to t(8); an arrival at t(3) is ≤ wm but AHEAD of
    # prev_wm=t(0) → merged into this emit in sorted position, not dropped
    emit, buf, d = advance_reorder(buf, [(t(3), 30)], t(8), t(0))
    assert emit == [(t(3), 30), (t(5), 50)] and d == 0
    assert buf == [(t(9), 90)]
    # batch 2: an arrival at t(4) is behind prev_wm=t(8) → dropped (it
    # could never emit without breaking monotonic output)
    emit, buf, d = advance_reorder(buf, [(t(4), 40)], t(8), t(8))
    assert emit == [] and d == 1 and buf == [(t(9), 90)]


def test_reorder_stream_sorts_and_drops_late(spark, tmp_path):
    from chainweb_data_spark.streaming.stateful import reorder_stream

    t = lambda m: BASE + m * MIN
    # batch 0: out-of-order within the 10-min horizon.  The t(1) arrival in
    # batch 2 lands BEHIND the then-current watermark but AHEAD of
    # everything this key has emitted so far (nothing) — the boundary rule
    # admits it into that batch's sorted emit.  The t(3) arrival in batch 3
    # comes AFTER batch 2 emitted through its watermark → truly late,
    # dropped (emitting it would break monotonic output).
    feed = _write_asof_feed(
        str(tmp_path),
        "rfeed",
        [
            [(1, t(5), 50), (1, t(2), 20), (1, t(8), 80)],
            [(1, t(30), 300)],
            [(1, t(60), 600), (1, t(1), 10)],   # boundary: admitted
            [(1, t(99), 990), (1, t(3), 31)],   # behind a prior emit: dropped
        ],
        ("k", "us", "val"),
    )
    raw = (
        spark.readStream.schema("k long, us long, val long")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )
    stream = raw.select(
        "k", F.timestamp_micros(F.col("us")).alias("ts"), "val"
    )
    out = reorder_stream(stream, ts_col="ts", key_col="k", watermark="10 minutes")
    _run_to_memory(out, "reorder_stream_t")
    got = [
        (r["us"], r["val"])
        for r in spark.table("reorder_stream_t")
        .orderBy("us")  # presentation only; emission order asserted below
        .collect()
    ]
    # all in-horizon rows emitted sorted; the truly-late t(3) dropped; the
    # final rows may still be buffered (no closing watermark) — so assert
    # on the emitted prefix
    emitted_us = [u for u, _ in got]
    assert emitted_us == sorted(emitted_us)
    assert (t(3), 31) not in got          # behind a previous emit → dropped
    for expect in [(t(1), 10), (t(2), 20), (t(5), 50), (t(8), 80), (t(30), 300)]:
        assert expect in got              # in-horizon + boundary rows surface


def test_reorder_stream_flushes_idle_key_on_timeout(spark, tmp_path):
    """A key that goes silent must still drain its buffer once the GLOBAL
    watermark (advanced by other keys' data) passes it — the
    EventTimeTimeout flush.  Without it, applyInPandasWithState only
    invokes keys present in the current micro-batch and key 1's rows
    strand in state forever."""
    from chainweb_data_spark.streaming.stateful import reorder_stream

    t = lambda m: BASE + m * MIN
    feed = _write_asof_feed(
        str(tmp_path),
        "idlefeed",
        [
            [(1, t(5), 50), (1, t(2), 20), (1, t(8), 80)],  # then silent
            [(2, t(60), 600)],
            [(2, t(99), 990)],
            [(2, t(130), 1300)],  # wm well past key-1's buffer → timeout
        ],
        ("k", "us", "val"),
    )
    raw = (
        spark.readStream.schema("k long, us long, val long")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )
    stream = raw.select(
        "k", F.timestamp_micros(F.col("us")).alias("ts"), "val"
    )
    out = reorder_stream(stream, ts_col="ts", key_col="k", watermark="10 minutes")
    _run_to_memory(out, "reorder_idle_t")
    got = {
        (r["k"], r["us"], r["val"])
        for r in spark.table("reorder_idle_t").collect()
    }
    # the idle key's entire buffer surfaced (sorted emission is covered by
    # the property test; presence is what the timeout fix buys)
    for expect in [(1, t(2), 20), (1, t(5), 50), (1, t(8), 80)]:
        assert expect in got
    assert (2, t(60), 600) in got  # the active key still drains normally


def test_reorder_stream_removes_drained_key_state(spark, tmp_path):
    """A fully-drained key must leave NO state row behind (state.remove),
    or state grows O(distinct keys ever seen) under key churn instead of
    O(keys inside the watermark horizon).  Key 1 drains completely via the
    idle-key timeout; the state store afterwards holds only key 2's
    still-buffered tail."""
    from chainweb_data_spark.streaming.stateful import reorder_stream

    t = lambda m: BASE + m * MIN
    feed = _write_asof_feed(
        str(tmp_path),
        "churnfeed",
        [
            [(1, t(5), 50), (1, t(2), 20)],  # key 1, then silent forever
            [(2, t(60), 600)],
            [(2, t(99), 990)],
            [(2, t(130), 1300)],  # wm passes key-1's buffer → full drain
        ],
        ("k", "us", "val"),
    )
    raw = (
        spark.readStream.schema("k long, us long, val long")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )
    stream = raw.select(
        "k", F.timestamp_micros(F.col("us")).alias("ts"), "val"
    )
    out = reorder_stream(stream, ts_col="ts", key_col="k", watermark="10 minutes")
    q = _run_to_memory(out, "reorder_churn_t")
    got = {
        (r["k"], r["us"], r["val"])
        for r in spark.table("reorder_churn_t").collect()
    }
    assert (1, t(2), 20) in got and (1, t(5), 50) in got  # key 1 drained
    # the final progress's state-operator row count: key 1's state row is
    # gone (removed on drain), key 2 still buffers its un-watermarked tail
    totals = [
        op["numRowsTotal"]
        for p in reversed(q.recentProgress)
        for op in p["stateOperators"]
        if op.get("numRowsTotal") is not None
    ]
    assert totals, "no state-operator progress recorded"
    assert totals[0] == 1, f"expected only key 2's state row, got {totals[0]}"


def test_advance_asof_tolerance():
    from chainweb_data_spark.streaming.stateful import advance_asof

    t = lambda m: BASE + m * MIN
    rows = [(t(0), 0, -1, 1.0), (t(4), 1, 7, 0.0), (t(20), 1, 8, 0.0)]
    out, _ = advance_asof(None, rows, tolerance_us=5 * MIN)
    # fact at t4: age 4min ≤ 5min → matched; fact at t20: age 20min → stale
    assert out == [(7, t(4), (t(0), 1.0)), (8, t(20), None)]


def _run_foreach(build, sink_rows, ckpt, timeout=300):
    """availableNow pass through foreachBatch into a plain Python list —
    unlike the memory sink, foreachBatch supports checkpoint RESUMPTION,
    which the closing-heartbeat drain depends on (run, append heartbeat,
    run again from the same checkpoint)."""

    def _sink(bdf, _bid):
        sink_rows.extend(tuple(r) for r in bdf.collect())

    q = (
        build()
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)


def test_closing_heartbeat_drains_reorder_tail(spark, tmp_path):
    """Round-6 verdict #5: reorder_stream's documented residual (rows newer
    than the final watermark stay buffered at absolute end-of-stream) now
    has a provided fix — write_closing_heartbeat + one more availableNow
    pass delivers the tail, and strip_heartbeats removes the sentinel a
    later heartbeat pushes through."""
    from chainweb_data_spark.streaming.stateful import (
        HEARTBEAT_KEY,
        reorder_stream,
        strip_heartbeats,
        write_closing_heartbeat,
    )

    t = lambda m: BASE + m * MIN
    feed = _write_asof_feed(
        str(tmp_path),
        "hbfeed",
        [[(1, t(5), 50), (1, t(2), 20)], [(1, t(60), 600)]],
        ("k", "us", "val"),
    )

    def build():
        raw = (
            spark.readStream.schema("k long, us long, val long")
            .option("maxFilesPerTrigger", 1)
            .json(feed)
        )
        stream = raw.select(
            "k", F.timestamp_micros(F.col("us")).alias("ts"), "val"
        )
        return reorder_stream(
            stream, ts_col="ts", key_col="k", watermark="10 minutes"
        )

    rows: list = []
    ckpt = str(tmp_path / "hb_ckpt")
    _run_foreach(build, rows, ckpt)
    assert (1, t(60), 600) not in rows  # the documented residual, live

    hb1 = write_closing_heartbeat(
        feed, t(60), "10 minutes", columns=("k", "us", "val")
    )
    _run_foreach(build, rows, ckpt)
    assert (1, t(60), 600) in rows      # tail delivered

    # a second heartbeat pushes the FIRST sentinel through the operator;
    # a stripped pipeline never shows it while still carrying the tail
    write_closing_heartbeat(feed, hb1, "10 minutes", columns=("k", "us", "val"))
    _run_foreach(build, rows, ckpt)
    assert any(k == HEARTBEAT_KEY for k, _, _ in rows)

    stripped: list = []
    _run_foreach(
        lambda: strip_heartbeats(build(), "k"),
        stripped,
        str(tmp_path / "hb_ckpt2"),
    )
    assert (1, t(60), 600) in stripped
    assert not any(k == HEARTBEAT_KEY for k, _, _ in stripped)


@pytest.mark.heavy
def test_closing_heartbeat_composed_reorder_sessionize(spark, tmp_path):
    """End-to-end drain of the documented composition reorder_stream →
    sessionize_stream: stage 1 drains via a global-watermark heartbeat,
    stage 2 closes the final open session via a per-key heartbeat — the
    idle tail row t(99) ends up in an emitted session."""
    import glob

    from chainweb_data_spark.streaming.stateful import (
        reorder_stream,
        sessionize_stream,
        write_closing_heartbeat,
    )

    t = lambda m: BASE + m * MIN
    gap_us = 10 * MIN
    feed = _write_asof_feed(
        str(tmp_path),
        "cfeed",
        [[(1, t(5), 50), (1, t(0), 0)], [(1, t(30), 300)], [(1, t(99), 990)]],
        ("k", "us", "val"),
    )
    mid = str(tmp_path / "mid")

    def stage1():
        raw = (
            spark.readStream.schema("k long, us long, val long")
            .option("maxFilesPerTrigger", 1)
            .json(feed)
        )
        stream = raw.select(
            "k", F.timestamp_micros(F.col("us")).alias("ts"), "val"
        )
        return reorder_stream(
            stream, ts_col="ts", key_col="k", watermark="10 minutes"
        )

    ckpt1 = str(tmp_path / "c_ckpt1")

    def run_stage1():
        def _sink(bdf, _bid):
            if not bdf.isEmpty():
                bdf.write.mode("append").json(mid)

        q = (
            stage1()
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt1)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_stage1()
    write_closing_heartbeat(feed, t(99), "10 minutes", columns=("k", "us", "val"))
    run_stage1()
    assert glob.glob(os.path.join(mid, "*.json"))

    def stage2():
        raw = spark.readStream.schema("k long, us long, val long").json(mid)
        events = raw.select(
            "k", F.timestamp_micros(F.col("us")).alias("ts")
        )
        return sessionize_stream(
            events, gap_us=gap_us, ts_col="ts", key_col="k"
        )

    sessions: list = []
    ckpt2 = str(tmp_path / "c_ckpt2")
    _run_foreach(stage2, sessions, ckpt2)
    got = {(s[1], s[2], s[3]) for s in sessions}
    assert (t(0), t(5), 2) in got
    assert (t(30), t(30), 1) in got
    assert not any(s[0] == t(99) for s in got)  # still open pre-heartbeat

    # per-key heartbeat: gap-based operators close per key, not globally
    write_closing_heartbeat(
        mid, t(99), "10 minutes", columns=("k", "us", "val"), keys=(1,)
    )
    _run_foreach(stage2, sessions, ckpt2)
    got = {(s[1], s[2], s[3]) for s in sessions}
    assert (t(99), t(99), 1) in got  # the idle tail row, delivered
