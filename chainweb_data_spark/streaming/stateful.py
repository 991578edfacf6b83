"""Stateful Structured Streaming operators: watermarked windowed
aggregation, watermark-bounded streaming dedup, and cross-batch
sessionization via ``applyInPandasWithState``.

The reference's streaming surface is the listen loop (one SSE event per
block → six-table transactional upsert, ``haskell-src/exec/Chainweb/
Listen.hs:42-113`` + ``Worker.hs:50-82``); it has no windowed analytics of
its own.  These operators are the Spark-native completions of that surface
(SURVEY §2.9 "Spark mapping" column):

- ``windowed_counts`` — event-time tumbling-window aggregation with a
  watermark, the streaming form of the per-chain height/count stats the
  reference computes batch-side (``Server.hs:633-666`` stats family).
  Late rows behind the watermark are dropped, state is bounded by
  (watermark horizon × n_keys) — the property that lets the aggregation
  run forever on an unbounded feed.
- ``dedup_within_watermark`` — ``dropDuplicates`` keyed on the reference's
  PK with a watermark bound: the streaming-native ON CONFLICT DO NOTHING
  for re-delivered events (listener reconnect replays recent blocks,
  ``Server.hs:171-182``).  Replays arrive within minutes, so a short
  watermark keeps the dedup state tiny while the parquet-side PK anti-join
  (streaming/listen.py) stays the durable backstop.
- ``sessionize_stream`` — gap-based sessionization as a custom stateful
  operator (``applyInPandasWithState``): per-key open-session state
  carries across micro-batches, so a session spanning a batch boundary is
  never split — the semantics the batch ``sessionization`` query
  (queries/registry.py) computes with ``lag`` over the full history,
  re-expressed incrementally with O(n_keys) state.

Scale notes (100 TB / unbounded): every operator here shuffles once on its
grouping key and keeps per-key state O(1); watermarks bound total state.
``applyInPandasWithState`` transfers each key group as Arrow batches — no
row-at-a-time Python.  Event-time order: Spark guarantees no cross-batch
ordering, so ``sessionize_stream`` sorts within the batch and documents the
(standard) requirement that the feed be per-key batch-monotonic — the
listen feed is (blocks arrive in height order per chain); for feeds that
are not, put a watermark + window upstream to reorder.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "chainid",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-key tumbling-window event counts with late-data tolerance.

    Append-mode emission: a window's row is emitted exactly once, when the
    watermark (max event time − ``watermark``) passes the window end; rows
    later than that are dropped (counted in
    ``StreamingQueryProgress.stateOperators[].numRowsDroppedByWatermark``).
    State per key-window pair is one count — bounded by the watermark
    horizon regardless of feed length.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            key_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    pk: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop re-delivered rows by primary key, with state bounded by the
    watermark: a duplicate arriving within ``watermark`` of the original is
    suppressed; one arriving later may pass (and is then caught by the
    durable parquet PK merge in streaming/listen.py).  This is the
    streaming-native half of the reference's ON CONFLICT DO NOTHING
    (``Worker.hs:54-77``): cheap, in-memory, bounded — the table-side merge
    stays the source of truth."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(
        [*pk, ts_col]
    )


def advance_sessions(
    open_session: tuple[int, int, int] | None,
    times: list[int],
    gap_us: int,
) -> tuple[list[tuple[int, int, int]], tuple[int, int, int]]:
    """The sessionization state transition, as a pure function (property-
    tested without Spark in tests/test_stateful_streaming.py): fold a
    batch of event times (sorted here — Spark guarantees no intra-batch
    order) into the open (start, last, n) session, emitting every session a
    gap > ``gap_us`` closes.  Composable: folding one batch of all events
    equals folding any batch-split of them — the invariant that makes the
    streaming operator equal to the batch ``lag``-segmentation on closed
    sessions."""
    if open_session is None:
        open_start = open_last = None
        open_n = 0
    else:
        open_start, open_last, open_n = open_session
    closed: list[tuple[int, int, int]] = []
    for t in sorted(times):
        if open_start is None:
            open_start, open_last, open_n = t, t, 1
        elif t - open_last > gap_us:
            closed.append((open_start, open_last, open_n))
            open_start, open_last, open_n = t, t, 1
        else:
            open_last = t
            open_n += 1
    return closed, (open_start, open_last, open_n)


# sessionize_stream output/state schemas (DDL strings — the
# applyInPandasWithState contract)
_SESSION_OUT = (
    "{key} long, session_start_us long, session_end_us long, n_events long"
)
_SESSION_STATE = "open_start_us long, open_last_us long, open_n long"


def sessionize_stream(
    events: DataFrame,
    gap_us: int = 3_600_000_000,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator.

    Emits one row per CLOSED session (a gap > ``gap_us`` between
    consecutive events of the same key closes the open session); the open
    session per key lives in ``GroupState`` and carries across
    micro-batches, so sessions spanning batch boundaries are never split.
    Matches the batch ``sessionization`` segmentation (queries/registry.py
    ``lag``-based) on the closed prefix of each key's history.

    State is 3 longs per key; the per-batch work is one Arrow transfer of
    the key's new events plus an O(n log n) in-batch sort.  No timeout is
    registered: on a finite feed the last session per key simply stays open
    in state (callers wanting a final flush send one sentinel event per key
    ≥ ``gap_us`` past the real feed — see tests/test_stateful_streaming.py).
    """
    out_schema = _SESSION_OUT.format(key=key_col)

    def _fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        open_session = tuple(state.get) if state.exists else None
        times: list[int] = []
        for pdf in pdfs:
            times.extend(int(t) for t in pdf["_us"].tolist())
        closed, open_session = advance_sessions(open_session, times, gap_us)
        state.update(open_session)
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_end_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    prepared = events.select(
        F.col(key_col), F.unix_micros(F.col(ts_col)).alias("_us")
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_counts_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "chainid",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    available_now: bool = True,
):
    """Persist finalized windows as table ``windowed_counts`` of the
    transaction-log store at ``out_dir`` — the incremental form of the
    reference's /stats counters (Server.hs:633-666 recomputes them per
    request; here each window is aggregated once, when the watermark
    closes it, and committed idempotently).  Read it with
    ``publish.read_published(spark, out_dir, "windowed_counts")``.

    Append-mode emission means every (key, window) row arrives exactly
    once per healthy run; the PK probe of ``publish.publish_batch`` (the
    six-table sink's) makes checkpoint-replay after a crash a no-op.
    Rows carry a ``key_bucket`` derived from the window start (one bucket
    per UTC day), so the duplicate probe prunes to the day partitions a
    batch touches — O(batch recency), not O(stats history).  A batch
    before the first watermark close stages nothing and commits nothing.
    """
    from .publish import publish_batch

    wc = windowed_counts(stream, ts_col, key_col, window, watermark)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.withColumn(
            "key_bucket",
            F.date_format(F.col("window_start"), "yyyy-MM-dd"),
        )
        publish_batch(
            batch_df.sparkSession,
            {"windowed_counts": out},
            out_dir,
            pks={"windowed_counts": (key_col, "window_start")},
        )

    writer = (
        wc.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming as-of enrichment (the stream twin of operators/timeseries.py
# asof_join: facts take the newest dimension row at-or-before their time)
# ---------------------------------------------------------------------------


def advance_asof(
    last_dim: tuple[int, float] | None,
    rows: list[tuple[int, int, int, float]],
    tolerance_us: int | None = None,
) -> tuple[list[tuple[int, int, tuple[int, float] | None]], tuple[int, float] | None]:
    """The as-of enrichment state transition, as a pure function (property-
    tested without Spark): fold one batch of per-key rows
    ``(us, side, fact_id, dim_val)`` — side 0 = dimension update, side 1 =
    fact — through the (dim_us, dim_val) last-seen state.  Rows replay in
    (us, side) order, dims-first on ties, mirroring the batch operator's
    inclusive-equality sort.  Emits ``(fact_id, fact_us, matched_dim)`` per
    fact, where the match is the newest dim AT OR BEFORE the fact
    (``dim_us <= fact_us``); a fact older than everything in state matches
    None rather than a future dim — state keeps only the newest dim, so
    as-of correctness for LATE facts needs the feed per-key
    batch-monotonic (the same stated requirement as ``sessionize_stream``;
    out-of-order feeds reorder upstream with a watermark + sort).
    Composable: folding one batch equals folding any batch-split of it on
    a monotonic feed."""
    out: list[tuple[int, int, tuple[int, float] | None]] = []
    for us, side, fid, dv in sorted(rows, key=lambda r: (r[0], r[1])):
        if side == 0:
            if last_dim is None or us >= last_dim[0]:
                last_dim = (us, dv)
        else:
            match = last_dim if last_dim is not None and last_dim[0] <= us else None
            if (
                match is not None
                and tolerance_us is not None
                and us - match[0] > tolerance_us
            ):
                match = None  # stale: older than the freshness horizon
            out.append((fid, us, match))
    return out, last_dim


_ASOF_OUT = "{key} long, fact_id long, fact_us long, dim_us long, dim_val double"
_ASOF_STATE = "dim_us long, dim_val double"


def enrich_asof_stream(
    facts: DataFrame,
    dims: DataFrame,
    key_col: str = "k",
    us_col: str = "us",
    fact_id_col: str = "fact_id",
    val_col: str = "dim_val",
    tolerance_us: int | None = None,
) -> DataFrame:
    """Continuously enrich a fact stream with the latest dimension row per
    key — the streaming form of ``operators/timeseries.py asof_join`` and
    the stock "join events to the slowly-changing dim" production pattern
    Structured Streaming's stream-stream join cannot express without a
    time-bounded buffer on BOTH sides.

    Both inputs are streaming DataFrames: ``facts`` (key, us, fact_id) and
    ``dims`` (key, us, dim_val).  They union with a side tag and group by
    key; ``applyInPandasWithState`` replays each batch in (us, side) order
    through an O(1) per-key state (the newest dim), emitting one enriched
    row per fact (dim columns NULL when nothing is at-or-before it).

    Scale shape: one shuffle on the key, 2 scalars of state per key —
    state size is O(n_keys) forever, unlike a stream-stream join whose
    buffer grows with the watermark horizon × event rate."""
    out_schema = _ASOF_OUT.format(key=key_col)

    tagged = facts.select(
        F.col(key_col),
        F.col(us_col).alias("_us"),
        F.lit(1).alias("_side"),
        F.col(fact_id_col).alias("_fid"),
        F.lit(None).cast("double").alias("_dv"),
    ).unionByName(
        dims.select(
            F.col(key_col),
            F.col(us_col).alias("_us"),
            F.lit(0).alias("_side"),
            F.lit(None).cast("long").alias("_fid"),
            F.col(val_col).alias("_dv"),
        )
    )

    def _fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_dim = tuple(state.get) if state.exists else None
        rows: list[tuple[int, int, int, float]] = []
        for pdf in pdfs:
            for us, side, fid, dv in zip(
                pdf["_us"], pdf["_side"], pdf["_fid"], pdf["_dv"]
            ):
                rows.append(
                    (
                        int(us),
                        int(side),
                        -1 if pd.isna(fid) else int(fid),
                        float("nan") if pd.isna(dv) else float(dv),
                    )
                )
        out, last_dim = advance_asof(last_dim, rows, tolerance_us)
        if last_dim is not None:
            state.update(last_dim)
        if out:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out),
                    "fact_id": [o[0] for o in out],
                    "fact_us": [o[1] for o in out],
                    "dim_us": [o[2][0] if o[2] else None for o in out],
                    "dim_val": [o[2][1] if o[2] else None for o in out],
                }
            )

    return tagged.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_ASOF_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Watermark-bounded per-key reordering (the documented upstream fix for
# feeds that are not per-key batch-monotonic)
# ---------------------------------------------------------------------------


def advance_reorder(
    buf: list[tuple[int, int]],
    arrivals: list[tuple[int, int]],
    wm_us: int,
    prev_wm_us: int = -1,
) -> tuple[list[tuple[int, int]], list[tuple[int, int]], int]:
    """The reorder state transition, pure: merge ``arrivals`` (us, val)
    into the held buffer, DROP only arrivals at or behind the watermark a
    PREVIOUS call already emitted through (``prev_wm_us``) — admitting
    those would break the emitted stream's monotonicity.  Arrivals in
    ``(prev_wm_us, wm_us]`` merge-sort into THIS call's emit: they are
    still ahead of everything previously emitted, so order is preserved
    and no row is discarded beyond what monotonic output strictly
    requires (tighter than Spark's own late-data rule, which drops
    anything behind the current watermark).  Emits the buffered rows whose
    time has passed ``wm_us`` in sorted order, holds the rest.  Returns
    (emitted, new_buffer, n_dropped).  Emissions across successive calls
    with a nondecreasing watermark are globally sorted per key: batch N
    emits exactly the (wm_{N-1}, wm_N] window."""
    dropped = 0
    for us, val in arrivals:
        if us <= prev_wm_us:
            dropped += 1
        else:
            buf.append((us, val))
    emit = sorted(t for t in buf if t[0] <= wm_us)
    keep = [t for t in buf if t[0] > wm_us]
    return emit, keep, dropped


_REORDER_OUT = "{key} long, us long, val long"
_REORDER_STATE = "buf_us array<bigint>, buf_val array<bigint>, prev_wm_us long"


def reorder_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "k",
    val_col: str = "val",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Turn an out-of-order feed into the per-key TIME-SORTED stream the
    order-sensitive stateful operators (``sessionize_stream``,
    ``enrich_asof_stream``) document as their input contract.

    Rows buffer in per-key ``GroupState`` until the event-time watermark
    passes them, then emit SORTED; a later batch can only emit strictly
    newer rows (the (prev_wm, wm] window), so downstream sees a per-key
    monotonic stream.  A row is dropped only when it arrives at or behind
    a watermark this key has already EMITTED through (prev_wm, held in
    state) — the minimum monotonic output requires; size ``watermark`` to
    the feed's real disorder horizon.

    Idle keys flush via ``EventTimeTimeout``: every batch that leaves rows
    buffered registers a timeout just past the newest of them, so when the
    GLOBAL watermark (advanced by any key's data) passes the buffer, Spark
    invokes this key with ``hasTimedOut`` and the buffer drains — a key
    that stops receiving data does not strand its tail.  Residual: at
    absolute end-of-stream the watermark stops advancing, so rows newer
    than (final watermark) stay buffered — the same final-window caveat as
    any watermarked operator.  ``write_closing_heartbeat`` (this module)
    is the provided flush: append one sentinel row past the horizon and
    re-run the query ``availableNow`` — every buffered row and every
    EventTimeTimeout behind it fires; ``strip_heartbeats`` removes any
    sentinel rows a LATER heartbeat pushes through.

    State is O(rows inside the watermark horizon) per key — exactly the
    buffer any reordering must hold; emission drains it continuously.
    ``val_col`` carries one long payload column (join wider payloads back
    by (key, us, val) or encode an id)."""
    out_schema = _REORDER_OUT.format(key=key_col)

    def _fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bus, bval, prev_wm = state.get
            buf = list(zip(bus, bval))
        else:
            buf, prev_wm = [], -1
        wm_us = state.getCurrentWatermarkMs() * 1000
        arrivals: list[tuple[int, int]] = []
        if not state.hasTimedOut:
            for pdf in pdfs:
                arrivals.extend(
                    (int(u), int(v)) for u, v in zip(pdf["_us"], pdf["_val"])
                )
        emit, keep, _dropped = advance_reorder(buf, arrivals, wm_us, prev_wm)
        if keep:
            state.update(
                ([t[0] for t in keep], [t[1] for t in keep], max(wm_us, prev_wm))
            )
            # flush-when-idle: fire as soon as the global watermark passes
            # the OLDEST buffered row (every kept row is > current wm, so
            # the timestamp is strictly ahead as setTimeoutTimestamp
            # requires); the timeout invocation re-registers for whatever
            # remains, so a partially-emittable buffer drains in stages
            # instead of waiting for a watermark past its NEWEST row —
            # which at end-of-stream may never come
            state.setTimeoutTimestamp(min(t[0] for t in keep) // 1000 + 1)
        elif state.exists:
            # fully drained: DROP the state row, or every key ever seen
            # keeps an empty-buffer tombstone forever (state would grow
            # O(distinct keys ever), not O(keys inside the horizon)).
            # Dropping prev_wm is safe under EventTimeTimeout: Spark
            # filters arrivals behind the CURRENT watermark before this
            # function runs, and prev_wm ≤ that watermark from here on —
            # a post-removal arrival is therefore never behind a past
            # emit (a row landing exactly AT the boundary re-enters as a
            # tie, which non-strict monotonic output permits).
            state.remove()
        if emit:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(emit),
                    "us": [t[0] for t in emit],
                    "val": [t[1] for t in emit],
                }
            )

    # the watermarked TIMESTAMP column must SURVIVE the projection into the
    # grouped relation — dropping it severs the event-time watermark and
    # getCurrentWatermarkMs raises
    prepared = stream.withWatermark(ts_col, watermark).select(
        F.col(key_col),
        F.col(ts_col),
        F.unix_micros(F.col(ts_col)).alias("_us"),
        F.col(val_col).alias("_val"),
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_REORDER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Closing heartbeat: the end-of-stream drain every watermarked operator
# documents (round-6 verdict #5 — the docstrings said "send a closing
# heartbeat" but gave users no way to do it)
# ---------------------------------------------------------------------------

#: reserved sentinel key for global-watermark heartbeats — far outside any
#: real id space; strip_heartbeats removes rows it produced downstream
HEARTBEAT_KEY = -(2**62)

_WM_UNITS_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
}


def watermark_horizon_us(watermark: str) -> int:
    """Microseconds for a Spark watermark/gap duration string
    ('10 minutes', '1 hour', '30 seconds' — the CalendarInterval subset
    withWatermark accepts)."""
    parts = watermark.strip().lower().split()
    if len(parts) != 2:
        raise ValueError(f"unsupported watermark string: {watermark!r}")
    n, unit = parts
    unit = unit.rstrip("s")
    if unit not in _WM_UNITS_US or not n.lstrip("-").isdigit():
        raise ValueError(f"unsupported watermark string: {watermark!r}")
    return int(n) * _WM_UNITS_US[unit]


def closing_heartbeat_us(last_event_us: int, watermark: str) -> int:
    """Event time for a heartbeat that flushes everything: once it is
    processed, the watermark advances to (heartbeat − horizon) >
    ``last_event_us``, so every buffered row and every
    ``EventTimeTimeout`` behind it fires."""
    return last_event_us + watermark_horizon_us(watermark) + 1_000_000


def write_closing_heartbeat(
    feed_dir: str,
    last_event_us: int,
    watermark: str,
    columns: tuple[str, ...] = ("k", "us"),
    keys: tuple = (HEARTBEAT_KEY,),
    fill=0,
) -> int:
    """Append one heartbeat file to a file-based stream source so a final
    ``availableNow`` pass drains buffered tails at absolute end-of-stream.

    Watermarked operators hold rows newer than (final watermark) forever
    once the feed stops, because the watermark only advances with new
    data.  One row with event time ``closing_heartbeat_us`` fixes that for
    GLOBAL-watermark mechanisms (``reorder_stream``'s EventTimeTimeout
    drains every key); per-key-gap operators (``sessionize_stream``) need
    one heartbeat per key whose open session should close — pass those
    ``keys``.  Emits json-lines with ``columns`` = (key, event-us[,
    extras...]); extras get ``fill``.  The file sorts/mtimes after
    anything already in the feed so it is picked up LAST.  Returns the
    heartbeat's event time (µs) for chaining into a later stage's drain.

    Recipe (per watermarked stage, source → availableNow → sink):
      1. run the stage with ``trigger(availableNow=True)`` to completion;
      2. ``write_closing_heartbeat(stage_source_dir, last_us, wm)``;
      3. re-run the same stage (same checkpoint) — the tail emits;
      4. ``strip_heartbeats`` downstream of any operator that would emit
         the sentinel rows themselves.
    """
    import json as _json
    import os as _os
    import time as _time

    hb_us = closing_heartbeat_us(last_event_us, watermark)
    _os.makedirs(feed_dir, exist_ok=True)
    n = sum(1 for f in _os.listdir(feed_dir) if f.startswith("zzz-heartbeat"))
    path = _os.path.join(feed_dir, f"zzz-heartbeat-{n:03d}.json")
    with open(path, "w") as f:
        for key in keys:
            row = {columns[0]: key, columns[1]: hb_us}
            for c in columns[2:]:
                row[c] = fill
            f.write(_json.dumps(row) + "\n")
    # mtime strictly after every existing feed file: the file source picks
    # oldest-first, and the heartbeat must not overtake real data
    t = _time.time()
    newest = max(
        (
            _os.path.getmtime(_os.path.join(feed_dir, f))
            for f in _os.listdir(feed_dir)
        ),
        default=t,
    )
    stamp = max(t, newest + 1)
    _os.utime(path, (stamp, stamp))
    return hb_us


def strip_heartbeats(
    df: DataFrame, key_col: str = "k", keys: tuple = (HEARTBEAT_KEY,)
) -> DataFrame:
    """Remove sentinel-key rows a heartbeat pushed through an operator
    that emits per-row output (e.g. ``reorder_stream`` emits the
    heartbeat row itself once a LATER heartbeat passes it; a drained
    feed's last heartbeat never emits)."""
    return df.filter(~F.col(key_col).isin(list(keys)))
