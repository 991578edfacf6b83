"""Bounded-scan work governor — Spark re-design of the reference's
two-phase windowed scan (``haskell-src/lib/ChainwebDb/BoundedScan.hs:90-254``).

The reference's contract (SURVEY §2.6 O6 / §7.3 hard-part 1): a search
request examines at most ``scanLimit`` index rows, returns up to ``limit``
matches, and when it stops early it hands back a resumable cursor.  Postgres
can stop an index scan mid-stream; Spark cannot stop a distributed scan after
N arbitrary rows — but it CAN bound work by *data layout*: restrict each
iteration to a descending window of the leading sort column (height), which
partition/row-group pruning turns into a real IO bound.

So the governor's work unit is a **height slice** instead of a scanned-row
count.  Observable behavior matches the reference: ≤ limit matches in cursor
order, possibly fewer than available, plus a cursor from which the next call
resumes; repeated calls enumerate exactly the full result set in order.

``budget_slices × slice_width`` plays the role of ``scanLimit`` (rows): at
the reference's defaults (50k rows scanned per request) a slice_width of
~25k heights × 20 chains ≈ the same order of scanned rows per request.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.cursor import CursorSpec, keyset_predicate


@dataclass
class BoundedScanResult:
    rows: list  # collected Row matches, cursor order, ≤ limit
    next_cursor: Optional[tuple]  # resume token; None = exhausted
    slices_examined: int


class LoadGauge:
    """Active-request gauge for load-adaptive work budgets (SURVEY §4 X5).

    The reference scales every search request's ``scanLimit`` by pool
    contention — more requests in flight, smaller per-request budget
    (``Server.hs:128-132,659-666``).  Spark's analog of the connection pool
    is driver-side request concurrency; each governed scan registers here
    for its duration, and concurrent scans see each other's load."""

    def __init__(self) -> None:
        self._n = 0
        self._lock = threading.Lock()

    def __enter__(self) -> "LoadGauge":
        with self._lock:
            self._n += 1
        return self

    def __exit__(self, *exc) -> None:
        with self._lock:
            self._n -= 1

    @property
    def active(self) -> int:
        with self._lock:
            return self._n


# requests sharing the budget before throttling kicks in — the reference's
# load/3 divisor (Server.hs:661: `let scale = max 1 (load `div` 3)`-shaped
# throttle on scan and result limits)
LOAD_PER_STEP = 3


def scaled_budget(budget: int, active: int, per: int = LOAD_PER_STEP) -> int:
    """Work budget under ``active`` concurrent requests: full budget up to
    ``per`` in-flight requests, then divided by ``active // per`` (never
    below 1 — every request keeps making progress, exactly the reference's
    degrade-don't-starve behavior)."""
    return max(1, budget // max(1, active // per))


def bounded_scan(
    df: DataFrame,
    predicate: Column,
    spec: CursorSpec,
    height_col: str = "height",
    limit: int = 10,
    slice_width: int = 100,
    budget_slices: int = 4,
    cursor: Sequence | None = None,
    floor: int = 0,
    gauge: LoadGauge | None = None,
    ceiling: int | None = None,
) -> BoundedScanResult:
    """Run one governed request-iteration.

    The cursor is the full keyset tuple of the last *emitted or examined*
    row position, exactly like the reference's ``BSContinuation`` — here
    (height-slice floor, keyset tuple).  ``cursor=None`` starts at the top.

    ``ceiling`` (r10): the known maximum of ``height_col`` — when given,
    the first request plans its slices from it WITHOUT the ``agg(max)``
    data scan (``bounded_scan_published`` serves it from the txlog's
    per-file footer stats, so request planning is metadata-only — the
    reference's O(1) ``/stats`` spirit).  Must be the exact max (parquet
    int min/max are exact): a loose upper bound would stay correct but
    burn budget slices on empty height ranges.

    Per slice: one narrow job with BOTH bounds on ``height_col`` pushed to
    the scan, then keyset order + limit (TakeOrdered — no global sort).
    Stops when ``limit`` matches are collected or the slice budget is spent.

    With a ``gauge``, the slice budget is load-adaptive: this request
    registers as in-flight for its duration and its budget shrinks by the
    reference's load/3 throttle (X5) — under-budget requests still return a
    valid resume cursor, so clients lose latency under load, never rows.
    """
    if gauge is not None:
        with gauge:
            return bounded_scan(
                df,
                predicate,
                spec,
                height_col=height_col,
                limit=limit,
                slice_width=slice_width,
                budget_slices=scaled_budget(budget_slices, gauge.active),
                cursor=cursor,
                floor=floor,
                gauge=None,
                ceiling=ceiling,
            )
    if cursor is not None:
        hi = int(cursor[0])  # cursor height bounds the next scan
        resume_pred = keyset_predicate(spec, cursor)
    elif ceiling is not None:
        hi = int(ceiling)  # metadata-served: no planning data scan
        resume_pred = None
    else:
        row = df.agg(F.max(height_col).alias("m")).collect()[0]
        if row["m"] is None:
            return BoundedScanResult([], None, 0)
        hi = int(row["m"])
        resume_pred = None

    out: list = []
    examined = 0
    while examined < budget_slices and hi >= floor and len(out) < limit:
        lo = max(floor, hi - slice_width + 1)
        sliced = df.filter(
            (F.col(height_col) >= F.lit(lo)) & (F.col(height_col) <= F.lit(hi))
        ).filter(predicate)
        if resume_pred is not None:
            sliced = sliced.filter(resume_pred)
            resume_pred = None  # only the first slice can contain the cursor
        page = (
            sliced.orderBy(*spec.order_by()).limit(limit - len(out)).collect()
        )
        out.extend(page)
        examined += 1
        hi = lo - 1

    if len(out) >= limit:
        # limit reached: ALWAYS hand back the last emitted row's keyset —
        # even when the final slice also reached the floor, that slice may
        # hold more matches than the page could carry (the reference's
        # BSContinuation always resumes on a full page,
        # BoundedScan.hs:137-155); the resume call re-scans from the cursor
        # and returns empty+None if nothing remains.
        last = out[-1]
        next_cursor = tuple(last[c] for c in spec.cols)
    elif hi >= floor:
        # budget exhausted mid-stream with an under-filled page: pure
        # positional cursor at the slice boundary (the reference's
        # found=false cursor row)
        next_cursor = _boundary_cursor(spec, hi)
    else:
        # range exhausted AND page under-filled: genuinely done
        next_cursor = None
    return BoundedScanResult(out, next_cursor, examined)


def _boundary_cursor(spec: CursorSpec, hi: int) -> tuple:
    """Keyset tuple 'just before' height hi+1 in cursor order: height = hi+1
    with extreme minor columns so every row at height ≤ hi qualifies."""
    vals: list = [hi + 1]
    for c, d in zip(spec.cols[1:], spec.descs[1:]):
        # minor columns: -inf in the traversal order ⇒ after-everything at
        # the cursor height; string minimum is "" , numeric minimum is a
        # sentinel the caller's domain guarantees below any real value
        vals.append("" if d else None)
    return tuple(vals)


def bounded_scan_published(
    spark,
    out_dir: str,
    table: str,
    predicate: Column,
    spec: CursorSpec,
    cursor: Sequence | None = None,
    version: int | None = None,
    **kw,
) -> tuple[BoundedScanResult, int]:
    """One governed request-iteration against a transaction-log table,
    read through a PINNED log version — SURVEY X6.

    The reference holds one ``REPEATABLE READ`` snapshot across the
    two-phase bounded scan (``haskell-src/exec/Chainweb/Server.hs:525``):
    a pagination session never sees rows committed after its first
    request, so page N+1 can't shift under the cursor page N handed out.
    The txlog analog: resolve the current version ONCE (first request,
    ``version=None``), then read every slice — and every later request
    that presents this session's token — through ``read_published(...,
    version=pinned)``.  Returns ``(result, version)``; servers ride the
    version in the continuation token (``operators/cursor.py
    encode_pinned_token``) so resumption is stateless.  Committed-later
    batches land in newer versions this session never reads; the vacuum
    retention horizon (``publish.MAINT_KEEP_VERSIONS``) bounds how long a
    parked session stays resumable, exactly like Postgres' snapshot
    lifetime bounding the reference's.

    First-request planning is METADATA-ONLY (r10): the height ceiling
    that seeds the slice walk comes from the txlog's per-file footer
    stats (recorded at stage time) instead of an ``agg(max)`` data scan —
    no data file is opened before the first slice.  Files missing the
    stat fall back to the scan, correct either way."""
    from ..streaming.publish import _latest_version, read_published

    if version is None:
        version = _latest_version(out_dir)
    df = read_published(spark, out_dir, table, version=version)
    if df is None:
        return BoundedScanResult([], None, 0), version
    if cursor is None and "ceiling" not in kw:
        c = _stats_ceiling(
            out_dir, table, version, kw.get("height_col", "height")
        )
        if c is not None:
            kw["ceiling"] = c
    res = bounded_scan(df, predicate, spec, cursor=cursor, **kw)
    return res, version


def _stats_ceiling(
    out_dir: str, table: str, version: int, col: str
) -> int | None:
    """``max(col)`` over the pinned snapshot from the txlog's per-file
    footer stats — commit metadata, no data-file scan.  ``None`` (fall
    back to the agg) when ANY live file lacks the column's range: a
    partial max would silently truncate the walk's starting point, the
    silent-wrong class this repo refuses."""
    from ..streaming.publish import _file_stats, _snapshot, _table_rows

    rows = _table_rows(_snapshot(out_dir, version), table)
    if not rows.num_rows:
        return None
    stats = _file_stats(rows)
    mx = None
    for f in rows["file"].to_pylist():
        rng = stats.get(f, {}).get(col)
        if not rng or rng[1] is None:
            return None
        mx = rng[1] if mx is None else max(mx, rng[1])
    return int(mx)
