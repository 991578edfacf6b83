"""Time-series joins Spark lacks as built-ins: as-of join and a binned
range (interval-containment) join.

Both are implemented as compositions of existing DataFrame operators — no
Python in the hot path, no cross join, no per-row UDF — so Catalyst plans
them like any other relational query and they inherit AQE/codegen for free.

**As-of join** (``asof_join``): for every left row, the newest right row of
the same key with ``right_ts <= left_ts``.  The classic distributed form is
the *union–sort–fill* plan: tag both sides, union them, and run ONE window
over (key, ts) carrying the last-seen right payload forward; left rows then
read their fill.  Cost is a single shuffle on the key plus a per-key sort —
the same cost class as the sort-merge ASOF implementations in DuckDB /
Pandas ``merge_asof``, but executed as an ordinary Spark window so it
scales horizontally across keys.  A salted rail is impossible for windows;
for the one-hot-key case ``bucket_width_us`` splits the time axis into
buckets, windows inside (key, bucket), and cascades each bucket's last
right row forward via a second, tiny window over the per-bucket summaries
— the known answer to as-of skew, property-tested equivalent to the
single-window form.

**Binned range join** (``binned_range_join``): point-in-interval joins
(``start <= ts <= end``) naively force Spark into a broadcast-nested-loop
or cartesian plan because there is no equality conjunct.  The standard
scale fix is binning: quantize time into fixed-width bins, replicate every
interval into each bin it overlaps, and equi-join on (key, bin) — the exact
containment predicate then filters locally.  Replication factor is
``span/bin_width + 1`` per interval and is GUARDED (``F.assert_true`` fails
the task loudly if an interval would fan out past ``max_bins`` — the same
cap-by-construction stance as the dedup operators' bucket caps).  Every
qualifying (point, interval) pair materializes exactly once because a point
lives in exactly one bin.

Reference parity: the reference's only range predicates are height-window
scans (`haskell-src/exec/Chainweb/Lookups.hs:102-139` block ranges) and the
coin-schedule interval join (`haskell-src/exec/Chainweb/Coins.hs:148-158`),
both of which this repo already serves via layout pruning and a broadcast
interval join (`operators/coins.py`).  These two operators generalize that
machinery to arbitrary-cardinality time-series — the shape a training-data
pipeline needs for event/feature alignment (features as-of an example's
timestamp) and windowed attribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _require_disjoint(left: DataFrame, right_cols: list[str], op: str) -> None:
    overlap = set(left.columns) & set(right_cols)
    if overlap:
        raise ValueError(
            f"{op}: output would have ambiguous column(s) {sorted(overlap)}; "
            "rename one side before joining"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    tolerance_us: int | None = None,
    bucket_width_us: int | None = None,
) -> DataFrame:
    """Left as-of join: every ``left`` row gains the payload of the newest
    ``right`` row with the same ``on`` key(s) and ``right_ts <= left_ts``
    (inclusive), or NULLs when no such row exists — the semantics of DuckDB
    ``ASOF LEFT JOIN`` / pandas ``merge_asof(direction="backward")``.

    ``tolerance_us`` — optional max age in microseconds: matches older than
    ``left_ts - tolerance_us`` are nulled out (still left-join semantics).
    NULL join keys never match anything (equality-join semantics): a
    null-key left row survives with NULL right columns.  NULL timestamps
    never match either (DuckDB ASOF / pandas ``merge_asof`` semantics): a
    NULL ``right_ts`` row is never a fill source, and a NULL ``left_ts``
    row gets NULL right columns.

    Right rows must be unique per (key, ts): among ties the fill picks an
    arbitrary one (Spark's window sort is not stable across runs), so
    deduplicate ties deterministically first (e.g. ``max_by`` a tiebreak).

    Plan shape: one shuffle of ``|left| + |right|`` rows on the key, one
    per-key sort, zero joins.  The window's frame is rows-unbounded-
    preceding with ``ignorenulls`` last() — an O(1)-state running fill, not
    a re-scan per row.

    ``bucket_width_us`` — the SKEW RAIL.  A window must hold a partition's
    rows on one task, so a single hot key (the realistic pathological
    feed: one instrument carrying most of the volume) serializes the whole
    join through one sort.  With a bucket width set, the fill computes in
    two bounded phases instead: (1) the same running fill WITHIN each
    (key, time-bucket) partition — hot keys now split across
    ``span/width`` tasks; (2) a cascade over the tiny per-(key, bucket)
    summary relation (one row per bucket: the bucket's last right
    payload), where a second window — O(n_buckets) per key, never
    O(n_rows) — carries the latest payload of every EARLIER bucket into
    each bucket; a row's match is its in-bucket fill, else its bucket's
    carry-in.  Output is row-for-row identical to the unbucketed form
    (property-tested); cost adds one aggregation and one (key, bucket)
    join, both on the partitioning the main shuffle already produced.
    Pick a width that puts ≫ 1 bucket across the hot key's time span; a
    width wider than the whole span degenerates gracefully to the
    single-window plan's behavior (one bucket).
    """
    keys = [on] if isinstance(on, str) else list(on)
    rpay = [c for c in right.columns if c not in keys]
    if right_ts not in rpay:
        raise ValueError(f"asof_join: right side lacks ts column {right_ts!r}")
    _require_disjoint(left, rpay, "asof_join")
    lcols = left.columns

    lstruct = F.struct(*[F.col(c) for c in lcols])
    rstruct = F.struct(*[F.col(c) for c in rpay])
    ltype = left.select(lstruct.alias("_l")).schema["_l"].dataType
    rtype = right.select(rstruct.alias("_r")).schema["_r"].dataType

    # tag: right rows sort BEFORE left rows at equal ts (side 0 < 1), which
    # is exactly what makes the match inclusive (right_ts == left_ts wins)
    l = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        lstruct.alias("_l"),
        F.lit(None).cast(rtype).alias("_r"),
    )
    # a NULL-right_ts row must never be a fill source (NULL timestamps
    # never match under ASOF semantics): null its payload before the window
    # so ignorenulls-last skips it
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(ltype).alias("_l"),
        F.when(F.col(right_ts).isNotNull(), rstruct).alias("_r"),
    )
    # NULL-key semantics: Window.partitionBy groups NULL keys into ONE
    # partition, which would let null-key left rows take null-key right
    # payloads — but an equality join (DuckDB ASOF, pandas merge_asof)
    # never matches NULLs.  Nulling the fill for null keys restores join
    # semantics at zero cost (no second scan, no union of filtered legs).
    # ... and a NULL-left_ts row must never READ a fill (it sorts to the
    # partition head where a NULL-ts right row of the same key also lands):
    # extend the null guard with _ts itself
    keys_not_null = F.col("_ts").isNotNull()
    for k in keys:
        keys_not_null = keys_not_null & F.col(k).isNotNull()
    unioned = l.unionByName(r)
    if bucket_width_us is None:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_ts").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fill = F.last("_r", ignorenulls=True).over(w)
        filled = unioned.withColumn(
            "_rf", F.when(keys_not_null, fill)  # else NULL struct
        ).filter(F.col("_side") == 1)
    else:
        wv = int(bucket_width_us)
        if wv <= 0:
            raise ValueError("asof_join: bucket_width_us must be positive")
        unioned = unioned.withColumn(
            "_b", F.floor(F.unix_micros(F.col("_ts")) / F.lit(wv))
        )
        # phase 1: the running fill WITHIN each (key, bucket) — the hot
        # key's rows now sort on span/width tasks, not one
        w_loc = (
            Window.partitionBy(*keys, "_b")
            .orderBy(F.col("_ts").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local = unioned.withColumn(
            "_rf_loc", F.last("_r", ignorenulls=True).over(w_loc)
        )
        # phase 2: per-(key, bucket) summary (ONE row per bucket: its last
        # right payload — max_by ignores rows whose ordering key is NULL,
        # i.e. left rows and null-ts rights), then the cascade window over
        # the summaries carries every EARLIER bucket's latest payload in.
        # The cascade partition is O(n_buckets) per key — never O(rows).
        summary = unioned.groupBy(*keys, "_b").agg(
            F.max_by(
                "_r",
                F.when(
                    F.col("_r").isNotNull(), F.struct("_ts", "_side")
                ),
            ).alias("_last_r")
        )
        w_cascade = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_b").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry = summary.withColumn(
            "_carry", F.last("_last_r", ignorenulls=True).over(w_cascade)
        ).select(*keys, "_b", "_carry")
        # LEFT join: null-key / null-ts left rows match no carry row but
        # must survive (left-join semantics); their fill is nulled by the
        # guard anyway
        filled = (
            local.join(carry, [*keys, "_b"], "left")
            .withColumn(
                "_rf",
                F.when(
                    keys_not_null,
                    F.coalesce(F.col("_rf_loc"), F.col("_carry")),
                ),
            )
            .filter(F.col("_side") == 1)
        )
    if tolerance_us is not None:
        fresh = F.unix_micros(F.col("_ts")) - F.unix_micros(
            F.col("_rf").getField(right_ts)
        ) <= F.lit(tolerance_us)
        filled = filled.withColumn(
            "_rf", F.when(fresh, F.col("_rf"))  # else NULL struct
        )
    return filled.select(
        *[F.col("_l").getField(c).alias(c) for c in lcols],
        *[F.col("_rf").getField(c).alias(c) for c in rpay],
    )


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_width_us: int,
    max_bins: int = 64,
) -> DataFrame:
    """Inner join of ``points`` rows onto every ``intervals`` row of the
    same key whose ``[start_ts, end_ts]`` (inclusive both ends) contains
    ``point_ts`` — planned as an EQUI-join, never a nested-loop.

    ``bin_width_us`` sets the time-bin width; pick it near the typical
    interval span so replication stays ~2×.  ``max_bins`` is the fan-out
    guard: an interval spanning more than ``max_bins`` bins fails the job
    loudly (``F.assert_true``) instead of silently exploding the shuffle —
    degenerate "match everything" intervals are a data bug, not a plan.

    Plan shape: both sides shuffle once on (key, bin); interval rows
    replicate ``span/bin + 1`` times; the containment predicate runs as a
    post-join filter inside the same codegen stage.  Each qualifying pair
    appears exactly once (a point has exactly one bin).
    """
    ipay = [c for c in intervals.columns if c != on]
    _require_disjoint(points, ipay, "binned_range_join")
    w = int(bin_width_us)
    if w <= 0:
        raise ValueError("binned_range_join: bin_width_us must be positive")

    p = points.withColumn(
        "_bin", F.floor(F.unix_micros(F.col(point_ts)) / F.lit(w))
    )
    b0 = F.floor(F.unix_micros(F.col(start_ts)) / F.lit(w))
    b1 = F.floor(F.unix_micros(F.col(end_ts)) / F.lit(w))
    # the assert must be LOAD-BEARING or Catalyst prunes it away with the
    # column that holds it: assert_true yields NULL on success, so folding
    # its (always-0) value into the sequence bound forces evaluation on
    # every interval row while changing nothing when the guard holds
    # NULL-bounded intervals match nothing (inner-join semantics: the
    # containment predicate is NULL) rather than failing the job: the guard
    # passes them through and sequence(NULL, ...) explodes to zero rows
    guard = F.coalesce(
        F.assert_true(
            b0.isNull()
            | b1.isNull()
            | ((b1 >= b0) & (b1 - b0 < F.lit(max_bins))),
            F.concat(
                F.lit(
                    "binned_range_join: interval spans too many bins "
                    f"(max_bins={max_bins}, bin_width_us={w}): "
                ),
                F.col(start_ts).cast("string"),
                F.lit(" .. "),
                F.col(end_ts).cast("string"),
            ),
        ).cast("long"),
        F.lit(0),
    )
    i = intervals.withColumn("_bin", F.explode(F.sequence(b0 + guard, b1)))
    out = p.join(i, [on, "_bin"]).filter(
        (F.col(point_ts) >= F.col(start_ts))
        & (F.col(point_ts) <= F.col(end_ts))
    )
    return out.drop("_bin")
