"""Layout maintenance for log-published tables (streaming/publish.py):
Z-order rewrites and metadata-only TTL expiry.  Both resolve their input
from the transaction log and swap the result in as ONE commit, so a
reader sees the old layout or the new one, never a mix.  Z-order stages
and commits through the same two helpers as compaction
(``publish._stage``, ``publish._swap``); expiry stages nothing and
recomputes its drop set on a race.  Compaction of a log-published table
is ``publish.compact_published``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def zorder_expr(col_ranges: dict[str, tuple[int, int]], bits: int = 16):
    """Morton/Z-order key from N numeric columns: each value rank-scales to
    ``bits`` bits inside its [lo, hi] range, then the bits interleave
    round-robin — points close in EVERY dimension get close keys, so
    range-sorting files on the key gives every file a narrow min/max box in
    ALL dimensions at once.

    That is exactly what makes it compose with the transaction log's
    footer-stats file skipping (streaming/publish.py): a lexicographic
    (chain, height) sort prunes height-only predicates not at all (every
    file spans the full height range of some chain), while the Z-layout
    prunes them as well as chain-only ones — the Delta OPTIMIZE ZORDER
    rationale, built from plain shift/OR expressions (pure codegen, no
    UDF).  NULLs scale to 0.  ``bits × len(cols)`` must fit a long."""
    from pyspark.sql import functions as F

    k = len(col_ranges)
    if k * bits > 62:
        raise ValueError(f"{k} cols x {bits} bits exceeds a long")
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, (c, (lo, hi)) in enumerate(col_ranges.items()):
        if lo is None or hi is None:
            raise ValueError(
                f"zorder_expr: column {c!r} has NULL bounds ({lo}, {hi}) — "
                "an all-NULL column cannot rank-scale; drop it from the "
                "Z dimensions"
            )
        span = max(int(hi) - int(lo), 1)
        # rank-scale in DOUBLE: the int64 form ((v - lo) * top) overflows
        # once the column span exceeds ~2^63/top (≈1.4e14 — a mere 4.5
        # years of microsecond timestamps) and wraps negative, which the
        # clamp then collapses to Z-coordinate 0 — silently destroying the
        # clustering for that dimension.  The double ratio is monotone and
        # exact to far beyond the 16-bit quantization this feeds.
        v = (
            (F.coalesce(F.col(c), F.lit(lo)).cast("double") - F.lit(float(lo)))
            / F.lit(float(span))
            * F.lit(float(top))
        ).cast("long")
        v = F.least(F.greatest(v, F.lit(0)), F.lit(top))
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return z


def rewrite_zordered(
    spark: SparkSession,
    out_dir: str,
    table: str,
    cols: list[str],
    target_files: int = 16,
    bits: int = 16,
) -> dict:
    """OPTIMIZE ZORDER for a log-published table: read the live snapshot,
    range-partition + sort by the Z-key of ``cols``, and swap the layout in
    as ONE transaction-log commit (readers see the old layout or the new
    one, rows preserved exactly; replaced files are vacuumed).  The commit
    records fresh per-file footer stats, so ``read_published(where=...)``
    prunes on every Z-dimension immediately after.

    Driver work is one min/max aggregate; the rewrite is a single
    repartitionByRange job — on a real cluster, run it per partition-bucket
    behind the ingest watermark.

    A table with a bucket column (height_bucket/key_bucket) keeps its
    bucket directories, like every other writer (:func:`publish._stage`),
    so later publishes and merge probes keep directory pruning (a flat
    file beside bucket directories would drop rows from snapshot reads).
    Each range task then writes one z-sorted file per bucket it spans:
    ``target_files`` bounds the range tasks, not the files.

    All-NULL Z columns are DROPPED from the key (a NULL-bounded dimension
    cannot rank-scale and would poison the whole key; the dropped names
    come back under ``"skipped_cols"``); if every requested column is
    all-NULL the rewrite is skipped.  The swap is compaction's
    (:func:`publish._swap`): on a version race it REBASES when every
    input file is still live (a racer's appends survive beside the new
    layout) and ABANDONS, returning {}, when a racer removed one; the
    auto-vacuum keeps :data:`publish.MAINT_KEEP_VERSIONS` snapshots."""
    from pyspark.sql import functions as F

    from ..streaming import publish as pub

    latest = pub._latest_version(out_dir)
    if latest == 0:
        return {}
    files = pub._live_files(out_dir, latest, table)
    if not files:
        return {}
    df = pub._read_files(spark, os.path.join(out_dir, f"{table}.parquet"), files)
    bounds = df.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in cols],
        *[F.max(c).alias(f"_hi_{c}") for c in cols],
    ).collect()[0]
    all_ranges = {c: (bounds[f"_lo_{c}"], bounds[f"_hi_{c}"]) for c in cols}
    ranges = {
        c: r for c, r in all_ranges.items() if r[0] is not None and r[1] is not None
    }
    skipped = sorted(set(all_ranges) - set(ranges))
    if not ranges:
        return {"files": 0, "ranges": {}, "skipped_cols": skipped}
    z = zorder_expr(ranges, bits)
    staged = pub._stage(
        df.repartitionByRange(target_files, z), out_dir, table, "zorder", sort=(z,)
    )
    if not pub._swap(out_dir, table, latest, files, staged, "zorder"):
        return {}
    out = {"files": len(staged[0]), "ranges": ranges}
    if skipped:
        out["skipped_cols"] = skipped
    return out


#: how many times :func:`expire_files` recomputes its drop set after
#: losing a version race before it gives up.
_EXPIRE_RETRIES = 3


def expire_files(
    spark: SparkSession,
    out_dir: str,
    table: str,
    col: str,
    cutoff,
) -> dict:
    """Metadata-only retention (TTL): drop every live file whose footer
    ``max(col)`` is strictly below ``cutoff`` — one transaction-log commit,
    ZERO data read or rewritten (the 100 TB retention job is a metadata
    operation when the layout is time-clustered; ingestion order usually
    is).  Boundary files that STRADDLE the cutoff are kept whole — readers
    wanting an exact horizon apply the row filter on top; rerunning after
    the next compaction/z-order tightens the boxes and expires more.
    Files with no recorded stats for ``col`` are never dropped.  Returns
    {"removed": n, "kept": n}.

    The post-commit vacuum keeps :data:`publish.MAINT_KEEP_VERSIONS`
    snapshots: expired files' BYTES survive that long for pinned readers
    and time travel; the live snapshot stops listing them immediately.
    On a version race with a concurrent writer the whole decision is
    REBASED — re-read the fresh snapshot, recompute the drop set, retry
    (cheap: no data was staged), at most :data:`_EXPIRE_RETRIES` times."""
    from ..streaming import publish as pub

    for attempt in range(_EXPIRE_RETRIES + 1):
        latest = pub._latest_version(out_dir)
        if latest == 0:
            return {"removed": 0, "kept": 0}
        # the table's slice of the cached snapshot: only its files and
        # stats become Python objects
        rows = pub._table_rows(pub._snapshot(out_dir, latest), table)
        files = rows["file"].to_pylist()
        per_file = pub._file_stats(rows)
        if not files:
            return {"removed": 0, "kept": 0}
        drop = set()
        for rel in files:
            rng = per_file.get(rel, {}).get(col)
            if not rng or rng[1] is None:
                continue
            try:
                if rng[1] < cutoff:
                    drop.add(rel)
            except TypeError:
                continue
        if not drop:
            return {"removed": 0, "kept": len(files)}
        try:
            # metadata-only delta commit: remove the expired files, add
            # nothing — O(dropped files) however large the table is
            pub._commit_delta(
                out_dir,
                latest + 1,
                add={},
                remove={table: sorted(drop)},
                stats_add={},
                op="expire",
            )
        except pub.ConcurrentWriteError:
            if attempt == _EXPIRE_RETRIES:
                raise
            continue
        pub.vacuum(
            out_dir, keep_versions=pub.MAINT_KEEP_VERSIONS, min_age_s=pub.VACUUM_GRACE_S
        )
        return {"removed": len(drop), "kept": len(files) - len(drop)}
    raise AssertionError("unreachable")
