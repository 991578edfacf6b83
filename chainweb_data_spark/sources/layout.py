"""Write layout — the columnar substitute for the reference's secondary
indexes (SURVEY §4 X1).

Postgres serves the reference's cursor queries from covering DESC B-trees
(init.sql:41-51,112-118,137-144).  Spark/Parquet has no secondary index; the
equivalent physical design is:

1. **Partition by height bucket** (``height_bucket = height div 10000``) —
   the cursor's leading column becomes a directory, so height predicates
   prune whole partitions before any IO (PartitionFilters in explain).
2. **Sort within files** on the full cursor order — Parquet row-group
   min/max statistics then skip row groups inside surviving partitions, and
   pages come back already in emit order.
3. **Size partitions to the cluster** via repartition on the bucket before
   the write, so one task owns one bucket directory (no small files).

Not partitioned by chainid: 20 chains × small rows would shred the data into
tiny files; chainid rides in the sort key instead — the same call the
reference's ``blocks_height_chainid_idx (height DESC, chainid)`` makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEIGHT_BUCKET_SIZE = 10_000


def write_indexed(
    df: DataFrame,
    path: str,
    sort_cols: list[tuple[str, bool]],
    bucket_col: str = "height",
    bucket_size: int = HEIGHT_BUCKET_SIZE,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` partitioned by the bucket of ``bucket_col`` and sorted
    within files by ``sort_cols`` [(name, descending)] — the sorted-on-write
    layout of README row O1 (cursor sort orders), whose pruning and
    in-file order ``tests/test_layout.py`` asserts; read it back with
    ``spark.read.parquet`` and filter with :func:`height_range_pred`."""
    # The bucket leads the sort ASCENDING: FileFormatWriter requires rows
    # ordered by the partition columns and would otherwise inject its own
    # (non-stable) sort, destroying the cursor order inside each file.
    order = [F.col("height_bucket").asc()] + [
        F.col(c).desc() if d else F.col(c).asc() for c, d in sort_cols
    ]
    (
        df.withColumn(
            "height_bucket", (F.col(bucket_col) / bucket_size).cast("long")
        )
        .repartition("height_bucket")
        .sortWithinPartitions(*order)
        .write.mode(mode)
        .partitionBy("height_bucket")
        .parquet(path)
    )


def height_range_pred(
    lo: int | None, hi: int | None, bucket_size: int = HEIGHT_BUCKET_SIZE
):
    """Predicate for [lo, hi] carrying BOTH the height bounds and the
    derived height_bucket bounds — the bucket conjunct is what turns a
    height range into directory pruning (the engine's version of an index
    range scan).  Spark cannot infer it because height_bucket is stored, not
    computed, at read time."""
    preds = []
    if lo is not None:
        preds += [
            F.col("height") >= F.lit(lo),
            F.col("height_bucket") >= F.lit(lo // bucket_size),
        ]
    if hi is not None:
        preds += [
            F.col("height") <= F.lit(hi),
            F.col("height_bucket") <= F.lit(hi // bucket_size),
        ]
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out
