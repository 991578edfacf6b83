"""Log-aware compaction (streaming/publish.py ``compact_published``) — the
autovacuum analog for the streaming sink's per-micro-batch small files:
many live files per partition rewritten into one, swapped in as ONE
commit, rows preserved exactly."""

import os

from pyspark.sql import functions as F

from chainweb_data_spark.streaming.publish import (
    compact_published,
    publish_batch,
    read_manifest,
    read_published,
)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("hash"),
        F.col("id").alias("height"),
        (F.col("id") / 100).cast("long").alias("height_bucket"),
    )


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact"))
    pks = {"blocks": ("hash",)}
    # simulate many micro-batches: each commit adds files per partition
    for i in range(5):
        batch = _mk(spark, i * 100, (i + 1) * 100 + 50)
        publish_batch(spark, {"blocks": batch}, out, pks=pks)
    before = read_published(spark, out, "blocks")
    n_before, files_before = before.count(), len(before.inputFiles())
    rows_before = {r["hash"] for r in before.select("hash").collect()}

    done = compact_published(
        spark, out, "blocks", min_files=1, sort_within=("height",)
    )
    assert done, "nothing compacted despite multi-batch appends"
    for part, (fb, fa) in done.items():
        assert fa < fb, part

    after = read_published(spark, out, "blocks")
    assert after.count() == n_before
    assert {r["hash"] for r in after.select("hash").collect()} == rows_before
    assert len(after.inputFiles()) < files_before
    # files are sorted on the requested order: row-group stats stay tight
    one_part = sorted(done)[0]
    live = [
        f
        for f in read_manifest(out)["tables"]["blocks"]
        if os.path.dirname(f) == one_part
    ]
    assert len(live) == 1
    pdf = (
        spark.read.parquet(os.path.join(out, "blocks.parquet", live[0]))
        .select("height")
        .toPandas()
    )
    assert list(pdf["height"]) == sorted(pdf["height"])


def test_compaction_is_idempotent(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact2"))
    for i in range(3):
        batch = _mk(spark, i * 50, (i + 1) * 50)
        publish_batch(spark, {"t": batch}, out, pks={"t": ("hash",)})
    compact_published(spark, out, "t", min_files=1)
    again = compact_published(spark, out, "t", min_files=1)
    assert again == {}, "second compaction rewrote already-compact partitions"
