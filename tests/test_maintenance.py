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


def test_compaction_rewrites_a_table_in_one_job(spark, tmp_path_factory, jobs_of):
    """Every compactable bucket is rewritten by ONE write job (plus the
    shuffle-map job of its repartition), not a read/write pair per bucket:
    one file per bucket, every row kept, each file in ``sort_within``
    order, and buckets at or under ``min_files`` untouched."""
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("compact1job"))
    pks = {"t": ("hash",)}
    # three interleaved batches over heights 0-999: ten height buckets,
    # each gaining files from every batch, heights unsorted across files
    for i in (2, 0, 1):
        publish_batch(spark, {"t": _mk(spark, 0, 1000).filter(F.col("height") % 3 == i)},
                      out, pks=pks)
    publish_batch(spark, {"t": _mk(spark, 2000, 2001)}, out, pks=pks)  # one file
    before = read_manifest(out)["tables"]["t"]
    by_part = {}
    for f in before:
        by_part.setdefault(os.path.dirname(f), []).append(f)
    assert sum(len(fs) > 2 for fs in by_part.values()) >= 8
    small = {p: fs for p, fs in by_part.items() if len(fs) <= 2}
    assert small
    rows_before = sorted(read_published(spark, out, "t").collect())

    done, jobs = jobs_of(
        lambda: compact_published(spark, out, "t", min_files=2, sort_within=("height",))
    )
    assert 1 <= len(jobs) <= 2, jobs
    assert set(done) == {p for p, fs in by_part.items() if len(fs) > 2}
    after = read_manifest(out)["tables"]["t"]
    for part, fs in by_part.items():
        live = [f for f in after if os.path.dirname(f) == part]
        if part in small:
            assert sorted(live) == sorted(fs), part
            continue
        assert len(live) == 1 and done[part] == (len(fs), 1), part
        heights = pq.read_table(
            os.path.join(out, "t.parquet", live[0]), columns=["height"]
        )["height"].to_pylist()
        assert heights == sorted(heights), part
    assert sorted(read_published(spark, out, "t").collect()) == rows_before


def test_nested_table_staging_leaves_no_debris(spark, tmp_path):
    """A nested table name (``dedup_index/…``, the curation sink's
    tables) is staged under one flat ``_staging`` entry, so landing its
    files leaves nothing behind: after a publish and a compaction of a
    nested table, ``_staging`` holds no entry."""
    out = str(tmp_path / "nested")
    name = "idx/t"
    for i in (0, 1):  # two files in each of six height buckets
        publish_batch(spark, {name: _mk(spark, 0, 600).filter(F.col("height") % 2 == i)},
                      out, pks={name: ("hash",)})
    staging = os.path.join(out, "_staging")
    assert os.listdir(staging) == []
    assert compact_published(spark, out, name, min_files=1)
    assert os.listdir(staging) == []
    assert read_published(spark, out, name).count() == 600
