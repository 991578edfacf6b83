"""Schema-known reads of the transaction log (streaming/publish.py
``read_published``): the data schema comes from the Spark key in each
file's parquet footer, so planning a read runs no Spark job, and the
result equals Spark's own inferred read of the same file list."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from chainweb_data_spark.streaming import publish as pub
from chainweb_data_spark.streaming.publish import (
    ensure_manifest,
    publish_batch,
    read_published,
)


def _rows(spark, lo, hi):
    """Int, string, array, struct, decimal and timestamp columns."""
    return spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("hash"),
        F.col("id").alias("height"),
        F.array(F.col("id"), F.lit(7)).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
        (F.col("id") / 7).cast("decimal(20,4)").alias("amount"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )


def _layouts(spark):
    """A height_bucket table, a key_bucket table and a flat table."""
    return {
        "byheight": lambda lo, hi: _rows(spark, lo, hi).withColumn(
            "height_bucket", (F.col("height") / 50).cast("int")
        ),
        "bykey": lambda lo, hi: _rows(spark, lo, hi).withColumn(
            "key_bucket", F.concat(F.lit("k"), F.substring("hash", 1, 1))
        ),
        "flat": lambda lo, hi: _rows(spark, lo, hi),
    }


def _inferred(spark, out, table):
    """Spark's inferred read of the snapshot's file list."""
    tdir = os.path.join(out, f"{table}.parquet")
    files = pub._live_files(out, pub._latest_version(out), table)
    return spark.read.option("basePath", tdir).parquet(
        *[os.path.join(tdir, f) for f in files]
    )


def _assert_same(got, ref):
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())


def test_reads_run_no_job_and_equal_the_inferred_read(spark, tmp_path, jobs_of):
    out = str(tmp_path / "store")
    make = _layouts(spark)
    pks = {t: ("hash",) for t in make}
    for lo in (0, 120):
        publish_batch(
            spark, {t: mk(lo, lo + 150) for t, mk in make.items()}, out, pks=pks
        )
    for table in make:
        # the files publish_batch just staged: the map was seeded from
        # the footers staging opened, so not even pyarrow reads them again
        first, jobs = jobs_of(lambda: read_published(spark, out, table))
        assert jobs == [], table
        for f in first.inputFiles():
            assert pub._FILE_SCHEMAS[os.path.abspath(f.replace("file://", ""))]
        again, jobs = jobs_of(lambda: read_published(spark, out, table))
        assert jobs == [], table
        _assert_same(again, _inferred(spark, out, table))
    assert read_published(spark, out, "bykey").schema["key_bucket"].dataType \
        == _inferred(spark, out, "bykey").schema["key_bucket"].dataType


def test_cold_map_reads_footers_on_the_driver(spark, tmp_path, jobs_of, monkeypatch):
    out = str(tmp_path / "store")
    mk = _layouts(spark)["byheight"]
    publish_batch(spark, {"t": mk(0, 200)}, out, pks={"t": ("hash",)})
    monkeypatch.setattr(pub, "_FILE_SCHEMAS", {})
    got, jobs = jobs_of(lambda: read_published(spark, out, "t"))
    assert jobs == []
    assert len(pub._FILE_SCHEMAS) == len(got.inputFiles())
    _assert_same(got, _inferred(spark, out, "t"))


def test_all_pruned_where_keeps_full_schema_without_a_job(spark, tmp_path, jobs_of):
    out = str(tmp_path / "store")
    mk = _layouts(spark)["byheight"]
    publish_batch(spark, {"t": mk(0, 200)}, out, pks={"t": ("hash",)})
    empty, jobs = jobs_of(
        lambda: read_published(spark, out, "t", where={"height": (10**9, None)})
    )
    assert jobs == []
    assert empty.schema == _inferred(spark, out, "t").schema
    assert "height_bucket" in empty.columns
    assert empty.count() == 0


def test_file_without_spark_key_falls_back_to_inference(spark, tmp_path):
    out = str(tmp_path / "store")
    ensure_manifest(out)
    tdir = os.path.join(out, "t.parquet", "height_bucket=3")
    os.makedirs(tdir)
    pq.write_table(
        pa.table({"hash": ["a", "b"], "height": [150, 151]}),
        os.path.join(tdir, "part-arrow.parquet"),
    )
    pub._commit_delta(
        out, 2, {"t": ["height_bucket=3/part-arrow.parquet"]}, {}, {}
    )
    paths = [os.path.join(tdir, "part-arrow.parquet")]
    assert pub._data_schema(paths) is None
    _assert_same(read_published(spark, out, "t"), _inferred(spark, out, "t"))


def test_disagreeing_footers_fall_back_to_inference(spark, tmp_path):
    out = str(tmp_path / "store")
    pks = {"t": ("hash",)}
    base = _rows(spark, 0, 50).select("hash", "height")
    publish_batch(spark, {"t": base}, out, pks=pks)
    wider = _rows(spark, 50, 100).select("hash", "height", "amount")
    publish_batch(spark, {"t": wider}, out, pks=pks)
    tdir = os.path.join(out, "t.parquet")
    files = pub._live_files(out, pub._latest_version(out), "t")
    assert pub._data_schema([os.path.join(tdir, f) for f in files]) is None
    _assert_same(read_published(spark, out, "t"), _inferred(spark, out, "t"))
