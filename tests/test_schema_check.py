"""Schema guard (sources/schema_check.py — Migration.hs check-schema
parity): a streamed store passes; drifted stores are refused with a
per-column report."""

import os

import pytest
from pyspark.sql import functions as F

from chainweb_data_spark.fixtures.generate import generate_raw_rows
from chainweb_data_spark.ingest.transforms import payload_to_tables
from chainweb_data_spark.schemas.payload import RAW_SCHEMA
from chainweb_data_spark.sources.schema_check import check_store, check_table_schema
from chainweb_data_spark.streaming.listen import TABLE_PKS
from chainweb_data_spark.streaming.publish import publish_batch


@pytest.mark.heavy
def test_streamed_store_passes(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("schema") / "tables")
    rows = generate_raw_rows(n_chains=1, max_height=80, seed=3)
    raw = spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in rows], RAW_SCHEMA
    )
    publish_batch(spark, payload_to_tables(raw, event_min_height=60), out)
    reports = check_store(spark, out)
    assert set(reports) == set(TABLE_PKS)
    assert all(r.ok for r in reports.values())
    # partition columns read back typed by directory inference; still listed
    blocks = reports["blocks"]
    assert not blocks.missing and not blocks.mistyped


def test_drifted_store_refused(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("schema2") / "tables")
    # minerkeys with a missing column and a mistyped one
    bad = spark.range(0, 5).select(
        F.col("id").cast("int").alias("block"),  # should be string
        F.lit("b").alias("key_bucket"),
        # 'key' column absent entirely
    )
    bad.write.parquet(os.path.join(out, "minerkeys.parquet"))
    rep = check_table_schema(
        spark, os.path.join(out, "minerkeys.parquet"), "minerkeys"
    )
    assert rep.missing == ["key"]
    assert [(c, w) for c, w, _ in rep.mistyped] == [("block", "string")]
    with pytest.raises(ValueError, match="schema drift"):
        check_store(spark, out)


def test_extra_columns_tolerated(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("schema3"))
    df = spark.range(0, 3).select(
        F.concat(F.lit("b"), F.col("id")).alias("block"),
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.lit("b").alias("key_bucket"),
        F.lit(1).alias("added_later"),  # forward-compatible extra
    )
    p = os.path.join(out, "minerkeys.parquet")
    df.write.parquet(p)
    rep = check_table_schema(spark, p, "minerkeys")
    assert rep.ok and rep.extra == ["added_later"]


@pytest.mark.heavy
def test_curation_store_guard(spark, tmp_path):
    """check_curation_store passes on a store the sink just wrote (all
    eight tables, declared vs stored), and refuses a drifted table with
    the reference's refuse-to-run behavior."""
    import pyspark.sql.functions as F
    import pytest

    from chainweb_data_spark.sources.schema_check import check_curation_store
    from chainweb_data_spark.streaming.curation import curate_batch

    out = str(tmp_path / "cur")
    rows = [
        (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa w%d" % i)
        for i in range(5)
    ]
    curate_batch(
        spark,
        spark.createDataFrame(rows, "doc_id long, text string"),
        out,
        batch_id=0,
        min_quality=0.3,
    )
    reports = check_curation_store(spark, out)
    assert set(reports) == {
        "curated_docs",
        "curation_rejects",
        "content_hashes",
        "corpus_stats",
        "curation_log",
        "minhash_bands",
        "shingle_sets",
        "bucket_counts",
    }
    assert all(r.ok for r in reports.values())
    # drift: retype a column in one table -> loud refusal naming it
    # (materialize before overwriting the directory the plan reads from)
    log_rows = spark.read.parquet(out + "/curation_log.parquet").collect()
    bad = spark.createDataFrame(log_rows).withColumn(
        "n_kept", F.col("n_kept").cast("string")
    )
    bad.write.mode("overwrite").parquet(out + "/curation_log.parquet")
    with pytest.raises(ValueError, match="curation_log.n_kept"):
        check_curation_store(spark, out)
