"""The store's one on-disk format (streaming/publish.py ``FORMAT``): every
writer stamps its commits ``"format": 1``, every reader refuses anything
else with ``StoreFormatError``, and a log-less directory that already
holds table data is refused instead of adopted."""

import json
import os

import pytest
from pyspark.sql import functions as F

import chainweb_data_spark.streaming.publish as pub
from chainweb_data_spark.sources.maintenance import expire_files, rewrite_zordered
from chainweb_data_spark.streaming.publish import (
    StoreFormatError,
    compact_published,
    history,
    pin_version,
    publish_batch,
    read_manifest,
    read_published,
    rewrite_published_many,
    unpin_version,
    vacuum,
)

PK = {"t": ("id",)}


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("height_bucket")
    )


def _commits(out):
    mdir = os.path.join(out, "_manifest")
    return {
        int(n[1:-5]): json.load(open(os.path.join(mdir, n)))
        for n in os.listdir(mdir)
        if n.startswith("v") and n.endswith(".json")
    }


def test_every_writer_stamps_format_1(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "w")
    publish_batch(spark, {"t": _batch(spark, 0, 20)}, out, pks=PK)
    publish_batch(spark, {"t": _batch(spark, 20, 40)}, out, pks=PK)
    compact_published(spark, out, "t", min_files=1)
    rewrite_published_many(
        spark, out, {"t": _batch(spark, 0, 40)},
        extra_appends={"u": _batch(spark, 0, 3)},
    )
    rewrite_zordered(spark, out, "t", ["id"], target_files=4)
    # every z-file but the one holding the max id lies wholly below it
    assert expire_files(spark, out, "t", "id", 39)["removed"] >= 1
    v = pub._latest_version(out)
    pin_version(out, v, name="lease")
    unpin_version(out, v)
    # a spilled delta
    monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", 1)
    publish_batch(spark, {"t": _batch(spark, 40, 50)}, out, pks=PK)
    monkeypatch.setattr(pub, "DELTA_SIDECAR_MIN_FILES", 10**9)
    # metadata-only deltas up to the next checkpoint
    while pub._latest_version(out) < pub.CHECKPOINT_EVERY:
        i = pub._latest_version(out)
        pub._commit_delta(
            out, i + 1, {"u": [f"synthetic-{i}.parquet"]}, {}, {},
            op="publish",
        )

    commits = _commits(out)
    assert sorted(commits) == list(range(1, pub.CHECKPOINT_EVERY + 1))
    assert all(c["format"] == 1 for c in commits.values()), {
        v: c.get("format") for v, c in commits.items()
    }
    ops = {c["op"] for c in commits.values()}
    assert {
        "create", "publish", "compact", "rewrite", "zorder", "expire",
        "pin", "unpin",
    } <= ops
    assert any("delta" in c for c in commits.values())
    assert "ckpt" in commits[1] and "ckpt" in commits[pub.CHECKPOINT_EVERY]


@pytest.mark.parametrize("stripped", [1, 2])
def test_unstamped_commit_is_refused(spark, tmp_path, stripped):
    out = str(tmp_path / "s")
    publish_batch(spark, {"t": _batch(spark, 0, 10)}, out, pks=PK)
    assert pub._latest_version(out) == 2
    path = os.path.join(out, "_manifest", pub._commit_name(stripped))
    with open(path) as f:
        c = json.load(f)
    del c["format"]
    with open(path, "w") as f:
        json.dump(c, f)
    pub._SNAP_CACHE.clear()  # a fresh reader: nothing resolved in memory
    for read in (
        lambda: read_manifest(out),
        lambda: read_published(spark, out, "t"),
        lambda: history(out),
        lambda: vacuum(out),
    ):
        with pytest.raises(StoreFormatError) as e:
            read()
        assert e.value.path == path and e.value.version == stripped
        assert path in str(e.value) and f"version {stripped}" in str(e.value)


def test_logless_table_data_is_refused_not_adopted(spark, tmp_path):
    out = str(tmp_path / "l")
    tdir = os.path.join(out, "t.parquet")
    _batch(spark, 0, 10).write.parquet(tdir)
    with pytest.raises(StoreFormatError) as e:
        publish_batch(spark, {"t": _batch(spark, 10, 20)}, out, pks=PK)
    assert e.value.path == tdir and tdir in str(e.value)
    assert not os.path.exists(os.path.join(out, "_manifest", "v000000001.json"))
