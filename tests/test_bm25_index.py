"""Persisted BM25 index (operators/bm25_index.py): probe ≡ corpus scan
bit-for-bit, append-only incremental parity, crash-replay idempotence,
and the scale property the index exists for — the probe reads ONLY the
query terms' key_bucket partitions, never the whole postings table."""

import os

import pytest
from pyspark.sql import functions as F

from chainweb_data_spark.operators.bm25_index import (
    _term_bucket_py,
    bm25_build_index,
    bm25_index_stats,
    bm25_search_indexed,
    bm25_update_index,
)
from chainweb_data_spark.operators.text import bm25_search
from chainweb_data_spark.streaming.publish import read_manifest

from tests.conftest import SF001
from tests.test_layout import _scan_files_read

QUERY = "merge scan table"


def _docs(spark):
    return spark.read.parquet(os.path.join(SF001, "documents.parquet"))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bm25idx"))
    bm25_build_index(spark, _docs(spark), out, source_version=42)
    return out


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_probe_matches_corpus_scan_bitwise(spark, index_dir):
    scan = bm25_search(_docs(spark), "doc_id", "text", QUERY, k=10)
    probe = bm25_search_indexed(spark, index_dir, QUERY, k=10)
    assert _pairs(probe) == _pairs(scan)


@pytest.mark.heavy
def test_incremental_batches_match_full_build(spark, index_dir, tmp_path):
    out = str(tmp_path / "inc")
    docs = _docs(spark)
    for i in range(3):
        bm25_update_index(
            spark,
            docs.filter(F.col("doc_id") % 3 == i),
            out,
            batch_id=i,
            source_version=100 + i,
        )
    assert _pairs(bm25_search_indexed(spark, out, QUERY, k=10)) == _pairs(
        bm25_search_indexed(spark, index_dir, QUERY, k=10)
    )
    stats = bm25_index_stats(spark, out)
    assert stats["n_batches"] == 3
    assert stats["source_versions"] == [100, 101, 102]
    assert stats == {
        **bm25_index_stats(spark, index_dir),
        "n_batches": 3,
        "source_versions": [100, 101, 102],
    }


def test_replay_same_batch_is_noop(spark, tmp_path):
    out = str(tmp_path / "replay")
    docs = _docs(spark)
    bm25_update_index(spark, docs, out, batch_id=0)
    before = read_manifest(out)
    stats_before = bm25_index_stats(spark, out)
    # crash replay: the SAME batch arrives again — PK anti-joins drop
    # every row, no version is burned, totals don't double
    bm25_update_index(spark, docs, out, batch_id=0)
    assert read_manifest(out)["version"] == before["version"]
    assert bm25_index_stats(spark, out) == stats_before


def test_probe_scans_only_matching_buckets(spark, index_dir):
    manifest = read_manifest(index_dir)
    postings = manifest["tables"]["bm25_postings"]
    dft = manifest["tables"]["bm25_df"]
    # the fixture corpus spreads terms over many buckets — the pruning
    # claim is vacuous otherwise
    all_buckets = {f.split(os.sep, 1)[0] for f in postings}
    assert len(all_buckets) > 8
    want = {f"key_bucket={_term_bucket_py(t)}" for t in QUERY.split(" ")}
    matching = [
        f for f in postings if f.split(os.sep, 1)[0] in want
    ] + [f for f in dft if f.split(os.sep, 1)[0] in want]
    meta = manifest["tables"]["bm25_meta"]
    probe = bm25_search_indexed(spark, index_dir, QUERY, k=10)
    n_read = _scan_files_read(probe)
    total = len(postings) + len(dft) + len(meta)
    assert n_read <= len(matching) + len(meta)
    assert n_read < total


def test_empty_query_refused(spark, index_dir):
    with pytest.raises(ValueError, match="empty query"):
        bm25_search_indexed(spark, index_dir, "  ")


def test_missing_index_refused(spark, tmp_path):
    with pytest.raises(ValueError, match="bm25_meta"):
        bm25_search_indexed(spark, str(tmp_path / "nothing"), QUERY)


def test_term_absent_from_index(spark, index_dir):
    # a query of out-of-vocabulary terms scores nothing — empty result,
    # same contract as bm25_search over a corpus without the terms
    out = bm25_search_indexed(spark, index_dir, "zzzznotaterm", k=5)
    assert out.count() == 0


@pytest.mark.heavy
def test_bm25_index_sink_streams_to_same_index(spark, tmp_path):
    """The foreachBatch wrapper: a 3-file document stream builds, batch by
    checkpointed batch, an index whose probe answers exactly like the
    one-shot full build — and a restart over the same feed replays to a
    no-op (checkpointed engine batch ids + PK merges)."""
    import json as _json

    from chainweb_data_spark.operators.bm25_index import bm25_index_sink

    docs = _docs(spark).filter(F.col("doc_id") < 120).collect()
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for i in range(3):
        p = os.path.join(feed, f"b{i:03d}.json")
        with open(p, "w") as f:
            for r in docs:
                if r["doc_id"] % 3 == i:
                    f.write(
                        _json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                        + "\n"
                    )
        t = 1_700_000_000 + i * 10
        os.utime(p, (t, t))

    out = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(feed)
        )
        q = bm25_index_sink(stream, out, ckpt, source_version=3)
        q.awaitTermination(300)

    _run()
    stats = bm25_index_stats(spark, out)
    assert stats["n_docs"] == 120 and stats["n_batches"] == 3
    assert stats["source_versions"] == [3]

    full = str(tmp_path / "full")
    bm25_build_index(
        spark,
        _docs(spark).filter(F.col("doc_id") < 120),
        full,
    )
    assert _pairs(bm25_search_indexed(spark, out, QUERY, k=10)) == _pairs(
        bm25_search_indexed(spark, full, QUERY, k=10)
    )

    # restart over the SAME feed: checkpoint remembers the batches, and
    # even a re-fed batch would PK-merge away — index unchanged
    before = read_manifest(out)["version"]
    _run()
    assert read_manifest(out)["version"] == before
    assert bm25_index_stats(spark, out) == stats


def test_batched_probe_matches_single_probes(spark, index_dir):
    """One index pass for a query batch: every query's slice must equal
    its single-probe result exactly, and the batch's scan must not read
    more files than the union of the queries' buckets allows."""
    from chainweb_data_spark.operators.bm25_index import (
        bm25_search_indexed_many,
    )

    queries = {
        "q0": QUERY,
        "q1": "index commit log",
        "q2": "vector quantizer",
    }
    batch = bm25_search_indexed_many(spark, index_dir, queries, k=5)
    rows = batch.collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["rank"])
        )
    for qid, q in queries.items():
        single = bm25_search_indexed(spark, index_dir, q, k=5).collect()
        want = [
            (r["doc_id"], r["score"], i + 1) for i, r in enumerate(single)
        ]
        assert got.get(qid, []) == want, qid

    # scan economy: files read bounded by the union of matching buckets
    manifest = read_manifest(index_dir)
    terms = {t for q in queries.values() for t in q.split(" ") if t}
    want_dirs = {f"key_bucket={_term_bucket_py(t)}" for t in terms}
    matching = [
        f
        for tbl in ("bm25_postings", "bm25_df")
        for f in manifest["tables"][tbl]
        if f.split(os.sep, 1)[0] in want_dirs
    ]
    n_meta = len(manifest["tables"]["bm25_meta"])
    probe = bm25_search_indexed_many(spark, index_dir, queries, k=5)
    assert _scan_files_read(probe) <= len(matching) + n_meta

    import pytest as pt

    with pt.raises(ValueError, match="empty query"):
        bm25_search_indexed_many(spark, index_dir, {"bad": "  "})


@pytest.mark.heavy
def test_compact_every_bounds_files_probe_identical(spark, tmp_path):
    """r9 (r8 verdict #3): N streamed batches with compact_every must hold
    the live file count far below the unbounded twin's O(batches ×
    buckets) accretion, and the probe must stay BITWISE identical —
    compaction moves bytes, never rows."""
    docs = _docs(spark)
    bounded = str(tmp_path / "bounded")
    unbounded = str(tmp_path / "unbounded")
    n_batches = 9  # last batch id hits the compact_every=4 boundary
    for i in range(n_batches):
        part = docs.filter(F.col("doc_id") % n_batches == i)
        bm25_update_index(spark, part, bounded, batch_id=i, compact_every=4)
        bm25_update_index(spark, part, unbounded, batch_id=i)
    man_b = read_manifest(bounded)
    man_u = read_manifest(unbounded)
    n_b = sum(len(v) for v in man_b["tables"].values())
    n_u = sum(len(v) for v in man_u["tables"].values())
    assert n_b < n_u / 3, (n_b, n_u)
    assert _pairs(bm25_search_indexed(spark, bounded, QUERY, k=10)) == _pairs(
        bm25_search_indexed(spark, unbounded, QUERY, k=10)
    )
    # stats fold the same meta rows either way
    assert bm25_index_stats(spark, bounded) == bm25_index_stats(
        spark, unbounded
    )


def _scan_rows_read(df) -> int:
    """Runtime `number of output rows` summed over the plan's parquet
    scans — rows SURVIVING row-group/page pruning, before Filter nodes."""
    from tests.test_layout import _sum_scan_metric

    return _sum_scan_metric(df, "numOutputRows")


def _mine_cobucket_terms(anchor: str, n: int, width: int) -> list[str]:
    """Words whose md5 prefix lands in the SAME key_bucket as ``anchor`` —
    fillers that can't be pruned away by bucket-directory pruning, so any
    rows-read reduction is attributable to WITHIN-bucket row-group order."""
    import hashlib as _h

    want = _h.md5(anchor.encode()).hexdigest()[:width]
    out = []
    i = 0
    while len(out) < n:
        w = f"w{i:06d}"
        if _h.md5(w.encode()).hexdigest()[:width] == want:
            out.append(w)
        i += 1
    return out


@pytest.mark.heavy
def test_term_sorted_files_prune_rows_within_bucket(spark, tmp_path):
    """r9 (r8 verdict #4): with postings written term-sorted, a probe's
    parquet scan must emit FEWER rows than the same index written in
    doc_id order — row-group/page min/max statistics prune the anchor
    term's rows to a contiguous run instead of scattering them across
    every row group of the bucket file.  Small parquet block size forces
    many row groups so the effect is observable at test scale."""
    import chainweb_data_spark.operators.bm25_index as bi

    anchor = "needle"
    fillers = _mine_cobucket_terms(anchor, 40, bi.BUCKET_HEX)
    # 2000 docs × (1 anchor + 12 co-bucket fillers): one bucket holds
    # ~26k postings, every one surviving directory pruning
    rows = [
        (i, " ".join([anchor] + [fillers[(i + j) % len(fillers)] for j in range(12)]))
        for i in range(2000)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    hconf = spark._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 4096)
    try:
        sorted_dir = str(tmp_path / "sorted")
        bm25_build_index(spark, docs, sorted_dir)
        unsorted_dir = str(tmp_path / "unsorted")
        orig = bi.POSTINGS_SORT
        bi.POSTINGS_SORT = ("doc_id", "term")  # the pre-r9 effective order
        try:
            bm25_build_index(spark, docs, unsorted_dir)
        finally:
            bi.POSTINGS_SORT = orig
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)

    probe_sorted = bm25_search_indexed(spark, sorted_dir, anchor, k=5)
    probe_unsorted = bm25_search_indexed(spark, unsorted_dir, anchor, k=5)
    # same answer, fewer rows surviving the scan
    assert _pairs(probe_sorted) == _pairs(probe_unsorted)
    r_sorted = _scan_rows_read(
        bm25_search_indexed(spark, sorted_dir, anchor, k=5)
    )
    r_unsorted = _scan_rows_read(
        bm25_search_indexed(spark, unsorted_dir, anchor, k=5)
    )
    assert r_sorted < r_unsorted / 2, (r_sorted, r_unsorted)
