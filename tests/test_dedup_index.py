"""Incremental MinHash dedup index (streaming/dedup_index.py): cross-batch
near-dup detection, within-batch detection, replay idempotence, the
historical hot-bucket rail, and agreement with the batch operator on the
union corpus."""

import os

import pytest
from pyspark.sql import functions as F

from chainweb_data_spark.operators import dedup as dd
from chainweb_data_spark.streaming.dedup_index import (
    BANDS_TABLE,
    COUNTS_TABLE,
    SETS_TABLE,
    update_dedup_index,
)
from chainweb_data_spark.streaming.publish import read_published

BASE_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _flags(df):
    return sorted((r["doc_id"], r["dup_of"]) for r in df.collect())


@pytest.mark.heavy
def test_cross_batch_and_internal_flags(spark, tmp_path):
    out = str(tmp_path / "idx")
    # batch 0: two distinct docs
    b0 = _docs(
        spark,
        [
            (1, BASE_TEXT),
            (2, "one two three four five six seven eight nine ten"),
        ],
    )
    f0 = update_dedup_index(spark, b0, out, batch_id=0)
    assert _flags(f0) == []
    # batch 1: near-dup of doc 1 (one appended token), a within-batch
    # near-dup pair (10 and 11), and a fresh doc
    b1 = _docs(
        spark,
        [
            (10, BASE_TEXT + " tail"),
            (11, BASE_TEXT + " tail extra"),
            (12, "completely different words with no shared trigrams at all"),
        ],
    )
    f1 = update_dedup_index(spark, b1, out, batch_id=1)
    got = _flags(f1)
    assert (10, 1) in got          # cross-batch: history doc is the dup_of
    assert (11, 10) in got         # within-batch: earlier (min-id) doc wins
    assert not any(d == 12 for d, _ in got)
    # all three tables exist and carry the expected PKs
    for t in (BANDS_TABLE, SETS_TABLE, COUNTS_TABLE):
        assert os.path.exists(os.path.join(out, t))


@pytest.mark.heavy
def test_replay_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "idx")
    b0 = _docs(spark, [(1, BASE_TEXT)])
    b1 = _docs(spark, [(10, BASE_TEXT + " tail")])
    update_dedup_index(spark, b0, out, batch_id=0)
    first = _flags(update_dedup_index(spark, b1, out, batch_id=1))
    n_bands = spark.read.parquet(os.path.join(out, BANDS_TABLE)).count()
    n_counts = spark.read.parquet(os.path.join(out, COUNTS_TABLE)).count()
    # replay the same batch: identical flags, no table growth
    replay = _flags(update_dedup_index(spark, b1, out, batch_id=1))
    assert replay == first == [(10, 1)]
    assert spark.read.parquet(os.path.join(out, BANDS_TABLE)).count() == n_bands
    assert (
        spark.read.parquet(os.path.join(out, COUNTS_TABLE)).count() == n_counts
    )


@pytest.mark.heavy
def test_string_ids_flag_and_replay(spark, tmp_path):
    """Regression: key_bucket was pmod(id, 16), which assumed numeric ids
    — string ids (URLs, content hashes) crashed the fold under ANSI mode,
    and under non-ANSI every key_bucket went NULL, emptying the merge
    probe's pruned view so each replay re-appended duplicates.  The
    xxhash64-of-string bucket must flag and replay exactly like the
    numeric path."""
    out = str(tmp_path / "sidx")
    b0 = spark.createDataFrame(
        [("url://a", BASE_TEXT)], "doc_id string, text string"
    )
    b1 = spark.createDataFrame(
        [("url://b", BASE_TEXT + " tail")], "doc_id string, text string"
    )
    update_dedup_index(spark, b0, out, batch_id=0)
    first = _flags(update_dedup_index(spark, b1, out, batch_id=1))
    assert first == [("url://b", "url://a")]
    n_sets = spark.read.parquet(os.path.join(out, SETS_TABLE)).count()
    replay = _flags(update_dedup_index(spark, b1, out, batch_id=1))
    assert replay == first
    assert spark.read.parquet(os.path.join(out, SETS_TABLE)).count() == n_sets


def test_corpus_stats_empty_before_first_batch(spark, tmp_path):
    """A monitoring/mixing poller reading corpus_stats before the first
    fold gets an EMPTY totals frame with the full schema, not a
    PATH_NOT_FOUND crash."""
    from chainweb_data_spark.streaming.corpus_stats import corpus_stats

    got = corpus_stats(spark, str(tmp_path / "nostats"))
    assert got.count() == 0
    assert got.columns == ["lang", "n_docs", "n_tokens", "n_chars"]


def test_corpus_stats_count_each_doc_once_after_compaction(spark, tmp_path):
    """Totals read the committed snapshot: after a compaction the files it
    replaced stay on disk until vacuum's grace window passes, and a
    directory read would count their rows twice."""
    from chainweb_data_spark.streaming.corpus_stats import (
        corpus_stats,
        stats_delta,
    )
    from chainweb_data_spark.streaming.publish import (
        compact_published,
        publish_batch,
    )

    out = str(tmp_path / "stats")
    for b in range(3):
        docs = spark.createDataFrame(
            [(2 * b, "en", "one two"), (2 * b + 1, "en", "three")],
            "doc_id long, lang string, text string",
        )
        publish_batch(
            spark,
            {"corpus_stats": stats_delta(docs, b)},
            out,
            pks={"corpus_stats": ("batch_id", "lang")},
        )
    assert compact_published(spark, out, "corpus_stats")
    got = [tuple(r) for r in corpus_stats(spark, out).collect()]
    assert got == [("en", 6, 9, 36)]


def _batch_pairs(df, id_col, text_col, min_jaccard, k=3, num_hashes=16, bands=4):
    """The batch MinHash LSH reference the incremental index is checked
    against: shingle → signature → banded candidates, verified with
    exact Jaccard on the candidates only."""
    sets_ = dd.shingle_set_arrays(df, id_col, text_col, k).cache()
    sig = dd.minhash_signatures_sets(sets_, id_col, num_hashes)
    cand = dd.lsh_candidate_pairs(sig, id_col, num_hashes, bands)
    jac = dd.jaccard_for_pairs_sets(sets_, cand, id_col)
    return jac.filter(F.col("jaccard") >= min_jaccard)


@pytest.mark.heavy
def test_matches_batch_operator_on_union(spark, tmp_path):
    """Feeding the corpus in two batches flags exactly the pairs the batch
    operator finds on the union (oriented newer←older)."""
    out = str(tmp_path / "idx")
    rows = [
        (1, BASE_TEXT),
        (2, "one two three four five six seven eight nine ten"),
        (10, BASE_TEXT + " tail"),
        (11, "one two three four five six seven eight nine ten eleven"),
        (12, "unrelated content entirely here made of other tokens"),
    ]
    b0, b1 = rows[:2], rows[2:]
    update_dedup_index(spark, _docs(spark, b0), out, batch_id=0)
    inc_flags = _flags(update_dedup_index(spark, _docs(spark, b1), out, batch_id=1))

    batch_pairs = (
        _batch_pairs(_docs(spark, rows), "doc_id", "text", min_jaccard=0.2)
        .select("id_a", "id_b")
        .collect()
    )
    expected = sorted((max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])) for r in batch_pairs)
    assert inc_flags == expected


def test_historical_hot_bucket_rail(spark, tmp_path):
    """A bucket that went hot in an earlier batch stays excluded from later
    probes (no quadratic candidate fan-out against boilerplate history)."""
    out = str(tmp_path / "idx")
    # 30 identical docs blow past the cap (max_bucket_size=8)
    boiler = _docs(spark, [(i, BASE_TEXT) for i in range(30)])
    update_dedup_index(spark, boiler, out, batch_id=0, max_bucket_size=8)
    probe = _docs(spark, [(100, BASE_TEXT + " tail")])
    flags = _flags(
        update_dedup_index(spark, probe, out, batch_id=1, max_bucket_size=8)
    )
    # every band bucket of the probe doc collides with the hot boilerplate
    # buckets — all dropped whole, so no flags (the batch gate's cap
    # semantics, extended across time)
    assert flags == []


def test_replay_idempotent_at_the_hot_cap_boundary(spark, tmp_path):
    """The review scenario: history sits just under the cap, the batch
    pushes the bucket over it.  The replay must still see only PRIOR
    batches' counts (its own first-run counts excluded) and re-flag the
    same rows."""
    out = str(tmp_path / "idx")
    cap = 8
    # history: 7 near-identical docs → bucket occupancy 7 <= cap
    hist = _docs(spark, [(i, BASE_TEXT) for i in range(7)])
    update_dedup_index(spark, hist, out, batch_id=0, max_bucket_size=cap)
    # batch 1: 4 more near-dups → post-merge occupancy 11 > cap
    b1 = _docs(spark, [(100 + i, BASE_TEXT + " tail") for i in range(4)])
    first = _flags(update_dedup_index(spark, b1, out, batch_id=1, max_bucket_size=cap))
    assert first  # cross-era flags exist on the first run
    replay = _flags(update_dedup_index(spark, b1, out, batch_id=1, max_bucket_size=cap))
    assert replay == first


# ---------------------------------------------------------------------------
# incremental corpus stats (streaming/corpus_stats.py)
# ---------------------------------------------------------------------------


def test_corpus_stats_accumulate_and_replay(spark, tmp_path):
    from chainweb_data_spark.streaming.corpus_stats import (
        corpus_stats,
        update_corpus_stats,
    )

    out = str(tmp_path / "stats")
    b0 = spark.createDataFrame(
        [(1, "en", "one two three"), (2, "fr", "un deux"), (3, None, "x y z w")],
        "doc_id long, lang string, text string",
    )
    b1 = spark.createDataFrame(
        [(4, "en", "four five")], "doc_id long, lang string, text string"
    )
    update_corpus_stats(spark, b0, out, batch_id=0)
    update_corpus_stats(spark, b1, out, batch_id=1)
    update_corpus_stats(spark, b1, out, batch_id=1)  # replay: no double count
    got = {
        r["lang"]: (r["n_docs"], r["n_tokens"], r["n_chars"])
        for r in corpus_stats(spark, out).collect()
    }
    assert got["en"] == (2, 5, 22)   # 3+2 tokens, 13+9 chars
    assert got["fr"] == (1, 2, 7)
    assert got[None] == (1, 4, 7)    # NULL language is reported, not dropped


def test_batch_writes_one_file_per_table(spark, tmp_path):
    """The file-growth bound the streaming rehearsal motivated: each batch
    adds at most ONE data file per TOUCHED BUCKET DIR per table (the
    single coalesced task still splits across partitionBy dirs — ≤16
    key_buckets — where the pre-fix writer multiplied that by the shuffle
    task count).  Probe cost is O(index files) at the parquet-open layer,
    so this discipline IS the scale property."""
    out = str(tmp_path / "idx")
    n_batches = 3
    for b in range(n_batches):
        docs = _docs(
            spark, [(b * 10 + i, BASE_TEXT + f" uniq{b}_{i}") for i in range(5)]
        )
        update_dedup_index(spark, docs, out, batch_id=b)
    caps = {"minhash_bands": 16, "shingle_sets": 16, "bucket_counts": 1}
    for table, per_batch in caps.items():
        n_files = sum(
            1
            for root, _d, files in os.walk(os.path.join(out, f"{table}.parquet"))
            for f in files
            if not f.startswith(("_", "."))
        )
        assert n_files <= per_batch * n_batches, (table, n_files)


# ---------------------------------------------------------------------------
# round-6: the foreachBatch sink wrapper + manifest-aware compaction
# ---------------------------------------------------------------------------


def _write_doc_feed(tmp, name, batches):
    import json as _json

    feed = os.path.join(tmp, name)
    os.makedirs(feed, exist_ok=True)
    for i, rows in enumerate(batches):
        p = os.path.join(feed, f"b{i:03d}.json")
        with open(p, "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        t = 1_700_000_000 + i * 10
        os.utime(p, (t, t))
    return feed


def _run_sink(spark, feed, out, ckpt, flags_dir, **kw):
    from chainweb_data_spark.streaming.dedup_index import dedup_index_sink

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )
    q = dedup_index_sink(stream, out, ckpt, flags_dir=flags_dir, **kw)
    q.awaitTermination(300)
    return q


def test_sink_wrapper_end_to_end(spark, tmp_path):
    """dedup_index_sink drives update_dedup_index through a real
    foreachBatch stream: per-file micro-batches, engine batch ids,
    flags published idempotently into flags_dir."""
    out, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    flags_dir = str(tmp_path / "flags")
    feed = _write_doc_feed(
        str(tmp_path),
        "docfeed",
        [
            [(1, BASE_TEXT), (2, "one two three four five six seven eight")],
            [(10, BASE_TEXT + " tail"), (11, BASE_TEXT + " tail extra")],
        ],
    )
    _run_sink(spark, feed, out, ckpt, flags_dir)
    got = sorted(
        (r["doc_id"], r["dup_of"])
        for r in read_published(spark, flags_dir, "dedup_flags").collect()
    )
    assert (10, 1) in got and (11, 10) in got
    # restart the SAME checkpoint with one more file: only the new batch
    # processes (batch ids continue), and prior flags are not duplicated
    with open(os.path.join(feed, "b002.json"), "w") as f:
        import json as _json

        f.write(_json.dumps({"doc_id": 20, "text": BASE_TEXT + " tail two"}) + "\n")
    _run_sink(spark, feed, out, ckpt, flags_dir)
    flags2 = read_published(spark, flags_dir, "dedup_flags")
    pairs = sorted((r["doc_id"], r["dup_of"]) for r in flags2.collect())
    assert len(pairs) == len(set(pairs))  # PK merge: no duplicate flags
    assert any(d == 20 for d, _ in pairs)  # the new batch was processed


@pytest.mark.heavy
def test_sink_wrapper_replay_after_crash(spark, tmp_path):
    """A batch whose foreachBatch ran but whose checkpoint commit did not
    land is replayed with the SAME batch_id on restart — the index merges
    nothing twice and the flags are byte-identical (the idempotence the
    per-batch tests pin, here exercised through the wrapper's plumbing)."""
    out, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    flags_dir = str(tmp_path / "flags")
    feed = _write_doc_feed(
        str(tmp_path),
        "crashfeed",
        [
            [(1, BASE_TEXT)],
            [(10, BASE_TEXT + " tail")],
        ],
    )
    _run_sink(spark, feed, out, ckpt, flags_dir)
    n_bands = spark.read.parquet(os.path.join(out, BANDS_TABLE)).count()
    flags_before = sorted(
        (r["doc_id"], r["dup_of"])
        for r in read_published(spark, flags_dir, "dedup_flags").collect()
    )
    # simulate the crash window: delete the LAST checkpoint commit marker so
    # the engine replays the final batch with its original batch_id
    commits = os.path.join(ckpt, "commits")
    last = sorted(
        f for f in os.listdir(commits) if not f.startswith(".")
    )[-1]
    os.remove(os.path.join(commits, last))
    # the Hadoop local FS keeps a .N.crc sidecar; with it left behind, the
    # replay's atomic rename of the re-written commit fails and Spark
    # misreports it as concurrent checkpoint use
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _run_sink(spark, feed, out, ckpt, flags_dir)
    assert spark.read.parquet(os.path.join(out, BANDS_TABLE)).count() == n_bands
    flags_after = sorted(
        (r["doc_id"], r["dup_of"])
        for r in read_published(spark, flags_dir, "dedup_flags").collect()
    )
    assert flags_after == flags_before


@pytest.mark.heavy
def test_compaction_preserves_rows_and_bounds_files(spark, tmp_path):
    """compact_every folds the three tables' files down through a manifest
    flip: rows identical before/after, live file count drops to one per
    partition dir, and later probes still flag correctly."""
    from chainweb_data_spark.streaming.publish import read_manifest

    out = str(tmp_path / "idx")
    texts = {}
    for b in range(6):
        docs = _docs(
            spark,
            [(b * 100 + i, f"{BASE_TEXT} batch{b} doc{i} filler") for i in range(4)],
        )
        update_dedup_index(spark, docs, out, batch_id=b, compact_every=4)
    # batch 4 triggered compaction (4 % 4 == 0): live bands files ≤ one per
    # partition dir touched + the two batches since
    m = read_manifest(out)
    live = m["tables"]["minhash_bands"]
    import collections

    per_dir = collections.Counter(os.path.dirname(f) for f in live)
    # dirs compacted at batch 4 hold 1 file + ≤2 appended since (batches 5)
    assert max(per_dir.values()) <= 3
    # rows preserved exactly through the compaction flip: 6 batches × 4
    # docs × 4 bands, via the manifest view every probe uses
    from chainweb_data_spark.streaming.publish import read_published, vacuum

    assert read_published(spark, out, "minhash_bands").count() == 6 * 4 * 4
    # the auto-vacuum keeps MAINT_KEEP_VERSIONS snapshots of replaced
    # files for pinned readers/time travel, so a RAW directory read may
    # over-count until an explicit zero-horizon vacuum; after it the
    # directory holds exactly the live snapshot
    vacuum(out)
    assert (
        spark.read.parquet(os.path.join(out, BANDS_TABLE)).count() == 6 * 4 * 4
    )
    # and the index still works: a near-dup of batch 0's doc 0 flags
    probe = _docs(spark, [(999, f"{BASE_TEXT} batch0 doc0 filler tail")])
    got = _flags(update_dedup_index(spark, probe, out, batch_id=6, compact_every=4))
    assert (999, 0) in got
