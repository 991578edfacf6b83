"""Streaming curation sink (streaming/curation.py): stage ordering
(quality → exact → near-dup), cross-batch exact dedup against the hash
table, replay idempotence of every output table, and the foreachBatch
wrapper end-to-end."""

import pytest

import json as _json
import os

from pyspark.sql import functions as F

from chainweb_data_spark.streaming.curation import (
    CURATED_TABLE,
    HASHES_TABLE,
    REJECTS_TABLE,
    curate_batch,
    curation_sink,
)

BASE_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
OTHER_TEXT = "one two three four five six seven eight nine ten"
MIN_Q = 0.3  # BASE/OTHER score ≈ 0.367 (pass); "zz" scores ≈ 0.17 (fail)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(spark, out, table):
    p = os.path.join(out, table)
    if not os.path.exists(p):
        return []
    return sorted(r["doc_id"] for r in spark.read.parquet(p).collect())


def _rejects(spark, out):
    p = os.path.join(out, REJECTS_TABLE)
    if not os.path.exists(p):
        return []
    return sorted(
        (r["doc_id"], r["reason"]) for r in spark.read.parquet(p).collect()
    )


@pytest.mark.heavy
def test_stages_and_summary(spark, tmp_path):
    """One batch exercising all three reject stages at once: the junk doc
    falls at quality, the identical twin at exact (min-id canonical), the
    near-variant at the index probe — and the summary arithmetic agrees
    with the tables."""
    out = str(tmp_path / "cur")
    batch = _docs(
        spark,
        [
            (1, BASE_TEXT),
            (2, BASE_TEXT),            # exact dup of 1 (same hash)
            (3, BASE_TEXT + " tail"),  # near-dup of 1
            (4, OTHER_TEXT),           # clean keeper
            (5, "zz"),                 # quality reject
        ],
    )
    s = curate_batch(spark, batch, out, batch_id=0, min_quality=MIN_Q)
    assert s == {
        "batch_id": 0,
        "n_in": 5,
        "n_kept": 2,
        "n_quality": 1,
        "n_exact": 1,
        "n_contam": 0,
        "n_near": 1,
    }
    assert _ids(spark, out, CURATED_TABLE) == [1, 4]
    assert _rejects(spark, out) == [
        (2, "exact_dup"),
        (3, "near_dup"),
        (5, "quality"),
    ]
    # the hash table holds one canonical row per distinct admitted hash
    hashes = spark.read.parquet(os.path.join(out, HASHES_TABLE))
    assert hashes.count() == hashes.select("content_hash").distinct().count()


@pytest.mark.heavy
def test_cross_batch_exact_and_near(spark, tmp_path):
    """History wins: a later batch's identical copy flags exact_dup
    against the FIRST holder's id, and a near-variant flags near_dup —
    while whitespace/case variants of held content also hit the exact
    stage (the hash is over normalize_text)."""
    out = str(tmp_path / "cur")
    curate_batch(
        spark, _docs(spark, [(1, BASE_TEXT)]), out, batch_id=0, min_quality=MIN_Q
    )
    s = curate_batch(
        spark,
        _docs(
            spark,
            [
                (10, BASE_TEXT),                  # exact copy of held 1
                (11, BASE_TEXT.upper() + "  "),   # normalized-exact copy
                (12, BASE_TEXT + " tail"),        # near-dup of held 1
                (13, OTHER_TEXT),                 # fresh
            ],
        ),
        out,
        batch_id=1,
        min_quality=MIN_Q,
    )
    assert (s["n_exact"], s["n_near"], s["n_kept"]) == (2, 1, 1)
    rej = spark.read.parquet(os.path.join(out, REJECTS_TABLE))
    by_id = {r["doc_id"]: (r["reason"], r["detail"]) for r in rej.collect()}
    assert by_id[10] == ("exact_dup", "1")
    # 10 and 11 normalize to the SAME hash, so 11 chains to the batch
    # canonical (10), which itself chains to the historical holder (1)
    assert by_id[11] == ("exact_dup", "10")
    assert by_id[12][0] == "near_dup" and by_id[12][1].startswith("1:")
    assert _ids(spark, out, CURATED_TABLE) == [1, 13]


@pytest.mark.heavy
def test_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch with the same batch_id (the crash-replay path)
    returns the same summary and appends nothing to any table."""
    out = str(tmp_path / "cur")
    curate_batch(
        spark, _docs(spark, [(1, BASE_TEXT)]), out, batch_id=0, min_quality=MIN_Q
    )
    b1 = _docs(
        spark,
        [(10, BASE_TEXT + " tail"), (11, OTHER_TEXT), (12, BASE_TEXT)],
    )
    s1 = curate_batch(spark, b1, out, batch_id=1, min_quality=MIN_Q)
    snap = {
        t: sorted(map(tuple, spark.read.parquet(os.path.join(out, t)).collect()))
        for t in (CURATED_TABLE, REJECTS_TABLE, HASHES_TABLE)
    }
    s2 = curate_batch(spark, b1, out, batch_id=1, min_quality=MIN_Q)
    assert s2 == s1
    for t, before in snap.items():
        after = sorted(
            map(tuple, spark.read.parquet(os.path.join(out, t)).collect())
        )
        assert after == before, t


def test_corpus_stats_track_kept_only(spark, tmp_path):
    """The incremental stats see exactly the curated survivors — rejects
    of any stage never contribute tokens."""
    from chainweb_data_spark.streaming.corpus_stats import corpus_stats

    out = str(tmp_path / "cur")
    curate_batch(
        spark,
        _docs(spark, [(1, BASE_TEXT), (2, BASE_TEXT), (3, "zz")]),
        out,
        batch_id=0,
        min_quality=MIN_Q,
    )
    totals = corpus_stats(spark, out).collect()
    assert sum(r["n_docs"] for r in totals) == 1
    assert sum(r["n_tokens"] for r in totals) == 10  # BASE_TEXT only


@pytest.mark.heavy
def test_sink_wrapper_end_to_end(spark, tmp_path):
    """curation_sink drives curate_batch through a real foreachBatch
    stream: per-file micro-batches, engine batch ids, cross-batch dedup
    across triggers, and a restart that processes only the new file."""
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    batches = [
        [(1, BASE_TEXT), (2, "zz")],
        [(10, BASE_TEXT), (11, OTHER_TEXT)],
    ]
    for i, rows in enumerate(batches):
        with open(os.path.join(feed, f"b{i:03d}.json"), "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        t = 1_700_000_000 + i * 10
        os.utime(os.path.join(feed, f"b{i:03d}.json"), (t, t))
    out, ckpt = str(tmp_path / "cur"), str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(feed)
        )
        q = curation_sink(stream, out, ckpt, min_quality=MIN_Q)
        q.awaitTermination(300)

    _run()
    assert _ids(spark, out, CURATED_TABLE) == [1, 11]
    assert _rejects(spark, out) == [(2, "quality"), (10, "exact_dup")]
    # restart with one more file: only the new batch processes
    with open(os.path.join(feed, "b002.json"), "w") as f:
        f.write(_json.dumps({"doc_id": 20, "text": BASE_TEXT + " tail"}) + "\n")
    _run()
    assert _ids(spark, out, CURATED_TABLE) == [1, 11]
    assert (20, "near_dup") in _rejects(spark, out)


@pytest.mark.heavy
def test_atomic_commit_covers_all_four_tables(spark, tmp_path):
    """atomic=True (default) lands curated/rejects/hashes/stats in ONE
    manifest version; read_published sees exactly what plain reads see."""
    from chainweb_data_spark.streaming.publish import read_manifest, read_published

    out = str(tmp_path / "cur")
    curate_batch(
        spark,
        _docs(spark, [(1, BASE_TEXT), (2, BASE_TEXT), (3, "zz")]),
        out,
        batch_id=0,
        min_quality=MIN_Q,
    )
    m = read_manifest(out)
    # round 7: ONE commit covers all EIGHT tables — the five curation
    # tables AND the dedup index's three (unified log; the old two-log
    # "between the commits" crash window no longer exists)
    assert set(m["tables"]) == {
        "content_hashes",
        "curation_rejects",
        "curated_docs",
        "corpus_stats",
        "curation_log",
        "dedup_index/minhash_bands",
        "dedup_index/shingle_sets",
        "dedup_index/bucket_counts",
    }
    # one publish after the empty adoption commit
    assert m["version"] == 2
    # and the index's OWN log does not exist (no second commit anywhere)
    assert not os.path.exists(os.path.join(out, "dedup_index", "_manifest"))
    for t in ("curated_docs", "curation_rejects", "content_hashes"):
        pub = read_published(spark, out, t)
        plain = spark.read.parquet(os.path.join(out, f"{t}.parquet"))
        assert pub.count() == plain.count()


@pytest.mark.heavy
def test_compaction_bounds_files_and_preserves_rows(spark, tmp_path):
    """compact_every folds the four curation tables' live files down
    through a manifest flip (and the index's via its own knob): rows are
    identical before/after and later batches still dedup correctly."""
    from chainweb_data_spark.streaming.publish import read_manifest

    out = str(tmp_path / "cur")
    for b in range(4):
        # every batch: one fresh keeper + one junk doc (disjoint vocab)
        text = " ".join(f"w{b}_{i} common{i % 3}" for i in range(12))
        curate_batch(
            spark,
            _docs(spark, [(100 * b + 1, text), (100 * b + 2, "zz")]),
            out,
            batch_id=b,
            min_quality=MIN_Q,
            compact_every=2,
        )
    m = read_manifest(out)
    # compaction ran at batch 2 (and the per-batch coalesce keeps growth
    # at one file per partition dir per batch): every table's live-file
    # count is bounded by its partition-dir count plus the post-compaction
    # batches, far below 4 batches x dirs
    for t, files in m["tables"].items():
        dirs = {os.path.dirname(f) for f in files}
        assert len(files) <= len(dirs) + 2 * len(dirs), t
    assert len(_ids(spark, out, CURATED_TABLE)) == 4
    # history survives compaction: an exact copy of batch 0's doc flags
    s = curate_batch(
        spark,
        _docs(spark, [(900, " ".join(f"w0_{i} common{i % 3}" for i in range(12)))]),
        out,
        batch_id=9,
        min_quality=MIN_Q,
        compact_every=2,
    )
    assert s["n_exact"] == 1


@pytest.mark.heavy
def test_crash_at_the_single_commit_leaves_nothing(spark, tmp_path, monkeypatch):
    """Round 7 unified the sink's two commits into ONE manifest flip over
    all eight tables, so the old crash window ("index folded, batch not
    yet curated") cannot exist: a crash at the commit point leaves the
    WHOLE batch absent — dedup index included — and the replay converges
    to exactly the crash-free state, byte-idempotent."""
    import chainweb_data_spark.streaming.curation as cur
    from chainweb_data_spark.streaming.publish import read_published

    rows = [(10, BASE_TEXT + " tail"), (11, OTHER_TEXT), (12, "zz")]
    seed = [(1, BASE_TEXT)]

    # clean reference run in a separate directory
    ref = str(tmp_path / "ref")
    curate_batch(spark, _docs(spark, seed), ref, batch_id=0, min_quality=MIN_Q)
    curate_batch(spark, _docs(spark, rows), ref, batch_id=1, min_quality=MIN_Q)

    # crashed run: the single publish raises — NOTHING of batch 1 commits
    out = str(tmp_path / "cur")
    curate_batch(spark, _docs(spark, seed), out, batch_id=0, min_quality=MIN_Q)
    bands_pre = read_published(spark, out, "dedup_index/minhash_bands").count()
    real_publish = cur.publish_batch

    def boom(*a, **kw):
        raise RuntimeError("simulated crash at the unified commit")

    monkeypatch.setattr(cur, "publish_batch", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        curate_batch(
            spark, _docs(spark, rows), out, batch_id=1, min_quality=MIN_Q
        )
    # the old window is GONE: batch not curated AND index not folded
    assert _ids(spark, out, CURATED_TABLE) == [1]
    assert (
        read_published(spark, out, "dedup_index/minhash_bands").count()
        == bands_pre
    )
    monkeypatch.setattr(cur, "publish_batch", real_publish)
    s = curate_batch(spark, _docs(spark, rows), out, batch_id=1, min_quality=MIN_Q)
    assert (s["n_kept"], s["n_near"], s["n_quality"]) == (1, 1, 1)
    for t in (CURATED_TABLE, REJECTS_TABLE, HASHES_TABLE):
        got = sorted(
            map(tuple, spark.read.parquet(os.path.join(out, t)).collect())
        )
        want = sorted(
            map(tuple, spark.read.parquet(os.path.join(ref, t)).collect())
        )
        assert got == want, t
    # the index folds identically too (read through each store's log)
    for t in ("dedup_index/minhash_bands", "dedup_index/shingle_sets"):
        got = sorted(
            map(tuple, read_published(spark, out, t).drop("key_bucket").collect())
        )
        want = sorted(
            map(tuple, read_published(spark, ref, t).drop("key_bucket").collect())
        )
        assert got == want, t


def test_null_text_rejects_at_quality(spark, tmp_path):
    """NULL text must land on the quality-reject side, not vanish from
    both filter legs (NULL comparisons are neither true nor false)."""
    out = str(tmp_path / "cur")
    s = curate_batch(
        spark,
        _docs(spark, [(1, BASE_TEXT), (2, None)]),
        out,
        batch_id=0,
        min_quality=MIN_Q,
    )
    assert s["n_in"] == 2 and s["n_kept"] == 1 and s["n_quality"] == 1
    assert (2, "quality") in _rejects(spark, out)


def test_curation_log_row_per_batch(spark, tmp_path):
    """Each batch leaves exactly one summary row in curation_log, inside
    the same commit as its tables; a replay adds nothing."""
    out = str(tmp_path / "cur")
    s0 = curate_batch(
        spark,
        _docs(spark, [(1, BASE_TEXT), (2, "zz")]),
        out,
        batch_id=0,
        min_quality=MIN_Q,
    )
    curate_batch(
        spark, _docs(spark, [(1, BASE_TEXT), (2, "zz")]), out, batch_id=0,
        min_quality=MIN_Q,
    )  # replay
    log = spark.read.parquet(os.path.join(out, "curation_log.parquet"))
    rows = log.collect()
    assert len(rows) == 1
    got = {k: rows[0][k] for k in s0}
    assert got == s0


def test_trained_quality_model_gates_stage_one(spark, tmp_path):
    """Passing a trained classifier swaps the heuristic quality gate for
    the model's logit threshold — still a row-local predicate (no join,
    no collect), and the rejects log reasons stay 'quality'."""
    from chainweb_data_spark.operators import classifier as clf

    vocab = "the of and to a in is it you that he was for on are".split()
    fluent = [
        (i, " ".join(vocab[(i + j) % len(vocab)] for j in range(30)))
        for i in range(20)
    ]
    junk = [(i, " ".join(f"zx{i}q{j}" for j in range(10))) for i in range(20, 40)]
    train = spark.createDataFrame(fluent + junk, "doc_id long, text string")
    model = clf.train_quality_lr(train, "doc_id", "text")

    out = str(tmp_path / "cur")
    batch = spark.createDataFrame(
        [fluent[0], junk[0], (99, None)], "doc_id long, text string"
    )
    s = curate_batch(spark, batch, out, batch_id=0, quality_model=model)
    assert s["n_quality"] == 2  # the junk doc AND the NULL doc
    assert s["n_kept"] == 1
    assert _ids(spark, out, CURATED_TABLE) == [fluent[0][0]]


def test_train_quality_model_from_history(spark, tmp_path):
    """The self-improving loop: curate with the heuristic gate, train a
    classifier from the published curated snapshot, and gate the next
    batch with it; an empty history raises instead of silently passing.
    Round 7: the bootstrap self-measures — ``model["eval"]`` carries the
    held-out AUC/precision, and a uniform history (all docs the same
    rotating vocab, no quality spread) REFUSES under the default floor."""
    import pytest

    from chainweb_data_spark.streaming.curation import train_quality_model

    out = str(tmp_path / "cur")
    with pytest.raises(ValueError, match="no curated history"):
        train_quality_model(spark, out)
    vocab = "the of and to a in is it you that he was for on are".split()
    rows = [
        (i, " ".join(vocab[(i + j) % len(vocab)] for j in range(30)))
        for i in range(10)
    ]
    curate_batch(spark, _docs(spark, rows), out, batch_id=0, min_quality=MIN_Q)
    # the rotating-vocab docs are near-dups of each other, so the curated
    # history is tiny and uniform — it cannot beat the AUC floor:
    # refusal, not a silently-deployed coin flip
    with pytest.raises(ValueError, match="held-out AUC"):
        train_quality_model(spark, out)
    # min_auc=None returns the model + its (honest, poor) metrics anyway
    model = train_quality_model(spark, out, min_auc=None)
    assert set(model) == {"features", "w", "b", "mu", "sd", "eval"}
    ev = model["eval"]
    if ev is not None:
        assert ev["auc"] is None or 0.0 <= ev["auc"] <= 1.0
    s = curate_batch(
        spark,
        _docs(spark, [(50, rows[0][1] + " fresh tail marker")]),
        out,
        batch_id=1,
        quality_model=model,
    )
    assert s["n_in"] == 1  # the model-gated path runs end to end


def test_train_quality_model_separable_history_passes_floor(spark, tmp_path):
    """A history with genuine quality spread (fluent prose + repetitive
    filler that still clears the heuristic gate) trains a gate whose
    held-out AUC beats the floor — the bootstrap returns weights
    bit-identical to the plain trainer plus the eval block."""
    from chainweb_data_spark.operators.classifier import train_quality_lr
    from chainweb_data_spark.streaming.curation import (
        MIN_GATE_AUC,
        train_quality_model,
    )

    vocab = "the of and to a in is it you that he was for on are".split()
    # every 3rd token is a per-doc unique marker so the fluent docs are
    # NOT near-dups of each other (every shingle contains a unique token)
    fluent = [
        (
            i,
            " ".join(
                f"t{i}n{j}" if j % 3 == 0 else vocab[(i + j) % len(vocab)]
                for j in range(40)
            ),
        )
        for i in range(30)
    ]
    # repetitive filler: one unique token per doc repeated (distinct text
    # per doc, so exact/near dedup keeps all) — low distinct-token ratio,
    # zero stopwords: passes the disabled heuristic gate, separably worse
    filler = [
        (i, " ".join(f"blob{i}" for _ in range(40)))
        for i in range(30, 60)
    ]
    out = str(tmp_path / "cur")
    curate_batch(
        spark,
        _docs(spark, fluent + filler),
        out,
        batch_id=0,
        min_quality=-1e9,
    )
    assert _ids(spark, out, CURATED_TABLE) == list(range(60))
    model = train_quality_model(spark, out)
    assert model["eval"]["auc"] >= MIN_GATE_AUC
    plain = train_quality_lr(
        spark.read.parquet(os.path.join(out, CURATED_TABLE)),
        "doc_id",
        "text",
    )
    assert {k: model[k] for k in plain} == plain  # weights bit-identical


def test_decontamination_stage(spark, tmp_path):
    """The sink's optional stage 2.5: a doc sharing a 3-gram with the
    benchmark rejects with reason 'contaminated' (detail = first shingle +
    hit count), never enters the dedup index (a later near-dup of it must
    NOT be suppressed on its account), and the summary adds up."""
    from chainweb_data_spark.streaming.curation import (
        curate_batch,
        prepare_benchmark,
    )

    bench = _docs(spark, [(900, "gamma delta epsilon question answer")])
    sh = prepare_benchmark(bench, k=3)

    out = str(tmp_path / "cur")
    s = curate_batch(
        spark,
        # doc 1 shares the 'gamma delta epsilon' 3-gram; doc 2 is clean
        _docs(spark, [(1, BASE_TEXT), (2, OTHER_TEXT)]),
        out,
        batch_id=0,
        min_quality=MIN_Q,
        bench_shingles=sh,
        bench_k=3,
    )
    assert (s["n_in"], s["n_kept"], s["n_contam"]) == (2, 1, 1)
    assert _ids(spark, out, CURATED_TABLE) == [2]
    rej = {
        r["doc_id"]: (r["reason"], r["detail"])
        for r in spark.read.parquet(os.path.join(out, REJECTS_TABLE)).collect()
    }
    assert rej[1][0] == "contaminated"
    assert rej[1][1].startswith("gamma delta epsilon:")
    # the contaminated doc is NOT in the index: a near-variant of it in
    # the next batch sails through (no false near-dup suppression)
    s2 = curate_batch(
        spark,
        _docs(spark, [(10, BASE_TEXT.replace("gamma delta epsilon", "x y z"))]),
        out,
        batch_id=1,
        min_quality=MIN_Q,
        bench_shingles=sh,
        bench_k=3,
    )
    assert (s2["n_kept"], s2["n_near"], s2["n_contam"]) == (1, 0, 0)
    # and the curation_log row carries the n_contam column
    log = spark.read.parquet(os.path.join(out, "curation_log.parquet"))
    assert {r["batch_id"]: r["n_contam"] for r in log.collect()} == {0: 1, 1: 0}


def test_decontamination_replay_idempotent(spark, tmp_path):
    """Replaying a contaminated batch (same batch_id) converges: no
    doubled rejects, no resurrected docs."""
    from chainweb_data_spark.streaming.curation import (
        curate_batch,
        prepare_benchmark,
    )

    bench = _docs(spark, [(900, "gamma delta epsilon question answer")])
    sh = prepare_benchmark(bench, k=3)
    out = str(tmp_path / "cur")
    for _ in range(2):
        s = curate_batch(
            spark,
            _docs(spark, [(1, BASE_TEXT), (2, OTHER_TEXT)]),
            out,
            batch_id=0,
            min_quality=MIN_Q,
            bench_shingles=sh,
        )
        assert (s["n_kept"], s["n_contam"]) == (1, 1)
    rej = spark.read.parquet(os.path.join(out, REJECTS_TABLE)).collect()
    assert len(rej) == 1
    log = spark.read.parquet(os.path.join(out, "curation_log.parquet"))
    assert log.count() == 1


def test_prepare_benchmark_envelope_refuses(spark):
    """The broadcast envelope is enforced at preparation time, before any
    per-batch work."""
    import pytest

    from chainweb_data_spark.streaming.curation import prepare_benchmark

    bench = _docs(spark, [(900, " ".join(f"tok{i}" for i in range(30)))])
    with pytest.raises(ValueError, match="broadcast envelope"):
        prepare_benchmark(bench, k=3, max_bench_shingles=5)


def test_dataset_snapshot_reproducible(spark, tmp_path):
    """Training-data provenance as a log version: the snapshot taken
    before more batches land re-reads byte-identical afterwards — through
    appends AND a compaction rewrite."""
    from chainweb_data_spark.streaming.curation import dataset_snapshot

    out = str(tmp_path / "cur")
    curate_batch(
        spark, _docs(spark, [(1, BASE_TEXT)]), out, batch_id=0,
        min_quality=MIN_Q,
    )
    v, ds = dataset_snapshot(spark, out)
    frozen = sorted(map(tuple, ds.collect()))
    assert frozen and isinstance(v, int)

    # land more batches, force a compaction commit on the curated table
    curate_batch(
        spark, _docs(spark, [(10, OTHER_TEXT)]), out, batch_id=1,
        min_quality=MIN_Q, compact_every=1,
    )
    curate_batch(
        spark,
        _docs(spark, [(20, "ten eleven twelve thirteen fourteen fifteen")]),
        out,
        batch_id=2,
        min_quality=MIN_Q,
        compact_every=1,
    )
    # the live view moved on...
    _v2, live = dataset_snapshot(spark, out)
    assert live.count() == 3 and _v2 > v
    # ...the pinned version has not
    v_again, ds_again = dataset_snapshot(spark, out, version=v)
    assert v_again == v
    assert sorted(map(tuple, ds_again.collect())) == frozen


def test_perplexity_gate_consumes_trigram_signal(spark, tmp_path):
    """Round-8: the curation gate consumes an LM-perplexity signal — the
    trigram-KN avg_nll relation gates documents above the ceiling with
    reason 'perplexity' (signal value in the audit detail), docs absent
    from the relation pass, the summary folds the rejects into the
    quality-class counter, and a replay merges to nothing."""
    from chainweb_data_spark.operators.text import trigram_kn_scores

    out = str(tmp_path / "ppl")
    batch = _docs(
        spark,
        [
            (1, BASE_TEXT),
            (2, OTHER_TEXT),
            # a REPETITIVE doc: repeated n-grams score far lower NLL under
            # the corpus-trained KN model than the all-distinct texts, so
            # the three docs genuinely spread (all-distinct-token fixtures
            # give every doc an identical NLL — the symmetric-vocab trap);
            # also dissimilar enough that the near-dup stage stays quiet
            (3, "spam ham spam ham spam ham spam ham spam ham"),
        ],
    )
    nll = trigram_kn_scores(batch, "doc_id", "text").localCheckpoint(
        eager=True
    )
    vals = {r["doc_id"]: r["avg_nll"] for r in nll.collect()}
    # a ceiling between the lowest and highest measured NLL gates at
    # least one doc and passes at least one — data-derived, not magic
    lo, hi = min(vals.values()), max(vals.values())
    ceiling = (lo + hi) / 2
    should_fail = sorted(d for d, v in vals.items() if v > ceiling)
    assert should_fail and len(should_fail) < len(vals)

    # score only SOME docs: drop one passing doc from the relation — it
    # must still be admitted (absent signal is not evidence)
    passing = [d for d, v in vals.items() if v <= ceiling]
    scored_only = nll.filter(F.col("doc_id") != passing[0])
    s = curate_batch(
        spark,
        batch,
        out,
        batch_id=0,
        min_quality=MIN_Q,
        nll_scores=scored_only,
        max_avg_nll=ceiling,
    )
    assert s["n_quality"] == len(should_fail)
    assert s["n_kept"] == 3 - len(should_fail)
    rejects = spark.read.parquet(os.path.join(out, "curation_rejects.parquet"))
    ppl_rows = rejects.filter(F.col("reason") == "perplexity").collect()
    assert sorted(r["doc_id"] for r in ppl_rows) == should_fail
    # the detail carries the gating signal (the 4-dp avg_nll)
    assert all(
        abs(float(r["detail"]) - vals[r["doc_id"]]) < 1e-3 for r in ppl_rows
    )

    # replay: same batch id, same signal — everything merges away
    s2 = curate_batch(
        spark,
        batch,
        out,
        batch_id=0,
        min_quality=MIN_Q,
        nll_scores=scored_only,
        max_avg_nll=ceiling,
    )
    assert s2["n_in"] == 3
    assert (
        rejects.filter(F.col("reason") == "perplexity").count()
        == len(should_fail)
    )

    # missing ceiling refuses loudly
    import pytest as pt

    with pt.raises(ValueError, match="max_avg_nll"):
        curate_batch(
            spark, batch, str(tmp_path / "x"), batch_id=0, nll_scores=nll
        )
