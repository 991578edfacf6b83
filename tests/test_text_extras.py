"""Round-5 text/similarity extras: PII redaction rules, tf×(N/df) term
salience, and hard cluster assignment against a numpy reference."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chainweb_data_spark.operators import similarity as sim
from chainweb_data_spark.operators import text as tx


def test_redact_pii_rules(spark):
    rows = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "from 192.168.0.1 port 80"),
            (3, "acct 12345678 and 123456 stay-short"),
            (4, "x1.2.3.4y glued digits a123456789b"),
            (5, "clean text only"),
        ],
        "id long, t string",
    )
    got = {
        r["id"]: r["red"]
        for r in rows.select(
            "id", tx.redact_pii(F.col("t")).alias("red")
        ).collect()
    }
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "from <IP> port 80"
    # 7+ digit runs redact; 6-digit stays
    assert got[3] == "acct <NUM> and 123456 stay-short"
    # \b guards: digits glued to letters are not standalone numbers/IPs
    assert got[4] == "x1.2.3.4y glued digits a123456789b"
    assert got[5] == "clean text only"


def test_tfidf_topk_terms_small(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
        ],
        "id long, text string",
    )
    out = tx.tfidf_topk_terms(docs, "id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append((r["rank"], r["token"], r["score"]))
    # doc 1: apple tf=2 df=1 → 2*3/1=6; banana tf=1 df=2 → 1.5; common 1.0
    assert sorted(by_doc[1])[0] == (1, "apple", 6.0)
    assert sorted(by_doc[1])[1] == (2, "banana", 1.5)
    # doc 3: cherry tf=3 df=2 → 4.5 beats common (1.0)
    assert sorted(by_doc[3])[0] == (1, "cherry", 4.5)
    # every doc got exactly k rows (k=2 here, all have ≥2 distinct tokens)
    assert {len(v) for v in by_doc.values()} == {2}


def test_cluster_assign_matches_numpy(spark):
    rng = np.random.default_rng(7)
    C = rng.normal(size=(4, 8))
    X = rng.normal(size=(40, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["cosine"])
        for r in sim.cluster_assign(
            df, "vec_id", "embedding", centroids=C
        ).collect()
    }
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = np.round(Xn @ Cn.T, 6)
    for i in range(len(X)):
        cell = int(np.argmax(S[i]))  # ties impossible at random doubles
        assert got[i][0] == cell
        assert got[i][1] == pytest.approx(S[i, cell], abs=0)
    assert len(got) == len(X)


def test_duplicate_spans_merging(spark):
    from chainweb_data_spark.operators.dedup import duplicate_spans

    # docs 1 and 2 share two disjoint 4-grams; doc 3 shares nothing
    docs = spark.createDataFrame(
        [
            # shared gram "w1 w2 w3 w4" at pos 2; shared "w7 w8 w9 w10" at pos 8
            (1, "x1 x2 w1 w2 w3 w4 x3 x4 w7 w8 w9 w10 x5"),
            (2, "w1 w2 w3 w4 gap1 gap2 w7 w8 w9 w10"),
            (3, "nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["span_start"]): (r["span_end"], r["n_grams"])
        for r in duplicate_spans(docs, "doc_id", "text", k=4, min_df=2).collect()
    }
    # doc 1: spans [2,6) and [8,12); doc 2: [0,4) and [6,10); doc 3: none
    assert out[(1, 2)] == (6, 1)
    assert out[(1, 8)] == (12, 1)
    assert out[(2, 0)] == (4, 1)
    assert out[(2, 6)] == (10, 1)
    assert not any(k[0] == 3 for k in out)


def test_duplicate_spans_overlap_merges(spark):
    from chainweb_data_spark.operators.dedup import duplicate_spans

    # overlapping hits: docs share a 5-token run → two overlapping 4-grams
    docs = spark.createDataFrame(
        [
            (1, "p q w1 w2 w3 w4 w5 r s"),
            (2, "w1 w2 w3 w4 w5"),
        ],
        "doc_id long, text string",
    )
    rows = duplicate_spans(docs, "doc_id", "text", k=4, min_df=2).collect()
    spans = {(r["doc_id"], r["span_start"], r["span_end"]): r["n_grams"] for r in rows}
    # doc 1: grams at pos 2 and 3 merge into [2, 7); doc 2: [0, 5)
    assert spans[(1, 2, 7)] == 2
    assert spans[(2, 0, 5)] == 2
    assert len(spans) == 2


def test_duplicate_spans_envelope_guard(spark):
    from chainweb_data_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="envelope"):
        duplicate_spans(docs, "doc_id", "text", k=4, min_df=2, max_hot_grams=1)


def test_trim_duplicate_spans_semantics(spark):
    from chainweb_data_spark.operators.dedup import (
        duplicate_spans,
        trim_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "x1 x2 w1 w2 w3 w4 x3"),    # shares w1..w4 with doc 2
            (2, "w1 w2 w3 w4"),             # fully covered → empty
            (3, "untouched text stays whole"),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(docs, "doc_id", "text", k=4, min_df=2)
    got = {
        r["doc_id"]: r["trimmed"]
        for r in trim_duplicate_spans(docs, spans, "doc_id", "text").collect()
    }
    assert got[1] == "x1 x2 x3"
    assert got[2] == ""
    assert got[3] == "untouched text stays whole"
    assert len(got) == 3


# ---------------------------------------------------------------------------
# fingerprint modes (round-6: cheap-hash production fingerprint)
# ---------------------------------------------------------------------------


def _rolling64_reference(text: str, k: int = 8) -> int:
    """Independent per-character Python implementation of the rolling64
    fingerprint (no numpy, no vectorization): polynomial byte-gram hash
    mod 2^64, signed-int64 min."""
    B = 1000003
    data = list(text.encode("utf-8"))
    if len(data) < k:
        data = data + [0] * (k - len(data))
    best = None
    for i in range(len(data) - k + 1):
        h = 0
        for c in data[i : i + k]:
            h = (h * B + c) % (1 << 64)
        signed = h - (1 << 64) if h >= (1 << 63) else h
        best = signed if best is None else min(best, signed)
    return best


def test_rolling64_kernel_matches_reference():
    import pandas as pd

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaa",
        "short",          # < k: zero-padded to one window
        "exactly8",       # == k: one window
        "",               # empty: one all-zero window
        "unicode: café 中文",  # multibyte UTF-8 bytes
        None,             # NULL in → NULL out
    ]
    got = tx.rolling64_fp_kernel(pd.Series(texts), 8)
    for t, g in zip(texts, got):
        if t is None:
            assert g is None
        else:
            assert g == _rolling64_reference(t, 8), t


def test_fingerprint_modes_spark(spark):
    import pandas as pd

    rows = [(1, "the quick brown fox"), (2, "tiny"), (3, "")]
    df = spark.createDataFrame(rows, "id long, t string")
    # rolling64: matches the independent reference through the Spark path
    got = {
        r["id"]: r["fp"]
        for r in tx.fingerprint(df, "t", k=8, mode="rolling64").collect()
    }
    for i, t in rows:
        assert got[i] == _rolling64_reference(t, 8)
    # xxhash64: long-typed, deterministic, text-sensitive
    x1 = {
        r["id"]: r["fp"]
        for r in tx.fingerprint(df, "t", k=8, mode="xxhash64").collect()
    }
    x2 = {
        r["id"]: r["fp"]
        for r in tx.fingerprint(df, "t", k=8, mode="xxhash64").collect()
    }
    assert x1 == x2
    assert isinstance(x1[1], int) and x1[1] != x1[2]
    # md5 stays the string oracle form
    m = {
        r["id"]: r["fp"]
        for r in tx.fingerprint(df, "t", k=8, mode="md5").collect()
    }
    assert all(isinstance(v, str) and len(v) == 32 for v in m.values())
    with pytest.raises(ValueError):
        tx.fingerprint(df, "t", mode="nope")


def test_stopword_hits_counts_consecutive_duplicates(spark):
    """The token-equality formulation counts every stopword token — the
    old padded-replace form undercounted consecutive duplicates."""
    df = spark.createDataFrame([(1, "the the the end")], "id long, t string")
    got = df.select(
        tx.word_stopword_hits(F.col("t"), ["the", "a"]).alias("h")
    ).collect()[0]["h"]
    assert got == 3


def test_bpe_trains_the_classic_example(spark):
    """Sennrich's worked example: with 'low'x5 + 'lowest'x2, the first
    merges build 'low' ('l o' then 'lo w'), and encoding reuses them."""
    from chainweb_data_spark.operators import bpe as bp

    counts = {"low": 5, "lowest": 2}
    merges = bp.train_merges_from_counts(counts, 4)
    assert merges[0] == ("l", "o")  # count 7, lexicographically first
    assert merges[1] == ("lo", "w")
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    seg = bp.segment_word("low", ranks)
    assert seg[0] == "low" or seg == ["low" + bp.END] or "low" in seg[0]
    # unseen word degrades to characters + boundary, never crashes
    assert bp.segment_word("zzz", ranks) == ["z", "z", "z", bp.END]


def test_bpe_spark_encode_matches_pure_python(spark):
    from chainweb_data_spark.operators import bpe as bp

    rows = [(i, f"low lower lowest stop w{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bp.bpe_train(df, "text", 16)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    got = {
        r["doc_id"]: (list(r["pieces"]), r["n_pieces"])
        for r in bp.bpe_encode(df, "doc_id", "text", merges).collect()
    }
    for i, text in rows:
        want = bp.encode_text(text, ranks, {})
        assert got[i] == (want, len(want)), i
    # determinism across retrains
    assert merges == bp.bpe_train(df, "text", 16)


def test_bpe_capped_train_matches_pure_twin(spark, tmp_path):
    """Floor + top-N cap mirrored bit-exactly: Spark's TakeOrdered by
    (count desc, word asc) and the pyarrow twin's pure sort must pick the
    SAME capped vocabulary — including at a count-tie truncation boundary
    — so the literal oracles survive the cap (round-6 verdict #1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chainweb_data_spark.operators import bpe as bp

    # 40 distinct words, many tied counts, cap at 7 → the boundary cuts
    # through a tie and only the lexicographic order decides membership
    texts = [
        " ".join(f"w{j:02d}" for j in range(i % 8, 40, 3)) for i in range(24)
    ]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in rows], "text": texts}), p
    )
    import warnings as w

    for min_count, max_vocab in [(1, 7), (2, 5), (1, 1000)]:
        with w.catch_warnings():
            w.simplefilter("ignore")
            spark_merges = bp.bpe_train(
                df, "text", 12, min_count=min_count, max_vocab=max_vocab
            )
            twin_merges = bp.bpe_train_parquet(
                p, "text", 12, min_count=min_count, max_vocab=max_vocab
            )
        assert spark_merges == twin_merges, (min_count, max_vocab)


def test_bpe_train_collect_is_bounded_and_warns(spark):
    """Truncation is loud, the driver never holds more than max_vocab
    rows, and max_vocab above the ceiling refuses before any job runs."""
    import pytest

    from chainweb_data_spark.operators import bpe as bp

    df = spark.createDataFrame(
        [(i, " ".join(f"u{i}_{j}" for j in range(20))) for i in range(10)],
        "doc_id long, text string",
    )
    with pytest.warns(UserWarning, match="truncated to top 16"):
        counts = bp.collect_word_counts(df, "text", max_vocab=16)
    assert len(counts) == 16
    with pytest.raises(ValueError, match="exceeds the driver-collect"):
        bp.bpe_train(df, "text", 4, max_vocab=bp.BPE_VOCAB_CEILING + 1)
    with pytest.raises(ValueError, match="exceeds the driver-collect"):
        bp.bpe_train_parquet("/nonexistent", max_vocab=10**9)


def test_bpe_min_count_floor_prunes_hapax_tail(spark):
    """min_count=2 drops words seen once BEFORE the collect; merges then
    come only from the floor-passing vocabulary, identically on both
    paths."""
    from chainweb_data_spark.operators import bpe as bp

    df = spark.createDataFrame(
        [(0, "low low low hapaxzz"), (1, "low lowest lowest")],
        "doc_id long, text string",
    )
    counts = bp.collect_word_counts(df, "text", min_count=2)
    assert counts == {"low": 4, "lowest": 2}
    merges = bp.bpe_train(df, "text", 8, min_count=2)
    flat = {s for pair in merges for s in pair}
    assert not any("z" in s for s in flat)


def test_dsir_scores_rank_target_like_docs_higher(spark):
    # target model trained on "a b"-ish docs; docs made of target tokens
    # must out-score docs of background-only tokens
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b", "t"),
            (2, "a b b a a b", "t"),
            (3, "x y z x y z", "b"),
            (4, "a b x y a b", "m"),
        ],
        "doc_id long, text string, kind string",
    )
    from chainweb_data_spark.operators import text as tx

    scores = {
        r["doc_id"]: r["logratio"]
        for r in tx.dsir_scores(
            docs, "doc_id", "text", docs.filter(F.col("kind") == "t")
        ).collect()
    }
    assert scores[1] > scores[4] > scores[3]
    assert scores[2] > scores[3]


def test_dsir_gumbel_topk_is_deterministic_and_weighted(spark):
    from chainweb_data_spark.operators import text as tx

    rows = [(i, float(5.0 if i < 20 else -5.0)) for i in range(200)]
    scores = spark.createDataFrame(rows, "doc_id long, logratio double")
    got = tx.dsir_gumbel_topk(scores, "doc_id", k=20, seed="s").collect()
    got2 = tx.dsir_gumbel_topk(scores, "doc_id", k=20, seed="s").collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in got2]
    # a +10-logit gap dwarfs Gumbel noise: the heavy docs dominate the top-20
    heavy = sum(1 for r in got if r["doc_id"] < 20)
    assert heavy >= 18
    # different seed -> different noise -> (almost surely) different order
    got3 = tx.dsir_gumbel_topk(scores, "doc_id", k=20, seed="u").collect()
    assert [r["gumbel_key"] for r in got3] != [r["gumbel_key"] for r in got]


def test_gopher_repetition_flags(spark):
    """Hand-checkable repetition cases: a 2-gram-dominated doc flags on
    top_char_frac, a cycling phrase flags on dup_gram_frac, clean prose
    flags on neither."""
    from chainweb_data_spark.operators.text import gopher_repetition

    rows = [
        # "spam ham" x3 of 26 chars: top2 cnt=3, len("spam ham")=8 -> 24/26
        (1, "spam ham spam ham spam ham"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # period-5 cycle, 15 tokens -> 11 5-gram windows, 5 distinct
        (3, "one two three four five " * 3),
    ]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in gopher_repetition(docs, "doc_id", "text").collect()
    }
    assert got[1]["top_gram"] == "spam ham" and got[1]["top_count"] == 3
    assert abs(got[1]["top_char_frac"] - round(24 / 26, 6)) < 1e-12
    assert got[1]["flagged"] is True
    assert got[2]["flagged"] is False and got[2]["dup_gram_frac"] == 0.0
    assert abs(got[3]["dup_gram_frac"] - round(6 / 11, 6)) < 1e-12
    assert got[3]["flagged"] is True


def test_corpus_report_hand_computed(spark):
    """Dataset card semantics on a crafted stratum: counts, exact median
    (interpolated — even group), duplicate-text rate, quality tail."""
    from chainweb_data_spark.operators.text import corpus_report

    rows = [
        # src a: 4 docs, one exact dup pair, one junk doc
        (1, "alpha beta gamma delta epsilon zeta", "en", "a"),
        (2, "alpha beta gamma delta epsilon zeta", "en", "a"),  # dup of 1
        (3, "one two three four five six seven eight", "fr", "a"),
        (4, "zz", "en", "a"),
        # src b: 1 doc
        (5, "the of and to a in is it", "en", "b"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        r["source"]: r
        for r in corpus_report(docs, "source", "text").collect()
    }
    a = got["a"]
    assert a["n_docs"] == 4 and a["n_langs"] == 2
    assert a["total_tokens"] == 6 + 6 + 8 + 1
    # char lengths: 35, 35, 39, 2 -> sorted 2,35,35,39 -> median 35.0
    assert a["median_chars"] == 35.0
    assert abs(a["dup_text_frac"] - 0.25) < 1e-12  # 3 distinct / 4 docs
    assert a["low_quality_frac"] > 0.0  # the "zz" doc
    b = got["b"]
    assert (b["n_docs"], b["dup_text_frac"]) == (1, 0.0)

    # r9: the documented open-scale swap — approx_percentile replaces the
    # buffering exact percentile with one argument; on small strata the
    # GK sketch is exact at the nearest value (no interpolation: 35 not
    # 35.0-interpolated), every other column identical
    approx = {
        r["source"]: r
        for r in corpus_report(
            docs, "source", "text", exact_median=False
        ).collect()
    }
    for src in ("a", "b"):
        e, ap = got[src], approx[src]
        for c in ("n_docs", "total_tokens", "avg_tokens", "n_langs",
                  "low_quality_frac", "dup_text_frac"):
            assert ap[c] == e[c]
        assert abs(ap["median_chars"] - e["median_chars"]) <= 1.0


def test_bm25_search_ranks_and_tiebreaks(spark):
    """Query-term density wins; length normalization damps padding; ties
    break on ascending id; empty query refuses."""
    import pytest

    from chainweb_data_spark.operators.text import bm25_search

    rows = [
        (1, "scan table merge scan table"),          # dense, short
        (2, "scan " + "filler " * 30),               # one term, padded long
        (3, "alpha beta gamma"),                     # no query terms
        (4, "scan table merge scan table"),          # identical to 1 -> tie
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_search(docs, "doc_id", "text", "merge scan table", k=3).collect()
    ids = [r["doc_id"] for r in got]
    assert ids[:2] == [1, 4]                         # tie -> id ascending
    assert got[0]["score"] == got[1]["score"]
    assert 3 not in ids                              # zero-match doc absent
    assert got[0]["score"] > (
        [r["score"] for r in got if r["doc_id"] == 2] or [0.0]
    )[0]
    with pytest.raises(ValueError, match="empty query"):
        bm25_search(docs, "doc_id", "text", "  ")


def test_temperature_weights_math():
    w = {"a": 0.5, "b": 0.3, "c": 0.2}
    t1 = tx.temperature_weights(w, 1.0)
    assert t1 == pytest.approx(w)
    # tau -> inf flattens toward uniform; tau < 1 sharpens
    flat = tx.temperature_weights(w, 100.0)
    assert max(flat.values()) - min(flat.values()) < 0.01
    sharp = tx.temperature_weights(w, 0.5)
    assert sharp["a"] > 0.5 and sharp["c"] < 0.2
    with pytest.raises(ValueError):
        tx.temperature_weights(w, 0.0)
    with pytest.raises(ValueError):
        tx.temperature_weights({"a": -1.0}, 1.0)


def test_mixture_by_tokens_budget_within_one_document(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("n_tokens", tx.token_count(F.col("text")))
    )
    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.15, "src3": 0.05}
    total = 60_000
    maxdoc = {
        r["source"]: r["m"]
        for r in docs.groupBy("source").agg(F.max("n_tokens").alias("m")).collect()
    }
    for temp in (1.0, 2.0, 0.5):
        wt = tx.temperature_weights(weights, temp)
        out = tx.mixture_by_tokens(
            docs, "doc_id", "source", "n_tokens", weights, total, temperature=temp
        )
        got = {
            r["source"]: r["t"]
            for r in out.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
        }
        # only weighted sources appear, each realized token sum hits its
        # tau-scaled budget within ONE document (prefix cut, not a coin)
        assert set(got) == set(weights)
        for s, realized in got.items():
            target = wt[s] * total
            assert target <= realized < target + maxdoc[s], (s, temp)


def test_mixture_by_tokens_deterministic_and_edge_cases(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("n_tokens", tx.token_count(F.col("text")))
    )
    w = {"src0": 1.0}
    a = tx.mixture_by_tokens(
        docs, "doc_id", "source", "n_tokens", w, 10_000
    ).orderBy("doc_id", "copy_id").collect()
    b = tx.mixture_by_tokens(
        docs, "doc_id", "source", "n_tokens", w, 10_000
    ).orderBy("doc_id", "copy_id").collect()
    assert a == b and len(a) > 0
    # zero budget emits nothing; unknown-source weights emit nothing
    assert (
        tx.mixture_by_tokens(docs, "doc_id", "source", "n_tokens", w, 0).count()
        == 0
    )
    assert (
        tx.mixture_by_tokens(
            docs, "doc_id", "source", "n_tokens", {"nosuch": 1.0}, 10_000
        ).count()
        == 0
    )
    with pytest.raises(ValueError):
        tx.mixture_by_tokens(
            docs, "doc_id", "source", "n_tokens", w, -5
        )


def test_corpus_report_approx_median_rank_bound_at_bench_scale(spark):
    """r10 (r9 verdict #7): the open-scale approx-median path's error bar
    is a CONTRACT, not a vibe — with accuracy A the returned value's rank
    sits within n/A of the true median rank (the GK guarantee).  Asserted
    per stratum on the sf0.1 bench corpus against the exact path."""
    import os

    from pyspark.sql import functions as F

    from chainweb_data_spark.operators.text import (
        _APPROX_MEDIAN_ACCURACY,
        corpus_report,
    )

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):  # pragma: no cover - bench data absent
        import pytest

        pytest.skip("sf0.1 bench corpus not present")
    docs = spark.read.parquet(os.path.join(sf01, "documents.parquet"))
    approx = {
        r["source"]: r["median_chars"]
        for r in corpus_report(
            docs, "source", "text", exact_median=False
        ).collect()
    }
    lens = docs.select(
        "source", F.length("text").alias("len")
    ).groupBy("source", "len").count()
    by_src = {}
    for r in lens.collect():
        by_src.setdefault(r["source"], []).append((r["len"], r["count"]))
    assert len(by_src) >= 2  # several strata or the bound is vacuous
    assert sum(c for ps in by_src.values() for _l, c in ps) >= 5_000
    for src, pairs in by_src.items():
        n = sum(c for _l, c in pairs)
        assert n > 100  # sources are uneven; smallest stratum ~250 docs
        med = approx[src]
        rank_lt = sum(c for l, c in pairs if l < med)
        rank_le = sum(c for l, c in pairs if l <= med)
        target = 0.5 * n
        tol = n / _APPROX_MEDIAN_ACCURACY + 1  # +1: rank discreteness
        # the value's rank interval must intersect the allowed band
        assert rank_lt - tol <= target <= rank_le + tol, (
            src, n, med, rank_lt, rank_le
        )
        # and the approx median is an ACTUAL data value (GK returns
        # members, never interpolations)
        assert any(l == med for l, _c in pairs), (src, med)


def test_scorer_model_caches_release(spark):
    """r13 (VERDICT item 7): the n-gram scorers register their cached
    model relations (uni/p_uni/c2/c3) and release_scorer_model_caches()
    drops them — no net storage-pool growth across a two-query session.
    The release changes no result: the models are deterministic
    aggregates, recomputed on the next action if needed."""
    docs = spark.createDataFrame(
        [(1, "a b a c a b"), (2, "b c b d"), (3, "a a a b c d e")],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    tx.release_scorer_model_caches(spark)  # drain any prior registrations

    def catalog_cache_empty():
        # the catalog-level CacheManager is exactly the pool .cache()
        # fills and release targets (RDD-level persists from
        # localCheckpoint elsewhere in the session are out of scope)
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    assert catalog_cache_empty()
    first = tx.bigram_backoff_scores(docs, "doc_id", "text").collect()
    tx.trigram_kn_scores(docs, "doc_id", "text").collect()
    assert not catalog_cache_empty()  # models really were persisted
    released = tx.release_scorer_model_caches(spark)
    assert released >= 1  # the invariant is the empty catalog below
    assert catalog_cache_empty()  # no net storage-pool growth
    # releasing is result-neutral: a re-run recomputes the same scores
    again = tx.bigram_backoff_scores(docs, "doc_id", "text").collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    tx.release_scorer_model_caches(spark)


def test_scorer_model_caches_are_per_session(spark):
    """Two SparkSessions share one CacheManager: releasing one session's
    scorer models must leave the other session's model relations
    cached, and the other session's own release then drops them."""
    other = spark.newSession()
    spark.catalog.clearCache()
    for s in (spark, other):
        tx.release_scorer_model_caches(s)
    mine = spark.createDataFrame(
        [(1, "a b a c a b"), (2, "b c b d")], "doc_id long, text string"
    )
    theirs = other.createDataFrame(
        [(7, "x y x z"), (8, "y z y w x")], "doc_id long, text string"
    )
    tx.bigram_backoff_scores(mine, "doc_id", "text").collect()
    tx.bigram_backoff_scores(theirs, "doc_id", "text").collect()
    kept = list(tx._SCORER_MODEL_CACHES[other])
    assert kept

    def cached(df):
        level = df.storageLevel
        return level.useMemory or level.useDisk

    assert tx.release_scorer_model_caches(spark) >= 1
    assert all(cached(df) for df in kept)
    assert tx.release_scorer_model_caches(other) == len(kept)
    assert not any(cached(df) for df in kept)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
