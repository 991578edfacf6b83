"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting (BASELINE.json north-star extensions).

Everything is built-in column expressions (whole-stage codegen; no UDFs in
the hot path).  Counting idiom: occurrences of a needle =
``(len(s) - len(replace(s, needle, ''))) / len(needle)`` — exact integer
arithmetic, reproducible in any SQL engine, no regex dialect drift.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd  # noqa: F401 — module-level so pandas_udf type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# n-gram scorer MODEL caches (r12 §5: the uni/p_uni/c2/c3 relations are
# reused by 2-5 consumers inside one scoring plan and are vocab/type-sized).
# .cache() entries live in Spark's CacheManager until unpersisted, so a
# long-lived server that scores repeatedly would otherwise accumulate dead
# model relations in the executor storage pool (the bench isolates itself
# with clearCache() between queries; this is the in-process equivalent).
# Ownership contract: the caller that materializes the scoring DataFrame
# owns the release — call release_scorer_model_caches(spark) with the
# session it scored in once the scores are consumed.  The registry is
# keyed by SparkSession, so releasing one session's models never drops
# another session's live ones; it holds plain references (NOT results),
# and dropping them does not change any result, only frees storage memory.
_SCORER_MODEL_CACHES: dict[object, list[DataFrame]] = {}
_SCORER_LOCK = threading.Lock()


def _model_cache(df: DataFrame) -> DataFrame:
    """Cache a scorer model relation and register it for release under
    its SparkSession."""
    out = df.cache()
    with _SCORER_LOCK:
        _SCORER_MODEL_CACHES.setdefault(df.sparkSession, []).append(out)
    return out


def release_scorer_model_caches(spark) -> int:
    """Unpersist every n-gram scorer model relation registered under
    SparkSession ``spark`` (r13, VERDICT item 7).  Returns the number
    released.  Safe to call at any time: a consumer mid-collect simply
    recomputes the (deterministic) model subtree on its next action."""
    with _SCORER_LOCK:
        mine = _SCORER_MODEL_CACHES.pop(spark, [])
    n = 0
    for df in mine:
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — a dead session is not an error
            pass
    return n


# Tiny deterministic stopword lists per language (public common words).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "es": ["el", "la", "y", "los", "las", "un", "una", "es"],
    "de": ["der", "die", "und", "das", "ein", "eine", "ist", "nicht"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def occurrences(col: Column, needle: str) -> Column:
    """Count of non-overlapping occurrences of ``needle`` in ``col``."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def token_count(col: Column) -> Column:
    """Whitespace token count: spaces + 1 on non-empty text (corpus uses
    single-space separation; exact and engine-portable)."""
    return F.when(F.length(col) == 0, F.lit(0)).otherwise(
        occurrences(col, " ") + 1
    )


def bpe_token_estimate(col: Column) -> Column:
    """BPE-ish token-count estimate: ~1 token per 4 chars, floored at the
    whitespace word count (common heuristic for English-like text)."""
    return F.greatest(
        F.ceil(F.length(col) / F.lit(4.0)).cast("long"), token_count(col)
    )


def word_stopword_hits(col: Column, words: list[str]) -> Column:
    """Whole-word stopword hits: count of whitespace tokens exactly equal
    to any listed word — ``size(filter(split(text), t -> t IN (...)))``.

    This replaced a padded-text replace-and-measure formulation for two
    reasons: (a) correctness — non-overlapping ``replace`` undercounts
    consecutive stopwords ("the the" counted 1); (b) plan cost — one
    length+replace pair PER WORD built an expression tree so large that
    driver-side Catalyst analysis/optimization (not execution) dominated
    every query embedding it (the fused feature pass spent ~3s planning,
    0.16s running, at sf0.1).  The token-equality form is one split plus
    an 8-literal IN — ~5× smaller per language."""
    return (
        F.size(
            F.filter(F.split(col, " "), lambda t: t.isin(*words))
        ).cast("long")
    )


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Append quality-signal columns: n_chars, n_tokens, mean_token_len,
    space_ratio, stopword_ratio, quality_score ∈ [0,1].

    Mirrors the shape of public quality heuristics (length, punctuation,
    stopword density) as pure arithmetic.
    """
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_spaces = occurrences(c, " ")
    stop_hits = word_stopword_hits(c, LANG_STOPWORDS["en"])
    mean_tok = (n_chars - n_spaces) / F.greatest(n_tokens, F.lit(1))
    space_ratio = n_spaces / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    tok_score = F.when((mean_tok >= 3) & (mean_tok <= 10), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    score = (len_score + tok_score + F.least(stop_ratio * 4, F.lit(1.0))) / F.lit(3.0)
    # ONE projection (withColumns), not six chained withColumn calls: each
    # withColumn re-analyzes the whole (large, duplicated-subtree) plan,
    # and driver-side analysis — not execution — was measured as the
    # dominant cost of the fused feature pass (2.4s analyze vs 0.16s run
    # at sf0.1)
    return df.withColumns(
        {
            "n_chars_calc": n_chars.cast("long"),
            "n_tokens": n_tokens.cast("long"),
            "mean_token_len": mean_tok.cast("double"),
            "space_ratio": space_ratio.cast("double"),
            "stopword_ratio": stop_ratio.cast("double"),
            "quality_score": score.cast("double"),
        }
    )


def lang_id(df: DataFrame, text_col: str) -> DataFrame:
    """Append ``lang_pred``: argmax of per-language whole-word stopword hits,
    deterministic tie-break by language code order.  N-gram-free heuristic
    language ID; swap the lists for real profiles without changing the plan."""
    c = F.col(text_col)
    scores = {
        lang: word_stopword_hits(c, words) for lang, words in LANG_STOPWORDS.items()
    }
    # layer 1: one projection computes every score column; layer 2 builds
    # the argmax from COLUMN REFERENCES, not re-inlined stop-hit trees —
    # the withColumn-per-score form re-analyzed the whole duplicated plan
    # per language and made driver analysis the pass's dominant cost
    scored = df.withColumns(
        {f"score_{lang}": scores[lang] for lang in sorted(scores)}
    )
    # argmax via max over struct(score, neg-ordered lang) — pure expressions
    best = F.greatest(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("score"),
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(scores))
        ]
    )
    return scored.withColumn(
        "lang_pred",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def pack_offsets(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    capacity: int,
    _pin_partitions: bool = True,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document its global
    token offset and the context-window chunk range it lands in —
    (id, n_tokens, start_offset, chunk_start, chunk_end).

    This is the standard LLM-pretraining packing (documents concatenated in
    id order, then sliced into fixed ``capacity`` windows; a document may
    straddle a boundary, hence the chunk RANGE).  The global running sum is
    computed scale-safely in two phases: range-partition by id, cumsum
    WITHIN each partition (an ordinary partitioned window — no
    single-partition WindowExec), then one tiny driver-side prefix sum of
    the per-partition totals broadcast back as base offsets.  The offsets
    are a pure function of the data (partition boundaries cancel out), so
    the operator stays oracle-exact."""
    base = df.select(F.col(id_col), F.col(tokens_col).cast("long").alias("_n"))
    part = base.repartitionByRange(id_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    from pyspark.sql.window import Window

    w_in = Window.partitionBy("_pid").orderBy(id_col)
    # PIN the (_pid, _cum_in) assignment before anything consumes it twice:
    # the totals collect below and the final join are two separate JOBS,
    # and an unmaterialized repartitionByRange re-samples its range
    # boundaries with a fresh seed per job — the second job's _pid
    # assignments can differ from the ones the collected _base prefix sums
    # describe, silently mis-basing offsets (measured: 249k of 400k rows
    # wrong at 64 partitions).  localCheckpoint makes both jobs read the
    # SAME materialized partitioning.  ``_pin_partitions=False`` exists
    # ONLY so the plan-quality test can see the pre-checkpoint window
    # shape (the pin truncates lineage); production always pins.
    local = part.withColumn("_cum_in", F.sum("_n").over(w_in))
    if _pin_partitions:
        local = local.localCheckpoint(eager=True)
    totals = (
        local.groupBy("_pid")
        .agg(F.max("_cum_in").alias("_tot"))
        .orderBy("_pid")
        .collect()
    )
    bases, acc = [], 0
    for r in totals:
        bases.append((int(r["_pid"]), acc))
        acc += int(r["_tot"])
    base_df = df.sparkSession.createDataFrame(bases, "_pid int, _base long")
    start = F.col("_base") + F.col("_cum_in") - F.col("_n")
    end_tok = start + F.greatest(F.col("_n"), F.lit(1)) - 1  # empty docs: 1 slot
    cap = F.lit(capacity)
    return local.join(F.broadcast(base_df), "_pid").select(
        F.col(id_col),
        F.col("_n").alias("n_tokens"),
        start.cast("long").alias("start_offset"),
        ((start - F.pmod(start, cap)) / cap).cast("long").alias("chunk_start"),
        ((end_tok - F.pmod(end_tok, cap)) / cap).cast("long").alias("chunk_end"),
    )


def sample_pred(id_col: Column | str, num: int, den: int = 256) -> Column:
    """Deterministic sampling predicate keeping ≈ ``num/den`` of rows:
    ``md5(id) < threshold`` compared LEXICOGRAPHICALLY on the hex digest
    (uniform over [0,1) in 1/256 steps for den=256).

    Why not rand()/TABLESAMPLE: replays, retries, and oracles all need the
    SAME sample from the same data; md5-of-id is reproducible in any engine
    (string compare only — no hex→int cast, which SQL dialects disagree
    on).  Runs JVM-side, pushes past shuffles, costs one hash per row."""
    if den not in (16, 256, 4096):
        raise ValueError("den must be a power of 16 (16, 256, or 4096)")
    width = {16: 1, 256: 2, 4096: 3}[den]
    if not (0 <= num <= den):
        raise ValueError(f"num must be in [0, {den}]")
    if num == den:
        # full rate: format(den) would be one hex char WIDER than the
        # digest prefix and the lexicographic compare would go wrong
        return F.lit(True)
    threshold = format(num, f"0{width}x")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(c.cast("string")) < F.lit(threshold)


def stratified_sample(
    df: DataFrame, id_col: str, strata_col: str, rates: dict[str, tuple[int, int]]
) -> DataFrame:
    """Keep each stratum at its own deterministic rate — the standard
    corpus-mixing move (e.g. downsample a dominant language).  ``rates``
    maps stratum value → (num, den); strata absent from the map — INCLUDING
    a NULL stratum (failed language-ID etc.) — are kept whole.  One
    predicate per stratum, OR-folded: pure codegen'd expressions, no join,
    no shuffle."""
    pred = None
    strata = set(rates)
    for val, (num, den) in sorted(rates.items()):
        p = (F.col(strata_col) == F.lit(val)) & sample_pred(id_col, num, den)
        pred = p if pred is None else (pred | p)
    # NULL stratum must be an explicit keep: NOT IN over a NULL is NULL in
    # three-valued logic, so without the isNull arm the filter would
    # silently DROP every NULL-stratum row instead of keeping it whole
    keep_rest = (
        (F.col(strata_col).isNull() | ~F.col(strata_col).isin(*strata))
        if strata
        else F.lit(True)
    )
    return df.filter(keep_rest | pred if pred is not None else F.lit(True))


def vocabulary(
    df: DataFrame, id_col: str, text_col: str, k: int = 50, min_count: int = 1
) -> DataFrame:
    """Corpus heavy hitters: top-``k`` tokens by frequency —
    (token, n_occurrences, n_docs).  One explode + one map-side-combined
    groupBy; the top-k is a TakeOrdered (no global sort materialization).
    The scale caveat is the explode width, not the aggregation: token
    cardinality ≪ token count, so the shuffle carries the vocabulary."""
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("_doc").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


def encode_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    oov_id: int = 0,
) -> DataFrame:
    """Vocabulary encoding — each document's token sequence mapped to ids,
    order preserved: (id, token_ids array<long>, n_tokens, n_oov).

    ``vocab`` is (token, vocab_id); unknown tokens map to ``oov_id``.  The
    classic text→tensor step before packing: posexplode keeps positions, the
    vocabulary (small by construction — heavy-hitter truncated) joins
    BROADCAST so the token stream never shuffles for the lookup; the only
    shuffle is the per-doc re-assembly, map-side combined, and the ordered
    array is rebuilt with array_sort over (pos, id) structs — no window, no
    per-doc sort pass."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"),
    ).filter(F.col("token") != "")
    joined = toks.join(F.broadcast(vocab), "token", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("vocab_id"), F.lit(oov_id)).cast("long").alias("tid"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
    )
    return joined.groupBy(id_col).agg(
        ordered.alias("token_ids"),
        F.count("*").alias("n_tokens"),
        F.sum((F.col("tid") == oov_id).cast("long")).alias("n_oov"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int,
    stride: int | None = None,
) -> DataFrame:
    """Sliding-window chunking — split each document's token sequence into
    windows of ``chunk_size`` tokens starting every ``stride`` tokens
    (default ``chunk_size``: disjoint chunks), the training-prep step that
    turns long documents into context-window-sized examples.

    Window rule (pinned, mirrored by the DuckDB gate): starts are 0,
    stride, 2·stride, … while start < n_tokens; each chunk is
    tokens[start : start+chunk_size], so the FINAL chunk may be short —
    no token is ever silently dropped, and with stride < chunk_size the
    tail overlap duplicates at most chunk_size-1 tokens, same as any
    HF-style overflow tokenizer.

    Output: (id, chunk_id, n_chunk_tokens, chunk_text), chunk_id 0-based
    in document order.

    Scale: one projection + explode — no shuffle, no window function, no
    UDF; output size is input·(chunk_size/stride), the same fan-out any
    overlap chunker pays, and it streams per-partition.  Pure codegen."""
    if stride is None:
        stride = chunk_size
    if stride < 1 or chunk_size < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = df.select(F.col(id_col), toks.alias("_t")).filter(
        F.size("_t") > 0  # empty docs chunk to nothing (and sequence()
        # with stop < start would refuse the bounds)
    )
    starts = F.sequence(F.lit(0), F.size("_t") - 1, F.lit(stride))
    return (
        base.select(
            F.col(id_col),
            F.col("_t"),
            F.posexplode(starts).alias("chunk_id", "_start"),
        )
        .select(
            id_col,
            "chunk_id",
            F.slice(F.col("_t"), F.col("_start") + 1, chunk_size).alias("_c"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("_c").alias("n_chunk_tokens"),
            F.array_join("_c", " ").alias("chunk_text"),
        )
    )


def unigram_model(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Laplace-smoothed unigram language model of the corpus itself:
    (token, nll) with nll = -ln((c+1)/(N+V)), N total tokens, V distinct.
    The CCNet-style quality-model step without an external LM: documents
    are scored against the corpus distribution, so pathological docs
    (rare-token soup) surface as high perplexity.

    One explode + one map-combined groupBy builds the counts; N and V are
    a 1-row aggregate broadcast (crossJoin of a singleton — no shuffle of
    the counts relation).  At 100 TB the vocabulary is capped to the
    heavy-hitter top-M with an OOV bucket holding the residual mass —
    the model side stays broadcastable; here the corpus IS the model, so
    the full observed vocabulary is exact and OOV cannot occur."""
    toks = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").alias("_n"), F.count("*").alias("_v")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "token",
        (
            -F.log(
                (F.col("c") + F.lit(1.0))
                / (F.col("_n") + F.col("_v")).cast("double")
            )
        ).alias("nll"),
    )


def unigram_nll_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame | None = None,
    broadcast_model: bool = True,
    oov_nll: float | None = None,
) -> DataFrame:
    """Per-document perplexity-proxy quality score against a unigram model:
    (id, n_tokens, avg_nll, ppl) with avg_nll = mean(-ln p(token)) and
    ppl = exp(avg_nll) — the filter CCNet/Gopher pipelines apply with a
    real LM, here with the corpus's own unigram distribution
    (:func:`unigram_model` by default).

    The model joins broadcast (heavy-hitter-capped models are small by
    construction; pass ``broadcast_model=False`` for an uncapped external
    model and let AQE pick) — the token stream itself never shuffles for
    the lookup; the only shuffle is the per-doc mean, map-side combined.
    Floats are rounded (6 / 2 decimals) so the score is stable across
    engines and replays."""
    if model is None:
        model = unigram_model(df, id_col, text_col)
    if broadcast_model:
        model = F.broadcast(model)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).filter(F.col("token") != "")
    if oov_nll is None:
        # self-scoring: every token is in the corpus-trained model; with
        # an EXTERNAL model, an inner join would silently drop unknown
        # tokens (shrinking n_tokens) — pass oov_nll to score them instead
        scored = toks.join(model, "token", "inner")
    else:
        scored = toks.join(model, "token", "left").withColumn(
            "nll", F.coalesce(F.col("nll"), F.lit(float(oov_nll)))
        )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
        F.round(F.exp(F.avg("nll")), 2).alias("ppl"),
    )


# Rolling-fingerprint polynomial base (odd, so multiplication mod 2^64 is
# a bijection); chosen once and pinned — changing it changes every stored
# fingerprint.
_FP_BASE = 1000003


def _fp_rolling64_weights(k: int) -> "np.ndarray":
    """Positional weights B^(k-1-j) mod 2^64 for the k-gram polynomial."""
    w = np.empty(k, dtype=np.uint64)
    acc = 1
    for j in range(k - 1, -1, -1):
        w[j] = np.uint64(acc)
        acc = (acc * _FP_BASE) % (1 << 64)
    return w


def rolling64_fp_kernel(texts: "pd.Series", k: int) -> "pd.Series":
    """The rolling64 fingerprint kernel, pure and Spark-free (pytest pins
    it against an independent per-character Python implementation): per
    text, min over all byte k-grams of the polynomial hash
    ``Σ byte_j · B^(k-1-j) mod 2^64`` (numpy uint64 wraparound — exact,
    platform-independent), the hash reinterpreted as SIGNED int64 before
    the min (so a SQL twin computing the same value as BIGINT picks the
    identical window).  Texts shorter than ``k`` bytes are zero-padded to
    one window; NULL in → NULL out."""
    weights = _fp_rolling64_weights(k)
    out = np.empty(len(texts), dtype=object)
    for i, t in enumerate(texts):
        if t is None:
            out[i] = None
            continue
        b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        if len(b) < k:
            b = np.pad(b, (0, k - len(b)))
        win = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
        with np.errstate(over="ignore"):  # mod-2^64 wraparound is the hash
            h = (win * weights).sum(axis=1, dtype=np.uint64)
        out[i] = int(h.view(np.int64).min())
    return pd.Series(out)


def fingerprint(
    df: DataFrame, text_col: str, k: int = 8, mode: str = "md5"
) -> DataFrame:
    """Append ``fp``: min hash over all char k-grams (MinHash-style rolling
    fingerprint / winnowing-lite).

    Three parameter-selected hash modes, same selection shape (the min
    over every k-gram window), different cost/portability trade-offs —
    measured at sf0.1 (5k docs, ~300 chars avg, warm local[32]):

    - ``"md5"`` (default) — ``fp string``, the cross-engine ORACLE form:
      every SQL engine computes the same lowercase hex, so the driver's
      DuckDB hash gate verifies it bit-for-bit.  Slowest (~2.0s): one
      full MD5 digest + 32-char hex allocation per character position.
    - ``"xxhash64"`` — ``fp bigint``, JVM-only production form: Spark's
      native XXH64 (seed 42) per k-gram, folded to the min with
      ``aggregate`` so no per-doc hash array materializes.  ~1.25× md5
      (~1.6s): the per-element interpretation overhead of Spark's
      higher-order-function lambdas, not the digest, is the floor — use
      where Python workers are unavailable.
    - ``"rolling64"`` — ``fp bigint``, the PRODUCTION form: Arrow-batched
      pandas UDF running :func:`rolling64_fp_kernel` (vectorized numpy
      polynomial hash over byte k-grams, mod 2^64).  ~3.6× md5 (~0.55s
      including Python-worker transfer); per-byte cost is a C multiply-
      add, and it only gets relatively faster as docs grow.  Grams are
      BYTE k-grams (UTF-8), vs CHAR k-grams in the JVM modes — same
      thing on ASCII corpora, documented drift on multibyte text.

    Use md5 where a cross-engine audit must replay the value, rolling64
    everywhere throughput matters.
    """
    c = F.col(text_col)
    npos = F.greatest(F.length(c) - (k - 1), F.lit(1))
    if mode == "md5":
        fp = F.array_min(
            F.transform(
                F.sequence(F.lit(1), npos),
                lambda i: F.md5(c.substr(i, F.lit(k))),
            )
        )
    elif mode == "xxhash64":
        # NULL text must fingerprint to NULL like the other two modes:
        # xxhash64(NULL) ignores the null argument and returns the SEED
        # (42), so without the guard every NULL-text doc would collide
        # into one constant-42 dedup bucket
        fp = F.when(
            c.isNotNull(),
            F.aggregate(
                F.sequence(F.lit(1), npos),
                F.lit(9223372036854775807),  # long max: identity for least()
                lambda acc, i: F.least(acc, F.xxhash64(c.substr(i, F.lit(k)))),
            ),
        )
    elif mode == "rolling64":

        @F.pandas_udf(T.LongType())
        def _fp(texts: pd.Series) -> pd.Series:
            return rolling64_fp_kernel(texts, k)

        fp = _fp(c)
    else:
        raise ValueError(f"fingerprint: unknown mode {mode!r}")
    return df.withColumn("fp", fp)


# PII redaction rules: (regex, replacement), applied IN ORDER — the email
# rule must run before the bare-number rule so the local-part's digits
# aren't chewed first.  Patterns stay inside the common Java-regex ∩ RE2
# subset (character classes, bounded repeats, \b word boundaries; no
# lookaround, no backreferences) so Spark's regexp_replace and any
# RE2-based engine (DuckDB, Go) redact IDENTICALLY — cross-engine parity
# of the scrub is itself a correctness property worth gating.
PII_RULES: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{7,}\b", "<NUM>"),
]


def redact_pii(col: Column) -> Column:
    """Scrub email addresses, dotted-quad IPs, and long digit runs (phone /
    account numbers) from a text column — chained JVM-side
    ``regexp_replace`` calls, whole-stage codegen, no Python.  The
    training-data hygiene pass every public corpus pipeline runs before
    tokenization."""
    out = col
    for pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def _term_freq_scaffold(df: DataFrame, id_col: str, text_col: str):
    """Shared tokenize → per-doc tf → corpus df scaffold for the term
    scorers (:func:`tfidf_topk_terms`, :func:`bm25_topk_terms`) — ONE
    tokenization rule, so a change to it can never silently diverge the
    two scorers.  Returns (toks, tf, dfreq)."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.length("token") > 0)
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    return toks, tf, dfreq


def _topk_terms(scored: DataFrame, id_col: str, k: int, cols: list[str]):
    """Shared per-doc top-k window for the term scorers: rank by
    (score desc, token asc) — one tie-break contract for both."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, *cols, "rank")
    )


def tfidf_topk_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-``k`` most distinctive terms per document, scored by
    ``tf × (N / df)`` — term frequency times inverse document frequency in
    its LINEAR form.  The classic ``tf·ln(N/df)`` ranks identically for a
    fixed tf (ln is monotone); the linear form is chosen because every
    arithmetic step (int multiply exact under 2^53, one IEEE division) is
    bit-identical across engines, whereas ``ln`` is a transcendental whose
    last ulp is libm-specific — determinism is a feature of the score.

    Plan shape: one shuffle for per-doc tf, one token-keyed aggregation for
    df, a join on token (AQE broadcasts it when the vocabulary is small;
    at open-vocabulary scale it stays a shuffle join — do NOT force
    broadcast, vocabularies at 100 TB don't fit), one per-doc window for
    the top-k.  ``n_docs`` avoids the extra count job when already known.

    Ties (equal score) break on token ascending — total order, so the
    result set is engine-stable.
    """
    if n_docs is None:
        n_docs = df.select(id_col).distinct().count()
    _toks, tf, dfreq = _term_freq_scaffold(df, id_col, text_col)
    scored = tf.join(dfreq, "token").withColumn(
        "score", F.col("tf").cast("double") * F.lit(n_docs) / F.col("df")
    )
    return _topk_terms(scored, id_col, k, ["token", "tf", "df", "score"])


#: GK-sketch accuracy for corpus_report(exact_median=False): the approx
#: median's rank error is bounded by n / accuracy per stratum — 0.01% at
#: 10,000, i.e. ±100 ranks per billion-row stratum, with sketch memory
#: O(accuracy · log n) instead of the exact path's O(n) buffer.
_APPROX_MEDIAN_ACCURACY = 10_000


def corpus_report(
    df: DataFrame,
    group_col: str,
    text_col: str,
    lang_col: str = "lang",
    quality_threshold: float = 0.35,
    exact_median: bool = True,
) -> DataFrame:
    """Per-stratum dataset card: the summary table a curation run publishes
    alongside the corpus (docs, token volume, length shape, language
    spread, heuristic-quality tail, exact-dup rate) — one groupBy on the
    stratum key, every aggregate map-side combined except the median.

    All arithmetic is engine-exact: counts and token sums are integers,
    the fractions are int/int rounded 6 dp, `quality_score` is the gated
    `quality_features` formula (rational doubles — comparisons against the
    threshold match any engine that computes the same formula), and the
    median is the EXACT interpolated percentile over integer char counts
    (x.0 / x.5 — representable).  Scale note: exact `percentile` buffers a
    group's values; strata are few and this gate needs bit-parity, but an
    open-scale report (billions of rows per stratum) should pass
    ``exact_median=False`` — `approx_percentile` (t-digest-style GK
    sketch, map-side combinable, bounded memory) replaces the buffering
    aggregate and every other column is unchanged (r9: the documented
    swap is now the one argument it claimed to be).  The approx path's
    CONTRACT (r10, the pinned error bar): with accuracy
    ``_APPROX_MEDIAN_ACCURACY`` = 10,000 the result is an actual data
    value whose RANK is within ``n / accuracy`` (0.01% of the stratum
    size) of the true median rank — the GK sketch's guarantee, stated in
    rank terms because value error depends on the distribution.
    Asserted against the exact path on the sf0.1 bench corpus
    (``tests/test_text_extras.py``).  `dup_text_frac` counts distinct
    md5(text) against docs — the exact-dup rate per stratum without
    running the dedup itself."""
    feat = quality_features(df, text_col)
    n = F.count("*")
    median = (
        F.percentile(F.length(text_col), F.lit(0.5))
        if exact_median
        else F.percentile_approx(
            F.length(text_col), F.lit(0.5), F.lit(_APPROX_MEDIAN_ACCURACY)
        ).cast("double")
    )
    return (
        feat.groupBy(group_col)
        .agg(
            n.alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("n_tokens") / n, 6).alias("avg_tokens"),
            median.alias("median_chars"),
            F.countDistinct(lang_col).alias("n_langs"),
            F.round(
                F.sum(
                    F.when(
                        F.col("quality_score") < quality_threshold, 1
                    ).otherwise(0)
                )
                / n,
                6,
            ).alias("low_quality_frac"),
            F.round(
                F.lit(1.0) - F.countDistinct(F.md5(F.col(text_col))) / n, 6
            ).alias("dup_text_frac"),
        )
        .orderBy(group_col)
    )


def gopher_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 2,
    dup_k: int = 5,
    top_frac_max: float = 0.2,
    dup_frac_max: float = 0.15,
) -> DataFrame:
    """Within-document repetition signals, the Gopher rules (Rae et al.
    2021, Table A1) re-expressed for the corpus convention: per document,
    the most frequent word-``top_k``-gram and the fraction of characters
    its occurrences account for (``top_char_frac`` — Gopher flags > 0.2
    for 2-grams), and the duplicate-``dup_k``-gram fraction
    (``dup_gram_frac`` = duplicated windows / windows; Gopher's variant
    counts duplicated CHARACTERS with position-coverage semantics — the
    token-window fraction used here flags the same pathology with
    engine-exact rational arithmetic and no order-dependent coverage
    scan).  ``flagged`` applies both thresholds to the 6-dp-rounded
    fractions, so the boolean is cross-engine exact too.

    Plan shape (r12): every signal is a function of ONE document's token
    array, so the whole operator is a ROW-LOCAL projection — no gram
    explode, no shuffle, no joins.  The previous relational form shuffled
    the full (id, gram) stream twice (measured 12 MB of shuffle at sf0.1,
    growing linearly with the corpus) to compute per-id aggregates that a
    sorted-array run scan produces in codegen (guide §2.4: remove the
    shuffle outright).  The top gram comes from a single ``aggregate``
    fold over the ASC-sorted gram array keeping the longest run with a
    strict ``>`` — on count ties the earlier (ascending) gram wins, the
    exact ``(count desc, gram asc)`` tie-break of the relational
    ``min_by`` form; the duplicate fraction is
    ``(size - size(array_distinct)) / size``.  No windows, no driver
    state; results are replay- and engine-stable.
    """

    def _grams_sql(k: int) -> str:
        return (
            f"transform(sequence(1, greatest(size(_toks) - {k - 1}, 1)), "
            f"i -> array_join(slice(_toks, i, {k}), ' '))"
        )

    run = "IF(x <=> s.g, s.r + 1L, 1L)"
    top_fold = (
        f"aggregate(array_sort(_g{top_k}), "
        "named_struct('g', CAST(NULL AS STRING), 'r', 0L, "
        "'bc', 0L, 'bg', CAST(NULL AS STRING)), "
        f"(s, x) -> named_struct('g', x, 'r', {run}, "
        f"'bc', IF({run} > s.bc, {run}, s.bc), "
        f"'bg', IF({run} > s.bc, x, s.bg)), "
        "s -> named_struct('top_gram', s.bg, 'top_count', s.bc))"
    )
    # the gram arrays are staged as their own projection so each is built
    # once; the folds below reference them by name (the usual
    # CollapseProject guard — codegen subexpression elimination keeps the
    # collapsed form single-evaluation, but the staged form is explicit)
    staged = df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).select(
        F.col(id_col),
        F.col("n_chars"),
        F.expr("CAST(size(_toks) AS BIGINT)").alias("n_tokens"),
        F.expr(_grams_sql(top_k)).alias(f"_g{top_k}"),
        F.expr(_grams_sql(dup_k)).alias(f"_g{dup_k}"),
    ).select(
        F.col(id_col),
        F.col("n_chars"),
        F.col("n_tokens"),
        F.expr(top_fold).alias("_t"),
        F.expr(
            f"named_struct('n', CAST(size(_g{dup_k}) AS BIGINT), "
            f"'d', CAST(size(array_distinct(_g{dup_k})) AS BIGINT))"
        ).alias("_d5"),
    )
    out = staged.select(
        id_col,
        "n_tokens",
        F.col("_t.top_gram").alias("top_gram"),
        F.col("_t.top_count").alias("top_count"),
        # greatest(n_chars, 1): every doc has ≥1 gram (a short doc yields
        # one window) and so ≥1 char, but the guard keeps `flagged` a
        # PROVABLY concrete boolean (never a divide-by-zero NULL that a
        # ~flagged filter would silently drop) — and keeps Spark and the
        # DuckDB oracle's zero-division behaviors out of the contract
        F.round(
            F.col("_t.top_count") * F.length("_t.top_gram")
            / F.greatest(F.col("n_chars"), F.lit(1)),
            6,
        ).alias("top_char_frac"),
        F.round(
            (F.col("_d5.n") - F.col("_d5.d")) / F.col("_d5.n"), 6
        ).alias("dup_gram_frac"),
    )
    return out.withColumn(
        "flagged",
        (F.col("top_char_frac") > F.lit(top_frac_max))
        | (F.col("dup_gram_frac") > F.lit(dup_frac_max)),
    )


def normalize_text(col: Column) -> Column:
    """Canonicalize text for dedup/fingerprinting: lowercase, collapse any
    whitespace run to one space, trim.  Pure JVM-side built-ins (codegen);
    the regex stays in the Java-regex ∩ RE2 subset so any SQL engine
    normalizes identically.  This is the pre-hash step real curation
    pipelines apply so trivially-reformatted copies (case, spacing) fall
    into the same exact-dedup bucket."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def bigram_backoff_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document NLL under a bigram model with absolute-discount backoff
    trained on the corpus itself — the step up from
    :func:`unigram_nll_scores` toward the real CCNet filter:

        P(w2|w1) = (c(w1 w2) - d) / c(w1)        if the bigram was seen
                 = lambda(w1) * P_uni(w2)          otherwise
        lambda(w1) = d * distinct_followers(w1) / c(w1)
        P_uni(w)   = (c(w) + 1) / (N + V)          (Laplace, as the unigram op)

    First token of each document scores under P_uni; every following token
    under the backoff bigram.  All probabilities are single IEEE ratios of
    exact integer counts (one multiply for the backoff leg), so both
    engines compute identical doubles; only ln's last ulp differs and the
    6-dp rounding absorbs it.

    Scale shape: bigram pairs come from an index-lambda transform over the
    token array (pure codegen, no self-join); the bigram model is
    corpus-vocabulary-sized and joins WITHOUT a forced broadcast (open
    bigram vocabularies must stay a shuffle join — AQE broadcasts small
    ones), while the unigram/lambda sides are vocab-sized broadcasts."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = df.select(F.col(id_col), toks.alias("_t")).filter(F.size("_t") > 0)

    # cached (vocab-sized): consumed by the Laplace totals, p_uni, and —
    # in the trigram scorer — the token-2 broadcast; uncached each ran its
    # own corpus explode + groupBy
    uni = _model_cache(
        base.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    totals = uni.agg(F.sum("c1").alias("_n"), F.count("*").alias("_v"))
    puni = _model_cache(
        uni.crossJoin(F.broadcast(totals)).select(
            "w",
            (
                (F.col("c1") + F.lit(1.0))
                / (F.col("_n") + F.col("_v")).cast("double")
            ).alias("p_uni"),
            "c1",
        )
    )
    # ^ cached: p_uni has THREE consumers (lambda build, first-token leg,
    # backoff leg); uncached, each re-ran the full corpus explode + vocab
    # groupBy + singleton-totals attach (3× the scan subtree in the plan).
    # The relation is vocab-sized — the same envelope that already
    # justifies broadcasting it into two of those consumers, so persisting
    # the MODEL once per scoring pass is standard (guide §5).

    pairs = base.select(
        F.col(id_col),
        F.explode(
            # single-token docs have no bigrams (sequence(1, 0) would count
            # DOWN through index 0 — guard, don't rely on it being empty)
            F.when(
                F.size("_t") > 1,
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("_t"), i).alias("w1"),
                        F.element_at(F.col("_t"), i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("_b"),
    ).select(id_col, F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))

    # cached: the bigram model itself — consumed by the lambda build AND
    # the open-vocab scoring join; uncached, each re-ran the pair explode
    # and its count aggregate over the whole corpus
    c2 = _model_cache(pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2")))
    lam = (
        c2.groupBy("w1")
        .agg(F.count("*").alias("_f"))
        .join(F.broadcast(puni.select(F.col("w").alias("w1"), "c1")), "w1")
        .select(
            "w1",
            (F.lit(discount) * F.col("_f") / F.col("c1").cast("double")).alias(
                "_lam"
            ),
            F.col("c1").alias("_c1"),
        )
    )

    first_nll = (
        base.select(id_col, F.element_at("_t", 1).alias("w"))
        .join(F.broadcast(puni.select("w", "p_uni")), "w")
        .select(id_col, (-F.log("p_uni")).alias("nll"))
    )
    bg_nll = (
        pairs.join(c2, ["w1", "w2"], "left")  # the open-vocab shuffle join
        .join(F.broadcast(lam), "w1")
        .join(
            F.broadcast(puni.select(F.col("w").alias("w2"), "p_uni")), "w2"
        )
        .select(
            id_col,
            (
                -F.log(
                    F.when(
                        F.col("c2").isNotNull(),
                        (F.col("c2") - F.lit(discount))
                        / F.col("_c1").cast("double"),
                    ).otherwise(F.col("_lam") * F.col("p_uni"))
                )
            ).alias("nll"),
        )
    )
    return (
        first_nll.unionByName(bg_nll)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
            F.round(F.exp(F.avg("nll")), 2).alias("ppl"),
        )
    )


def trigram_kn_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document NLL/perplexity under an interpolated Kneser–Ney
    TRIGRAM model trained on the corpus itself — the standard
    quality-filtering LM (the CCNet filter's shape), one order past
    :func:`bigram_backoff_scores`:

        P(w3|w1 w2) = (c(w1 w2 w3) − d)/c(w1 w2)
                      + λ(w1 w2) · P_mid(w3|w2)
        λ(w1 w2)    = d · N1+(w1 w2 •) / c(w1 w2)
        P_mid(w3|w2) = (N1+(• w2 w3) − d)/N1+(• w2 •)
                      + d · N1+(w2 •)/N1+(• w2 •) · P_cont(w3)
        P_cont(w)   = N1+(• w) / |bigram types|

    where N1+ are type (continuation) counts — KN's defining move: a
    word's backoff weight is how many distinct CONTEXTS it follows, not
    how often.  Position conventions: token 1 scores under the Laplace
    unigram (the corpus convention shared with the other scorers — the
    continuation unigram can be zero for a word seen only in one-token
    documents, Laplace never is); token 2 under bigram-KN with raw
    highest-order counts; tokens ≥3 under the trigram.  Trained-on-equals-
    scored means every n-gram scored was counted, so with d < 1 no
    max(·,0) clamp can bind and no zero-probability branch exists — every
    probability is a fixed dag of exact-integer-count ratios, two
    multiplies and two adds, identical doubles in both engines; the 6-dp
    avg_nll rounding absorbs ln's last ulp.

    Scale shape (same as the bigram op): n-gram streams are index-lambda
    transforms over the token array (codegen, no self-joins); all count
    aggregations are map-side combined; the trigram and bigram model
    relations join as open-vocabulary SHUFFLE joins (AQE broadcasts small
    ones), while every vocab-sized side (unigram, per-w2 middle totals,
    continuation counts) broadcasts."""
    d = float(discount)
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = df.select(F.col(id_col), toks.alias("_t")).filter(F.size("_t") > 0)

    # cached (vocab-sized): consumed by the Laplace totals, p_uni, and —
    # in the trigram scorer — the token-2 broadcast; uncached each ran its
    # own corpus explode + groupBy
    uni = _model_cache(
        base.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    totals = uni.agg(F.sum("c1").alias("_n"), F.count("*").alias("_v"))
    puni = uni.crossJoin(F.broadcast(totals)).select(
        "w",
        (
            (F.col("c1") + F.lit(1.0))
            / (F.col("_n") + F.col("_v")).cast("double")
        ).alias("p_uni"),
        "c1",
    )

    def _grams(n: int, fields: list[str]):
        # (id, w1..wn) stream via one array transform — no self-joins
        struct_t = ",".join(f"{f}:string" for f in fields)
        return base.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size("_t") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                        lambda i: F.struct(
                            *[
                                F.element_at(F.col("_t"), i + j).alias(
                                    fields[j]
                                )
                                for j in range(n)
                            ]
                        ),
                    ),
                ).otherwise(F.array().cast(f"array<struct<{struct_t}>>"))
            ).alias("_g"),
        ).select(id_col, *[F.col(f"_g.{f}").alias(f) for f in fields])

    pairs = _grams(2, ["w1", "w2"])
    trips = _grams(3, ["w1", "w2", "w3"])

    # cached: c2/c3 ARE the model relations and fan out to 5 / 3 consumers
    # below (type counts, continuation counts, totals, scoring joins);
    # uncached, every consumer re-ran the gram explode + count aggregate
    # over the whole corpus.  n-gram-type-sized — the materialized-model
    # envelope this scorer already assumes (guide §5: reused and expensive
    # to recompute).
    c2 = _model_cache(pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2")))
    # vocab-sized sides of the bigram level: raw-count follower types and
    # the continuation-unigram numerator (distinct predecessors)
    fol1 = c2.groupBy("w1").agg(F.count("*").alias("f1"))
    cont1 = c2.groupBy("w2").agg(F.count("*").alias("k1"))
    btypes = c2.agg(F.count("*").alias("_bt"))

    c3 = _model_cache(
        trips.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    )
    fol12 = c3.groupBy("w1", "w2").agg(F.count("*").alias("f12"))
    cont3 = c3.groupBy("w2", "w3").agg(F.count("*").alias("k3"))
    mid = cont3.groupBy("w2").agg(
        F.sum("k3").alias("m_tot"),  # N1+(• w2 •)
        F.count("*").alias("m_fol"),  # N1+(w2 •) in the type sense
    )

    p_cont = F.col("k1") / F.col("_bt").cast("double")
    first_nll = (
        base.select(id_col, F.element_at("_t", 1).alias("w"))
        .join(F.broadcast(puni.select("w", "p_uni")), "w")
        .select(id_col, (-F.log("p_uni")).alias("nll"))
    )
    # token 2: bigram-KN with raw highest-order counts — defined for every
    # document bigram (it was counted)
    second_nll = (
        base.filter(F.size("_t") > 1)
        .select(
            id_col,
            F.element_at("_t", 1).alias("w1"),
            F.element_at("_t", 2).alias("w2"),
        )
        .join(c2, ["w1", "w2"])
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), "c1")), "w1")
        .join(F.broadcast(fol1), "w1")
        .join(F.broadcast(cont1), "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            id_col,
            (
                -F.log(
                    (F.col("c2") - F.lit(d)) / F.col("c1").cast("double")
                    + (F.lit(d) * F.col("f1") / F.col("c1").cast("double"))
                    * p_cont
                )
            ).alias("nll"),
        )
    )
    tri_nll = (
        trips.join(c3, ["w1", "w2", "w3"])  # open-vocab shuffle join
        .join(c2.withColumnRenamed("c2", "c12"), ["w1", "w2"])
        .join(fol12, ["w1", "w2"])
        .join(cont3, ["w2", "w3"])
        .join(F.broadcast(mid), "w2")
        .join(F.broadcast(cont1.withColumnRenamed("w2", "w3")), "w3")
        .crossJoin(F.broadcast(btypes))
        .select(
            id_col,
            (
                -F.log(
                    (F.col("c3") - F.lit(d)) / F.col("c12").cast("double")
                    + (F.lit(d) * F.col("f12") / F.col("c12").cast("double"))
                    * (
                        (F.col("k3") - F.lit(d))
                        / F.col("m_tot").cast("double")
                        + (
                            F.lit(d)
                            * F.col("m_fol")
                            / F.col("m_tot").cast("double")
                        )
                        * p_cont
                    )
                )
            ).alias("nll"),
        )
    )
    return (
        first_nll.unionByName(second_nll)
        .unionByName(tri_nll)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
            F.round(F.exp(F.avg("nll")), 2).alias("ppl"),
        )
    )


def assign_splits(
    df: DataFrame, id_col: str, weights: dict[str, float]
) -> DataFrame:
    """Deterministic dataset split assignment (train/val/test): the md5 of
    the id, read as a 4-hex-digit fraction, lands in cumulative-weight
    bins quantized to /65536 — same split for every row on every replay,
    in any engine, with no rand() and no shuffle (pure codegen CASE).
    Weights must sum to ≤ 1; any remainder falls to the LAST split."""
    return df.withColumn("split", split_column(id_col, weights))


def split_column(id_col: str, weights: dict[str, float]) -> Column:
    """The split assignment as a bare Column over any id expression —
    usable on BOTH ends of a pair relation (the split-leakage audit
    computes split(id_a) and split(id_b) row-locally, never joining the
    assignment back)."""
    names = list(weights)
    if not names:
        raise ValueError("need at least one split")
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"assign_splits: negative weight in {weights}")
    # validate loudly (same stance as chunk_documents/shuffle_shards):
    # an over-summing dict would silently starve the remainder split —
    # every clamped bound collapses to 0xffff and the last split receives
    # ~1/65536 of the corpus with no error, replay-deterministically wrong
    if sum(weights.values()) > 1.0 + 1e-9:
        raise ValueError(
            f"assign_splits: weights sum to {sum(weights.values()):.6f} > 1 "
            f"({weights}); the remainder convention needs sum ≤ 1"
        )
    cum, bounds = 0.0, []
    for name in names[:-1]:
        cum += weights[name]
        # a cumulative bound of exactly 1.0 must swallow EVERYTHING —
        # clamping it to 0xffff would leak the 'ffff'-prefixed 1/65536 of
        # rows into the next split (quiet train/test contamination when
        # that split has weight 0); None marks an always-match bound
        q = int(cum * 65536)
        bounds.append((name, format(q, "04x") if q < 65536 else None))
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    # first-match CASE chain over ascending cumulative bounds
    chain = None
    for name, bound in bounds:
        cond = F.lit(True) if bound is None else (h < F.lit(bound))
        chain = F.when(cond, F.lit(name)) if chain is None else chain.when(
            cond, F.lit(name)
        )
    return chain.otherwise(F.lit(names[-1])) if chain is not None else F.lit(
        names[-1]
    )


def temperature_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    alpha: float = 0.5,
    quantum: int = 65536,
) -> DataFrame:
    """Temperature-based source rebalancing: keep each source at a rate
    making the SAMPLED shares ∝ n_s^alpha (alpha < 1 flattens the mix —
    the multilingual/multi-domain pretraining move).  Rates are
    r_s = C · n_s^(alpha-1) with C = min_s n_s^(1-alpha), so the smallest
    source keeps everything and larger sources downsample — sampling
    without replication can only remove.  The keep rule is the
    md5-threshold predicate (replay- and engine-exact); rates quantize to
    /``quantum``.  With alpha = 0.5 the powers are sqrt — correctly
    rounded in IEEE, so both engines derive identical rates from identical
    counts (avoid irrational alphas in gates: pow's rounding is
    libm-specific).  One count aggregation + a broadcast of #sources rows;
    the keep predicate is codegen."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha in (0, 1]")

    def _pow(c):
        return F.sqrt(c) if alpha == 0.5 else F.pow(c, F.lit(alpha))

    # NULL sources form their own stratum (an equi-join would silently
    # drop them — same contract as stratified_sample's NULL handling)
    skey = F.coalesce(F.col(source_col).cast("string"), F.lit("\x00null"))
    df = df.withColumn("_src_key", skey)
    counts = df.groupBy("_src_key").agg(F.count("*").alias("_ns"))
    c_min = counts.agg(
        F.min(F.col("_ns") / _pow(F.col("_ns").cast("double"))).alias("_c")
    )
    # the ARGMIN source's ratio is mathematically exactly 1, but the float
    # round-trip (c * pow(ns) / ns) lands at 0.999999999999999x for ~3.7%
    # of source sizes, flooring to quantum-1 and silently dropping
    # 1/quantum of the smallest source — violating the keep-everything
    # contract.  The min is one of the compared values, so float equality
    # of the identically-computed expression identifies the argmin rows
    # exactly (in any engine); they get the full quantum outright.
    ratio_term = F.col("_ns") / _pow(F.col("_ns").cast("double"))
    rates = (
        counts.crossJoin(F.broadcast(c_min))
        .select(
            "_src_key",
            F.when(ratio_term == F.col("_c"), F.lit(quantum).cast("long"))
            .otherwise(
                F.floor(
                    F.col("_c")
                    * _pow(F.col("_ns").cast("double"))
                    / F.col("_ns")
                    * F.lit(quantum)
                ).cast("long")
            )
            .alias("_keep_q"),
        )
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(rates), "_src_key")
        .filter(F.pmod(h, F.lit(quantum)) < F.col("_keep_q"))
        .drop("_keep_q", "_src_key")
    )


def shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str = "",
) -> DataFrame:
    """Deterministic global training shuffle, sharded: every row gets a
    ``shuffle_key`` (md5 of seed:id — a seeded pseudorandom but
    replay-exact permutation key), a ``shard`` (key mod ``n_shards``) and
    a ``pos`` (rank of the key within its shard).  Reading shards in
    order of (shard, pos) IS the shuffled epoch order; changing ``seed``
    reshuffles without touching the data.

    Scale shape: the only wide edge is the per-shard ``row_number``
    window — an (n_shards)-way hash partition followed by an in-partition
    sort, i.e. exactly the ``repartition(shard).sortWithinPartitions``
    shape a sharded training-data write runs.  There is NO global-order
    window at any size: pick ``n_shards`` ≥ cluster parallelism (tens of
    thousands at 100 TB) and each sort handles corpus/n_shards rows.
    The md5 key makes shard occupancy uniform, so no shard is skewed by
    construction."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    key = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )
    out = df.withColumn("shuffle_key", key).withColumn(
        "shard",
        F.pmod(
            F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("long"),
            F.lit(n_shards),
        ),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return out.withColumn("pos", F.row_number().over(w))


def mixture_oversample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict[str, float],
    quantum: int = 65536,
) -> DataFrame:
    """Epoch construction toward TARGET mixture weights, with repeats:
    where ``temperature_sample`` can only remove rows, this emits each
    source's rows ``w_s·N/n_s`` times (N = corpus size) — integer part as
    whole copies, fractional part as a deterministic md5-threshold extra
    copy — so the epoch has ~N rows distributed per ``weights``.  Output
    adds ``copy_id`` (1-based); downstream shuffling (``shuffle_shards``
    keyed on (id, copy_id)) separates the copies across the epoch.

    Weights should sum to ~1 and cover every source value; sources absent
    from ``weights`` get weight 0 and drop out (loudly visible in the
    output mix, deliberately — silently keeping them would break the
    target distribution).  NULL sources key as the reserved NULL stratum
    and may be weighted via the ``None`` key.

    Scale shape: one count aggregation (map-combined, one row per
    source), a broadcast of #sources rate rows, then a row-local
    ``sequence``+``explode`` — no shuffle touches the corpus beyond the
    count.  The fractional-copy rule is the same replay-exact
    md5-threshold predicate as the samplers, salted with "+" so it is
    independent of the plain keep-rule's coin."""
    skey = F.coalesce(F.col(source_col).cast("string"), F.lit("\x00null"))
    df = df.withColumn("_src_key", skey)
    counts = df.groupBy("_src_key").agg(F.count("*").alias("_ns"))
    total = counts.agg(F.sum("_ns").alias("_n"))
    wmap = F.create_map(
        *[
            x
            for k, v in weights.items()
            for x in (
                F.lit("\x00null" if k is None else str(k)),
                F.lit(float(v)),
            )
        ]
    )
    rates = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "_src_key",
            (
                F.coalesce(wmap[F.col("_src_key")], F.lit(0.0))
                * F.col("_n").cast("double")
                / F.col("_ns").cast("double")
            ).alias("_f"),
        )
        .select(
            "_src_key",
            F.floor("_f").cast("long").alias("_k_int"),
            F.floor(
                (F.col("_f") - F.floor("_f")) * F.lit(quantum)
            ).cast("long").alias("_frac_q"),
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit("+"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    copies = F.col("_k_int") + F.when(
        F.pmod(h, F.lit(quantum)) < F.col("_frac_q"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(rates), "_src_key")
        .withColumn("_copies", copies)
        .withColumn(
            "copy_id",
            F.explode(
                F.when(
                    F.col("_copies") > 0,
                    F.sequence(F.lit(1).cast("long"), F.col("_copies")),
                ).otherwise(F.array().cast("array<long>"))
            ),
        )
        .drop("_src_key", "_k_int", "_frac_q", "_copies")
    )


def temperature_weights(
    weights: dict[str | None, float], temperature: float = 1.0
) -> dict[str | None, float]:
    """τ-scaled mixture weights: ``w'_s ∝ w_s^(1/τ)``, normalized.  τ=1
    keeps the weights; τ>1 flattens toward uniform (the multilingual
    up-sampling move); τ<1 sharpens toward the dominant source.  Pure
    driver-side arithmetic so the operator and the oracle share the exact
    same double literals."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    if any(v < 0 for v in weights.values()):
        raise ValueError("mixture weights must be >= 0")
    powed = {k: v ** (1.0 / temperature) for k, v in weights.items()}
    z = sum(powed.values())
    if z <= 0:
        raise ValueError("mixture weights sum to zero")
    return {k: v / z for k, v in powed.items()}


def mixture_by_tokens(
    df: DataFrame,
    id_col: str,
    source_col: str,
    tokens_col: str,
    weights: dict[str | None, float],
    total_tokens: int,
    temperature: float = 1.0,
) -> DataFrame:
    """Epoch construction toward per-source TOKEN budgets — what training
    mixes actually target (``mixture_oversample`` weights by documents;
    a budget of 500B tokens at 30% web is a token statement).  The
    τ-scaled weights (:func:`temperature_weights`) set each source's
    budget ``T_s = w'_s · total_tokens``; each source emits
    ``floor(T_s / corpus_tokens_s)`` whole copies of every document plus
    a deterministic md5-ordered PREFIX of documents covering the
    fractional remainder — so the realized per-source token sum lands in
    ``[T_s, T_s + one document)``: budget hit within one document, not
    merely in expectation (an independent per-doc coin would wander
    ±√n·doc̄ tokens).

    Scale shape: one per-source total (map-combined, #sources rows
    collected), then the remainder prefix needs a per-source running
    token sum in md5 order — computed with the SAME two-phase trick as
    :func:`pack_offsets`: range-partition by (source, md5, id), cumsum
    within partitions (ordinary partitioned window, never a
    single-partition WindowExec even when one source dominates the
    corpus), one tiny driver prefix over per-(source, partition) totals
    broadcast back.  Copies then explode row-locally.  Output adds
    ``copy_id`` (1-based), ready for ``shuffle_shards`` keyed on
    (id, copy_id)."""
    if total_tokens < 0:
        raise ValueError("total_tokens must be >= 0")
    w = temperature_weights(weights, temperature)
    skey = F.coalesce(F.col(source_col).cast("string"), F.lit("\x00null"))
    tok = F.col(tokens_col).cast("long")
    base = df.withColumn("_src_key", skey).withColumn("_ntok", tok)
    per_src = {
        r["_src_key"]: int(r["_tok"])
        for r in base.groupBy("_src_key")
        .agg(F.sum("_ntok").alias("_tok"))
        .collect()
    }
    rates = []
    for k, ws in sorted(
        w.items(), key=lambda kv: "\x00null" if kv[0] is None else str(kv[0])
    ):
        sk = "\x00null" if k is None else str(k)
        n_tok = per_src.get(sk, 0)
        if n_tok <= 0 or ws <= 0:
            continue
        target = ws * float(total_tokens)
        f = target / float(n_tok)
        k_int = int(f)  # floor for f >= 0
        rem = target - k_int * float(n_tok)
        rates.append((sk, k_int, rem))
    if not rates:
        return (
            base.drop("_src_key", "_ntok")
            .withColumn("copy_id", F.lit(1).cast("long"))
            .limit(0)
        )
    rates_df = df.sparkSession.createDataFrame(
        rates, "_src_key string, _k_int long, _rem double"
    )
    # deterministic per-source order: md5 salted '~mix' so it is
    # independent of every other sampler's coin, id as tiebreak
    ordered = (
        base.join(F.broadcast(rates_df), "_src_key")
        .withColumn(
            "_h", F.md5(F.concat(F.col(id_col).cast("string"), F.lit("~mix")))
        )
        .repartitionByRange("_src_key", "_h", id_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    from pyspark.sql.window import Window

    w_in = Window.partitionBy("_src_key", "_pid").orderBy("_h", id_col)
    local = ordered.withColumn(
        "_cum_in", F.sum("_ntok").over(w_in)
    ).localCheckpoint(eager=True)  # pin _pid before the two jobs (pack_offsets)
    totals = (
        local.groupBy("_src_key", "_pid")
        .agg(F.max("_cum_in").alias("_tot"))
        .orderBy("_src_key", "_pid")
        .collect()
    )
    bases, acc, cur = [], 0, None
    for r in totals:
        if r["_src_key"] != cur:
            cur, acc = r["_src_key"], 0
        bases.append((cur, int(r["_pid"]), acc))
        acc += int(r["_tot"])
    base_df = df.sparkSession.createDataFrame(
        bases, "_src_key string, _pid int, _base long"
    )
    cum_before = (F.col("_base") + F.col("_cum_in") - F.col("_ntok")).cast(
        "double"
    )
    copies = F.col("_k_int") + F.when(
        cum_before < F.col("_rem"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        local.join(F.broadcast(base_df), ["_src_key", "_pid"])
        .withColumn(
            "copy_id",
            F.explode(
                F.when(
                    copies > 0,
                    F.sequence(F.lit(1).cast("long"), copies),
                ).otherwise(F.array().cast("array<long>"))
            ),
        )
        .drop(
            "_src_key", "_ntok", "_h", "_pid", "_cum_in", "_base", "_k_int",
            "_rem",
        )
    )


def dsir_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target: DataFrame,
) -> DataFrame:
    """DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): every document gets the
    mean per-token log-likelihood RATIO between a target-domain unigram
    model and the full-corpus background model —
    ``logratio = avg(bg_nll - tgt_nll)``, positive = more target-like.
    The published method scores hashed n-gram features; the unigram form
    here keeps the score exactly SQL-expressible (the gate) while the
    feature extractor stays swappable.

    Tokens unseen by the TARGET model score its Laplace floor
    ``ln(N_t + V_t)`` (the -ln(1/(N+V)) smoothing mass); the background
    model is trained on the full corpus, so background OOV cannot occur.

    Scale shape: both models are heavy-hitter-boundable (token, nll)
    relations joined BROADCAST onto the exploded token stream — the
    corpus never shuffles for the lookups; the only corpus-keyed shuffle
    is the per-doc mean, map-side combined.  Scores round to 6 decimals
    for engine-exact replay (the unigram-gate convention)."""
    m_t = unigram_model(target, id_col, text_col).withColumnRenamed(
        "nll", "_nll_t"
    )
    m_b = unigram_model(docs, id_col, text_col).withColumnRenamed(
        "nll", "_nll_b"
    )
    tgt_toks = target.select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.col("token") != "")
    oov_t = tgt_toks.groupBy("token").count().agg(
        F.log(
            (F.sum("count") + F.count("*")).cast("double")
        ).alias("_oov_t")
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).filter(F.col("token") != "")
    scored = (
        toks.join(F.broadcast(m_t), "token", "left")
        .join(F.broadcast(m_b), "token", "inner")
        .crossJoin(F.broadcast(oov_t))
        .withColumn("_nll_t", F.coalesce(F.col("_nll_t"), F.col("_oov_t")))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg(F.col("_nll_b") - F.col("_nll_t")), 6).alias(
            "logratio"
        ),
    )


def dsir_gumbel_topk(
    scores: DataFrame,
    id_col: str,
    k: int,
    seed: str = "",
    quantum: int = 65536,
) -> DataFrame:
    """The RESAMPLING half of DSIR: importance-weighted sampling without
    replacement via the Gumbel-top-k trick — add an i.i.d. Gumbel noise
    ``g = -ln(-ln(u))`` to each log-weight and take the top k, which
    samples exactly proportionally to the weights.  The uniform u is the
    seeded md5 coin quantized to (h+0.5)/quantum, so the "randomness" is
    replay- and engine-exact like every sampler here; both the Gumbel and
    the key round to 6 decimals so the ordering never hinges on a
    last-ulp libm difference.  One TakeOrdered over row-local arithmetic
    — no shuffle beyond the top-k reduction."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), F.lit("~g"), F.col(id_col).cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (F.pmod(h, F.lit(quantum)) + F.lit(0.5)) / F.lit(float(quantum))
    g = F.round(-F.log(-F.log(u)), 6)
    keyed = scores.withColumn("gumbel_key", F.round(F.col("logratio") + g, 6))
    return keyed.orderBy(
        F.col("gumbel_key").desc(), F.col(id_col).asc()
    ).limit(k)


def length_batches(
    df: DataFrame,
    id_col: str,
    len_col: str,
    bin_width: int,
    batch_size: int,
    n_salts: int = 1,
    seed: str = "",
) -> DataFrame:
    """Length-bucketed batch assembly: group rows of similar ``len_col``
    (token count) into fixed-size batches so per-batch padding-to-max is
    small — the dynamic-batching step of every training/inference data
    loader, as a deterministic DataFrame op.  Adds ``bucket``
    (floor(len/bin_width)), ``salt``, ``batch_id`` (within (bucket,
    salt)) and ``pos`` (1..batch_size within the batch); membership is
    ordered by the seeded md5 key, so batches are replay-exact and
    length-homogeneous but otherwise unbiased samples of their bucket.

    Scale shape: the only wide edge is the per-(bucket, salt) rank
    window.  Length distributions are HEAVILY skewed in real corpora
    (most docs land in a few buckets), so the salt — md5-uniform,
    batch-count-preserving — splits each bucket into ``n_salts``
    independently-batched cells: window partitions are bounded by
    corpus/(buckets·salts) at the cost of ≤ n_salts-1 partial batches
    per bucket.  Set n_salts ~ thousands at 100 TB; 1 keeps exact
    single-cell batching for small data."""
    if bin_width <= 0 or batch_size <= 0 or n_salts <= 0:
        raise ValueError("bin_width, batch_size, n_salts must be positive")
    key = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )
    out = (
        df.withColumn("_bkey", key)
        .withColumn(
            "bucket", F.floor(F.col(len_col) / F.lit(bin_width)).cast("long")
        )
        .withColumn(
            "salt",
            F.pmod(
                F.conv(F.substring("_bkey", 1, 8), 16, 10).cast("long"),
                F.lit(n_salts),
            ),
        )
    )
    w = Window.partitionBy("bucket", "salt").orderBy("_bkey", id_col)
    rank0 = F.row_number().over(w) - F.lit(1)
    return (
        out.withColumn(
            "batch_id", F.floor(rank0 / F.lit(batch_size)).cast("long")
        )
        .withColumn(
            "pos", (F.pmod(rank0, F.lit(batch_size)) + F.lit(1)).cast("int")
        )
        .drop("_bkey")
    )


def bm25_topk_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-``k`` BM25 terms per document — the retrieval-side sibling of
    :func:`tfidf_topk_terms`: Lucene-form idf ``ln((N−df+0.5)/(df+0.5)+1)``
    times the saturating tf ``tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))``.
    Unlike linear tf-idf, BM25 damps high-tf spam and normalizes by doc
    length — the scorer dedup/decontamination candidate mining and
    retrieval-based data selection actually use.

    Engine-exact determinism: the idf's ``ln`` rounds to 6 dp BEFORE the
    multiply (the dsir/unigram convention — transcendental last-ulps are
    libm-specific), the length sums are integer-exact, and avgdl is one
    exact long-sum division; ties break (score desc, token asc).

    Plan shape mirrors tf-idf: per-doc tf shuffle, token-keyed df
    aggregation, a doc-keyed length join (map-side combinable), the
    token join left to AQE (open vocabularies don't broadcast), and one
    per-doc top-k window."""
    if n_docs is None:
        n_docs = df.select(id_col).distinct().count()
    toks, tf, dfreq = _term_freq_scaffold(df, id_col, text_col)
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    avg = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("_avgdl")
    )
    idf = F.round(
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    scored = (
        tf.join(dfreq, "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(avg))
        .withColumn(
            "score",
            F.round(
                idf
                * (
                    F.col("tf").cast("double") * F.lit(k1 + 1.0)
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.col("_avgdl")
                        )
                    )
                ),
                6,
            ),
        )
    )
    return _topk_terms(
        scored, id_col, k, ["token", "tf", "df", "dl", "score"]
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_docs: int | None = None,
) -> DataFrame:
    """Query-against-corpus BM25 retrieval: the top-``k`` documents for a
    query string — what :func:`bm25_topk_terms` scores per document, this
    runs as the SEARCH a retrieval-based data-selection pass issues
    (mine positives for a classifier, pull benchmark-neighborhood docs
    for decontamination review).

    Plan shape: the query's term set is a driver-side literal, so the
    token stream filters to query terms BEFORE the tf aggregation — the
    expensive shuffle is over (doc, query-term) pairs only, a tiny slice
    of the corpus; document lengths (the full-stream aggregate) shuffle
    once as (doc, count) pairs; the final top-k is one TakeOrdered, no
    window.  Per-term weights follow bm25_topk_terms exactly (6-dp
    rounded idf and contribution); the per-doc SUM runs in DECIMAL(18,6)
    — integer-exact and order-independent, so the engines agree
    bit-for-bit without trusting float summation order.  Ties break
    (score desc, id asc)."""
    terms = sorted({t for t in query.split(" ") if t})
    if not terms:
        raise ValueError("bm25_search: empty query")
    if n_docs is None:
        n_docs = df.select(id_col).distinct().count()
    toks, _tf, _dfreq = _term_freq_scaffold(df, id_col, text_col)
    qtoks = toks.filter(F.col("token").isin(terms))
    tf = qtoks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    avg = dl.agg((F.sum("dl").cast("double") / F.count("*")).alias("_avgdl"))
    contrib = bm25_contrib_expr(n_docs, k1, b)
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(avg))
        .select(F.col(id_col), contrib.cast("decimal(18,6)").alias("_c"))
        .groupBy(id_col)
        .agg(F.sum("_c").alias("_s"))
        .select(F.col(id_col), F.col("_s").cast("double").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def bm25_contrib_expr(n_docs: int, k1: float, b: float):
    """The per-(doc, term) BM25 contribution over columns ``tf`` / ``df``
    / ``dl`` / ``_avgdl`` — ONE expression shared by :func:`bm25_search`
    (the corpus-scan path) and the persisted-index probe
    (:mod:`..operators.bm25_index`), so the two retrieval paths can never
    silently diverge: 6-dp rounded Lucene idf
    ``ln((N−df+0.5)/(df+0.5)+1)`` times the 6-dp rounded saturation term."""
    idf = F.round(
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    return F.round(
        idf
        * (
            F.col("tf").cast("double") * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
            )
        ),
        6,
    )
