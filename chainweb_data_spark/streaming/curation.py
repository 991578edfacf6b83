"""Continuous curation sink — the train-prep pipeline as a STREAMING job:
each arriving micro-batch of documents is quality-scored, exact-deduped
against all history, near-dup-probed against the incremental MinHash
index, and folded into a curated silver table with a per-reason reject
log and incremental corpus stats — all with the listen sink's
merge/replay discipline, so a crash anywhere replays to the same state.

The batch capstones (queries/pipeline.py ``curation_pipeline``,
``train_prep_pipeline``) answer "curate this corpus"; this module answers
the production shape that exists the moment ingestion is continuous:
"curate what arrived since the last trigger, against everything already
held".  Per batch the work is O(batch + hits) — nothing here rescans
history:

- quality + language-ID are row-local projections (operators/text.py);
- exact cross-history dedup probes a ``content_hashes`` silver table
  (PK content_hash — the FIRST holder of a hash stays canonical forever)
  with the batch side BROADCAST and the table scanned map-side only,
  partition-pruned by the hash's first hex char: the dedup-index probe
  pattern applied to exact identity;
- near-dup detection is ``dedup_index.update_dedup_index`` unchanged —
  three silver tables, the historical hot-bucket rail;
- the curated table, reject log, hash table, per-language corpus stats
  and the per-batch summary land through idempotent PK merges.

Exactly-once: the engine replays an uncommitted batch with the SAME
batch_id; every write above is PK-idempotent (replays append nothing)
and the index fold is idempotent per (content, batch_id), so the
post-replay state equals the single-run state.  All eight tables — the
five curation tables and the index's three — commit through ONE
transaction-log commit (``publish.publish_batch``), so a crash anywhere
leaves the batch wholly absent.

Reject semantics are flag-don't-drop at the LOG level: rejected docs are
recorded with (reason, detail), kept docs land in the curated table —
the caller's training job reads curated_docs and never re-derives the
decisions.  Near-dup-rejected and exact-dup-rejected docs still fold
into the hash table / dedup index (the content EXISTS; future copies
must flag against it) — only quality-rejected docs are invisible to
dedup history, because their text was never admitted.

Reference parity: the reference's streaming surface is the header SSE
listen (haskell-src/exec/Chainweb/Listen.hs); it has no document/curation
surface.  This composes the beyond-reference curation operators into the
continuous form a 100 TB training-data pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import lang_id, normalize_text, quality_features
from .corpus_stats import stats_delta
from .dedup_index import _id_bucket, update_dedup_index
from .publish import compact_published, publish_batch, read_published

CURATED_TABLE = "curated_docs.parquet"
REJECTS_TABLE = "curation_rejects.parquet"
HASHES_TABLE = "content_hashes.parquet"
INDEX_SUBDIR = "dedup_index"
#: manifest table-name prefix for the index tables inside the UNIFIED log
#: — same physical directories as the standalone index layout
INDEX_PREFIX = INDEX_SUBDIR + "/"


def prepare_benchmark(
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_bench_shingles: int | None = None,
) -> DataFrame:
    """Precompute the benchmark's distinct word-``k``-gram shingle set for
    the sink's decontamination stage — ONCE, not per micro-batch: the
    result is eagerly localCheckpointed so every ``curate_batch`` call
    broadcasts a frozen relation instead of re-shingling the benchmark.
    Same envelope refusal as the batch operator
    (``operators/dedup.py contaminated_docs``): a benchmark too large to
    broadcast raises loudly.  Pass the SAME ``k`` to ``curate_batch`` as
    ``bench_k``."""
    from ..operators import dedup as dd

    cap = dd.BENCH_MAX_SHINGLES if max_bench_shingles is None else max_bench_shingles
    sh = (
        dd.word_shingles(bench, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = sh.count()
    if n > cap:
        raise ValueError(
            f"prepare_benchmark: {n} distinct benchmark shingles exceeds "
            f"the {cap} broadcast envelope — shuffle-join the shingle "
            "streams instead (operators/dedup.py contaminated_docs policy)"
        )
    return sh


def curate_batch(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.35,
    min_jaccard: float = 0.2,
    compact_every: int | None = 16,
    quality_model: dict | None = None,
    bench_shingles: DataFrame | None = None,
    bench_k: int = 3,
    nll_scores: DataFrame | None = None,
    max_avg_nll: float | None = None,
    **index_kwargs,
) -> dict:
    """Curate one micro-batch against all history; returns a summary dict
    ``{"batch_id", "n_in", "n_kept", "n_quality", "n_exact", "n_contam",
    "n_near"}`` (also persisted as one ``curation_log`` row inside the
    batch commit).

    Stage order is cheapest-filter-first (quality is row-local, exact
    dedup is a hash probe, decontamination is a broadcast shingle join,
    near-dup pays signatures): each stage only sees the previous stage's
    survivors, so the expensive MinHash fold admits only documents that
    could actually be kept.  ``bench_shingles`` (from
    :func:`prepare_benchmark`, with the matching ``bench_k``) switches the
    decontamination stage on — the batch pipeline's ``contaminated_docs``
    semantics running continuously, reject reason ``"contaminated"``.

    ALL EIGHT tables — curated docs, rejects, content hashes, the stats
    delta, the per-batch summary log, AND the dedup index's three — commit
    through ONE transaction-log commit (publish_batch; the index tables
    are staged via ``update_dedup_index(defer_publish=True)`` under
    ``dedup_index/<table>`` names in the store's log).  A crash anywhere
    leaves the batch wholly absent.

    ``compact_every`` — the long-run file bound, same knob as
    ``dedup_index_sink``: per-batch growth is one file per partition dir
    touched (coalesce(1)), but cumulative growth is O(batches) and the
    hash probe pays it at the parquet-open layer; every N batches all
    eight tables compact through the log (``publish.compact_published``)."""
    scored = (
        lang_id(quality_features(docs, text_col), text_col)
        .withColumn("lang", F.col("lang_pred"))
        .withColumn("content_hash", F.md5(normalize_text(F.col(text_col))))
    )
    scored = scored.localCheckpoint(eager=True)
    n_in = scored.count()

    # --- stage 1: quality gate (row-local) -------------------------------
    # NULL text (and with it NULL quality_score) must fall on the REJECT
    # side: plain `< threshold` is NULL for those rows, which would drop
    # them from BOTH legs — silently vanished docs and a summary that no
    # longer adds up to n_in.  With a trained ``quality_model``
    # (operators/classifier.py), the gate is the model's logit threshold
    # instead of the heuristic score — still one row-local codegen
    # predicate, so the stage's cost and NULL semantics are unchanged.
    if quality_model is not None:
        from ..operators.classifier import lr_logit_column

        # ONE logit expression serves both the gate predicate and the
        # reject-log detail, so the logged signal is provably the signal
        # that gated
        q_logit = lr_logit_column(text_col, quality_model)
        qpass_pred = F.col(text_col).isNotNull() & (q_logit > F.lit(0.0))
    else:
        q_logit = None
        qpass_pred = F.col(text_col).isNotNull() & (
            F.col("quality_score") >= min_quality
        )
    qfail = scored.filter(~F.coalesce(qpass_pred, F.lit(False)))
    qpass = scored.filter(qpass_pred)

    # --- stage 1.5: LM-perplexity gate (optional) -------------------------
    # ``nll_scores`` is an (id, avg_nll) relation — the CCNet-style filter
    # signal, e.g. operators/text.py trigram_kn_scores over the batch —
    # broadcast onto the quality survivors; docs whose avg_nll exceeds
    # ``max_avg_nll`` reject with reason "perplexity" (the per-row signal
    # in the audit log's detail).  Docs ABSENT from the relation pass: the
    # scorer may legitimately cover only some languages, and a missing
    # signal is not evidence of low quality.  The summary folds these
    # rejects into n_quality (one quality-class counter keeps the
    # curation_log schema stable across stores; the reject log still
    # distinguishes the reasons row by row).
    ppl_fail = None
    if nll_scores is not None:
        if max_avg_nll is None:
            raise ValueError(
                "curate_batch: nll_scores given without max_avg_nll — a "
                "perplexity signal with no ceiling gates nothing"
            )
        sig = nll_scores.select(
            F.col(id_col), F.col("avg_nll").alias("_nll")
        )
        with_nll = qpass.join(F.broadcast(sig), id_col, "left")
        ppl_fail = with_nll.filter(F.col("_nll") > F.lit(max_avg_nll))
        qpass = with_nll.filter(
            F.coalesce(F.col("_nll") <= F.lit(max_avg_nll), F.lit(True))
        ).drop("_nll")

    # --- stage 2: exact dedup, batch-internal then cross-history ---------
    # batch-internal canonical = min id per hash (deterministic, replay-
    # stable); cross-history probe: batch hashes broadcast, stored table
    # map-side, pruned to the batch's key_buckets.  Stored rows whose
    # doc_id is IN this batch are the replay's own first-run rows — they
    # must not self-flag (same exclusion as the dedup index's cross probe).
    canon = qpass.groupBy("content_hash").agg(F.min(id_col).alias("_keep_id"))
    with_canon = qpass.join(canon, "content_hash")
    internal_dup = with_canon.filter(F.col(id_col) != F.col("_keep_id")).select(
        id_col, F.col("_keep_id").alias("_dup_of")
    )
    exact_survivors = with_canon.filter(F.col(id_col) == F.col("_keep_id")).drop(
        "_keep_id"
    )

    stored = read_published(spark, out_dir, "content_hashes")
    cross_dup = None
    if stored is not None:
        keys = [
            r[0]
            for r in exact_survivors.select(
                F.concat(F.lit("h"), F.substring("content_hash", 1, 1)).alias(
                    "kb"
                )
            )
            .distinct()
            .collect()
        ]
        # ids come from the CHECKPOINTED frame: listing them from the raw
        # micro-batch would re-execute the streaming source plan (the
        # foreachBatch re-execution pitfall scored's checkpoint exists to
        # close) and could diverge from what was actually scored
        batch_ids = scored.select(F.col(id_col)).distinct()
        new_side = exact_survivors.select(
            F.col(id_col).alias("_new_id"), "content_hash"
        )
        cross_dup = (
            stored.filter(F.col("key_bucket").isin(keys))
            .join(F.broadcast(new_side), "content_hash")
            .join(F.broadcast(batch_ids), id_col, "left_anti")
            .select(
                F.col("_new_id").alias(id_col),
                F.col(id_col).alias("_dup_of"),
            )
        )
        exact_survivors = exact_survivors.join(
            cross_dup.select(id_col), id_col, "left_anti"
        )
    exact_dup = (
        internal_dup if cross_dup is None else internal_dup.unionByName(cross_dup)
    )
    # freeze the stage-2 outputs BEFORE any table below is appended to —
    # their lazy plans read the hash table this very batch merges into
    # (the two checkpoints are independent: submit both, wait once —
    # per-batch wall is job-scheduling-bound, same rationale as
    # publish_batch's threaded staging)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as _ex:
        _f1 = _ex.submit(exact_dup.localCheckpoint, eager=True)
        _f2 = _ex.submit(exact_survivors.localCheckpoint, eager=True)
        exact_dup, exact_survivors = _f1.result(), _f2.result()

    # --- stage 2.5: benchmark decontamination (optional) ------------------
    # the batch pipeline's contaminated_docs semantics inside the sink:
    # the benchmark's distinct shingle set (pre-frozen by
    # prepare_benchmark, envelope-guarded there) broadcasts onto the
    # batch's survivor shingle stream — no shuffle but the per-doc hit agg.
    # Runs AFTER exact dedup (cheaper probe first, and a dup of a
    # contaminated doc should log as the dup it is) and BEFORE the
    # near-dup fold, so contaminated docs never enter the index: they are
    # not corpus members, and a future near-dup of one must not be
    # suppressed on their account.
    contam = None
    if bench_shingles is not None:
        from ..operators import dedup as dd

        contam = (
            dd.word_shingles(exact_survivors, id_col, text_col, bench_k)
            .join(F.broadcast(bench_shingles), "shingle")
            .groupBy(id_col)
            .agg(
                F.count("*").alias("n_hits"),
                F.min("shingle").alias("first_shingle"),
            )
            .localCheckpoint(eager=True)
        )
        exact_survivors = exact_survivors.join(
            contam.select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=True)

    # --- stage 3: near-dup probe + fold ----------------------------------
    # the index's three tables are STAGED here (defer_publish) and
    # committed below in the SAME publish_batch as the five curation
    # tables — one commit over all eight.  The store's log tracks them
    # as "dedup_index/<table>" (directories dedup_index/<table>.parquet).
    flags, idx_tables, idx_pks, idx_cleanup = update_dedup_index(
        spark,
        exact_survivors.select(id_col, text_col),
        out_dir,
        batch_id=batch_id,
        id_col=id_col,
        text_col=text_col,
        min_jaccard=min_jaccard,
        table_prefix=INDEX_PREFIX,
        defer_publish=True,
        **index_kwargs,
    )
    near_ids = flags.select(id_col).distinct()
    kept = exact_survivors.join(near_ids, id_col, "left_anti")

    # --- writes (idempotent PK semantics on both paths) -------------------
    hashes_out = canon.select(
        "content_hash",
        F.col("_keep_id").alias(id_col),
        # 'h' prefix: an all-digit partition value set would be read
        # back as BIGINT by partition-type inference, and the next
        # batch's letter bucket would fail the implicit cast — the
        # prefix pins the column to string forever
        F.concat(F.lit("h"), F.substring("content_hash", 1, 1)).alias(
            "key_bucket"
        ),
    )
    # the quality reject detail records the signal that actually gated:
    # the model's logit when a classifier is set, the heuristic score
    # otherwise (a NULL-text doc has a NULL signal either way)
    if q_logit is not None:
        q_detail = q_logit.cast("string")
    else:
        q_detail = F.format_number("quality_score", 4)
    rejects = qfail.select(
        id_col,
        F.lit("quality").alias("reason"),
        q_detail.alias("detail"),
    ).unionByName(
        exact_dup.select(
            id_col,
            F.lit("exact_dup").alias("reason"),
            F.col("_dup_of").cast("string").alias("detail"),
        )
    )
    if ppl_fail is not None:
        rejects = rejects.unionByName(
            ppl_fail.select(
                id_col,
                F.lit("perplexity").alias("reason"),
                F.round(F.col("_nll"), 4).cast("string").alias("detail"),
            )
        )
    if contam is not None:
        rejects = rejects.unionByName(
            contam.select(
                id_col,
                F.lit("contaminated").alias("reason"),
                F.concat_ws(
                    ":",
                    F.col("first_shingle"),
                    F.col("n_hits").cast("string"),
                ).alias("detail"),
            )
        )
    rejects = (
        rejects
        .unionByName(
            # a doc can match SEVERAL historical near-dups; the reject log
            # is one row per (doc, reason), so keep the strongest match
            # (max jaccard, lowest dup_of on ties — deterministic for the
            # replay-byte-identity contract)
            flags.groupBy(id_col)
            .agg(
                F.min_by(
                    F.struct("dup_of", "jaccard"),
                    # -jaccard ascending = strongest first; dup_of ascending
                    # breaks ties without assuming a numeric id type
                    F.struct(-F.col("jaccard"), F.col("dup_of")),
                ).alias("_m")
            )
            .select(
                id_col,
                F.lit("near_dup").alias("reason"),
                F.concat_ws(
                    ":",
                    F.col("_m.dup_of").cast("string"),
                    F.round(F.col("_m.jaccard"), 4).cast("string"),
                ).alias("detail"),
            )
        )
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("key_bucket", _id_bucket(id_col))
    )
    curated = kept.select(
        id_col,
        text_col,
        "lang",
        "quality_score",
        "n_tokens",
        "content_hash",
        F.lit(batch_id).alias("batch_id"),
        _id_bucket(id_col).alias("key_bucket"),
    )
    # the per-batch summary, computed BEFORE the writes so the ops-log row
    # lands inside the same commit as the tables it describes
    by_reason = {
        r["reason"]: r["n"]
        for r in rejects.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    summary = {
        "batch_id": batch_id,
        "n_in": n_in,
        "n_kept": n_in
        - by_reason.get("quality", 0)
        - by_reason.get("perplexity", 0)
        - by_reason.get("exact_dup", 0)
        - by_reason.get("contaminated", 0)
        - by_reason.get("near_dup", 0),
        # perplexity rejects count under the quality-class counter: one
        # stable curation_log schema across stores; the reject log keeps
        # the reasons distinct per row
        "n_quality": by_reason.get("quality", 0)
        + by_reason.get("perplexity", 0),
        "n_exact": by_reason.get("exact_dup", 0),
        "n_contam": by_reason.get("contaminated", 0),
        "n_near": by_reason.get("near_dup", 0),
    }
    log_row = spark.createDataFrame(
        [summary],
        "batch_id long, n_in long, n_kept long, n_quality long, "
        "n_exact long, n_contam long, n_near long",
    )

    # coalesce(1) on every write input: a micro-batch is small, and letting
    # each shuffle task write its own part file per bucket dir multiplies
    # the table's file count by the task count — the exact fan-out the
    # dedup index measured as 5.3x probe growth before its coalesce fix
    tables = {
        "content_hashes": hashes_out.coalesce(1),
        "curation_rejects": rejects.coalesce(1),
        "curated_docs": curated.coalesce(1),
        "corpus_stats": stats_delta(
            kept, batch_id, lang_col="lang", text_col=text_col
        ),
        "curation_log": log_row.coalesce(1),
    }
    pks = {
        "content_hashes": ("content_hash",),
        "curation_rejects": (id_col, "reason"),
        "curated_docs": (id_col,),
        "corpus_stats": ("batch_id", "lang"),
        "curation_log": ("batch_id",),
    }
    # ONE commit over all eight tables: five curation + three index
    tables = {**tables, **idx_tables}
    pks = {**pks, **idx_pks}
    try:
        publish_batch(spark, tables, out_dir, pks=pks)
    finally:
        idx_cleanup()
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        for name in pks:
            compact_published(spark, out_dir, name)

    return summary


#: default held-out AUC floor for a trained gate — below this the model
#: ranks the proxy signal barely better than a coin flip and deploying it
#: as the admission gate is a configuration error, not a judgment call.
#: A separable corpus (fluent prose vs gibberish) measures ≈1.0; the
#: HOMOGENEOUS synthetic sf fixtures measure 0.44–0.63 (pinned bit-exact
#: by tests/test_quality_classifier.py) — which is the floor working as
#: designed: a history with no quality spread cannot train a gate, and
#: refusing beats silently deploying a coin flip.
MIN_GATE_AUC = 0.7


def train_quality_model(
    spark: SparkSession,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_auc: float | None = MIN_GATE_AUC,
    **fit_kwargs,
) -> dict:
    """Bootstrap a quality classifier FROM the sink's own curated history:
    train on the published ``curated_docs`` snapshot (crash-consistent),
    then pass the returned model back as ``quality_model`` — the
    self-improving loop a long-running curation deployment actually runs
    (heuristic gate for the cold start, trained gate once enough clean
    history exists).  Same deterministic sampled fit as
    ``operators/classifier.py train_quality_lr``; raises if nothing has
    been curated yet (an untrained gate is a configuration error, not a
    silent pass-through).

    Round-7 addition: the bootstrap MEASURES itself before it is allowed
    to gate — a deterministic even/odd held-out split of the same sample
    (``classifier.holdout_eval_lr``), reported under ``model["eval"]``
    (AUC, precision at the logit>0 threshold, split sizes); below
    ``min_auc`` the bootstrap REFUSES (pass ``min_auc=None`` to get the
    model + metrics anyway, e.g. for diagnostics).  The returned weights
    are bit-identical to ``train_quality_lr`` on the same history — the
    eval fits a separate half-sample model that is thrown away."""
    from ..operators.classifier import (
        collect_lr_sample,
        fit_quality_lr_rows,
        holdout_eval_lr,
    )

    curated = read_published(spark, out_dir, "curated_docs")
    if curated is None:
        raise ValueError(
            f"train_quality_model: no curated history at {out_dir} — run "
            "the sink with the heuristic gate first"
        )
    sample_size = fit_kwargs.pop("sample_size", None)
    ids, texts = collect_lr_sample(
        curated,
        id_col,
        text_col,
        **({"sample_size": sample_size} if sample_size is not None else {}),
    )
    model = fit_quality_lr_rows(ids, texts, **fit_kwargs)
    try:
        metrics = holdout_eval_lr(ids, texts, **fit_kwargs)
    except ValueError:
        metrics = None  # history too small to split (< 2 sampled docs)
    model["eval"] = metrics
    if min_auc is not None and (
        metrics is None
        or metrics["auc"] is None
        or metrics["auc"] < min_auc
    ):
        got = metrics["auc"] if metrics else None
        raise ValueError(
            f"train_quality_model: held-out AUC {got} is below the "
            f"{min_auc} floor (sampled n={len(ids)}) — the bootstrap "
            "history is too small or too uniform to train a gate; keep "
            "the heuristic gate, or pass min_auc=None to inspect the "
            "model anyway"
        )
    return model


def dataset_snapshot(
    spark: SparkSession,
    out_dir: str,
    version: int | None = None,
    pin: bool = False,
) -> tuple[int, DataFrame]:
    """A REPRODUCIBLE training set: ``(version, curated_docs-as-of-it)``.
    Called without a version it resolves the store's CURRENT log version
    once and reads through it — record the returned version beside the
    training run, and any later ``dataset_snapshot(spark, out, version=v)``
    re-reads the byte-identical document set no matter how many batches,
    compactions, or migrations landed since.

    Without ``pin`` that promise is bounded by the store's ``vacuum``
    retention horizon (``MAINT_KEEP_VERSIONS`` of compaction churn can
    reclaim the version's files — the read then fails loudly but
    permanently).  ``pin=True`` takes a RETENTION LEASE
    (:func:`..streaming.publish.pin_version`) on the resolved version in
    the same commit log, which every vacuum/compaction honors until
    :func:`..streaming.publish.unpin_version` releases it — the
    training-run lifetime contract.  Training-data provenance is a log
    version number, not a directory copy."""
    from .publish import pin_version, read_manifest

    v = read_manifest(out_dir, version=version)["version"]
    if pin:
        pin_version(out_dir, v, name="dataset_snapshot")
    df = read_published(spark, out_dir, "curated_docs", version=v)
    if df is None:
        raise ValueError(
            f"dataset_snapshot: no curated_docs at {out_dir!r} version {v}"
        )
    return v, df


def curation_sink(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    **curate_kwargs,
):
    """The curation pipeline as a SINK: ``writeStream.foreachBatch`` over
    ``curate_batch``, mirroring ``dedup_index_sink``'s checkpoint +
    engine-batch-id plumbing.  Point a document stream at a directory;
    read ``curated_docs.parquet`` for training, ``curation_rejects``
    for the audit log, ``corpus_stats`` for the live language mix.
    Returns the StreamingQuery (caller awaits / stops)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        curate_batch(
            batch_df.sparkSession,
            batch_df,
            out_dir,
            batch_id=batch_id,
            id_col=id_col,
            text_col=text_col,
            **curate_kwargs,
        )

    writer = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
