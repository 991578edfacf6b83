#!/usr/bin/env python
"""sf1 scale rehearsal: empirically confirm the dedup/ANN headliners grow
sub-quadratically before claiming the 100× story (r02 verdict stretch item).

Builds an N×-scaled copy of sf0.1's documents/embeddings under /tmp (text
perturbed per replica so replicas are near- but not exact duplicates;
embedding tails perturbed deterministically), then times the pair-generating
headline queries at sf0.1 and at the scaled dir and prints one JSON line
with the times and growth ratios.  A query with quadratic pair cost would
show ratio ≈ N²; the capped/banded designs should stay near N·log-ish.

Two corpus regimes, because they scale differently BY CONSTRUCTION:

- near-dup (default): each base doc gets N-1 near-twin replicas (one token
  appended).  True pair output per shingle grows ~N², so this is the
  adversarial case the DF/bucket caps exist for — the measured growth shows
  how well the rails hold when the DATA is quadratic.
- distinct (--distinct): replicas get a replica token interleaved between
  every base token, so cross-replica shingle overlap vanishes — the normal
  "10× more content" case, where a healthy plan should grow ~linearly.

A third regime, ``--skew``, targets the IVF quantizer specifically: the
scaled corpus collapses every replica toward one anchor direction (a
heavily clustered embedding distribution — the shape real text embeddings
have).  Under it the lowest-id quantizer's cells go far from uniform and
probe work concentrates; trained k-means cells re-balance.  The run
reports wall time AND cell-occupancy stats for both quantizers.

Usage:  python scripts/scale_rehearsal.py [multiplier=10] [--distinct | --skew]
(Run on an idle machine — same caveat as bench.py.)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# scaled-fixture cache dirs are keyed by the BASE corpus identity too:
# keyed by multiplier alone, a run with a different SPARK_GRAFT_SF_DIR
# would silently reuse a fixture built from another base and the growth
# ratios would compare unrelated corpora
import hashlib as _hashlib
_BASE_TAG = (os.path.basename(BASE_SF.rstrip("/")) or "base") + "-" + \
    _hashlib.md5(os.path.abspath(BASE_SF).encode()).hexdigest()[:6]

QUERIES = [
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "ann_lsh_topk",
    "embed_cosine_topk",  # exact tier: FLOPs grow N² but BLAS amortizes
    "minhash_verified_pairs",  # LSH candidates + exact-Jaccard verify
    "dup_spans_docs",     # positional grams + hot-gram broadcast + merge
    "tfidf_top_terms",    # tf/df aggregations + vocabulary join
    "ann_ivfpq_topk",     # PQ codes + cell-local ADC (pinned cells: the wall)
    "ann_ivfpq_auto_topk",  # sqrt-n cells - the gated scale path
    "unigram_ppl_docs",   # corpus-model scoring: vocab agg + broadcast join
    "train_prep_pipeline",  # r6 capstone: mix → split → chunk, one plan
    "dedup_canonical_docs",  # pairs → components → keep-longest survivors
    "shuffle_shards_docs",  # seeded permutation, per-shard rank windows
    "mixture_epoch_docs",   # target-weight replication, row-local explode
    "dsir_sample_docs",     # two broadcast models + per-doc mean + top-k
    "epoch_pipeline",       # oversample → sharded shuffle, one plan
    "length_batches_docs",  # per-cell rank windows, salt-bounded
    "bm25_top_terms",       # saturating-tf retrieval scoring
    "contamination_score_docs",  # graded benchmark-overlap fraction
    "strip_boilerplate_docs",  # cross-doc line dedup (hot-set broadcast)
    "gopher_repetition_docs",  # two map-combined gram aggregations (r7)
    "corpus_report",           # stratum-keyed dataset card (r7)
    "bm25_search_docs",        # query-filtered tf + TakeOrdered (r7)
]



def build_scaled(spark, mult: int, distinct: bool = False) -> str:
    from pyspark.sql import functions as F

    out = f"/tmp/cds_scale/{_BASE_TAG}x{mult}{'d' if distinct else ''}"
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    reps = spark.range(0, mult).select(F.col("id").alias("rep"))

    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    n_docs = docs.count()
    if distinct:
        # suffix every token with the replica id: token universes of
        # different replicas are disjoint, so the shingle universe grows N×
        # while every per-shingle document frequency stays at its base value
        # — the clean "N× new content" regime.  (Interleaving a shared
        # separator token instead would COLLAPSE 3-gram entropy to 2-word
        # pairs and inflate dfs — measured 76× growth; don't.)
        perturbed = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.concat(t, F.lit("~"), F.col("rep")),
            ),
            " ",
        )
    else:
        # append one replica token: replicas are near-duplicates (the
        # realistic hard case for dedup) rather than byte-identical
        perturbed = F.concat_ws(
            " ", F.col("text"), F.concat(F.lit("rep"), F.col("rep"))
        )
    scaled_docs = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text")).otherwise(perturbed).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    scaled_docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    n_vecs = emb.count()
    scaled_emb = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * n_vecs).alias("vec_id"),
            # deterministic tail perturbation keyed by replica: rotates
            # vectors slightly so buckets/neighbors differ per replica
            F.transform(
                F.col("embedding"),
                lambda x, i: x
                + (F.col("rep").cast("float") * (i.cast("float") + F.lit(1.0)))
                / F.lit(1000.0),
            ).alias("embedding"),
            "label",
        )
    )
    scaled_emb.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    open(marker, "w").close()
    return out


def build_family_embeddings(spark, mult: int) -> str:
    """mult× embeddings where each base vector's replicas are near-dups of
    EACH OTHER but cross-family similarity is unchanged: v' = v + ε·jitter
    with ε = 0.01 and a deterministic per-(vec, rep) jitter direction.
    Within a family cosine ≈ 1 (true near-dup cliques of size mult);
    across families the tiny perturbation moves cosines by < 0.01 — so
    the TRUE pair set grows ≈ linearly with the corpus (n_base × mult²/2
    family pairs dominate), unlike the shared-ramp perturbation of
    ``build_scaled`` which adds one common direction to every vector and
    collapses the whole corpus into a single dense cone (quadratic truth
    — an output-bound regime that measures edge volume, not plan
    shape).  This is the realistic semantic-dedup fixture: duplicates
    cluster in small families, not one global blob."""
    from pyspark.sql import functions as F

    out = f"/tmp/cds_scale/{_BASE_TAG}fam{mult}"
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    n_vecs = emb.count()
    reps = spark.range(0, mult).select(F.col("id").alias("rep"))
    # deterministic jitter in [-1,1] per (vec_id, rep, dim): xxhash64 of the
    # triple, scaled — no RNG, replay-identical
    jittered = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: x
        + F.lit(0.01)
        * (
            F.pmod(
                F.xxhash64(F.col("vec_id"), F.col("rep"), i), F.lit(2001)
            ).cast("double")
            / F.lit(1000.0)
            - F.lit(1.0)
        ),
    ).cast("array<float>")
    scaled = emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("rep") * n_vecs).alias("vec_id"),
        F.when(F.col("rep") == 0, F.col("embedding"))
        .otherwise(jittered)
        .alias("embedding"),
        "label",
    )
    scaled.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    open(marker, "w").close()
    return out


def build_skewed(spark, mult: int) -> str:
    """mult× embeddings where replicas collapse toward one anchor vector:
    v' = 0.7·anchor + 0.3·v (+ tiny per-replica jitter so rows stay
    distinct) — (mult−1)/mult of the corpus lands in one dense cone, the
    clustered shape real text embeddings have (topic mass is never
    uniform).  0.7/0.3 keeps enough residual variance for ANY quantizer to
    act on; past ~0.95 the corpus is near rank-1 and no cell boundary can
    split it — that regime is a dedup problem, not an ANN-partitioning
    one."""
    from pyspark.sql import functions as F

    out = f"/tmp/cds_scale/{_BASE_TAG}skew{mult}"
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    n_vecs = emb.count()
    anchor = [
        float(x)
        for x in emb.orderBy("vec_id").select("embedding").first()[0]
    ]
    anchor_arr = F.array(*[F.lit(a) for a in anchor])
    reps = spark.range(0, mult).select(F.col("id").alias("rep"))
    squashed = F.zip_with(
        F.col("embedding").cast("array<double>"),
        anchor_arr,
        lambda x, a: a * F.lit(0.7)
        + x * F.lit(0.3)
        + F.col("rep").cast("double") / F.lit(10_000.0),
    ).cast("array<float>")
    scaled = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * n_vecs).alias("vec_id"),
            F.when(F.col("rep") == 0, F.col("embedding"))
            .otherwise(squashed)
            .alias("embedding"),
            "label",
        )
    )
    scaled.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    open(marker, "w").close()
    return out


def ivf_skew_report(spark, skew_dir: str) -> dict:
    """Compare the lowest-id and k-means quantizers on the skewed corpus:
    end-to-end ivf_topk wall time plus numpy-side cell occupancy (max and
    Σocc² — the probe-work proxy: candidate pairs ∝ Σ over probed cells of
    occupancy)."""
    import numpy as np

    from chainweb_data_spark.operators import similarity as sim
    from chainweb_data_spark.sources.tables import load_table

    emb = load_table(spark, skew_dir, "embeddings").cache()
    n = emb.count()
    n_cells = sim.auto_n_cells(n)
    rows = emb.select("vec_id", "embedding").collect()
    X = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)

    report = {"n_vectors": n, "n_cells": n_cells, "quantizers": {}}
    for train in ("lowest-id", "kmeans", "kmeans+split"):
        if train == "kmeans":
            C = sim.ivf_train_kmeans(emb, "vec_id", "embedding", n_cells)
        elif train == "kmeans+split":
            C = sim.ivf_train_kmeans(
                emb, "vec_id", "embedding", n_cells, split_hot=True
            )
        else:
            _ids, C = sim.ivf_centroids(emb, "vec_id", "embedding", n_cells)
        occ = np.bincount(
            np.argmax(np.round(Xn @ C.T, 6), axis=1), minlength=len(C)
        )
        # candidate pairs ≈ Σ occ² (each cell's queries probe their own
        # cell first) — beyond ~50M the rerank IS the quadratic wall the
        # quantizer comparison exists to show; running it would just hang
        # the rehearsal, so record the projection instead of the wall time
        pair_work = int((occ.astype(np.int64) ** 2).sum())
        entry = {
            "n_cells": len(C),
            "occ_max": int(occ.max()),
            "occ_mean": round(float(occ.mean()), 1),
            "occ_sq_sum": pair_work,
        }
        if pair_work <= 50_000_000:

            def run(spark_, sf_dir, _C=C):
                e = load_table(spark_, sf_dir, "embeddings")
                return sim.ivf_topk(
                    e, "vec_id", "embedding", k=5, n_cells=len(_C), nprobe=2,
                    centroids=_C,
                )

            entry["wall_s"] = timed(run, spark, skew_dir)
        else:
            entry["wall_s"] = None
            entry["skipped"] = (
                f"projected ~{pair_work:,} candidate pairs — the quadratic "
                "wall; occupancy stats above are the measurement"
            )
        report["quantizers"][train] = entry
    emb.unpersist()
    return report


def timed(fn, spark, sf_dir) -> float:
    """Construction + collect — the SCALE-honest timer.  Several variants
    do O(corpus) distributed work while BUILDING the plan (connected
    components\' label rounds; the ANN quantizers\' count + md5-sample
    scans and driver k-means), and a collect-only timer would exclude a
    corpus-proportional component from exactly the scale-path growth
    ratios this rehearsal exists to measure.  (bench.py deliberately
    times collect-only — per-request cost, training amortized at server
    startup; a GROWTH rehearsal must include everything that grows.)"""
    fn(spark, sf_dir).collect()  # warm: codegen + page cache
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    return round(time.perf_counter() - t0, 3)


def bpe_vocab_report(spark, n_distinct_words: int) -> dict:
    """High-cardinality-vocab rehearsal (round-6 verdict #1 'done'
    criterion): a synthetic corpus with ~n_distinct_words DISTINCT
    whitespace words — the web-text regime where 'vocabulary ≪ corpus'
    fails — trained with the default cap.  The point shown: driver rows
    stay bounded at max_vocab regardless of corpus vocabulary."""
    import warnings

    from pyspark.sql import functions as F

    from chainweb_data_spark.operators import bpe as bp

    words_per_doc = 100
    n_docs = n_distinct_words // words_per_doc
    # doc i holds words w{i*100}..w{i*100+99} — all globally distinct —
    # plus a tiny Zipf head so the capped top-N has real mass to train on
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("lower lowest newest widest "),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(
                        F.col("id") * words_per_doc,
                        F.col("id") * words_per_doc + words_per_doc - 1,
                    ),
                    lambda x: F.concat(F.lit("w"), x.cast("string")),
                ),
            ),
        ).alias("text"),
    )
    max_vocab = 100_000
    t0 = time.perf_counter()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        counts = bp.collect_word_counts(docs, "text", max_vocab=max_vocab)
        merges = bp.train_merges_from_counts(counts, 32)
    wall = round(time.perf_counter() - t0, 3)
    return {
        "distinct_words_in_corpus": n_distinct_words + 4,
        "max_vocab": max_vocab,
        "driver_rows_collected": len(counts),
        "bounded": len(counts) <= max_vocab,
        "truncation_warned": any("truncated" in str(w.message) for w in caught),
        "n_merges_trained": len(merges),
        "wall_s": wall,
    }


def main() -> None:
    from chainweb_data_spark.queries import query_fns
    from chainweb_data_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    distinct = "--distinct" in sys.argv[1:]
    skew = "--skew" in sys.argv[1:]
    bpevocab = "--bpevocab" in sys.argv[1:]
    mult = int(args[0]) if args else 10
    spark = get_spark("cds-scale-rehearsal")
    if bpevocab:
        n = int(args[0]) if args else 10_000_000
        print(json.dumps({
            "regime": "bpe_vocab",
            "bpe": bpe_vocab_report(spark, n),
        }))
        return
    if skew:
        skew_dir = build_skewed(spark, mult)
        print(json.dumps({
            "multiplier": mult,
            "regime": "skew",
            "base_sf_dir": BASE_SF,
            "ivf": ivf_skew_report(spark, skew_dir),
        }))
        return
    fns = query_fns()
    scaled_dir = build_scaled(spark, mult, distinct)

    result = {
        "multiplier": mult,
        "regime": "distinct" if distinct else "near_dup",
        "base_sf_dir": BASE_SF,
        "queries": {},
    }
    for name in QUERIES:
        t_base = timed(fns[name], spark, BASE_SF)
        t_scaled = timed(fns[name], spark, scaled_dir)
        result["queries"][name] = {
            "base_s": t_base,
            "scaled_s": t_scaled,
            "growth": round(t_scaled / max(t_base, 1e-9), 2),
            "quadratic_would_be": mult * mult,
        }

    # r8: persisted BM25 index — the probe twin of bm25_search_docs.  The
    # corpus-scan path re-tokenizes the whole corpus per query (its row
    # above carries that growth); the probe reads only the query terms'
    # posting buckets plus a batch-count meta table, so its per-query wall
    # should stay near-flat at 10× while the one-time BUILD carries the
    # corpus growth (reported separately — builds amortize across the
    # repeated-search workload the index exists for).
    def bm25_probe_row() -> dict:
        import shutil as _sh

        from chainweb_data_spark.operators.bm25_index import (
            bm25_build_index,
            bm25_search_indexed,
        )
        from chainweb_data_spark.sources.tables import load_table

        row: dict = {}
        for label, sf_dir in (("base", BASE_SF), ("scaled", scaled_dir)):
            idx = f"/tmp/cds_scale/bm25idx_{label}"
            _sh.rmtree(idx, ignore_errors=True)
            docs = load_table(spark, sf_dir, "documents")
            t0 = time.perf_counter()
            bm25_build_index(spark, docs, idx)
            row[f"{label}_build_s"] = round(time.perf_counter() - t0, 3)

            def probe(spark_, _sf, _idx=idx):
                return bm25_search_indexed(
                    spark_, _idx, "merge scan table", k=10
                )

            row[f"{label}_probe_s"] = timed(probe, spark, sf_dir)
        row["probe_growth"] = round(
            row["scaled_probe_s"] / max(row["base_probe_s"], 1e-9), 2
        )
        row["quadratic_would_be"] = mult * mult
        return row

    result["queries"]["bm25_search_indexed_probe"] = bm25_probe_row()

    # r11 verdict #5: bounded_scan_published's FIRST-REQUEST planning is
    # metadata-only (height ceiling from txlog footer stats, no agg(max)
    # data scan), so its wall must stay ~flat at 10× rows — the bounded
    # envelope (≤ budget × slice_width heights scanned) is row-count
    # independent by design.  Self-contained txlog stores so the row
    # measures planning, not the documents fixture.
    def bounded_scan_plan_row() -> dict:
        import shutil as _sh

        from pyspark.sql import functions as F

        import chainweb_data_spark.streaming.publish as pub
        from chainweb_data_spark.plans.bounded_scan import (
            CursorSpec,
            bounded_scan_published,
        )
        from chainweb_data_spark.streaming.publish import publish_batch

        spec = CursorSpec(cols=("height", "rk"), descs=(True, False))
        pks = {"idx": ("height", "rk")}
        base_n = 100_000
        row: dict = {"base_rows": base_n, "scaled_rows": base_n * mult}
        for label, n in (("base", base_n), ("scaled", base_n * mult)):
            out = f"/tmp/cds_scale/bscan_{label}_{_BASE_TAG}_{n}"
            _sh.rmtree(out, ignore_errors=True)
            step = n // 4
            for b in range(4):  # same file count at both scales
                df = (
                    spark.range(b * step, (b + 1) * step)
                    .select(
                        F.col("id").alias("height"),
                        F.format_string("rk-%010d", "id").alias("rk"),
                        (F.col("id") % 2).cast("int").alias("flag"),
                    )
                    .coalesce(1)
                )
                publish_batch(spark, {"idx": df}, out, pks=pks)

            def first_request(spark_, _sf, _out=out):
                pub._SNAP_CACHE.clear()  # a COLD first request, every run
                res, _v = bounded_scan_published(
                    spark_,
                    _out,
                    "idx",
                    F.col("flag") == 1,
                    spec,
                    limit=10,
                    slice_width=1000,
                    budget_slices=4,
                )
                assert len(res.rows) == 10

                class _Done:  # timed() collects; give it a no-op
                    def collect(self):
                        return []

                return _Done()

            row[f"{label}_first_request_s"] = timed(
                first_request, spark, BASE_SF
            )
            _sh.rmtree(out, ignore_errors=True)
        row["growth"] = round(
            row["scaled_first_request_s"]
            / max(row["base_first_request_s"], 1e-9),
            2,
        )
        row["quadratic_would_be"] = mult * mult
        return row

    result["queries"]["bounded_scan_published_first_request"] = (
        bounded_scan_plan_row()
    )

    # the gated ann_lsh_topk pins 16 planes for its oracle, so bucket
    # occupancy — and rerank pair count — grows linearly with the corpus
    # and the query goes ~quadratic at 10×.  The production knob is
    # auto_num_planes (planes ∝ log₂ n keeps occupancy constant): measure
    # it so the rehearsal shows the knob working, not just documented.
    def ann_auto(spark_, sf_dir):
        from chainweb_data_spark.operators.similarity import lsh_ann_topk
        from chainweb_data_spark.sources.tables import load_table

        emb = load_table(spark_, sf_dir, "embeddings")
        return lsh_ann_topk(emb, "vec_id", "embedding", k=5, num_planes=None)

    t_base = timed(ann_auto, spark, BASE_SF)
    t_scaled = timed(ann_auto, spark, scaled_dir)
    result["queries"]["ann_lsh_topk_autoplanes"] = {
        "base_s": t_base,
        "scaled_s": t_scaled,
        "growth": round(t_scaled / max(t_base, 1e-9), 2),
        "quadratic_would_be": mult * mult,
    }

    # ANN-path semantic dedup (embed_dedup_clusters_ann) rehearses on the
    # FAMILY fixture (true pair set grows ~linearly — see
    # build_family_embeddings; the shared-ramp fixture collapses into one
    # cone and measures edge volume, not plan shape) and times FULL WALL:
    # duplicate_clusters runs its iterative label-propagation rounds at
    # DataFrame-construction time (localCheckpoint per round), so a
    # collect-only timer would miss nearly all the work.
    fam_dir = build_family_embeddings(spark, mult)
    q = fns["embed_dedup_clusters_ann"]

    def full_wall(sf_dir):
        q(spark, sf_dir).collect()  # warm
        t0 = time.perf_counter()
        rows = q(spark, sf_dir).collect()
        return round(time.perf_counter() - t0, 3), len(rows)

    tb, nb = full_wall(BASE_SF)
    ts, ns = full_wall(fam_dir)
    result["queries"]["embed_dedup_clusters_ann_family"] = {
        "base_s": tb,
        "scaled_s": ts,
        "growth": round(ts / max(tb, 1e-9), 2),
        "base_rows": nb,
        "scaled_rows": ns,
        "quadratic_would_be": mult * mult,
    }

    # SemDeDup shares both caveats: cluster-bearing (components run at
    # construction time → full-wall timer) and pair-bounded by structure
    # (within-cluster only → family fixture, where the true duplicate
    # groups grow linearly with the corpus)
    qs = fns["semdedup_prune_docs"]

    def full_wall_sd(sf_dir):
        qs(spark, sf_dir).collect()  # warm
        t0 = time.perf_counter()
        rows = qs(spark, sf_dir).collect()
        return round(time.perf_counter() - t0, 3), len(rows)

    tb, nb = full_wall_sd(BASE_SF)
    ts, ns = full_wall_sd(fam_dir)
    result["queries"]["semdedup_prune_family"] = {
        "base_s": tb,
        "scaled_s": ts,
        "growth": round(ts / max(tb, 1e-9), 2),
        "base_rows": nb,
        "scaled_rows": ns,
        "quadratic_would_be": mult * mult,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
