"""Deduplication operators for large-scale text corpora.

North-star extensions beyond the reference's surface (BASELINE.json): exact
dedup, MinHash+LSH near-dup, SimHash near-dup, and n-gram Jaccard similarity
over a ``documents`` table.

Design constraints:
- **Cross-engine determinism.** All hashing is md5-of-string (identical in
  Spark and DuckDB), never engine-native hash functions (xxhash64 vs duckdb
  ``hash()`` differ), so every operator has an exact SQL oracle.
- **Scale.** Every operator is a shuffle-bounded composition of built-ins:
  shingle explode → groupBy (map-side combined) → band bucket join.  No
  cross joins; candidate generation is always through an equi-join on a
  bucket key, which AQE can re-plan and skew-split.  At 100 TB the band
  join is the only wide edge and its key cardinality (n_bands × buckets)
  scales with data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: (content_hash, n_dups, keep_id, dup_ids).

    Hash-groupBy — one shuffle on md5(text); map-side partial aggregation
    makes the shuffle carry one row per (partition, hash).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("_id"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("_id").alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative of every exact-duplicate group."""
    w_keep = (
        df.select(F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.min("_id").alias(id_col))
    )
    return df.join(w_keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document: (id, shingle).

    Tokenize on single spaces (the corpus convention), slide a k-window via
    ``sequence`` + ``transform`` + ``slice`` (all codegen'd array ops — no
    Python), explode, distinct.

    The token array is materialized in its own projection first: referencing
    ``split(text)`` directly inside the ``transform`` lambda inlines the
    split into EVERY window element (no common-subexpression elimination
    across lambda scopes), re-tokenizing the document once per shingle —
    O(n_words²) parses per doc.  Materializing drops it to one split per
    doc (measured 1.79s → 0.80s at sf0.1).
    """
    # KEEP the generator input as the inline expression, NOT an aliased
    # array column: explode over a plain attribute triggers
    # InferFiltersFromGenerate, whose size(_sh) > 0 filter then pushes
    # through the projection and re-inlines the whole tokenize+shingle
    # expression — every doc shingled twice (measured 2.8× on the
    # decontamination consumer).  The rule skips expensive generator
    # inputs, so the fused form below stays single-evaluation.  When you
    # already HOLD a materialized array relation (cache of
    # :func:`shingle_set_arrays`), exploding the attribute is fine — the
    # inferred filter reads the materialized array.
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    # per-doc dedup happens row-local (array_distinct) BEFORE the explode —
    # a (doc, shingle) pair is unique by construction, so no shuffle-distinct
    return base.select(
        F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def shingle_set_arrays(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, _sh: array of distinct word k-gram shingles) — the ARRAY form
    of :func:`word_shingles`, computed entirely row-local (no explode, no
    shuffle).  Consumers that need the relational form explode ``_sh``;
    consumers that need per-pair set algebra (exact Jaccard verification)
    join these rows directly and intersect in codegen, skipping the
    fold-back-into-arrays groupBy a relational input would force.

    Deliberately emits ONLY the array — no derived columns.  A sibling
    ``size(_sh)`` column here would make CollapseProject inline the whole
    tokenize+shingle+distinct expression a second time (Catalyst has no
    CSE across a projection's aliases — the same trap documented on
    ``word_shingles``; measured 3× on the decontamination consumer).
    Derive sizes AFTER materializing (cache) with ``F.size`` — see
    :func:`jaccard_for_pairs_sets`.

    The shingle expression is built as ONE ``F.expr`` string (a single
    parse on the JVM) rather than nested Column calls: every ``F.*`` call
    is a py4j round trip, and this builder sits inside FULL_WALL queries
    whose bench protocol times plan CONSTRUCTION — measured ~125 ms of
    pure construction per invocation in the Column form (optimization
    guide §4: eliminate the JVM↔Python boundary — here at plan-build
    time).  The parsed tree is the same expression."""
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_toks"))
    # per-doc dedup happens row-local (array_distinct) — a (doc, shingle)
    # pair is unique by construction, so no shuffle-distinct downstream
    shingles = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(_toks) - {k - 1}, 1)), "
        f"i -> array_join(slice(_toks, i, {k}), ' ')))"
    )
    return base.select(F.col(id_col), F.expr(shingles).alias("_sh"))


def duplicate_clusters(
    pairs: DataFrame, max_iters: int = 20, with_sizes: bool = True
) -> DataFrame:
    """Connected components over a near-duplicate pair list —
    (id, cluster_rep, cluster_size) for every document appearing in ≥1
    pair; ``cluster_rep`` is the component's minimum id (the kept doc).
    ``with_sizes=False`` omits the ``cluster_size`` column — and with it
    the per-label count aggregation and the join that attaches it
    (one exchange + one join fewer): callers that only need the
    membership/representative mapping (survivor filters, canonical
    selection) were paying for an aggregate they immediately dropped,
    and Spark cannot prune it away itself (an inner join is not provably
    cardinality-preserving to the optimizer, even though this one is —
    every label in ``labels`` appears in its own groupBy output).

    Pairs are only HALF of dedup: near-duplicacy is not transitive-closed
    by pair emission (A~B, B~C may surface without A~C), so production
    removal keeps one representative per CONNECTED COMPONENT.  Computed by
    iterative min-label propagation — every node repeatedly takes the min
    label over itself and its neighbors, converging in O(component
    diameter) rounds (near-dup components are shallow: a boilerplate
    cluster is a dense blob, diameter ~2).

    Scale shape (round-trip-minimized): the symmetric edge list carries
    SELF-LOOPS, so every propagation STEP is ONE equi-join edges⋈labels
    plus ONE map-side-combined groupBy min — ``new_label(v) = min over
    N(v) ∪ {v}`` needs no second join to fold the node's own label in,
    and the old label (for convergence detection) rides along as the
    self-loop row's value.  Step 1 needs no join at all (labels0(v)=v
    makes the neighborhood min a pure groupBy over the edge list), which
    also deletes the separate label-initialization pass.  Steps run in
    PAIRS per convergence check (see the inline pairing comment below):
    lineage is truncated with a LAZY localCheckpoint once per pair, whose
    materialization is driven by the convergence aggregate — one Spark
    job per two steps total, where the previous shape paid two joins, an
    eager checkpoint job AND a separate changed-count job per step.
    Early exit on convergence (no label changed).  Same fixpoint pattern
    as the continuation-history walk (queries/chainweb.py)."""
    # ONE explode emits both directions plus both self-loops per pair —
    # a union of projections would re-evaluate the (expensive) upstream
    # pair pipeline once per branch; this evaluates it exactly once
    edges = (
        pairs.select(
            F.expr(
                "explode(array("
                "struct(id_a AS src, id_b AS dst), "
                "struct(id_b AS src, id_a AS dst), "
                "struct(id_a AS src, id_a AS dst), "
                "struct(id_b AS src, id_b AS dst)))"
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        # lazy: round 0's convergence aggregate is a FULL PASS over edges,
        # so it materializes the checkpoint in the same job — an eager
        # checkpoint here was one extra job per invocation for nothing
        .localCheckpoint(eager=False)
    )
    def _step(lbl: DataFrame | None) -> DataFrame:
        if lbl is None:
            # step 1: label(v)=v, so min over N(v) ∪ {v} is groupBy(min)
            return (
                edges.groupBy("src")
                .agg(F.min("dst").alias("label"))
                .select(
                    F.col("src").alias("id"),
                    "label",
                    (F.col("label") < F.col("src")).alias("_chg"),
                )
            )
        return (
            edges.join(
                lbl.select(
                    F.col("id").alias("dst"), F.col("label").alias("_nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(
                F.min("_nl").alias("label"),
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("_nl"))
                ).alias("_old"),
            )
            .select(
                F.col("src").alias("id"),
                "label",
                (F.col("label") < F.col("_old")).alias("_chg"),
            )
        )

    # TWO propagation steps per convergence check: near-dup components
    # are shallow (a boilerplate blob is a dense clique, diameter ~2), so
    # the old one-step-per-round loop spent most of its rounds CONFIRMING
    # convergence — each round a full driver round trip (plan analysis +
    # job + collect).  Pairing steps halves the barrier count while
    # keeping detection sound: the check reads the SECOND step's _chg
    # only, and "step 2k changed nothing" means step 2k-1's labels were
    # already a fixpoint (new_label(v) = min over N(v) ∪ {v} equalled the
    # old label for every v), so the returned labels are stable
    # regardless of what the first step of the pair did.  ``max_iters``
    # still bounds total STEPS, so the convergence envelope (component
    # diameter) is unchanged.
    labels = None
    steps = 0
    converged = False
    while steps < max_iters and not converged:
        mid = _step(labels)
        steps += 1
        if steps < max_iters:
            mid = _step(mid.drop("_chg"))
            steps += 1
        # r13 examined-and-rejected: a .cache() on top of this checkpoint
        # (so the relation reports real statistics and downstream joins
        # plan as broadcasts up front instead of being SMJ-planned and
        # AQE-rescued) measured a consistent small LOSS over 3 interleaved
        # A/B rounds on the 4 composites (cache pooled-min 1.64/2.20/1.27/
        # 2.00 s vs plain 1.67/1.89/1.26/1.75 for dedup_canonical/curation/
        # embed_dedup/semdedup): the per-round InMemoryRelation build costs
        # more than the planning improvement returns, locally AND it would
        # double-store the labels at scale.  AQE's runtime BHJ conversion
        # (with local shuffle read) is the cheaper rescue.
        new_labels = mid.localCheckpoint(eager=False)
        # full-pass aggregate (never limit(1)): it both answers "did any
        # label move" AND materializes every partition of the lazy
        # checkpoint in the same job
        changed = new_labels.agg(F.max("_chg")).collect()[0][0]
        labels = new_labels.drop("_chg")
        converged = not changed
    if not converged:
        # refuse-loudly policy (same stance as the matmul/broadcast
        # envelopes): labels that are still moving after max_iters steps
        # would be silently WRONG cluster assignments — a component with
        # diameter > max_iters (e.g. a long version-chain of successive
        # edits) needs a higher cap, not a wrong answer.
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iters="
            f"{max_iters} propagation steps: a component's diameter "
            "exceeds the cap; raise max_iters"
        )
    if not with_sizes:
        return labels.select(F.col("id"), F.col("label").alias("cluster_rep"))
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("id"),
        F.col("label").alias("cluster_rep"),
        "cluster_size",
    )


# broadcast envelope for the benchmark shingle set: ~64B/shingle → ~1.3 GB
# at the cap; past it the benchmark side must be bucket-joined instead
BENCH_MAX_SHINGLES = 20_000_000


def contaminated_docs(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_bench_shingles: int = BENCH_MAX_SHINGLES,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥1 word k-gram
    shingle with the benchmark/eval set — (id, n_hits, first_shingle).

    The standard train/test-overlap sweep a pretraining pipeline runs
    before training (real deployments use 8-13-gram shingles; the fixture's
    short docs use 3).  Scale shape: the benchmark side is tiny relative to
    the corpus, so its DISTINCT shingle set is **broadcast** — the corpus
    shingle stream (the big side) joins map-side with NO shuffle; the only
    shuffle is the per-doc hit aggregation, map-side combined.  Flag-don't-
    drop output: callers anti-join or filter downstream, keeping the
    removal decision (and its audit trail) separate from detection.

    The broadcast is ENVELOPE-GUARDED (same policy as the exact-cosine
    tier): a benchmark whose distinct shingle set exceeds
    ``max_bench_shingles`` raises loudly instead of OOMing executors —
    at that size, bucket-join the two shingle streams instead."""
    corpus_sh = word_shingles(docs, id_col, text_col, k)
    # the distinct benchmark shingle set feeds BOTH the envelope count and
    # the broadcast build; lineage-truncate it lazily so the count's job
    # materializes it once and the broadcast build re-reads the
    # materialized partitions instead of re-running tokenize+explode+distinct
    bench_sh = (
        word_shingles(bench, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_bench = bench_sh.count()
    if n_bench > max_bench_shingles:
        raise ValueError(
            f"contaminated_docs broadcasts the benchmark shingle set; "
            f"{n_bench} distinct shingles exceeds the {max_bench_shingles} "
            "broadcast envelope — shuffle-join the shingle streams instead"
        )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_hits"),
            F.min("shingle").alias("first_shingle"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    shingled: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """(id, sig: array<string>) — sig[i] = min over shingles of md5(i||'|'||shingle).

    One aggregation: groupBy(id).agg(min(md5(i||s)) for each i) — partial
    (map-side) min per hash keeps the shuffle narrow: num_hashes × 32-byte
    strings per doc regardless of document size.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    sig = shingled.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_sets(
    sets_: DataFrame, id_col: str, num_hashes: int = 16, arr_col: str = "_sh"
) -> DataFrame:
    """(id, sig: array<string>) — MinHash signatures computed ROW-LOCAL from
    the shingle-set ARRAY form (:func:`shingle_set_arrays`):
    ``sig[i] = array_min(transform(_sh, s -> md5(i||'|'||s)))``.

    Bit-identical to :func:`minhash_signatures` over the exploded relation
    (same md5 inputs; ``array_min`` and ``min`` share the UTF8 binary
    ordering; ``_sh`` is already distinct and min is duplicate-insensitive)
    but with NO aggregation at all — the groupBy form plans as a
    SortAggregate (a ``min(string)`` buffer is var-length, so HashAggregate
    is unavailable) costing a map-side sort + an Exchange + a reduce-side
    sort of the whole exploded shingle relation.  Here the signature is a
    projection: zero shuffle, zero sort, and the explode never happens.

    Callers MUST pass a MATERIALIZED ``sets_`` (cached / checkpointed):
    each of the ``num_hashes`` array_min terms references ``arr_col`` once,
    so on a raw plan CollapseProject would inline the tokenize+shingle
    expression ``num_hashes`` times (the no-CSE trap documented on
    :func:`shingle_set_arrays`); behind a cache the references are O(1)
    column reads.  Every current consumer already caches ``sets_`` for the
    Jaccard-verification join.

    Built as ONE ``F.expr`` string: the Column form (num_hashes ×
    transform/md5/concat/array_min py4j calls) measured ~340 ms of pure
    plan construction per invocation — paid inside FULL_WALL bench
    timings (guide §4, applied to the plan-build boundary).  Same parsed
    expression tree; md5 inputs are unchanged, so signatures stay
    bit-identical."""
    # the transform lambda stays single-parameter (a second parameter
    # would be bound to the ELEMENT INDEX by Spark)
    terms = ", ".join(
        f"array_min(transform(`{arr_col}`, s -> md5(concat('{i}|', s))))"
        for i in range(num_hashes)
    )
    return sets_.select(F.col(id_col), F.expr(f"array({terms})").alias("sig"))


def banded_signatures(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket) LSH band rows: band_hash = md5(band_idx ||
    minhashes-in-band).  The materialized form IS the LSH index — the
    incremental dedup index (streaming/dedup_index.py) persists exactly
    these rows; ``lsh_candidate_pairs`` self-joins them.

    One ``F.expr`` parse instead of bands × rows_per_band Column calls
    (~190 ms of py4j construction measured) — same expression tree, same
    band hashes."""
    rows_per_band = num_hashes // bands
    structs = ", ".join(
        "struct({b} AS band, md5(concat_ws('|', '{b}', {cols})) AS bucket)".format(
            b=b,
            cols=", ".join(
                f"sig[{i}]"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return signatures.select(
        F.col(id_col), F.expr(f"explode(array({structs}))").alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    band_hash = md5(band_idx || minhashes-in-band); the self-join is an
    equi-join on (band_idx, band_hash), never a cross join.  Buckets with a
    hot key (boilerplate-heavy corpora) are the classic skew case → AQE
    skew-join spreads the shuffle, but the candidate COUNT is still
    quadratic in bucket size; ``max_bucket_size`` drops buckets above the
    cap entirely (a bucket holding b docs yields b²/2 pairs — at cap c the
    whole join is bounded by n_buckets × c²/2 candidates).  A giant bucket
    means the band signature carries no discrimination for those docs; pairs
    inside it still surface through their other, selective bands.

    ``banded`` — pass precomputed (id, band, bucket) rows to skip the
    banding pass entirely (the streaming dedup index already holds them
    cached per micro-batch; recomputing would run the heaviest batch-side
    shuffle — the explode + num_hashes-way min groupBy — twice per batch).
    """
    if banded is None:
        banded = banded_signatures(signatures, id_col, num_hashes, bands)
        # The banded relation feeds up to three consumers (hot-bucket agg,
        # the anti-join probe, both self-join sides); without caching, each
        # re-runs the shingle→md5×num_hashes signature pipeline upstream.
        # It is tiny relative to the corpus (bands rows × ~50 B per doc —
        # the classic materialized LSH index), so cache it: at cluster
        # scale this is the deliberate persist of the banded index between
        # candidate stages.
        banded = banded.cache()
    if max_bucket_size is not None:
        # HOT list, not a keep list (same reasoning as the ngram stop-shingle
        # cap): buckets over the cap are few even on a skewed corpus, so the
        # list broadcasts and the filter is a map-side anti-join — a keep
        # list would be ~every bucket and shuffle the whole banded relation.
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bucket") == F.col(f"b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_for_pairs_sets(
    sets_: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard for (id_a, id_b) candidate pairs against a
    (id, _sh array) shingle-set relation (see :func:`shingle_set_arrays`):
    two equi-joins + one codegen'd ``array_intersect`` per pair — no row
    explosion, no aggregate.  Set sizes are derived with ``F.size`` on the
    joined arrays, which is why callers should CACHE ``sets_``: on a
    materialized array, size() is an O(1) header read; on a raw plan it
    would re-inline the shingle expression (the CollapseProject/no-CSE
    trap noted on :func:`shingle_set_arrays`)."""
    a = sets_.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa")
    )
    b = sets_.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb")
    )
    # ONE projection, one parse: each withColumn of the previous staged
    # form re-analyzed the whole join tree, and CollapseProject inlined
    # its n_inter alias into both references anyway — this expr IS the
    # plan that form collapsed to (whole-stage codegen's subexpression
    # elimination evaluates the repeated intersect once per row)
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "(size(array_intersect(_sa, _sb)) / "
                "(size(_sa) + size(_sb) - size(array_intersect(_sa, _sb))))"
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, candidate-joined)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_jaccard: float = 0.1,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word k-gram shingle sets for every pair sharing ≥1
    shingle.  Candidate generation is the shingle equi-self-join (inverted-
    index pattern) — pairs with zero overlap are never materialized, so cost
    is Σ_shingle df(s)² not n².

    ``max_df`` is the stop-shingle document-frequency cap: shingles present
    in more than ``max_df`` documents are dropped from the shingle universe
    (both intersection AND set sizes — the Jaccard is then exact over the
    capped universe).  This is what keeps the join from going quadratic on a
    boilerplate-heavy corpus: one shingle shared by d documents contributes
    d² candidate rows, so the worst-case join cost is bounded by
    n_shingles × max_df² instead of n_docs².  A stop-shingle carries ~zero
    similarity signal (it's in everything), so the capped Jaccard ranks pairs
    the same way — the standard stop-word argument applied to shingles.
    """
    sh = word_shingles(df, id_col, text_col, k)
    if max_df is not None:
        # the raw shingle relation feeds the DF-count aggregation AND the
        # capped relation below — cache it so tokenize+explode runs once
        # (the one-pass alternative, collect_list posting lists before
        # knowing the counts, is exactly the unbounded-list OOM this cap
        # exists to prevent).  At cluster scale this is the standard
        # materialize-the-inverted-index step (MEMORY_AND_DISK spill).
        sh = sh.cache()
        # STOP-shingle list, not a keep list: the set of shingles with
        # df > cap is tiny (boilerplate has few distinct forms) even when
        # the corpus is huge, so it broadcasts and the filter is a map-side
        # anti-join — ~free when no shingle is hot, while a keep-list
        # semi-join would shuffle the full shingle relation at any scale.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        # the capped shingle relation feeds BOTH the posting-list grouping
        # and the set-size aggregation — cache it so the tokenize + explode
        # + anti-join pipeline runs once, not once per consumer.  (At
        # cluster scale this is a deliberate materialization of the
        # inverted index — the same call Delta/Iceberg pipelines make when
        # they persist the shingle table between dedup stages.)
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti").cache()
        # capped path: posting lists are ≤ max_df ids, so pair generation
        # can group once per shingle and expand combinations locally — ONE
        # shuffle of the shingle relation instead of the self-join's two.
        grouped = sh.groupBy("shingle").agg(
            F.array_sort(F.collect_list(id_col)).alias("ids")
        )
        inter = (
            grouped.filter(F.size("ids") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (x, i) -> "
                        "transform(slice(ids, i + 2, size(ids)), "
                        "y -> struct(x AS id_a, y AS id_b))))"
                    )
                ).alias("p")
            )
            .select("p.id_a", "p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        # uncapped: posting lists are unbounded, so grouping them into
        # arrays could OOM on a hot shingle — the streaming equi-self-join
        # (AQE skew-splittable) is the safe shape.
        a = sh.withColumnRenamed(id_col, "id_a")
        b = sh.withColumnRenamed(id_col, "id_b")
        inter = (
            a.join(b, ["shingle"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long exactly


# Each packed 64-bit accumulator holds 3 bit-counters of _PACK_BITS bits, so
# a document may have at most 2^_PACK_BITS - 1 token VOTE ROWS (total rows
# entering the groupBy — `simhash` happens to distinct its tokens, but the
# guard does not rely on that) before a counter could overflow into its
# neighbor.  The bound is enforced in the assembly: `_n` counts the actual
# vote rows and any doc with _n >= 2^_PACK_BITS yields NULL rather than a
# silently wrong signature.
_PACK_BITS = 21
_PACK_MASK = (1 << _PACK_BITS) - 1


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long) — 60-bit SimHash over word tokens.

    token_hash = first 15 hex chars of md5(token) as a long (`conv` base 16);
    bit j of the simhash is 1 iff Σ_tokens (±1 per bit j) > 0.

    Explode-free PACKED bit voting (the 100 TB shape): the ±1 vote sum per
    bit is ``2·ones_j − n_tokens`` where ``ones_j = Σ (th>>j)&1``.  Rather
    than 60 separate conditional sums, each aggregate packs THREE 21-bit
    counters into one long (``ones_{3k} + ones_{3k+1}<<21 + ones_{3k+2}<<42``
    — counters can't carry into each other below 2^21 tokens/doc, NULLed if
    ever exceeded), so ONE groupBy computes ``count(*)`` plus 20 packed
    sums — all codegen'd bitwise built-ins, map-side combined, shuffle = 21
    longs per (doc, map-partition), and the plan is a third the width of the
    naive 60-sum form (Catalyst analysis time scales with expression count —
    measured 2.1s → 1.4s at sf0.1 from the narrower plan alone).  The
    original form exploded each token row into 60 bit rows before
    aggregating: same result, 60× the aggregation input and a second
    shuffle.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.select(
        id_col,
        F.expr("CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)").alias(
            "th"
        ),
    )
    n_packs = (SIMHASH_BITS + 2) // 3
    aggs = [
        F.expr(
            f"SUM(((th >> {3 * k}) & 1)"
            f" + (((th >> {3 * k + 1}) & 1) << {_PACK_BITS})"
            f" + (((th >> {3 * k + 2}) & 1) << {2 * _PACK_BITS}))"
        ).alias(f"_p{k}")
        for k in range(n_packs)
    ]
    votes = hashed.groupBy(id_col).agg(F.count("*").alias("_n"), *aggs)
    terms = []
    for j in range(SIMHASH_BITS):
        k, r = divmod(j, 3)
        ones_j = f"((_p{k} >> {_PACK_BITS * r}) & {_PACK_MASK})"
        terms.append(
            f"(CASE WHEN {ones_j} * 2 > _n THEN CAST({1 << j} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    assembled = (
        f"CASE WHEN _n >= {1 << _PACK_BITS} THEN CAST(NULL AS BIGINT) "
        f"ELSE {' + '.join(terms)} END"
    )
    return votes.select(F.col(id_col), F.expr(assembled).alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame, id_col: str, max_hamming: int | None = None, bands: int = 4
) -> DataFrame:
    """Pairs within ``max_hamming`` bits, candidate-generated by band equality.

    Recall guarantee is the pigeonhole bound: ``hamming <= bands - 1``
    differing bits cannot touch every band, so some band is identical and the
    pair survives the candidate join.  ``max_hamming`` therefore defaults to
    ``bands - 1``; passing a larger value returns *approximate* candidates —
    pairs whose differing bits spread across all bands are missed.
    band b = bits [b*width, (b+1)*width), width = 60 // bands."""
    if max_hamming is None:
        max_hamming = bands - 1
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    banded = sim.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.key")
    a = banded.alias("a")
    b = banded.alias("b")
    # hamming is computed and FILTERED before the dedup exchange: the
    # band join emits every (pair × shared band) copy, so applying the
    # verification filter map-side (and dropping the two signature
    # columns) shrinks the distinct's shuffle to the near-pair survivors
    # — at bench scale that is 272k candidate rows down to the handful
    # within the hamming bound, and the saving grows with corpus size.
    # Filter-then-distinct is row-identical to distinct-then-filter
    # (hamming is a function of the pair, identical across band copies).
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# duplicate-span detection: broadcast envelope for the hot-gram set (same
# policy as contaminated_docs' benchmark shingles — boilerplate has few
# DISTINCT forms even in a huge corpus, but the guard refuses loudly
# rather than OOM if that assumption breaks)
HOT_GRAM_MAX = 2_000_000


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_df: int = 2,
    max_hot_grams: int = HOT_GRAM_MAX,
) -> DataFrame:
    """Repeated-substring spans: maximal token ranges of each document
    covered by word ``k``-grams that appear in ≥ ``min_df`` documents —
    the span-level primitive of C4/RefinedWeb-style boilerplate removal
    (the reference pipelines drop or trim these spans; this operator
    FLAGS them, keeping removal a separate decision like
    ``contaminated_docs``).

    Returns (id, span_start, span_end, n_grams): token offsets, 0-based,
    end exclusive; overlapping/adjacent gram hits merge into one span.

    Plan shape: positional grams are row-local (inline generator — the
    same InferFiltersFromGenerate trap as ``word_shingles`` applies, so
    the expression stays fused); gram document-frequency is one shuffle;
    the hot-gram set (df ≥ min_df) is BROADCAST under an enforced
    ``max_hot_grams`` envelope, so flagging the corpus is a map-side
    semi-join; span merging is a per-doc window (interval-merge via
    running max-end) + one aggregation — everything shuffles on the doc
    id, never on pairs.
    """
    # three consumers (envelope count, hot-gram agg, hits probe) — cache so
    # the tokenize+posexplode pipeline runs once, not three times (the same
    # materialized-index reasoning as lsh_candidate_pairs' banded cache)
    grams = _positional_grams(df, id_col, text_col, k).cache()
    hot = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("gram")
    )
    n_hot = hot.count()
    if n_hot > max_hot_grams:
        raise ValueError(
            f"duplicate_spans broadcasts the hot-gram set; {n_hot} grams "
            f"exceeds the {max_hot_grams} envelope — raise min_df or "
            "semi-join the gram streams instead"
        )
    hits = grams.join(F.broadcast(hot), "gram").select(id_col, "pos")
    return _merge_hits_to_spans(hits, id_col, k)


def _positional_grams(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, gram): word ``k``-grams with their 0-based token offset —
    the row-local front shared by :func:`duplicate_spans` and
    :func:`contaminated_spans`.  The gram array builds inside ONE
    expression (the InferFiltersFromGenerate caveat: a filter between the
    transform and the posexplode would split the fused generator)."""
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    grams_arr = F.when(
        n - (k - 1) >= 1,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        F.col(id_col), F.posexplode(grams_arr).alias("pos", "gram")
    )


def _merge_hits_to_spans(hits: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge per-doc gram-hit positions into maximal token spans
    (interval-merge via running max-end) — shared by the duplicate-span
    and contaminated-span detectors."""
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max(F.col("pos") + k).over(w_prev)
    flagged = hits.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn("_sid", F.sum("_new").over(w_run))
    return (
        flagged.groupBy(id_col, "_sid")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .drop("_sid")
    )


def contaminated_spans(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_bench_grams: int = BENCH_MAX_SHINGLES,
) -> DataFrame:
    """SPAN-LEVEL decontamination detect: maximal token ranges of corpus
    docs covered by word ``k``-grams that occur ANYWHERE in the benchmark
    set — the surgical sibling of :func:`contaminated_docs` (which flags
    whole documents).  Dropping a whole doc for one leaked paragraph
    wastes the rest of it; trimming just the overlapping spans (via
    :func:`trim_duplicate_spans`, which consumes this output unchanged)
    is the span-grain decontamination the training-data literature
    recommends when benchmark text is embedded in otherwise-good pages.

    Plan shape: the benchmark's DISTINCT gram set broadcasts under an
    enforced ``max_bench_grams`` envelope (the ``contaminated_docs``
    stance); the corpus gram stream probes it map-side — no shuffle
    touches the corpus until the tiny per-doc hit merge."""
    bgrams = (
        _positional_grams(bench, id_col, text_col, k).select("gram").distinct()
    )
    n_bench = bgrams.count()
    if n_bench > max_bench_grams:
        raise ValueError(
            f"contaminated_spans broadcasts the benchmark gram set; "
            f"{n_bench} grams exceeds the {max_bench_grams} envelope — "
            "bucket-join the gram streams instead"
        )
    hits = (
        _positional_grams(docs, id_col, text_col, k)
        .join(F.broadcast(bgrams), "gram")
        .select(id_col, "pos")
    )
    return _merge_hits_to_spans(hits, id_col, k)


def trim_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """ACT on :func:`duplicate_spans` flags: rebuild each document's text
    with the flagged token ranges removed (the C4/RefinedWeb trim step).
    Returns (id, trimmed) for EVERY input doc — unflagged docs pass through
    verbatim, fully-covered docs come out as the empty string (callers
    typically drop those with a quality floor).

    Plan shape: spans fold to one array row per doc (tiny — spans are rare
    by construction), LEFT-join onto the docs, and the token filter runs
    row-local inside codegen (``filter`` with the index lambda over the
    split array) — no per-token row explosion, one broadcast-sized join."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start"), F.col("span_end"))
        ).alias("_spans")
    )
    joined = docs.join(sp, id_col, "left").withColumn(
        "_spans",
        F.coalesce(F.col("_spans"), F.array().cast(
            "array<struct<span_start:bigint,span_end:bigint>>"
        )),
    )
    toks = F.split(F.col(text_col), " ")
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col), F.array_join(kept, " ").alias("trimmed")
    )


HOT_LINE_MAX = 2_000_000


def boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document boilerplate LINES: (line_hash, df) for every
    non-empty line (after trim) appearing in ≥ ``min_df`` distinct
    documents — the line-granular sibling of :func:`duplicate_spans`
    (C4 drops lines duplicated across its corpus; RefinedWeb's line-wise
    filter removes nav/footer boilerplate the same way).  Lines key by
    ``md5`` so the document-frequency shuffle carries 32-byte hashes, not
    arbitrary-length line text.

    Plan shape: one row-local posexplode, one map-side-combined
    count-distinct per hash.  No reference analog — the reference's text
    surface is LIKE search (haskell-src/lib/ChainwebDb/Queries.hs); this
    extends the beyond-reference curation suite."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).filter(F.trim(F.col("line")) != "")
    return (
        lines.groupBy(F.md5(F.col("line")).alias("line_hash"))
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= min_df)
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_hot_lines: int = HOT_LINE_MAX,
) -> DataFrame:
    """ACT on :func:`boilerplate_lines`: rebuild each document with its
    cross-corpus duplicated lines removed, preserving the order and the
    empty lines of everything kept.  Returns (id, stripped) for EVERY
    input doc; a doc whose lines were all boilerplate comes out as the
    empty string (callers drop those with a quality floor, the
    ``trim_duplicate_spans`` stance).

    Plan shape: the hot-line set (hashes only) is BROADCAST under an
    enforced ``max_hot_lines`` envelope — the corpus-side removal is a
    map-side hash probe, then one per-doc aggregation (sort_array over
    (pos, line) structs; no window) rebuilds the text.  Two shuffles
    total: the df count inside :func:`boilerplate_lines` and the per-doc
    rebuild — both on doc/line keys, never on pairs."""
    hot = boilerplate_lines(df, id_col, text_col, min_df).select("line_hash")
    n_hot = hot.count()
    if n_hot > max_hot_lines:
        raise ValueError(
            f"strip_boilerplate_lines broadcasts the hot-line set; {n_hot} "
            f"lines exceeds the {max_hot_lines} envelope — raise min_df or "
            "semi-join the line streams instead"
        )
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    kept = lines.join(
        F.broadcast(hot),
        F.md5(F.col("line")) == F.col("line_hash"),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("stripped")
    )
    # docs whose every line was hot drop out of the rebuild groupBy —
    # left-join back so the contract stays one row per input doc.  NULL
    # text stays NULL (posexplode drops those rows, so they also miss the
    # rebuild — a bare coalesce('') would silently rewrite NULL to empty)
    return (
        df.select(id_col, F.col(text_col).alias("_orig"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.when(
                F.col("_orig").isNotNull(),
                F.coalesce(F.col("stripped"), F.lit("")),
            ).alias("stripped"),
        )
    )


def select_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """The APPLY step of near-dup removal: given ``duplicate_clusters``
    output, keep ONE canonical document per cluster — the highest
    ``score_col`` (e.g. token count or a quality score), ties broken by
    smallest id — plus every unclustered document untouched.  Returns the
    surviving ``(id_col, score_col)`` corpus slice.

    This is the half of dedup that ``duplicate_clusters`` deliberately
    leaves to the caller: WHICH member survives is a curation policy
    (keep-longest beats keep-min-id when near-dups are truncations of one
    another), so it lives in its own operator with the policy as an
    argument.

    Scale shape (r13 single-pass form): canonical selection is one
    ``max_by`` aggregation over the CLUSTERED slice only (map-side
    combined, one row per cluster — no window sort); survivors then come
    from ONE pass over the corpus — a left join onto the membership list
    and onto the per-cluster keeper, keeping rows that are unclustered or
    ARE their cluster's keeper.  The previous union shape paid a third
    corpus pass (a separate anti-join branch for unclustered docs plus a
    re-join to re-attach the score to the keepers); the filter form is
    row-identical — every doc appears once, survives iff it has no
    cluster or is its cluster's ``max_by`` pick — and drops that pass.
    The membership/keeper sides are orders of magnitude smaller than the
    corpus (only docs appearing in ≥1 verified pair) and typically
    broadcastable; we leave the strategy to AQE rather than forcing
    ``broadcast()`` because membership CAN be corpus-sized in a
    pathological all-duplicate corpus.  Requires a numeric id (the
    tie-break negates it inside the ``max_by`` ordering struct).

    Reference parity note: the reference engine has no dedup surface;
    this extends it for training-data curation (SURVEY.md north-star)."""
    scored = docs.select(F.col(id_col), F.col(score_col))
    memb = clusters.select(F.col("id").alias(id_col), "cluster_rep")
    canon = (
        memb.join(scored, id_col)
        .groupBy("cluster_rep")
        .agg(
            F.expr(
                f"max_by({id_col}, struct({score_col}, -{id_col}))"
            ).alias("_keep")
        )
    )
    return (
        scored.join(memb, id_col, "left")
        .join(canon, "cluster_rep", "left")
        .filter(
            F.col("cluster_rep").isNull() | (F.col(id_col) == F.col("_keep"))
        )
        .select(F.col(id_col), F.col(score_col))
    )


def contamination_scores(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_bench_shingles: int = BENCH_MAX_SHINGLES,
) -> DataFrame:
    """Graded decontamination: per-document OVERLAP FRACTION with the
    benchmark set — (id, n_shingles, n_hits, contamination) with
    contamination = n_hits / n_shingles over the doc's DISTINCT word
    k-grams.  Production decontamination thresholds on the fraction
    (e.g. drop > 0.8, audit 0.2–0.8) rather than the any-hit flag of
    :func:`contaminated_docs`; every corpus doc appears, zero-overlap
    docs score 0.0.

    Same scale shape as the flag variant: the benchmark shingle set
    broadcasts under the same loud envelope, the corpus stream joins
    map-side, and the per-doc totals/hits are map-side-combined
    aggregations on the doc id.  The fraction rounds to 6 decimals
    (engine-exact replay)."""
    corpus_sh = word_shingles(docs, id_col, text_col, k)
    # the distinct benchmark shingle set feeds BOTH the envelope count and
    # the broadcast build; lineage-truncate it lazily so the count's job
    # materializes it once and the broadcast build re-reads the
    # materialized partitions instead of re-running tokenize+explode+distinct
    bench_sh = (
        word_shingles(bench, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_bench = bench_sh.count()
    if n_bench > max_bench_shingles:
        raise ValueError(
            f"contamination_scores broadcasts the benchmark shingle set; "
            f"{n_bench} distinct shingles exceeds the {max_bench_shingles} "
            "broadcast envelope — shuffle-join the shingle streams instead"
        )
    totals = corpus_sh.groupBy(id_col).agg(
        F.count("*").alias("n_shingles")
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return totals.join(hits, id_col, "left").select(
        F.col(id_col),
        "n_shingles",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0))
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("contamination"),
    )
