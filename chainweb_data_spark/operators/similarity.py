"""Similarity search over an embedding column (``array<float>``).

Two tiers (BASELINE.json north-star):
- ``cosine_topk_bruteforce`` — exact top-k neighbors; the correctness
  baseline.  Range-join on block ids keeps the pair explosion bounded and
  shuffle-partitioned; the dot product is ``F.zip_with`` + ``F.aggregate``
  (JVM-side, no Python).
- ``lsh_ann_topk`` — random-hyperplane LSH: md5-derived deterministic
  hyperplane signs → bit signature → candidates share a band; exact rerank
  inside buckets only.  This is the 100 TB path: cost is Σ_bucket |bucket|²
  with bucket size controlled by signature bits.

Determinism: hyperplane components are ±1 derived from md5(plane|dim) so an
SQL oracle can reproduce them exactly; no RNG state anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_unit_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Pre-normalize so cosine = dot; cast float→double once up front.

    The norm is materialized in its own projection: referencing an
    aggregate-over-array expression inside the per-element lambda would
    re-reduce the whole vector once per element (O(dim²) per row — the same
    no-CSE-across-lambda-scopes trap as word_shingles' split).

    Expressions are single ``F.expr`` parses (the nested-Column form
    measured ~200 ms of py4j plan construction per call, paid inside
    FULL_WALL bench timings — guide §4 applied to the plan-build
    boundary); the parsed trees are identical."""
    staged = df.withColumn(
        "_dv", F.expr(f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))")
    ).withColumn("_n", F.expr("sqrt(aggregate(_dv, 0.0D, (acc, v) -> acc + v * v))"))
    return staged.withColumn(
        "_unit", F.expr("transform(_dv, x -> x / _n)")
    ).drop("_dv", "_n")


def cosine_topk_bruteforce(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5,
    max_vectors: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector: (id, neighbor_id, cosine).

    All-pairs inner join on a constant is deliberately avoided; instead we
    replicate the (small) probe side with ``broadcast`` so the pair space is
    partitioned by the build side.  For asymmetric workloads (few queries ×
    many corpus vectors) pass the queries as ``df`` and broadcast them.

    Same enforced corpus envelope as the matmul tier (one side is broadcast
    whole): refuses loudly beyond ``max_vectors`` instead of OOMing — this
    keeps the "no unbounded all-pairs anywhere" invariant uniform even for
    this reference/test-tier helper.
    """
    _check_matmul_envelope(
        df, "cosine_topk_bruteforce",
        MATMUL_MAX_VECTORS if max_vectors is None else max_vectors,
    )
    u = with_unit_vectors(df, vec_col).select(
        F.col(id_col).alias("_qid"), F.col("_unit").alias("_qv")
    )
    c = with_unit_vectors(df, vec_col).select(
        F.col(id_col).alias("_cid"), F.col("_unit").alias("_cv")
    )
    pairs = c.join(F.broadcast(u), F.col("_qid") != F.col("_cid"))
    scored = pairs.select(
        F.col("_qid").alias(id_col),
        F.col("_cid").alias("neighbor_id"),
        _dot(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


@F.pandas_udf(T.DoubleType())
def cosine_pairs_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized pairwise cosine for candidate-pair rerank: one Arrow batch
    of (vec, vec) rows → row-wise dot over an (n, dim) ndarray.  ~100× the
    interpreted higher-order-function dot; rounded to 6 dp for engine-stable
    ordering."""
    A = np.asarray(a.tolist(), dtype=np.float64)
    B = np.asarray(b.tolist(), dtype=np.float64)
    A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
    B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
    return pd.Series(np.round(np.einsum("ij,ij->i", A, B), 6))


# exact-tier corpus envelope: ~1 GB of 64-dim doubles broadcast per
# executor.  Beyond it the exact tier REFUSES (loudly, before collecting the
# corpus) instead of silently OOMing the driver — lsh_ann_topk is the scale
# path.
MATMUL_MAX_VECTORS = 2_000_000


def _check_matmul_envelope(
    df: DataFrame, op: str, max_vectors: int, n_rows: int | None = None
) -> None:
    """Refuse ``op`` when ``df`` holds more than ``max_vectors`` rows.
    ``n_rows``, when given, must be the EXACT row count of the ``df``
    passed (parquet footer metadata, the same free-stats pattern as the
    IVF/PQ trainers): it replaces the ``count()`` job, so an undercount
    lets an oversized corpus through.  None counts ``df``."""
    assert n_rows is None or n_rows >= 0, n_rows
    n = df.count() if n_rows is None else n_rows
    if n > max_vectors:
        raise ValueError(
            f"{op} is the exact tier for corpora <= {max_vectors} vectors "
            f"(got {n}): the corpus is collect()ed and broadcast whole. "
            f"Use lsh_ann_topk (bucketed LSH + rerank) at this scale."
        )


def cosine_topk_matmul(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    max_vectors: int = MATMUL_MAX_VECTORS,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors via blocked BLAS matmul.

    The corpus side is collected, L2-normalized, and **broadcast** to
    executors as one ndarray; ``mapInPandas`` streams the query side in
    Arrow batches computing ``Q @ C.T`` per batch and taking top-k per row
    (ties broken by neighbor id asc on the 6-dp-rounded cosine — identical
    to the SQL oracle's ORDER BY).

    Scale: broadcast-side must fit an executor (~1 GB ≈ 2M×64-dim doubles);
    the ``max_vectors`` envelope is ENFORCED (ValueError, before the
    collect) — beyond it, partition the corpus (IVF/LSH — see
    ``lsh_ann_topk``) or block both sides.  The query side streams at any
    size with zero shuffle.

    Preconditions: ids must be non-negative and < 2^31 (asserted loudly at
    broadcast build — the composite top-k key packs them into the low 32
    bits), and every QUERY id should be present in the broadcast corpus:
    ``kk = min(k, n-1)`` assumes one candidate slot is lost to
    self-exclusion, so a query id absent from the corpus gets no self-hit
    to exclude yet still receives only ``kk`` neighbors (one fewer than a
    corpus member would).  Here ``df`` is both sides, so both hold.
    """
    _check_matmul_envelope(df, "cosine_topk_matmul", max_vectors, n_rows)
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    order = np.argsort(ids)
    ids, C = ids[order], C[order]
    # the composite top-k key packs ids into the low 32 bits
    assert ids.min() >= 0 and ids.max() < (1 << 31), (
        "cosine_topk_matmul requires non-negative ids < 2^31"
    )
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids, C))

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _topk(batches):
        cids, CM = bc.value
        n = len(cids)
        kk = min(k, n - 1)
        # composite int64 key encodes (cosine-6dp desc, neighbor_id asc)
        # EXACTLY and with no duplicate keys (ids are unique), so a batch-
        # level argpartition + small sort replaces the per-row Python loop:
        # key = round(cos*1e6) * 2^32 - id.  |round(cos*1e6)| <= 1e6 and
        # id < 2^31 (asserted at broadcast build), so no overflow; and
        # S6/1e6 reproduces np.round(S, 6) bit-for-bit (same rint scaling).
        for pdf in batches:
            if len(pdf) == 0 or kk <= 0:
                continue
            Q = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
            S6 = np.rint((Q @ CM.T) * 1e6).astype(np.int64)
            qids = pdf[id_col].to_numpy(dtype=np.int64)
            key = S6 * (1 << 32) - cids[None, :]
            # self-exclusion: sink the query's own column to -inf
            pos = np.searchsorted(cids, qids)
            rows = np.arange(len(qids))
            ok = (pos < n) & (cids[np.clip(pos, 0, n - 1)] == qids)
            key[rows[ok], pos[ok]] = np.iinfo(np.int64).min
            # partition for the LARGEST kk keys directly — negating the key
            # would overflow the int64.min self-sentinel back onto itself
            part = np.argpartition(key, n - kk, axis=1)[:, n - kk :]
            order = np.argsort(-np.take_along_axis(key, part, axis=1), axis=1)
            top = np.take_along_axis(part, order, axis=1)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(qids, kk),
                    "neighbor_id": cids[top].ravel(),
                    "cosine": (
                        np.take_along_axis(S6, top, axis=1) / 1e6
                    ).ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_topk, out_schema)


def near_dup_pairs_matmul(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float,
    max_vectors: int = MATMUL_MAX_VECTORS,
    n_rows: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold, via the same
    broadcast-matmul pattern (threshold applied inside the numpy kernel, so
    only qualifying pairs ever materialize as rows).  Same enforced
    ``max_vectors`` envelope as cosine_topk_matmul."""
    _check_matmul_envelope(df, "near_dup_pairs_matmul", max_vectors, n_rows)
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids, C))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _pairs(batches):
        cids, CM = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
            S = np.round(Q @ CM.T, 6)
            qids = pdf[id_col].to_numpy(dtype=np.int64)
            hit_q, hit_c = np.nonzero(
                (S >= min_cosine) & (qids[:, None] < cids[None, :])
            )
            yield pd.DataFrame(
                {
                    "id_a": qids[hit_q],
                    "id_b": cids[hit_c],
                    "cosine": S[hit_q, hit_c],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_pairs, out_schema)


def _hyperplane_sign(plane: int, dim: int) -> int:
    """Deterministic ±1 from md5 — reproducible in any engine."""
    import hashlib

    h = hashlib.md5(f"hp{plane}|{dim}".encode()).hexdigest()
    return 1 if h[0] < "8" else -1


def hyperplane_matrix(num_planes: int, dim: int) -> list[list[int]]:
    return [[_hyperplane_sign(p, d) for d in range(dim)] for p in range(num_planes)]


def lsh_signature(df: DataFrame, vec_col: str, num_planes: int, dim: int) -> DataFrame:
    """Append ``_sig`` (array<int> of 0/1): sign of dot(v, hyperplane_p).

    Built as ONE ``F.expr`` parse: the Column form issued num_planes ×
    (dim + ~6) py4j calls — ~1.3 s of pure plan construction at the
    auto-derived plane count, the single largest construction cost in the
    embed/ANN FULL_WALL queries (guide §4 applied to the plan-build
    boundary).  The parsed tree — zip_with/aggregate with the same double
    literals, compare ``>= 0``, CASE 1/0 — is identical, so signatures
    and downstream hashes are unchanged."""
    planes = hyperplane_matrix(num_planes, dim)
    terms = ", ".join(
        "CASE WHEN aggregate(zip_with(`{v}`, array({lits}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v) >= 0 "
        "THEN 1 ELSE 0 END".format(
            v=vec_col,
            lits=", ".join(f"{float(s):.1f}D" for s in planes[p]),
        )
        for p in range(num_planes)
    )
    return df.withColumn("_sig", F.expr(f"array({terms})"))


def auto_num_planes(n_vectors: int, bands: int = 2, target_bucket: int = 64) -> int:
    """Plane count for a corpus of ``n_vectors``: enough bits per band that
    the EXPECTED bucket occupancy stays ≈ ``target_bucket`` (rerank pair
    work per bucket then stays constant as the corpus grows — the
    ``planes ∝ log₂ n`` rule the scale-rehearsal table points at).  Bits
    per band = ceil(log₂(n / target_bucket)), total = bands × that,
    floored at 2 bits/band.  Even bands so band slicing stays aligned."""
    import math

    per_band = max(2, math.ceil(math.log2(max(n_vectors, 1) / target_bucket)))
    return bands * per_band


def bucket_pair_cosines(
    banded: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, neighbor_id, cosine-6dp) for every ORDERED pair of rows sharing
    a (band, key) bucket — the rerank kernel for bucketed ANN.

    Bucket-local matmul via ``applyInPandas``: each bucket's vectors cross
    the Arrow boundary ONCE (occupancy × dim doubles) and the pair matrix
    is one BLAS ``V @ V.T`` — versus the join-then-pair-UDF form, which
    ships occupancy² × 2 × dim doubles (both vectors attached to every
    candidate row).  Input vectors need not be normalized (the kernel
    normalizes); a pair appearing in several buckets yields identical
    cosine rows, so callers dedup with ``dropDuplicates([id, neighbor])``.
    Per-bucket memory is occupancy × dim + occupancy² doubles — bound
    occupancy upstream (more planes / ``auto_num_planes``) before it, not
    after."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {id_col: [], "neighbor_id": [], "cosine": []}
            ).astype({id_col: "int64", "neighbor_id": "int64", "cosine": "float64"})
        V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        S = np.round(V @ V.T, 6)
        qi, ci = np.nonzero(~np.eye(n, dtype=bool))
        return pd.DataFrame(
            {id_col: ids[qi], "neighbor_id": ids[ci], "cosine": S[qi, ci]}
        )

    return banded.groupBy("band", "key").applyInPandas(_pairs, schema)


def _lsh_banded_units(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    bands: int,
    dim: int,
) -> DataFrame:
    """(id, _unit, band, key): unit vectors with their exploded LSH band
    keys — the shared candidate-generation front of ``lsh_ann_topk`` and
    ``ann_near_dup_pairs``.  Sign of dot(unit, plane) equals sign of
    dot(raw, plane) (norms are positive), so oracles computing signatures
    on the RAW vectors agree."""
    width = num_planes // bands
    sigged = lsh_signature(
        with_unit_vectors(df, vec_col), "_unit", num_planes, dim
    )
    # one F.expr parse for the band structs (same tree as the Column form)
    structs = ", ".join(
        "struct({b} AS band, concat_ws('', {cols}) AS key)".format(
            b=b,
            cols=", ".join(
                f"CAST(_sig[{i}] AS STRING)"
                for i in range(b * width, (b + 1) * width)
            ),
        )
        for b in range(bands)
    )
    return sigged.select(
        F.col(id_col),
        F.col("_unit"),
        F.expr(f"explode(array({structs}))").alias("bb"),
    ).select(id_col, "_unit", "bb.band", "bb.key")


def ann_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_planes: int | None = None,
    bands: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Semantic near-duplicate pairs on the ANN path: hyperplane-LSH
    bucket candidates verified with exact cosine ``>= threshold`` —
    (id_a < id_b, cosine), the pair source semantic dedup should feed
    ``duplicate_clusters`` at scale.

    This is the 100 TB composition: pair work is Σ occupancy² over LSH
    buckets, held ≈ constant per vector by ``auto_num_planes``
    (``num_planes=None`` derives it from the corpus count) — never the
    O(n²) matrix the exact tier (``near_dup_pairs_matmul``) computes
    inside its enforced ≤2M-vector envelope.  Recall is the standard LSH
    trade: a true pair surfaces iff it shares ≥1 band key; more bands
    raise recall at linear replication cost.  The verification is exact
    (bucket-local BLAS matmul, 6-dp rounding), so precision is 1 —
    missed pairs are the only approximation."""
    if num_planes is None:
        num_planes = auto_num_planes(df.count(), bands)
    banded = _lsh_banded_units(df, id_col, vec_col, num_planes, bands, dim)
    scored = bucket_pair_cosines(banded, id_col, "_unit")
    return (
        scored.filter(
            (F.col(id_col) < F.col("neighbor_id"))
            & (F.col("cosine") >= threshold)
        )
        .select(
            F.col(id_col).alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cosine",
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int | None = 8,
    bands: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 LSH band; exact cosine rerank
    within candidates.  Recall is tunable via planes/bands; the join is an
    equi-join on (band, band_bits) — shuffle-partitioned, AQE-skew-safe.

    ``num_planes=None`` sizes the signature from the corpus
    (``auto_num_planes``): bucket occupancy — and so rerank cost per vector
    — stays roughly constant as data grows, at the price of one count().
    This configuration is itself under the correctness gate
    (``ann_lsh_auto_topk`` — its oracle is generated at registration time
    for the plane count the fixture's corpus size derives); the pinned
    16-plane ``ann_lsh_topk`` remains as the sparse-occupancy comparison
    point."""
    if num_planes is None:
        num_planes = auto_num_planes(df.count(), bands)
    banded = _lsh_banded_units(df, id_col, vec_col, num_planes, bands, dim)
    # one exchange instead of two (r13, guide §2.4): candidates are
    # explicitly repartitioned by the QUERY id before the cross-band
    # dedup — hash(id) satisfies the dedup aggregate's clustering on
    # (id, neighbor) (subset rule) AND the top-k window's clustering on
    # id, so neither plans its own exchange.  The old shape shuffled the
    # pair relation twice (hash(id, neighbor) for dropDuplicates, then
    # hash(id) for the window); map-side partial dedup removed almost
    # nothing there because duplicate pairs come from DIFFERENT band
    # buckets and rarely share a map partition.  Plan: Exchange 4 → 3;
    # rows verified identical; interleaved A/B 1.44 → 1.36 s (pinned) /
    # 1.17 → 1.14 s (auto).  No skew risk: per-id candidate count is
    # bounded by bands × bucket occupancy, the same key the window
    # already partitions by.
    scored = (
        bucket_pair_cosines(banded, id_col, "_unit")
        .repartition(F.col(id_col))
        .dropDuplicates([id_col, "neighbor_id"])
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN — the data-adaptive counterpart to hyperplane LSH
# ---------------------------------------------------------------------------


def ivf_centroids(df: DataFrame, id_col: str, vec_col: str, n_cells: int):
    """Degenerate IVF 'training': the centroids are the ``n_cells``
    lowest-id vectors, L2-normalized.  Kept as the zero-iteration baseline
    (and for tests); ``ivf_train_kmeans`` is the real quantizer — still
    fully deterministic.  Returns (ids, matrix) — tiny, broadcast to
    executors."""
    rows = (
        df.select(id_col, vec_col)
        .filter(F.col(id_col) < n_cells)
        .orderBy(id_col)
        .collect()
    )
    C = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    return np.array([r[0] for r in rows], dtype=np.int64), C


# k-means training-sample budget: Lloyd iterations are driver-side numpy on
# a collected sample, so the sample — not the corpus — bounds driver memory
# (4096 × 64-dim doubles ≈ 2 MB).  The sample is picked by a DETERMINISTIC
# md5-mod rule (reproducible in any engine / plain Python, unlike rand() or
# partition-order-sensitive df.sample), so the same corpus always trains the
# same quantizer — the engine's replay/oracle convention.
IVF_TRAIN_SAMPLE = 4096
# Lloyd iterations: occupancy balance on clustered corpora keeps improving
# to ~20 then flattens (measured in scripts/scale_rehearsal.py --skew:
# Σocc² 133M → 99M from 5 → 20 iters); driver-side cost is microscopic
# either way (sample × cells × dim flops)
IVF_TRAIN_ITERS = 20


def _md5_mod_keep(n: int, sample_size: int) -> int:
    """Modulus m such that keeping ids with md5(id) % m == 0 yields a sample
    of ≈ ``sample_size`` rows."""
    return max(1, n // max(1, sample_size))


def kmeans_centroids(
    X: np.ndarray, n_cells: int, iters: int = IVF_TRAIN_ITERS
) -> np.ndarray:
    """Deterministic spherical k-means (Lloyd) over an id-ordered sample.

    No RNG anywhere: init takes ``n_cells`` evenly spaced rows of the
    (caller-sorted) sample, assignment is argmax cosine with first-index
    tie-break, and means follow numpy's fixed summation order — so the same
    sample matrix always yields bit-identical centroids, which is what lets
    the trained quantizer live inside an exact SQL oracle as literals.
    Empty cells keep their previous centroid.  Returns (n_cells, dim)
    L2-normalized float64."""
    if len(X) == 0 or n_cells < 1:
        raise ValueError("kmeans_centroids needs a non-empty sample")
    Xn = np.asarray(X, dtype=np.float64)
    Xn = Xn / np.maximum(np.linalg.norm(Xn, axis=1, keepdims=True), 1e-300)
    k = min(n_cells, len(Xn))
    init_idx = np.unique(np.linspace(0, len(Xn) - 1, k).astype(np.int64))
    C = Xn[init_idx].copy()
    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for c in range(len(C)):
            members = Xn[assign == c]
            if len(members):
                v = members.mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    C[c] = v / nv
    return C


def refine_hot_cells(
    sample: np.ndarray,
    C: np.ndarray,
    target_occ: int,
    iters: int = IVF_TRAIN_ITERS,
) -> np.ndarray:
    """Split cells whose SAMPLE occupancy exceeds 2× ``target_occ`` by
    re-running spherical k-means on just their members (``ceil(occ/target)``
    subcells each) — the deterministic version of hierarchical IVF
    refinement.

    Why: the √n cell rule's cost model assumes roughly uniform occupancy;
    a clustered corpus (real text embeddings — topic mass is never uniform)
    concentrates probe work as Σocc², and Lloyd alone cannot fix a cone
    holding a third of the corpus (its subcell means all collapse toward
    the cone axis slowly).  Splitting hot cells bounds per-cell occupancy
    directly — measured in scripts/scale_rehearsal.py ``--skew``: the
    quadratic wall a degenerate quantizer hits becomes a runnable plan.
    Deterministic: same sample ⇒ same refined centroids."""
    assign = np.argmax(sample @ C.T, axis=1)
    out = []
    for c in range(len(C)):
        members = sample[assign == c]
        n_sub = int(np.ceil(len(members) / max(target_occ, 1)))
        if len(members) > 2 * target_occ and n_sub >= 2:
            out.append(kmeans_centroids(members, n_sub, iters))
        else:
            out.append(C[c : c + 1])
    return np.vstack(out)


def _collect_train_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    sample_size: int,
    n_rows: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    # n_rows: caller-known corpus size (e.g. parquet footer metadata) —
    # skips the count() job; None keeps the self-counting behavior
    n = df.count() if n_rows is None else n_rows
    m = _md5_mod_keep(n, sample_size)
    samp = df.select(id_col, vec_col)
    if m > 1:
        digest = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        samp = samp.filter(F.pmod(digest, F.lit(m)) == 0)
    rows = samp.collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    return ids, X


def ivf_train_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    sample_size: int = IVF_TRAIN_SAMPLE,
    iters: int = IVF_TRAIN_ITERS,
    split_hot: bool = False,
    n_rows: int | None = None,
) -> np.ndarray:
    """Train IVF centroids by sampled spherical k-means on ``df``.

    The md5-mod sample filter runs distributed (JVM-side md5 built-in, no
    sort, no full collect); only ≈ ``sample_size`` vectors reach the driver.
    Scale shape: training cost is O(sample × n_cells × iters) driver-side
    numpy regardless of corpus size.

    ``split_hot=True`` adds one :func:`refine_hot_cells` pass (target
    occupancy = sample/n_cells), growing the centroid count where the
    corpus is clustered — recommended for production corpora; kept off by
    default so callers pinning ``n_cells`` for a fixed oracle get exactly
    that many cells."""
    ids, X = _collect_train_sample(df, id_col, vec_col, sample_size, n_rows)
    # rows are already sampled (Spark-side md5-mod filter above);
    # sample_size=len+1 makes the shared core's own sampler a no-op
    return train_centroids_rows(
        ids, X, n_cells, len(ids) + 1, iters, split_hot
    )


def _md5_sample_sorted(
    ids: np.ndarray, X: np.ndarray, sample_size: int
) -> tuple[np.ndarray, np.ndarray]:
    """Shared trainer preamble: md5-mod keep mask (hashing the SAME bytes
    Spark's ``md5(CAST(id AS STRING))`` hashes, so the driver-side sample
    equals the distributed one) followed by the id-ascending sort that
    makes training order-deterministic.  ONE implementation on purpose —
    IVF centroid training, PQ codebook training, and the Spark-side
    ``_collect_train_sample`` rule must stay bit-identical or the
    oracle-literal codebooks silently desynchronize from the runtime
    path."""
    import hashlib

    m = _md5_mod_keep(len(ids), sample_size)
    if m > 1:
        keep = np.array(
            [
                int(hashlib.md5(str(int(i)).encode()).hexdigest()[:8], 16) % m == 0
                for i in ids
            ]
        )
        ids, X = ids[keep], X[keep]
    order = np.argsort(ids)
    return ids[order], np.asarray(X, dtype=np.float64)[order]


def train_centroids_rows(
    ids: np.ndarray,
    X: np.ndarray,
    n_cells: int,
    sample_size: int = IVF_TRAIN_SAMPLE,
    iters: int = IVF_TRAIN_ITERS,
    split_hot: bool = False,
) -> np.ndarray:
    """Full trainer over in-memory rows: md5-mod sample → id-sorted Lloyd →
    optional hot-cell split — the shared core behind ``ivf_train_kmeans``
    (which samples Spark-side first) and the registration-time pyarrow
    twins.  Step-for-step identical to the Spark path on the same rows, so
    oracle-literal centroids and runtime-trained centroids agree
    bit-for-bit."""
    ids, Xs = _md5_sample_sorted(ids, X, sample_size)
    C = kmeans_centroids(Xs, n_cells, iters)
    if split_hot:
        Xn = Xs / np.maximum(np.linalg.norm(Xs, axis=1, keepdims=True), 1e-300)
        C = refine_hot_cells(Xn, C, max(1, len(ids) // n_cells), iters)
    return C


def train_ivf_centroids_parquet(
    path: str,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = IVF_TRAIN_SAMPLE,
    iters: int = IVF_TRAIN_ITERS,
    split_hot: bool = False,
) -> np.ndarray:
    """Registration-time twin of ``ivf_train_kmeans``: the same sample rule
    and Lloyd loop over a pyarrow footer read — no SparkSession — so oracle
    SQL can embed the trained centroids as literals and the runtime Spark
    path provably reproduces them (float32 parquet values widen to the same
    float64 on both sides)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[id_col, vec_col])
    ids = np.asarray(t.column(id_col).to_pylist(), dtype=np.int64)
    X = np.asarray(t.column(vec_col).to_pylist(), dtype=np.float64)
    return train_centroids_rows(
        ids, X, n_cells, sample_size, iters, split_hot
    )


def auto_n_cells(n_vectors: int) -> int:
    """The standard IVF sizing rule ``n_cells ≈ √n`` (cell occupancy and
    cell count grow together, so probe work per query grows as √n instead
    of n), floored at 4."""
    import math

    return max(4, int(math.isqrt(max(n_vectors, 1))))


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int | None = 16,
    nprobe: int = 2,
    centroids: np.ndarray | None = None,
    train: str = "kmeans",
) -> DataFrame:
    """IVF-flat approximate top-k: assign every vector to its most-cosine-
    similar centroid cell, probe each query against the ``nprobe`` nearest
    cells, exact-rerank candidates.

    Scale shape: the only wide edge is the equi-join on cell id — cells are
    data-adaptive (popular regions get their own cells once ``n_cells``
    grows with corpus size, the standard ``n_cells ≈ √n`` rule), and probe
    fan-out is bounded by nprobe.  Assignment is one Arrow-batched pass
    (n × n_cells small matmul per batch); centroids broadcast.
    Cosines round to 6 dp before every argmax/rank so the SQL oracle orders
    identically.  ``n_cells=None`` applies the √n rule (``auto_n_cells``).

    Quantizer: pass ``centroids`` (an (n_cells, dim) matrix, e.g. from
    ``train_ivf_centroids_parquet``) to skip training; otherwise
    ``train="kmeans"`` (default) runs deterministic sampled spherical
    k-means (``ivf_train_kmeans``) and ``train="lowest-id"`` keeps the
    zero-iteration baseline.  Every path is deterministic, so the full
    plan — trained centroids included — has an exact SQL oracle."""
    if n_cells is None:
        n_cells = auto_n_cells(df.count())
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    elif train == "kmeans":
        C = ivf_train_kmeans(df, id_col, vec_col, n_cells)
    else:
        _cids, C = ivf_centroids(df, id_col, vec_col, n_cells)
    # members and probes both consume the assignment; cache it so the
    # Arrow-batched assignment pass (and its upstream scan) runs once —
    # it is 2 ints + nprobe ints per vector, the materialized IVF index.
    # The kernel is the SHARED pq_assign_cells (one implementation of the
    # round-6 argmax contract); C is already normalized per-branch above,
    # so skip the helper's normalization (re-normalizing a unit matrix is
    # not bit-exactly a no-op, and the gated oracles pin these bits).
    assigned = pq_assign_cells(
        df, id_col, vec_col, C, nprobe, normalize=False
    ).cache()
    members = assigned.select(F.col(id_col).alias("neighbor_id"), "cell")
    probes = assigned.select(
        F.col(id_col), F.explode("probe_cells").alias("cell")
    )
    # CELL-LOCAL rerank (same shape as bucket_pair_cosines): each cell
    # gathers its member vectors once and its probing queries nprobe times,
    # so Arrow traffic is (1 + nprobe) × corpus × dim doubles and the pair
    # scores are one BLAS Q @ M.T per cell — versus the candidate-join +
    # pair-UDF form, which shipped BOTH vectors on every candidate row
    # (occupancy × nprobe × 2 × dim doubles per query; measured ~170× more
    # Arrow bytes at sf0.1).  A member belongs to exactly one cell, so a
    # (query, neighbor) pair arises in exactly one group — no dedup pass.
    vecs = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    member_rows = assigned.select(id_col, "cell").join(vecs, id_col).select(
        "cell", F.lit(True).alias("_is_member"), id_col, "_v"
    )
    probe_rows = probes.join(vecs, id_col).select(
        "cell", F.lit(False).alias("_is_member"), id_col, "_v"
    )

    pair_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[~pdf["_is_member"]]
        m = pdf[pdf["_is_member"]]
        if len(q) == 0 or len(m) == 0:
            return pd.DataFrame(
                {id_col: [], "neighbor_id": [], "cosine": []}
            ).astype({id_col: "int64", "neighbor_id": "int64", "cosine": "float64"})
        Q = np.asarray(q["_v"].tolist(), dtype=np.float64)
        Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
        M = np.asarray(m["_v"].tolist(), dtype=np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        qids = q[id_col].to_numpy(dtype=np.int64)
        mids = m[id_col].to_numpy(dtype=np.int64)
        S = np.round(Q @ M.T, 6)
        qi, mi = np.nonzero(qids[:, None] != mids[None, :])
        return pd.DataFrame(
            {id_col: qids[qi], "neighbor_id": mids[mi], "cosine": S[qi, mi]}
        )

    scored = member_rows.unionByName(probe_rows).groupBy("cell").applyInPandas(
        _rerank, pair_schema
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, min_cosine: float = 0.95,
    max_vectors: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold (id_a < id_b).

    Broadcasts one full side, so the same enforced envelope as the matmul
    tier applies (``near_dup_pairs_matmul`` is the production exact tier;
    banded LSH/SimHash are the scale path)."""
    _check_matmul_envelope(
        df, "embedding_near_dup_pairs",
        MATMUL_MAX_VECTORS if max_vectors is None else max_vectors,
    )
    u = with_unit_vectors(df, vec_col)
    a = u.select(F.col(id_col).alias("id_a"), F.col("_unit").alias("_va"))
    b = u.select(F.col(id_col).alias("id_b"), F.col("_unit").alias("_vb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", _dot(F.col("_va"), F.col("_vb")).alias("cosine")
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def cluster_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    centroids: "np.ndarray | None" = None,
    train: str = "kmeans",
) -> DataFrame:
    """Hard cluster assignment: every vector mapped to its most-cosine-
    similar centroid — the IVF quantizer exposed as a first-class operator
    (semantic clustering for corpus mixing / per-cluster sampling, the
    companion to ``ivf_topk`` which consumes the same assignment as its
    index).  Returns (id, cell, cosine) with cosine rounded to 6 dp BEFORE
    the argmax (ties break to the lowest cell index) so the assignment has
    an exact SQL oracle.

    Scale shape: centroids broadcast (n_cells × dim — tiny), assignment is
    one Arrow-batched ``mapInPandas`` pass (per-batch gemm against the
    centroid matrix); no shuffle at all.
    """
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    elif train == "kmeans":
        C = ivf_train_kmeans(df, id_col, vec_col, n_cells)
    else:
        _cids, C = ivf_centroids(df, id_col, vec_col, n_cells)
    bc = df.sparkSession.sparkContext.broadcast(C)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _assign(batches):
        CM = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
            S = np.round(Q @ CM.T, 6)
            # argmax returns the FIRST max — the same lowest-cell tie-break
            # as ivf_topk's stable argsort, at O(cells) not O(cells log)
            cell = np.argmax(S, axis=1)
            rows = np.arange(len(cell))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "cell": cell.astype(np.int32),
                    "cosine": S[rows, cell],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_assign, schema)


def semdedup_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    centroids: "np.ndarray | None" = None,
    n_cells: int = 16,
    train: str = "kmeans",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering then WITHIN-CLUSTER cosine pruning
    — per vector: (id, cell, group_rep, group_size, cent_cosine, keep).

    The method's core approximation is exactly its scale lever: pairwise
    similarity is computed only INSIDE each cluster, never across the
    corpus, so pair work is Σ occupancy² over cells instead of n².  Within
    a cluster, vectors with pairwise cosine ≥ ``threshold`` form duplicate
    groups (connected components — near-duplicacy is not transitive-closed
    by pair emission), and each group KEEPS the member with the LOWEST
    cosine to its centroid (the paper's diversity-preserving choice: the
    least-prototypical example survives; ties break to the lowest id).
    Vectors in no group keep themselves (group of one).

    Plan shape: one Arrow assignment pass (``cluster_assign`` — centroids
    broadcast, no shuffle), one id-equi-join to re-attach vectors, one
    per-cell BLAS pair kernel (``bucket_pair_cosines`` — each cell's
    vectors cross the Arrow boundary once, pair matrix is one V @ V.T),
    then ``duplicate_clusters``'s convergence-checked min-label
    propagation over the thresholded pairs and one ``min_by`` keeper
    aggregation.  Per-cell kernel memory is occupancy × dim + occupancy²
    doubles, so occupancy is the knob: size ``n_cells`` ~ √n (the
    ``auto_n_cells`` rule) and split hot cones with the trained
    quantizer's ``refine_hot_cells`` rail BEFORE calling this — the same
    envelope discipline as ``ivf_topk``, upstream not after-the-fact.

    Reference parity: none — the reference (Haskell ETL + Postgres,
    haskell-src/lib/ChainwebDb/Queries.hs) has no vector surface; this
    extends the beyond-reference curation suite's dedup family
    (exact → MinHash/SimHash lexical → embedding-cosine exact tier →
    ANN-pair tier) with the cluster-then-prune method named in the
    training-data literature."""
    from .dedup import duplicate_clusters

    # assign has two consumers (the per-cell pair kernel's re-attach join
    # and the output relation) but is deliberately NOT cached, breaking
    # the module's grams-cache convention on MEASUREMENT: the assignment
    # is a fully pipelined Arrow pass over broadcast centroids (no
    # shuffle), so recomputing it streams at scan speed, while caching
    # forces a stop-and-store materialization plus storage residency that
    # measured 2.2x SLOWER end-to-end on the 10x family fixture
    # (11.3s uncached vs 24-27s with assign/full cached)
    assign = cluster_assign(
        df, id_col, vec_col, n_cells=n_cells, centroids=centroids, train=train
    ).withColumnRenamed("cosine", "cent_cosine")
    # re-attach vectors and shape the cell as a (band, key) bucket so the
    # per-cell pair kernel is the SAME bucket-local matmul the ANN rerank
    # uses — one code path for "all pairs inside a bounded bucket"
    banded = (
        df.select(id_col, vec_col)
        .join(assign.select(id_col, "cell"), id_col)
        .withColumn("band", F.lit(0))
        .withColumn("key", F.col("cell").cast("string"))
    )
    pairs = (
        bucket_pair_cosines(banded, id_col, vec_col)
        .filter(
            (F.col(id_col) < F.col("neighbor_id"))
            & (F.col("cosine") >= F.lit(threshold))
        )
        .select(F.col(id_col).alias("id_a"), F.col("neighbor_id").alias("id_b"))
    )
    comps = duplicate_clusters(pairs).select(
        F.col("id").alias(id_col),
        F.col("cluster_rep").alias("_rep"),
        F.col("cluster_size").alias("_size"),
    )
    # full also has two consumers (keeper aggregation + output join) but
    # is NOT cached: it is a cheap join of the cached assignment with the
    # tiny checkpointed component relation, and caching it would hold a
    # second near-copy of the assignment in storage for no saved compute
    # (measured SLOWER at 10x — eviction pressure outweighed the join)
    full = assign.join(comps, id_col, "left").select(
        id_col,
        "cell",
        F.coalesce(F.col("_rep"), F.col(id_col)).alias("group_rep"),
        F.coalesce(F.col("_size"), F.lit(1).cast("long")).alias("group_size"),
        "cent_cosine",
    )
    # keeper per group = argmin (cent_cosine, id): min_by over an ordering
    # struct, computed ONLY over grouped ids (size > 1) — a singleton is
    # trivially its own keeper and must not inflate this relation to
    # corpus size.  The keeper join is NOT forced broadcast (dup-heavy
    # corpora can have many groups); AQE broadcasts it when it is small.
    keepers = (
        full.filter(F.col("group_size") > 1)
        .groupBy("group_rep")
        .agg(F.min_by(id_col, F.struct("cent_cosine", id_col)).alias("_keeper"))
    )
    return full.join(keepers, "group_rep", "left").select(
        id_col,
        "cell",
        "group_rep",
        "group_size",
        "cent_cosine",
        (F.col("_keeper").isNull() | (F.col(id_col) == F.col("_keeper"))).alias(
            "keep"
        ),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVFPQ) — the memory tier that makes ANN survive
# 100 TB: vectors compress to m one-byte-ish codes (here m=8 × 16 codes =
# 8 small ints vs 64 float32s, a 32× cut), queries scan codes with an
# asymmetric-distance lookup table instead of touching raw vectors.  The
# reference has no vector surface; this extends the beyond-reference ANN
# family (lsh_ann_topk, ivf_topk) with the standard third tier:
# IVF bounds WHO is scored, PQ bounds WHAT each score costs.
# ---------------------------------------------------------------------------


def kmeans_l2(X: np.ndarray, k: int, iters: int = IVF_TRAIN_ITERS) -> np.ndarray:
    """Deterministic Euclidean k-means over an id-ordered sample — the
    subspace trainer for PQ codebooks.  Same determinism contract as
    ``kmeans_centroids``: evenly-spaced init over the caller-sorted rows,
    first-index argmin tie-break, numpy's fixed summation order, empty
    cells keep their previous centroid — bit-identical codebooks from the
    same sample, which is what lets them live in oracle SQL as literals."""
    if len(X) == 0 or k < 1:
        raise ValueError("kmeans_l2 needs a non-empty sample")
    Xn = np.asarray(X, dtype=np.float64)
    kk = min(k, len(Xn))
    init_idx = np.unique(np.linspace(0, len(Xn) - 1, kk).astype(np.int64))
    C = Xn[init_idx].copy()
    for _ in range(iters):
        d2 = ((Xn[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(len(C)):
            members = Xn[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def train_pq_rows(
    ids: np.ndarray,
    X: np.ndarray,
    m: int,
    k: int,
    sample_size: int = IVF_TRAIN_SAMPLE,
    iters: int = IVF_TRAIN_ITERS,
) -> np.ndarray:
    """PQ codebooks (m, k, dim/m) from in-memory rows: md5-mod sample →
    id-sort → L2-normalize → per-subspace deterministic k-means.  The
    shared core behind ``pq_train`` (Spark-side sampling) and the
    registration-time pyarrow twin — step-for-step identical on the same
    rows, so oracle-literal codebooks equal runtime-trained ones.  Sampling
    and ordering ride the same ``_md5_sample_sorted`` core as IVF centroid
    training — one place for the determinism contract."""
    ids, Xs = _md5_sample_sorted(ids, X, sample_size)
    Xs = Xs / np.maximum(np.linalg.norm(Xs, axis=1, keepdims=True), 1e-300)
    dim = Xs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack(
        [
            kmeans_l2(Xs[:, j * dsub : (j + 1) * dsub], k, iters)
            for j in range(m)
        ]
    )


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k: int = 16,
    sample_size: int = IVF_TRAIN_SAMPLE,
    iters: int = IVF_TRAIN_ITERS,
    n_rows: int | None = None,
) -> np.ndarray:
    """Train PQ codebooks by sampled per-subspace k-means: the md5-mod
    sample filter runs distributed (JVM md5 built-in), ≈ ``sample_size``
    vectors reach the driver, training is O(sample × k × iters × dim)
    driver-side numpy regardless of corpus size — the same scale shape as
    ``ivf_train_kmeans``.  ``n_rows``: caller-known corpus size (parquet
    footer metadata) — skips the count() job."""
    ids, X = _collect_train_sample(df, id_col, vec_col, sample_size, n_rows)
    return train_pq_rows(ids, X, m, k, len(ids) + 1, iters)


def train_pq_parquet(
    path: str,
    m: int,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = IVF_TRAIN_SAMPLE,
    iters: int = IVF_TRAIN_ITERS,
) -> np.ndarray:
    """Registration-time twin of ``pq_train`` over a pyarrow footer read —
    no SparkSession — mirroring ``train_ivf_centroids_parquet``."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[id_col, vec_col])
    ids = np.asarray(t.column(id_col).to_pylist(), dtype=np.int64)
    X = np.asarray(t.column(vec_col).to_pylist(), dtype=np.float64)
    return train_pq_rows(ids, X, m, k, sample_size, iters)


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebooks: np.ndarray
) -> DataFrame:
    """Compress vectors to PQ codes: (id, codes array<int>), codes[j] =
    argmin over the subspace-j codebook of ROUNDED (6 dp) squared L2
    distance, lowest code on ties — the rounding makes the argmin
    order-stable across engines, so the encoder has an exact SQL oracle.

    One Arrow-batched pass, codebooks broadcast; per batch the work is m
    small (n × k × dsub) distance matrices.  At 100 TB the codes table is
    the ANN index you store: m ints per vector instead of the vector."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _k, dsub = cb.shape
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(cb)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def _encode(batches):
        CB = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - CB[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(np.round(d2, 6), axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_encode, schema)


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVFPQ approximate top-k: IVF cells bound WHICH members each query
    scores (nprobe nearest cells), PQ codes bound WHAT each score costs —
    an asymmetric-distance (ADC) estimate ``Σ_j lut_j[code_j]`` where the
    query's per-subspace lookup table holds exact subvector·codebook dot
    products.  Output (id, neighbor_id, adc) — adc approximates cosine;
    callers wanting exact scores rerank the shortlist against raw vectors
    (``ivf_topk`` is that exact-tier sibling).

    Scale shape: the cell-local group ships each member's m-int CODES (not
    its dim floats) plus each probing query's raw vector — Arrow traffic
    is corpus × m ints + nprobe × corpus × dim doubles, and the per-cell
    kernel is m tiny (nq × k) GEMMs plus integer gathers.  On a real
    deployment the codes table is precomputed once (``pq_encode``) and
    reused by every query batch; here it is derived in-plan so the whole
    pipeline — train, encode, probe, ADC — stays one deterministic,
    oracle-checkable DataFrame program.  ADC scores round to 6 dp so SQL
    orders identically."""
    # one fused Arrow pass yields cell + probe set + codes per vector —
    # no second scan, no assign⋈codes join
    indexed = pq_index_rows(
        df, id_col, vec_col, centroids, codebooks, nprobe
    ).cache()
    vecs = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    members = indexed.select("cell", id_col, "codes")
    probes = (
        indexed.select(id_col, F.explode("probe_cells").alias("cell"))
        .join(vecs, id_col)
        .select("cell", id_col, "_v")
    )
    return adc_topk(members, probes, codebooks, id_col, k)


def pq_index_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int = 1,
) -> DataFrame:
    """Fused assignment + encoding: (id, cell, probe_cells, codes) in ONE
    Arrow pass — the index-build row for ``streaming/ann_index.py`` and
    the single-scan front of ``ivfpq_topk`` (separate assign and encode
    passes would scan the vectors twice and join the results back
    together; fusing removes a scan and the join).  Same determinism as
    the unfused operators: round-6 argmax/argmin, stable tie-breaks."""
    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _kcodes, dsub = cb.shape
    sc = df.sparkSession.sparkContext
    bc_c, bc_cb = sc.broadcast(C), sc.broadcast(cb)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("probe_cells", T.ArrayType(T.IntegerType())),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def _fused(batches):
        CM, CB = bc_c.value, bc_cb.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
            S = np.round(Q @ CM.T, 6)
            order = np.argsort(-S, axis=1, kind="stable")
            codes = np.empty((len(Q), m), dtype=np.int32)
            for j in range(m):
                sub = Q[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - CB[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(np.round(d2, 6), axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "cell": order[:, 0].astype(np.int32),
                    "probe_cells": list(order[:, :nprobe].astype(np.int32)),
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_fused, schema)


def pq_assign_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    nprobe: int = 2,
    normalize: bool = True,
) -> DataFrame:
    """IVF assignment pass: (id, cell, probe_cells[nprobe]) by round-6
    argmax cosine against the (broadcast) centroids — the ONE
    implementation of the assignment kernel, shared by ``ivf_topk``,
    ``ivfpq_topk``, and the streaming ANN index sink (the rounding and
    tie-break here are the oracle-parity contract for every gated IVF
    query — a second copy could silently drift).  One Arrow-batched pass;
    stable order so ties break toward the lower cell id in every engine.
    ``normalize=False`` trusts the caller's centroid rows as-is
    (``ivf_topk`` pre-conditions them per training branch; re-normalizing
    a unit matrix is not bit-exactly a no-op)."""
    C = np.asarray(centroids, dtype=np.float64)
    if normalize:
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    bc_c = df.sparkSession.sparkContext.broadcast(C)

    assign_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("probe_cells", T.ArrayType(T.IntegerType())),
        ]
    )

    def _assign(batches):
        CM = bc_c.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
            S = np.round(Q @ CM.T, 6)
            order = np.argsort(-S, axis=1, kind="stable")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "cell": order[:, 0].astype(np.int32),
                    "probe_cells": list(order[:, :nprobe].astype(np.int32)),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_assign, assign_schema)


def adc_topk(
    members: DataFrame,
    probes: DataFrame,
    codebooks: np.ndarray,
    id_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Cell-local ADC scoring + top-k: ``members`` is (cell, id, codes) —
    the PQ index, whether derived in-plan (``ivfpq_topk``) or read from an
    incrementally-maintained index table (``streaming/ann_index.py``);
    ``probes`` is (cell, id, _v raw-or-unit vector), one row per probed
    cell per query.  Each cell group builds per-query LUTs (m tiny GEMMs)
    and gathers member codes — no raw member vectors move.  ADC rounds to
    6 dp; ties rank toward the lower neighbor.

    ``exclude_self`` (default) drops id-equal (query, member) pairs —
    correct when queries ARE corpus members (the ``ivfpq_topk`` /
    near-dup shape).  It compares RAW ids, so callers whose query ids
    come from a different id space than the index must pass ``False`` or
    an unrelated member that happens to share the integer id silently
    vanishes from that query's neighbors.

    Each cell emits only its PER-QUERY top-k (stable argsort over
    mid-sorted members — the same (adc desc, neighbor asc) order the
    global rank uses, so per-cell truncation provably never changes the
    global top-k): the downstream window shuffles nprobe × k rows per
    query instead of the probed cells' full occupancy — the difference
    between output O(queries × k) and output O(queries × n/n_cells),
    which the 10× rehearsal measured as the difference between a bounded
    plan and a 142×-growth one."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _kcodes, dsub = cb.shape
    k_top = k
    bc_cb = members.sparkSession.sparkContext.broadcast(cb)

    member_rows = members.select(
        "cell",
        F.lit(True).alias("_is_member"),
        id_col,
        "codes",
        F.lit(None).cast("array<double>").alias("_v"),
    )
    probe_rows = probes.select(
        "cell",
        F.lit(False).alias("_is_member"),
        id_col,
        F.lit(None).cast("array<int>").alias("codes"),
        "_v",
    )

    pair_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def _adc(pdf: pd.DataFrame) -> pd.DataFrame:
        CB = bc_cb.value
        q = pdf[~pdf["_is_member"]]
        mem = pdf[pdf["_is_member"]]
        if len(q) == 0 or len(mem) == 0:
            return pd.DataFrame(
                {id_col: [], "neighbor_id": [], "adc": []}
            ).astype({id_col: "int64", "neighbor_id": "int64", "adc": "float64"})
        Q = np.asarray(q["_v"].tolist(), dtype=np.float64)
        Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
        # members sorted by id: a stable argsort on -adc then yields the
        # exact (adc desc, neighbor asc) global tie-break order per query
        mem = mem.sort_values(id_col, kind="stable")
        codes_m = np.asarray(mem["codes"].tolist(), dtype=np.int64)
        qids = q[id_col].to_numpy(dtype=np.int64)
        mids = mem[id_col].to_numpy(dtype=np.int64)
        S = np.zeros((len(Q), len(mids)), dtype=np.float64)
        for j in range(m):
            lut = Q[:, j * dsub : (j + 1) * dsub] @ CB[j].T  # (nq, k)
            S += lut[:, codes_m[:, j]]
        S = np.round(S, 6)
        if exclude_self:
            S[qids[:, None] == mids[None, :]] = -np.inf  # self-pairs out
        order = np.argsort(-S, axis=1, kind="stable")[:, : k_top]
        rows = np.repeat(np.arange(len(Q)), order.shape[1])
        cols = order.ravel()
        keep = S[rows, cols] > -np.inf
        return pd.DataFrame(
            {
                id_col: qids[rows[keep]],
                "neighbor_id": mids[cols[keep]],
                "adc": S[rows[keep], cols[keep]],
            }
        )

    scored = member_rows.unionByName(probe_rows).groupBy("cell").applyInPandas(
        _adc, pair_schema
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivfpq_rerank_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int = 2,
    k: int = 5,
    shortlist: int = 32,
) -> DataFrame:
    """IVFPQ + raw-vector rerank (FAISS's refine pattern): the ADC scan
    produces a per-query SHORTLIST of ``shortlist`` candidates from the
    compressed codes, then only those pairs are re-scored against the raw
    vectors and the exact-cosine top-``k`` emitted.  This is the
    production answer to PQ distortion — the recall rehearsal measures
    ADC-only ordering collapsing on isotropic data (probe widening 2→6
    moved recall just 0.12→0.14) because 8×16 codes quantize away the
    cosine margins; reranking ``shortlist ≫ k`` candidates recovers the
    ordering within everything the probes saw, at a cost bounded by
    shortlist × dim instead of probed-members × dim.

    Scale shape: the shortlist relation is n_queries × shortlist rows;
    raw vectors attach via two id-equi-joins (no broadcast of the corpus
    — AQE picks the strategy) and the rerank itself is one Arrow-batched
    pairwise-cosine kernel plus the final per-query top-k window.  The
    ADC stage's plan is unchanged (cell-local, per-cell top-shortlist
    emission bounds its output).  Same tie-break/rounding conventions as
    every cosine tier (6 dp, neighbor id asc)."""
    sl = ivfpq_topk(
        df, id_col, vec_col, centroids, codebooks, nprobe=nprobe,
        k=shortlist,
    ).select(F.col(id_col), "neighbor_id")
    vecs = df.select(F.col(id_col), F.col(vec_col))
    qv = vecs.select(
        F.col(id_col), F.col(vec_col).alias("_qv")
    )
    nv = vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    scored = (
        sl.join(qv, id_col)
        .join(nv, "neighbor_id")
        .withColumn("cosine", cosine_pairs_udf(F.col("_qv"), F.col("_nv")))
        .drop("_qv", "_nv")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .select(id_col, "neighbor_id", "cosine")
    )
