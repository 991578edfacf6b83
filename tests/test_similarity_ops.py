"""Cross-tier equivalence for the similarity operators: the DataFrame-only
brute-force tier (zip_with/aggregate dot, no Python) must agree with the
broadcast-matmul tier (the gated baseline) — same ids, same 6-dp cosines —
on the same corpus.  Guards both the numerics (normalization staging) and
the tie-break contract (cosine desc, neighbor_id asc)."""

import pytest

from pyspark.sql import functions as F

from chainweb_data_spark.operators import similarity as sim
from chainweb_data_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def _key(rows):
    return sorted(
        (r[0], r[1], round(r[2], 6)) for r in rows
    )


def test_bruteforce_topk_matches_matmul(spark, emb):
    bf = sim.cosine_topk_bruteforce(emb, "vec_id", "embedding", k=3)
    mm = sim.cosine_topk_matmul(emb, "vec_id", "embedding", k=3)
    a = _key(bf.select("vec_id", "neighbor_id", F.round("cosine", 6)).collect())
    b = _key(mm.select("vec_id", "neighbor_id", "cosine").collect())
    assert a == b
    assert len(a) == emb.count() * 3


def test_near_dup_join_matches_matmul(spark, emb):
    thr = 0.4
    jn = sim.embedding_near_dup_pairs(emb, "vec_id", "embedding", thr)
    mm = sim.near_dup_pairs_matmul(emb, "vec_id", "embedding", thr)
    a = _key(jn.select("id_a", "id_b", F.round("cosine", 6)).collect())
    b = _key(mm.select("id_a", "id_b", "cosine").collect())
    assert a == b
    assert len(a) > 0  # threshold chosen so the fixture yields pairs


def test_auto_sizing_rules():
    from chainweb_data_spark.operators.similarity import (
        auto_n_cells,
        auto_num_planes,
    )

    # planes grow with log2(n): constant expected bucket occupancy
    assert auto_num_planes(2_000, bands=2) == 2 * 5  # 2000/64 -> ceil(log2)=5
    assert auto_num_planes(2_000_000, bands=2) == 2 * 15
    assert auto_num_planes(10, bands=2) == 2 * 2  # floor: 2 bits/band
    # cells grow with sqrt(n)
    assert auto_n_cells(2_000) == 44
    assert auto_n_cells(1_000_000) == 1000
    assert auto_n_cells(1) == 4


def test_auto_sized_ann_runs(spark, emb):
    from chainweb_data_spark.operators.similarity import ivf_topk, lsh_ann_topk

    n = lsh_ann_topk(emb, "vec_id", "embedding", k=3, num_planes=None).count()
    assert n > 0
    m = ivf_topk(emb, "vec_id", "embedding", k=3, n_cells=None, nprobe=2).count()
    assert m > 0


def test_matmul_envelope_enforced_everywhere(spark, emb):
    """EVERY operator that collects or broadcasts a whole corpus side must
    refuse loudly beyond its envelope — including the test-tier helpers."""
    for call in (
        lambda: sim.cosine_topk_matmul(emb, "vec_id", "embedding", max_vectors=10),
        lambda: sim.near_dup_pairs_matmul(
            emb, "vec_id", "embedding", 0.9, max_vectors=10
        ),
        lambda: sim.cosine_topk_bruteforce(
            emb, "vec_id", "embedding", max_vectors=10
        ),
        lambda: sim.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", 0.9, max_vectors=10
        ),
    ):
        with pytest.raises(ValueError, match="exact tier"):
            call()


def test_matmul_envelope_trusts_n_rows_without_counting(spark, jobs_of):
    """A caller-given ``n_rows`` is the corpus size: above ``max_vectors``
    the exact tier refuses with no ``count()`` job."""

    def refuse():
        with pytest.raises(ValueError, match="exact tier"):
            sim._check_matmul_envelope(spark.range(3), "op", 10, n_rows=11)

    assert jobs_of(refuse)[1] == []
    with pytest.raises(AssertionError):
        sim._check_matmul_envelope(spark.range(3), "op", 10, n_rows=-1)


def test_ivf_kmeans_trainer_deterministic(spark, emb):
    """The registration-time pyarrow trainer and the runtime Spark trainer
    must produce BIT-IDENTICAL centroids (that equality is what lets the
    trained quantizer live in the oracle as literals), and the trained
    quantizer must beat the lowest-id baseline on its own objective."""
    import numpy as np

    C_reg = sim.train_ivf_centroids_parquet(SF + "/embeddings.parquet", 8)
    C_rt = sim.ivf_train_kmeans(emb, "vec_id", "embedding", 8)
    assert np.array_equal(C_reg, C_rt)
    assert C_reg.shape == (8, 64)
    # unit-normalized
    assert np.allclose(np.linalg.norm(C_reg, axis=1), 1.0)
    X = np.asarray(
        [list(r[0]) for r in emb.select("embedding").collect()], dtype=np.float64
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    _ids, C0 = sim.ivf_centroids(emb, "vec_id", "embedding", 8)
    assert (Xn @ C_reg.T).max(axis=1).mean() > (Xn @ C0.T).max(axis=1).mean()


def test_refine_hot_cells_splits_clusters():
    """On a clustered sample (one cone holding most mass), the refinement
    pass must split the hot cell — bounding occ_max and the Σocc² probe-work
    proxy — and stay deterministic."""
    import numpy as np

    # deterministic synthetic corpus: 900 points in a tight cone + 100 spread
    d = 16
    anchor = np.ones(d)
    base = np.array(
        [[np.cos(i * j + 1.0) for j in range(d)] for i in range(100)]
    )
    cone = 0.9 * anchor[None, :] + 0.1 * np.vstack([base] * 9)
    X = np.vstack([cone, base])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    C0 = sim.kmeans_centroids(Xn, 8, iters=10)
    occ0 = np.bincount(np.argmax(Xn @ C0.T, axis=1), minlength=len(C0))
    C1 = sim.refine_hot_cells(Xn, C0, target_occ=len(Xn) // 8, iters=10)
    occ1 = np.bincount(np.argmax(Xn @ C1.T, axis=1), minlength=len(C1))
    assert len(C1) > len(C0), "hot cell was not split"
    assert occ1.max() < occ0.max()
    assert int((occ1.astype(np.int64) ** 2).sum()) < int(
        (occ0.astype(np.int64) ** 2).sum()
    )
    # deterministic
    C1b = sim.refine_hot_cells(Xn, C0, target_occ=len(Xn) // 8, iters=10)
    assert np.array_equal(C1, C1b)


def test_ivf_kmeans_subsample_rule():
    """Past the sample budget the md5-mod rule kicks in: deterministic,
    engine-reproducible, and ≈ sample_size rows survive."""
    import hashlib

    import numpy as np

    ids = np.arange(10_000, dtype=np.int64)
    m = sim._md5_mod_keep(len(ids), 1000)
    assert m == 10
    kept = [
        i
        for i in ids
        if int(hashlib.md5(str(int(i)).encode()).hexdigest()[:8], 16) % m == 0
    ]
    assert 800 <= len(kept) <= 1200  # ≈ n/m, hash-uniform


def test_skew_gate_split_trainer_twins(spark):
    """The round-6 skew gate's two trainer paths agree bit-for-bit: the
    registration-time pyarrow twin (train_centroids_rows over the skewed
    fixture matrix) and the runtime Spark path (ivf_train_kmeans with
    split_hot=True over the in-query skewed relation) — and the split
    actually fires on the skewed corpus (more cells than requested,
    strictly less Sum-occ-squared probe work than unsplit)."""
    import numpy as np
    from pyspark.sql import functions as F

    from chainweb_data_spark.queries.pipeline import (
        _IVF_CELLS,
        _SKEW_MOD,
        _SKEW_W_ANCHOR,
        _SKEW_W_SELF,
        _skewed_fixture_rows,
        _t,
    )

    ids, Xs, _dim = _skewed_fixture_rows()
    C_reg = sim.train_centroids_rows(ids, Xs, _IVF_CELLS, split_hot=True)

    emb = _t(spark, "/root/testdata/sf0.01", "embeddings")
    anchor = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("a"))
        .first()["a"]
    )
    anchor_arr = F.array(*[F.lit(float(x)) for x in anchor])
    ev = F.when(
        F.col("vec_id") % _SKEW_MOD == 0,
        F.col("embedding").cast("array<double>"),
    ).otherwise(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            anchor_arr,
            lambda x, a: a * F.lit(_SKEW_W_ANCHOR) + x * F.lit(_SKEW_W_SELF),
        )
    )
    skewed = emb.select("vec_id", ev.alias("ev"))
    C_rt = sim.ivf_train_kmeans(skewed, "vec_id", "ev", _IVF_CELLS, split_hot=True)
    assert C_reg.shape == C_rt.shape
    assert np.array_equal(C_reg, C_rt)

    # the split fired: more cells than requested, and probe work dropped
    C_unsplit = sim.train_centroids_rows(ids, Xs, _IVF_CELLS, split_hot=False)
    assert len(C_reg) > _IVF_CELLS == len(C_unsplit)
    Xn = Xs / np.maximum(np.linalg.norm(Xs, axis=1, keepdims=True), 1e-300)

    def occ_sq(C):
        occ = np.bincount(
            np.argmax(np.round(Xn @ C.T, 6), axis=1), minlength=len(C)
        )
        return int((occ.astype(np.int64) ** 2).sum())

    assert occ_sq(C_reg) < occ_sq(C_unsplit)


def test_pq_roundtrip_properties(spark):
    """PQ invariants the oracle hash doesn't state directly: identical
    vectors share codes; a vector's own codeword reconstructs it better
    than other codewords (training actually fit the data); codebooks are
    deterministic across retrains."""
    import numpy as np

    from chainweb_data_spark.operators import similarity as sim

    rng_rows = []
    for i in range(64):
        # deterministic "clustered" vectors: 4 archetypes + tiny id jitter
        base = [(1.0 if (j // 4) % 4 == i % 4 else 0.1) for j in range(16)]
        vec = [b + (i % 7) * 1e-3 * ((j % 3) - 1) for j, b in enumerate(base)]
        rng_rows.append((i, vec))
    # twins: 100+i duplicates vector i exactly
    rows = rng_rows + [(100 + i, v) for i, v in rng_rows[:8]]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cb1 = sim.pq_train(df, "vec_id", "embedding", m=4, k=8)
    cb2 = sim.pq_train(df, "vec_id", "embedding", m=4, k=8)
    assert (cb1 == cb2).all(), "training must be deterministic"
    assert cb1.shape == (4, 8, 4)

    codes = {
        r["vec_id"]: tuple(r["codes"])
        for r in sim.pq_encode(df, "vec_id", "embedding", cb1).collect()
    }
    for i in range(8):
        assert codes[i] == codes[100 + i], "identical vectors, same codes"

    cents = sim.ivf_train_kmeans(df, "vec_id", "embedding", 4)
    # k covers a whole archetype group: ~18 members tie at the same rounded
    # ADC (identical codes), so a small k selects by id, not by score
    top = sim.ivfpq_topk(df, "vec_id", "embedding", cents, cb1, nprobe=2, k=40)
    by_q = {}
    for r in top.collect():
        by_q.setdefault(r["vec_id"], []).append(r)
    # a twin pair shares cell and codes; ADC(q, twin) = q·codeword(q), so
    # it must approximate the true cosine (1.0) within quantization error
    # and sit within that error of the cell's max (another member's
    # codeword CAN align with q slightly better than q's own — that is
    # what makes ADC asymmetric — but never by more than the error band)
    for i in range(8):
        mine = sorted(by_q[i], key=lambda r: (-r["adc"], r["neighbor_id"]))
        twin_adc = [r["adc"] for r in mine if r["neighbor_id"] == 100 + i]
        assert twin_adc, f"twin of {i} not in top-k"
        assert twin_adc[0] > 0.98, "twin ADC must approximate cosine 1.0"
        assert mine[0]["adc"] - twin_adc[0] < 0.02


def test_adc_percell_truncation_is_lossless(spark):
    """The r6 output bound: emitting only each cell's per-query top-k must
    give the SAME global top-k as emitting every candidate pair (per-cell
    truncation in the global (adc desc, neighbor asc) order is safe
    because global rank within a cell never beats cell rank)."""
    import numpy as np

    from chainweb_data_spark.operators import similarity as sim

    rows = []
    for i in range(48):
        base = [(1.0 if (j // 4) % 3 == i % 3 else 0.2) for j in range(12)]
        rows.append((i, [b + (i % 11) * 3e-3 * ((j % 5) - 2) for j, b in enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.ivf_train_kmeans(df, "vec_id", "embedding", 3)
    cb = sim.pq_train(df, "vec_id", "embedding", m=3, k=8)

    small = sim.ivfpq_topk(df, "vec_id", "embedding", cents, cb, nprobe=2, k=3)
    # k >= corpus: nothing truncated anywhere; trim globally in pandas
    full = sim.ivfpq_topk(df, "vec_id", "embedding", cents, cb, nprobe=2, k=100)
    by_q = {}
    for r in full.collect():
        by_q.setdefault(r["vec_id"], []).append((-r["adc"], r["neighbor_id"]))
    want = {
        (q, nid, -neg)
        for q, lst in by_q.items()
        for neg, nid in sorted(lst)[:3]
    }
    got = {(r["vec_id"], r["neighbor_id"], r["adc"]) for r in small.collect()}
    assert got == want


def test_ivf_exhaustive_probe_equals_bruteforce(spark):
    # probing every cell degrades IVF to exhaustive search: the output
    # must be BIT-IDENTICAL to the exact matmul baseline (same 6-dp
    # rounding, same neighbor-id tie-break) — pins that cell pruning is
    # the ONLY source of approximation in the IVF tier
    from chainweb_data_spark.operators import similarity as sim
    from chainweb_data_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = sorted(
        map(
            tuple,
            sim.cosine_topk_matmul(emb, "vec_id", "embedding", k=5)
            .select("vec_id", "neighbor_id", "cosine")
            .collect(),
        )
    )
    ivf = sorted(
        map(
            tuple,
            sim.ivf_topk(
                emb, "vec_id", "embedding", k=5, n_cells=8, nprobe=8
            )
            .select("vec_id", "neighbor_id", "cosine")
            .collect(),
        )
    )
    assert ivf == exact


def test_ivfpq_rerank_full_shortlist_equals_ivf(spark):
    # with the shortlist wider than any probed candidate set, the rerank
    # tier re-scores EVERYTHING the probes saw against raw vectors — by
    # construction that is exactly what ivf_topk computes, so the outputs
    # must be bit-identical: pins that ADC only SELECTS and never alters
    # the final scoring arithmetic
    from chainweb_data_spark.operators import similarity as sim
    from chainweb_data_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = sim.ivf_train_kmeans(emb, "vec_id", "embedding", 8)
    cb = sim.pq_train(emb, "vec_id", "embedding", 8, 16)
    ivf = sorted(
        map(
            tuple,
            sim.ivf_topk(
                emb, "vec_id", "embedding", k=5, n_cells=8, nprobe=2,
                centroids=cents,
            )
            .select("vec_id", "neighbor_id", "cosine")
            .collect(),
        )
    )
    rr = sorted(
        map(
            tuple,
            sim.ivfpq_rerank_topk(
                emb, "vec_id", "embedding", cents, cb, nprobe=2, k=5,
                shortlist=10_000,
            )
            .select("vec_id", "neighbor_id", "cosine")
            .collect(),
        )
    )
    assert rr == ivf


def test_semdedup_prune_toy(spark):
    """Pins the SemDeDup contract on handcrafted vectors: (1) the keeper
    of a duplicate group is the member LEAST similar to its centroid,
    (2) singletons keep themselves, (3) a high-cosine pair STRADDLING two
    clusters is NOT pruned — within-cluster-only pairing is the method's
    defining approximation, so this must hold by construction."""
    import numpy as np

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),      # cell 0, cent_cos 1.0
        (2, [0.995, 0.0, 0.0, 0.0999]),  # cell 0, pairs with 1 and 3
        (3, [0.98, 0.0, 0.0, 0.199]),    # cell 0, least prototypical -> keeper
        (4, [0.0, 1.0, 0.0, 0.0]),       # cell 1, singleton
        (5, [0.0, 0.6, 0.8, 0.0]),       # cell 1, singleton (cos to 4 = 0.6)
        (6, [0.74, 0.6726, 0.0, 0.0]),   # cell 0 } cos(6,7) = 0.995 >= 0.9
        (7, [0.6726, 0.74, 0.0, 0.0]),   # cell 1 } but different cells
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    out = {
        r["vec_id"]: r
        for r in sim.semdedup_prune(
            df, "vec_id", "embedding", threshold=0.9, centroids=cents
        ).collect()
    }
    assert len(out) == 7
    # group {1,2,3}: rep=min id, size 3, keeper = id 3 (lowest cent cosine)
    for i in (1, 2, 3):
        assert out[i]["cell"] == 0
        assert out[i]["group_rep"] == 1
        assert out[i]["group_size"] == 3
    assert [out[i]["keep"] for i in (1, 2, 3)] == [False, False, True]
    assert out[3]["cent_cosine"] < out[2]["cent_cosine"] < out[1]["cent_cosine"]
    # singletons and the straddling pair all keep themselves
    for i in (4, 5, 6, 7):
        assert out[i]["group_rep"] == i
        assert out[i]["group_size"] == 1
        assert out[i]["keep"] is True
    assert out[6]["cell"] == 0 and out[7]["cell"] == 1


def test_semdedup_matches_numpy_reference(spark):
    """Seeded random corpora cross-checked EXACTLY against a pure-NumPy
    SemDeDup reference (argmax assignment with 6-dp rounding and
    lowest-cell ties, within-cluster thresholded pairs, union-find
    components, min-(cent_cosine, id) keeper) — both sides do the same
    float64 arithmetic, so every column must agree bit-for-bit after the
    shared rounding."""
    import numpy as np

    def reference(ids, V, C, thr):
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        S = np.round(Vn @ Cn.T, 6)
        cell = np.argmax(S, axis=1)  # first max = lowest cell
        cent = S[np.arange(len(ids)), cell]
        P = np.round(Vn @ Vn.T, 6)
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        n = len(ids)
        for a in range(n):
            for b in range(a + 1, n):
                if cell[a] == cell[b] and P[a, b] >= thr:
                    ra, rb = find(ids[a]), find(ids[b])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        rep = {ids[i]: find(ids[i]) for i in range(n)}
        size = {}
        for r in rep.values():
            size[r] = size.get(r, 0) + 1
        keeper = {}
        for i in range(n):
            r = rep[ids[i]]
            key = (cent[i], ids[i])
            if r not in keeper or key < keeper[r]:
                keeper[r] = key
        return {
            ids[i]: (
                int(cell[i]),
                rep[ids[i]],
                size[rep[ids[i]]],
                float(cent[i]),
                keeper[rep[ids[i]]][1] == ids[i],
            )
            for i in range(n)
        }

    for seed in range(5):
        rng = np.random.RandomState(seed)
        n, dim, k = 20 + seed * 5, 6, 3
        V = rng.randn(n, dim)
        # plant duplicate structure: every 4th vector is a jittered copy
        # of its predecessor, so thresholded groups actually form
        for i in range(1, n):
            if i % 4 == 0:
                V[i] = V[i - 1] + rng.randn(dim) * 0.05
        C = rng.randn(k, dim)
        ids = list(range(100, 100 + n))
        thr = 0.8
        df = spark.createDataFrame(
            [(ids[i], [float(x) for x in V[i]]) for i in range(n)],
            ["vec_id", "embedding"],
        )
        got = {
            r["vec_id"]: (
                r["cell"],
                r["group_rep"],
                r["group_size"],
                r["cent_cosine"],
                r["keep"],
            )
            for r in sim.semdedup_prune(
                df, "vec_id", "embedding", threshold=thr, centroids=C
            ).collect()
        }
        assert got == reference(ids, V, C, thr), f"seed {seed}"
