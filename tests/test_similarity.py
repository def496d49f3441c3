"""Similarity-search tests: BLAS == fold-based exact results, LSH recall,
IVF sanity. Operating points are module constants; a test that needs
another value monkeypatches the constant."""

from __future__ import annotations

from udacitydatawarehouseprj_spark.operators import similarity


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _key(rows):
    return {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in rows}


def test_blas_topk_equals_fold_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter("vec_id < 10")
    fold = _key(similarity.cosine_topk(emb, q, k=5).collect())
    blas = _key(similarity.cosine_topk_blas(emb, q, k=5).collect())
    assert fold == blas


def test_pairs_blas_equals_fold(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    fold = {(r.id_a, r.id_b, r.cosine)
            for r in similarity.cosine_pairs(emb, threshold=0.4).collect()}
    blas = {(r.id_a, r.id_b, r.cosine)
            for r in similarity.cosine_pairs_blas(emb, threshold=0.4).collect()}
    assert fold == blas
    assert len(fold) > 0


def test_lsh_topk_recall(spark, sf_dir):
    """Multi-table LSH (4 planes × 16 tables): deterministic seed, so
    recall on the fixed testdata is reproducible — measured 0.98; pin a
    conservative floor. Single-table LSH on uniformly random vectors is
    near-chance (true neighbors sit at ~72°) — the OR-amplification is
    what buys recall."""
    emb = _emb(spark, sf_dir)
    q = emb.filter("vec_id < 10")
    exact = _key(similarity.cosine_topk(emb, q, k=5).collect())
    approx = similarity.cosine_topk_lsh_blas(emb, q).collect()
    exact_sets = {}
    for (qid, rank), (nid, _) in exact.items():
        exact_sets.setdefault(qid, set()).add(nid)
    hits = sum(
        1 for r in approx if r.neighbor_id in exact_sets.get(r.query_id, set())
    )
    assert len(approx) == 50
    assert hits / len(approx) >= 0.8


def test_kmeans_centroids_converge_and_balance(spark, sf_dir, monkeypatch):
    import numpy as np

    emb = _emb(spark, sf_dir)
    _, mat = similarity._collect_matrix(emb)

    def inertia(cents):
        d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    monkeypatch.setattr(similarity, "IVF_CELLS", 8)
    monkeypatch.setattr(similarity, "KMEANS_ITERS", 0)
    c0 = similarity.kmeans_centroids(emb)
    monkeypatch.setattr(similarity, "KMEANS_ITERS", 3)
    c3 = similarity.kmeans_centroids(emb)
    assert inertia(c3) < inertia(c0)  # training improves the quantizer
    # determinism: same inputs → identical centroids
    c3b = similarity.kmeans_centroids(emb)
    assert np.array_equal(c3, c3b)


def test_ivf_kmeans_topk_contract(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter("vec_id < 5")
    out = similarity.ivf_topk_kmeans(emb, q).collect()
    per_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_pairs_tiled_equals_fold_no_collect(spark, sf_dir):
    """Tiled block matmul == exact fold pairs, and the plan contains no
    driver-side corpus materialization (no broadcast of a collected
    matrix — the tile shuffle is the only data movement)."""
    emb = _emb(spark, sf_dir)
    fold = {(r.id_a, r.id_b, r.cosine)
            for r in similarity.cosine_pairs(emb, threshold=0.4).collect()}
    tiled_df = similarity.cosine_pairs_blas_tiled(emb, threshold=0.4)
    tiled = {(r.id_a, r.id_b, r.cosine) for r in tiled_df.collect()}
    assert fold == tiled
    assert len(tiled) > 0
    # plan sanity: FlatMapGroupsInPandas over the tile grid, no cartesian
    plan = tiled_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_pairs_tiled_block_count_param(spark, sf_dir, monkeypatch):
    """Output is invariant to the tiling granularity."""
    emb = _emb(spark, sf_dir).limit(200)

    def pairs(blocks):
        monkeypatch.setattr(similarity, "TILE_BLOCKS", blocks)
        return {(r.id_a, r.id_b) for r in
                similarity.cosine_pairs_blas_tiled(emb, 0.35).collect()}

    assert pairs(2) == pairs(7)


def test_exact_topk_partial_candidates_before_final_rank(spark, sf_dir):
    """cosine_topk now reduces each partition to <=|Q|*k candidates via a
    selection-only pandas stage BEFORE the rank shuffle: the plan shows
    MapInPandas feeding the window, and results still match BLAS."""
    emb = _emb(spark, sf_dir)
    q = emb.filter("vec_id < 10")
    df = similarity.cosine_topk(emb, q, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert _key(df.collect()) == _key(
        similarity.cosine_topk_blas(emb, q, k=5).collect()
    )


def test_semantic_dedup_drops_planted_duplicate(spark, monkeypatch):
    import math

    # 3 clusters of 2 near-identical vectors + 2 lone vectors
    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = []
    for g in range(3):
        base = g * 2.0
        rows.append((g * 10, unit(base)))
        rows.append((g * 10 + 1, unit(base + 0.01)))  # cos≈0.99995 dup
    rows.append((90, unit(1.0)))
    rows.append((91, [0.0, 0.0, 1.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(similarity, "IVF_CELLS", 4)
    monkeypatch.setattr(similarity, "SEMDEDUP_THRESHOLD", 0.95)
    out = similarity.semantic_dedup(df)
    got = {r.vec_id: r for r in out.collect()}
    assert len(got) == 8
    for g in range(3):
        a, b = got[g * 10], got[g * 10 + 1]
        if a.cell_id == b.cell_id:  # same cell → min-id kept, dup dropped
            assert a.kept and not b.kept
            assert b.max_sim_to_kept >= 0.95
    # greedy independent set: kept vectors in one cell never ≥ threshold
    by_cell = {}
    for r in got.values():
        if r.kept:
            by_cell.setdefault(r.cell_id, []).append(r.vec_id)
    vecs = dict(rows)
    for cell, ids in by_cell.items():
        for i in ids:
            for j in ids:
                if i < j:
                    va, vb = vecs[i], vecs[j]
                    dot = sum(x * y for x, y in zip(va, vb))
                    na = sum(x * x for x in va) ** 0.5
                    nb = sum(x * x for x in vb) ** 0.5
                    assert dot / (na * nb) < 0.95


def test_mmr_rerank_diversifies_near_duplicate_candidates(spark, monkeypatch):
    import math

    # corpus: two near-identical highly-relevant vectors + a moderately
    # relevant diverse one; MMR at lam=0.5 must pick the diverse vector
    # second, plain top-k would pick the near-duplicate.
    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0]

    rows = [
        (0, unit(0.0)),        # query
        (1, unit(0.05)),       # most relevant
        (2, unit(0.06)),       # near-dup of 1: rel≈red → score ≈ 0⁻
        (3, unit(-0.9)),       # diverse: rel(0.62) > red-vs-1(0.58) → wins
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    monkeypatch.setattr(similarity, "TOPK", 2)
    monkeypatch.setattr(similarity, "MMR_POOL", 3)
    monkeypatch.setattr(similarity, "MMR_LAMBDA", 0.5)
    out = similarity.mmr_rerank(df, q)
    got = sorted((r.mmr_rank, r.neighbor_id) for r in out.collect())
    assert got[0] == (1, 1)   # first pick = pure relevance top-1
    assert got[1] == (2, 3)   # second pick diversifies away from 2


def test_zero_vector_does_not_poison_semantic_dedup_or_topk(spark, monkeypatch):
    rows = [
        (0, [0.0, 0.0, 0.0]),          # zero vector, min id in its cell
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),        # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(similarity, "IVF_CELLS", 1)
    monkeypatch.setattr(similarity, "KMEANS_ITERS", 1)
    monkeypatch.setattr(similarity, "SEMDEDUP_THRESHOLD", 0.95)
    out = {r.vec_id: r for r in similarity.semantic_dedup(df).collect()}
    # the zero vector must not drop later vectors (NaN would drop ALL)
    assert out[1].kept
    assert not out[2].kept           # real near-dup still detected
    assert out[3].kept
    # and a zero CORPUS vector must never outrank real neighbors
    q = df.filter("vec_id = 1")
    top = similarity.cosine_topk_blas(df, q, k=1).collect()
    assert top[0].neighbor_id == 2


def test_random_projection_matches_hand_rollout(spark, monkeypatch):
    """y_j must equal the index-order fold Σ_i x_i·s(i,j) with the
    documented sign hash — recomputed here in pure Python."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.RandomState(7)
    vecs = [
        Row(vec_id=i, embedding=[float(x) for x in rng.randn(8)])
        for i in range(5)
    ]
    df = spark.createDataFrame(vecs)
    monkeypatch.setattr(similarity, "EMB_DIM", 8)
    monkeypatch.setattr(similarity, "PROJ_K", 4)
    got = {
        r.vec_id: [r[f"y{j:02d}"] for j in range(4)]
        for r in similarity.random_projection(df).collect()
    }

    def sign(i, j, k=4):
        n = i * k + j
        h1 = (n * similarity.PROJ_MULT + similarity.PROJ_ADD) % similarity.PROJ_MOD
        h2 = (h1 * h1 + n) % similarity.PROJ_MOD
        return -1 if h2 % 65536 >= 32768 else 1

    for row in vecs:
        x = row.embedding
        for j in range(4):
            acc = 0.0
            for i in range(8):
                acc = acc + x[i] * sign(i, j)
            assert got[row.vec_id][j] == round(acc, 6)


def test_random_projection_signs_not_degenerate(spark):
    """The sign hash must not collapse to the (i+j) parity checkerboard
    (which would make all projected dims copies of each other up to
    sign): adjacent dims must disagree on some index."""
    def sign(i, j, k=16):
        n = i * k + j
        h1 = (n * similarity.PROJ_MULT + similarity.PROJ_ADD) % similarity.PROJ_MOD
        h2 = (h1 * h1 + n) % similarity.PROJ_MOD
        return -1 if h2 % 65536 >= 32768 else 1

    cols = [tuple(sign(i, j) for i in range(64)) for j in range(16)]
    for a in range(16):
        assert abs(sum(cols[a])) < 64  # not constant
        for b in range(a + 1, 16):
            dot = sum(x * y for x, y in zip(cols[a], cols[b]))
            # random ±1 columns: |corr| concentrates below ~4/sqrt(64)
            assert abs(dot) <= 32, (a, b, dot)


def test_collect_matrix_cap_guard_trips(spark, sf_dir, monkeypatch):
    """The driver-collect guard must fail fast beyond the cap (scale
    posture: a >cap corpus must be routed to the tiled/LSH paths, never
    silently collected)."""
    import pytest

    emb = _emb(spark, sf_dir)
    monkeypatch.setattr(similarity, "DRIVER_COLLECT_CAP", 10)
    with pytest.raises(ValueError, match="DRIVER_COLLECT_CAP"):
        similarity._collect_matrix(emb)
    # under-cap path unchanged: all rows come back
    ids, mat = similarity._collect_matrix(emb.filter("vec_id < 7"))
    assert len(ids) == 7 and mat.shape[0] == 7
