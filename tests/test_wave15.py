"""Round-11 wave: batch ANN serving economics (VERDICT r10 item 5).

Both queries are oracle-checked (tests/test_oracle_parity.py replays the
DuckDB comparison); these tests pin the SEMANTIC claims their docstrings
make — kernel equivalence, chunk-boundary invariance and the
amortization invariants a hash gate can't see.
"""
from pyspark.sql import functions as F

from udacitydatawarehouseprj_spark import queries as Q
from udacitydatawarehouseprj_spark import session as S
from udacitydatawarehouseprj_spark.operators import similarity


def _emb(spark, sf_dir):
    return S.load_table(spark, sf_dir, "embeddings")


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "query_id", "neighbor_id", "rank", "cosine"
        ).collect()
    )


def test_blas_batch_matches_fold_exact_topk(spark, sf_dir):
    """The brute kernel on the serving batch must be EXACTLY the brute
    baseline: same rows as cosine_topk (the fold-exact oracled path) for
    the same batch — the vectorized partial top-(k+1) + self-filter
    loses nothing."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") % 101 == 7)
    got = _rows(similarity.cosine_topk_blas(emb, batch, k=5))
    want = _rows(similarity.cosine_topk(emb, batch, k=5))
    assert got == want and len(got) == 5 * batch.count()


def test_blas_batch_chunking_is_invisible(spark, sf_dir, monkeypatch):
    """QUERY_CHUNK bounds task memory only: 10 queries in chunks of 3
    (three full chunks and a partial one) must give exactly the
    fold-exact cosine_topk rows."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") < 10)
    monkeypatch.setattr(similarity, "QUERY_CHUNK", 3)
    chunked = _rows(similarity.cosine_topk_blas(emb, batch, k=5))
    assert chunked == _rows(similarity.cosine_topk(emb, batch, k=5))
    assert len(chunked) == 50


def test_ivf_chunking_is_invisible(spark, sf_dir, monkeypatch):
    """The IVF rerank shares the chunked selection: chunks of 3 over 10
    queries must reach the same rows as one 1024-query chunk."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") < 10)
    whole = _rows(similarity.ivf_topk_kmeans(emb, batch))
    monkeypatch.setattr(similarity, "QUERY_CHUNK", 3)
    assert _rows(similarity.ivf_topk_kmeans(emb, batch)) == whole
    assert len(whole) == 50


def test_ivf_batch_serving_summary_invariants(spark, sf_dir):
    """The one-row summary: full k per query (topk_rows = 5·n_queries),
    batch = the %101 rule, and every economics boolean genuinely
    computed (all true at the recall-pinned 16/4 operating point)."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") % 101 == 7)
    row = Q.REGISTRY["ann_batch_serving_ivf"].fn(spark, sf_dir).collect()[0]
    assert row.n_queries == batch.count()
    assert row.corpus_n == emb.count()
    assert row.topk_rows == 5 * row.n_queries
    assert row.mean_frac_le_045 and row.scan_lt_brute
    assert row.min_candidates_ge_k


def test_ivf_batch_serving_matches_loop_kernel(spark, sf_dir):
    """The cell-grouped vectorized rerank must reach the SAME top-k
    relation as a per-query loop over the same trained index (same
    centroids, same probes) — vectorization is a layout change, not a
    semantics change. Pins the actual (query_id, neighbor_id, rank)
    ROWS, not the count: a pairing/sign bug returning wrong neighbors at
    full k would pass a count gate. The loop reference scores with a
    matrix-vector product, so its cosines may differ from the kernel's
    by ulps: each rounded cosine must lie within the rounding step
    (5e-7) plus 1e-12 of the reference's unrounded value."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") % 101 == 7)
    got = _rows(similarity.ivf_topk_kmeans(emb, batch))

    cents = similarity.kmeans_centroids(emb)
    c_norm2 = (cents * cents).sum(axis=1)
    cid, x = similarity._collect_matrix(emb)
    qids, qmat = similarity._collect_matrix(batch)
    xn = np.sqrt((x * x).sum(axis=1))
    qn = np.sqrt((qmat * qmat).sum(axis=1))
    cell = similarity._cell_dist(x, cents, c_norm2).argmin(axis=1)
    probes = np.argsort(similarity._cell_dist(qmat, cents, c_norm2), axis=1)
    want = []
    for qi, qid in enumerate(qids):
        mask = np.isin(cell, probes[qi, :similarity.IVF_PROBES]) & (cid != qid)
        s = (x[mask] @ qmat[qi]) / (xn[mask] * qn[qi])
        order = np.lexsort((cid[mask], -s))[:similarity.TOPK]
        want += [(int(qid), int(n), r + 1, float(c))
                 for r, (n, c) in enumerate(zip(cid[mask][order], s[order]))]
    assert [g[:3] for g in got] == sorted(w[:3] for w in want)
    want_cos = {w[:3]: w[3] for w in want}
    assert all(abs(g[3] - want_cos[g[:3]]) <= 5e-7 + 1e-12 for g in got)
    assert len(got) == 5 * batch.count()
    # and the oracled summary counts the same relation
    row = Q.REGISTRY["ann_batch_serving_ivf"].fn(spark, sf_dir).collect()[0]
    assert row.topk_rows == len(got)
