"""Focused tests for the round-13 optimization-round operator changes.

The full oracle-parity sweep (test_oracle_parity) already pins every
registered query's VALUES; these tests pin the two operator INTERNALS
the optimization round restructured, on purpose-built fixtures:

1. ``dedup.shingle_pair_counts`` + the ``jaccard/containment`` filter
   split (one shared self-join front half for both detectors);
2. ``graph.pagerank_integer``'s dangling mass, uniform and seeded:
   rank rows carry their out-degree, and the dangling aggregate must
   see exactly the no-out-edge nodes every round.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacitydatawarehouseprj_spark import session as S
from udacitydatawarehouseprj_spark.operators import dedup, graph


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different text with no shared shingles here"),
        (5, "brown fox jumps"),  # fully contained in 1/2/3 (one shingle)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _pairs_as_set(df, val_col):
    return {
        (r["doc_a"], r["doc_b"], round(r[val_col], 6)) for r in df.collect()
    }


def test_pair_counts_front_half_matches_direct_detectors(docs):
    """jaccard/containment built from the shared pair-counts relation
    equal the one-shot operator outputs (same rows, same rounded
    values) — the refactor is a pure factoring, not a semantic change."""
    counts = dedup.shingle_pair_counts(dedup.shingles(docs))
    jac_split = dedup.jaccard_from_pair_counts(counts, 0.5)
    con_split = dedup.containment_from_pair_counts(counts, 0.8)
    jac_direct = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    con_direct = dedup.ngram_containment_pairs(docs, threshold=0.8)
    assert _pairs_as_set(jac_split, "jaccard") == _pairs_as_set(
        jac_direct, "jaccard"
    )
    assert _pairs_as_set(con_split, "containment_a_in_b") == _pairs_as_set(
        con_direct, "containment_a_in_b"
    )
    S.release_tracked_caches()


def test_pair_counts_values(docs):
    """Hand-checked counts: docs 1 and 3 are identical (7 shingles each,
    7 shared -> jaccard 1.0); doc 5 has exactly 1 shingle, contained in
    1/2/3 (containment_a_in_b = 1/7, b_in_a = 1.0)."""
    counts = dedup.shingle_pair_counts(dedup.shingles(docs))
    row13 = counts.filter((F.col("doc_a") == 1) & (F.col("doc_b") == 3)).collect()[0]
    assert (row13["n_inter"], row13["n_a"], row13["n_b"]) == (7, 7, 7)
    row15 = counts.filter((F.col("doc_a") == 1) & (F.col("doc_b") == 5)).collect()[0]
    assert (row15["n_inter"], row15["n_b"]) == (1, 1)
    S.release_tracked_caches()


def test_shared_front_halves_memoize_and_match_fresh_build(spark, sf_dir):
    """The wave-3 session-shared relations (BM25 per-doc scores, the JL
    system top-k, the cosine≥0.4 pair graph) must (a) create exactly one
    shared entry each, reused — not rebuilt — by their second consumer,
    and (b) serve values identical to a fresh, uncached build."""
    from udacitydatawarehouseprj_spark import queries as Q

    S.release_tracked_caches()
    S.release_shared_caches()
    qs = Q.queries()
    pairs = [
        ("bm25_topk", "rrf_hybrid_fusion", "bm25_per_doc"),
        ("retrieval_mrr_eval", "ndcg_retrieval_eval", "jl_sys_topk5"),
        ("embedding_near_dup", "clustering_coefficient_local",
         "cosine_pairs_04"),
    ]
    for first, second, key in pairs:
        S.release_shared_caches()
        a = sorted(map(tuple, qs[first](spark, sf_dir).collect()))
        built = [k for k in S._SHARED_CACHES if k.startswith(f"{key}:")]
        assert len(built) == 1, (key, list(S._SHARED_CACHES))
        entry = S._SHARED_CACHES[built[0]]
        qs[second](spark, sf_dir).collect()
        # second consumer reused the SAME cached relation object
        assert S._SHARED_CACHES[built[0]] is entry
        assert len(
            [k for k in S._SHARED_CACHES if k.startswith(f"{key}:")]
        ) == 1
        # …and the shared relation serves exactly what a fresh build does
        S.release_shared_caches()
        fresh = sorted(map(tuple, qs[first](spark, sf_dir).collect()))
        assert a == fresh, key
    S.release_tracked_caches()
    S.release_shared_caches()


def test_rerank_feats_tokenize_after_join_is_value_identical(spark, sf_dir):
    """_rerank_base_feats tokenizes AFTER the ≤N-row broadcast join
    prunes the corpus; the old shape tokenized every document first.
    Per-row expressions commute with the join filter, so the relation
    must be row-for-row identical to the old construction."""
    from pyspark.sql.window import Window

    from udacitydatawarehouseprj_spark import queries as Q

    S.release_shared_caches()
    new = Q._rerank_base_feats(spark, sf_dir)

    # the pre-wave-3 inline shape, verbatim
    cand = (
        Q._bm25_per_doc(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(Q._CE_CAND_N)
    )
    base = cand.withColumn(
        "r_base",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .cast("long"),
    )
    docs = S.load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", dedup.tokens_expr().alias("t"))
    old = F.broadcast(base).join(toks, "doc_id").select(
        "doc_id", "score", "r_base",
        *[
            F.array_position("t", term).cast("long").alias(f"p{i + 1}")
            for i, term in enumerate(Q._BM25_TERMS)
        ],
    )
    assert new.columns == old.columns
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )
    S.release_tracked_caches()
    S.release_shared_caches()


def _expected_integer_pagerank(nodes, edges, iterations, unit):
    """Reference replay of the exact integer recurrence in plain Python
    (the spec pagerank_integer implements; dangling nodes = no out-edge)."""
    from collections import defaultdict

    deg = defaultdict(int)
    for a, _ in edges:
        deg[a] += 1
    n = len(nodes)
    base = (15 * unit) // (100 * n)
    r = {v: unit // n for v in nodes}
    for _ in range(iterations):
        contrib = defaultdict(int)
        for a, b in edges:
            contrib[b] += (r[a] * 85) // (100 * deg[a])
        dang = sum((r[v] * 85) // 100 for v in nodes if deg[v] == 0)
        r = {v: base + contrib[v] + dang // n for v in nodes}
    return r


def test_pagerank_dangling_precompute_exact(spark):
    """Graph with a genuine dangling node (3 has no out-edge): its rank
    must feed every round's dangling mass — output equals the
    plain-Python replay of the integer recurrence."""
    nodes = [1, 2, 3, 4]
    edges = [(1, 2), (2, 3), (4, 2)]  # 3 dangling; 4 has no in-edge
    ndf = spark.createDataFrame([(v,) for v in nodes], ["n"])
    edf = spark.createDataFrame(edges, ["a", "b"])
    out = {
        r["n"]: r["rank_unit"]
        for r in graph.pagerank_integer(ndf, edf, iterations=4).collect()
    }
    exp = _expected_integer_pagerank(nodes, edges, 4, graph.PAGERANK_UNIT)
    assert out == exp


def test_personalized_pagerank_dangling_precompute_exact(spark):
    """Same dangling-set property for the seeded variant: non-seed
    teleport mass must stay 0 and the dangling round-trip must match the
    plain-Python replay."""
    from collections import defaultdict

    nodes = [1, 2, 3, 4]
    edges = [(1, 2), (2, 3), (4, 2)]
    seeds = [1]
    unit = graph.PAGERANK_UNIT

    deg = defaultdict(int)
    for a, _ in edges:
        deg[a] += 1
    base = (15 * unit) // (100 * len(seeds))
    r = {v: (unit // len(seeds) if v in seeds else 0) for v in nodes}
    for _ in range(4):
        contrib = defaultdict(int)
        for a, b in edges:
            contrib[b] += (r[a] * 85) // (100 * deg[a])
        dang = sum((r[v] * 85) // 100 for v in nodes if deg[v] == 0)
        r = {
            v: (base + dang // len(seeds) if v in seeds else 0) + contrib[v]
            for v in nodes
        }

    ndf = spark.createDataFrame([(v,) for v in nodes], ["n"])
    edf = spark.createDataFrame(edges, ["a", "b"])
    sdf = spark.createDataFrame([(v,) for v in seeds], ["n"])
    out = {
        row["n"]: row["rank_unit"]
        for row in graph.pagerank_integer(
            ndf, edf, iterations=4, seeds=sdf
        ).collect()
    }
    assert out == r


def test_pagerank_every_node_a_seed_equals_uniform(spark):
    """``seeds=None`` (uniform teleport, no seed-marking checkpoint) is
    the seeded recurrence with S = every node, row for row — on a graph
    whose node 3 is dangling."""
    ndf = spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], ["n"])
    edf = spark.createDataFrame([(1, 2), (2, 3), (4, 2)], ["a", "b"])
    uniform = graph.pagerank_integer(ndf, edf, iterations=4).collect()
    seeded = graph.pagerank_integer(ndf, edf, iterations=4, seeds=ndf).collect()
    assert sorted(map(tuple, uniform)) == sorted(map(tuple, seeded))
