"""Unit tests for the round-4 wave-6 operators: product quantization,
the portable histogram-quantile sketch, VariantType shredding, and the
cross-source overlap matrix.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacitydatawarehouseprj_spark import queries as Q
from udacitydatawarehouseprj_spark.operators import similarity


def test_pq_train_shapes_and_determinism(spark, sf_dir, monkeypatch):
    emb = Q._t(spark, sf_dir, "embeddings")
    monkeypatch.setattr(similarity, "PQ_M", 4)
    monkeypatch.setattr(similarity, "PQ_KSUB", 8)
    monkeypatch.setattr(similarity, "KMEANS_ITERS", 2)
    b1 = similarity.pq_train(emb)
    b2 = similarity.pq_train(emb)
    assert b1.shape == (4, 8, 16)
    import numpy as np

    # deterministic seeding + deterministic assignment → identical books
    # (mean recomputation is float, but over identical partitions/plan)
    assert np.allclose(b1, b2, atol=1e-12)


def test_pq_train_rejects_indivisible_dims(spark, sf_dir, monkeypatch):
    import pytest

    emb = Q._t(spark, sf_dir, "embeddings")
    monkeypatch.setattr(similarity, "PQ_M", 7)
    with pytest.raises(ValueError):
        similarity.pq_train(emb)


def test_pq_reranked_scores_are_exact(spark, sf_dir):
    """After the exact rerank, every reported cosine must equal the
    exact cosine for that (query, neighbor) pair — quantization decides
    membership only."""
    emb = Q._t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    approx = similarity.pq_topk_reranked(emb, q)
    # recompute each reported pair's cosine with the fold convention
    pairs = approx.select("query_id", "neighbor_id", "cosine")
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        similarity.as_double("embedding").alias("c_emb"),
    )
    qd = emb.select(
        F.col("vec_id").alias("query_id"),
        similarity.as_double("embedding").alias("q_emb"),
    )
    recomputed = (
        pairs.join(c, "neighbor_id")
        .join(qd, "query_id")
        .withColumn(
            "expect",
            F.round(
                similarity.dot(F.col("c_emb"), F.col("q_emb"))
                / (
                    similarity.norm(F.col("c_emb"))
                    * similarity.norm(F.col("q_emb"))
                ),
                6,
            ),
        )
    )
    bad = recomputed.filter(F.col("cosine") != F.col("expect")).count()
    assert bad == 0


def test_pq_recall_meets_threshold(spark, sf_dir):
    row = Q.ann_pq_recall_check(spark, sf_dir).collect()[0]
    assert row.recall_ge_060 is True


def test_histogram_quantile_within_bin_width(spark, sf_dir):
    """Sketch estimates must land within one bin width of the exact
    interpolated percentile (the sketch's documented error bound)."""
    est = {
        (r.event_type, r.q): r.q_est
        for r in Q.histogram_quantile_sketch(spark, sf_dir).collect()
    }
    ev = Q._t(spark, sf_dir, "events")
    b = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).collect()[0]
    bin_w = (b.hi - b.lo) / Q._HQ_BINS
    # the sketch estimates the order statistic at rank floor(q·(n−1));
    # THAT value provably lies in the located bin, so |est − x_(k)| ≤
    # bin width. (Interpolated percentile_cont can sit arbitrarily far
    # from x_(k) in a sparse tail — between two distant order stats —
    # which is a property of the data, not sketch error.)
    vals = ev.groupBy("event_type").agg(
        F.sort_array(F.collect_list("value")).alias("vs")
    )
    for r in vals.collect():
        n = len(r.vs)
        for q in (0.5, 0.9, 0.99):
            ex = r.vs[int(q * (n - 1))]
            got = est[(r.event_type, q)]
            assert abs(got - ex) <= bin_w + 1e-9, (r.event_type, q, got, ex)


def test_variant_shred_matches_string_path(spark, sf_dir):
    """variant_get extraction must agree with the classic
    get_json_object string path row-for-row."""
    ev = Q._t(spark, sf_dir, "events")
    mismatch = ev.select(
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("v"),
        F.get_json_object("props", "$.k").cast("long").alias("s"),
    ).filter(
        (F.col("v") != F.col("s"))
        | F.col("v").isNull()
        | F.col("s").isNull()
    )
    assert mismatch.count() == 0


def test_cross_source_overlap_is_canonical(spark, sf_dir):
    out = Q.cross_source_overlap(spark, sf_dir)
    assert out.filter(F.col("source_a") > F.col("source_b")).count() == 0
    # total pairs must equal the LSH pair relation's count
    n_pairs = Q._lsh_pairs_05(spark, sf_dir).count()
    assert (
        out.agg(F.sum("n_pairs")).collect()[0][0] == n_pairs
    )
