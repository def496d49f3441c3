"""Round-8 wave: ADVICE guard fixes + new operators."""
import pytest
from pyspark.sql import Row, functions as F

from udacitydatawarehouseprj_spark import queries as Q


def test_ppr_empty_seeds_raises(spark):
    from udacitydatawarehouseprj_spark.operators import graph as G

    nodes = spark.createDataFrame([Row(id=1), Row(id=2)])
    edges = spark.createDataFrame([Row(a=1, b=2)])
    empty_seeds = nodes.where(F.lit(False))
    with pytest.raises(ValueError, match="seeds must be non-empty"):
        G.pagerank_integer(nodes, edges, seeds=empty_seeds)


def test_symbol_expr_empty_defs_raises():
    from udacitydatawarehouseprj_spark.operators import sequence as seq

    with pytest.raises(ValueError, match="at least one DEFINE symbol"):
        seq.symbol_expr([], {})


def test_blocked_prefix_sum_validate(spark):
    from udacitydatawarehouseprj_spark.operators import relational as rel

    df = spark.createDataFrame(
        [Row(k=i, v=1) for i in range(20)]
    )
    # good block: monotone in k -> validation passes, result exact
    good = rel.blocked_prefix_sum(
        df, (F.col("k") / 5).cast("long"), [F.col("k")],
        F.col("v"), validate=True,
    )
    assert {r.k: r.run_sum for r in good.collect()} == {
        i: i + 1 for i in range(20)
    }
    # bad block: k % 3 is NOT monotone in k -> overlapping key ranges
    with pytest.raises(ValueError, match="not monotone"):
        rel.blocked_prefix_sum(
            df, F.col("k") % 3, [F.col("k")],
            F.col("v"), validate=True,
        )


def test_power_iteration_blas_matches_exact_twin(spark, sf_dir):
    exact = Q.power_iteration_top_eigen(spark, sf_dir).collect()[0]
    blas = Q.power_iteration_blas_production(spark, sf_dir).collect()[0]
    assert blas.n_vectors == exact.n_vectors
    assert abs(blas.lambda1 - exact.lambda1) <= 2e-4       # 4dp rounding
    assert abs(blas.explained_frac - exact.explained_frac) <= 2e-6
    for c in ("c1", "c2", "c3", "c4"):
        assert abs(getattr(blas, c) - getattr(exact, c)) <= 2e-6


def test_cka_blas_matches_exact_twin(spark, sf_dir):
    exact = Q.cka_embedding_views(spark, sf_dir).collect()[0]
    blas = Q.cka_blas_production(spark, sf_dir).collect()[0]
    assert blas.n_vectors == exact.n_vectors
    assert abs(blas.linear_cka - exact.linear_cka) <= 2e-6


def test_gram_partials_deterministic_and_correct(spark, sf_dir):
    import numpy as np

    from udacitydatawarehouseprj_spark import session as S
    from udacitydatawarehouseprj_spark.operators import similarity

    emb = S.load_table(spark, sf_dir, "embeddings")
    n1, s1, m1 = similarity.gram_partials(emb)
    n2, s2, m2 = similarity.gram_partials(emb)
    # deterministic merge order -> bit-identical repeated runs
    assert n1 == n2
    assert (s1 == s2).all() and (m1 == m2).all()
    # matches the direct numpy computation on the collected matrix
    x = np.stack(
        [np.asarray(r.embedding, dtype=np.float64)
         for r in emb.select("embedding").collect()]
    )
    assert n1 == x.shape[0]
    assert np.allclose(s1, x.sum(axis=0), rtol=1e-12)
    assert np.allclose(m1, x.T @ x, rtol=1e-12)


def test_neyman_allocation_consistency(spark, sf_dir):
    rows = Q.neyman_allocation_sample(spark, sf_dir).collect()
    total_alloc = sum(r.n_alloc for r in rows)
    # per-stratum independent rounding: off by at most 1 per stratum
    assert abs(total_alloc - 100) <= len(rows)
    for r in rows:
        assert r.n_drawn == min(r.n_alloc, r.nh)
        assert r.sigma > 0


def test_lift_gain_terminal_decile(spark, sf_dir):
    rows = {r.decile: r for r in Q.lift_gain_deciles(spark, sf_dir).collect()}
    assert set(rows) == set(range(1, 11))
    assert rows[10].cum_gain == 1.0  # all positives captured at decile 10
    assert abs(rows[10].cum_lift - 1.0) < 1e-9  # full population = base rate


def test_crash_recovery_proof_is_not_vacuous(spark, sf_dir):
    rows = Q.streaming_crash_recovery_readback(spark, sf_dir).collect()
    assert rows, "no output buckets"
    for r in rows:
        assert r.crash_injected_seen, "injected crash never fired"
        assert r.crash_marker_written
        assert r.exactly_once
        assert r.n_batches == 3


def test_doremi_weights_form_distribution(spark, sf_dir):
    rows = Q.doremi_domain_reweight_step(spark, sf_dir).collect()
    total = sum(r.w_reweighted for r in rows)
    assert abs(total - 1.0) < 1e-4  # 6dp-rounded weights, 20 domains
    assert all(r.w_reweighted > 0 for r in rows)
    # higher loss proxy must never get a SMALLER weight than lower loss
    srt = sorted(rows, key=lambda r: r.loss_proxy)
    for a, b in zip(srt, srt[1:]):
        assert a.w_reweighted <= b.w_reweighted + 1e-9


def test_dawid_skene_rates_bounded(spark, sf_dir):
    rows = Q.dawid_skene_one_step(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert 0.0 <= r.sensitivity <= 1.0
        assert 0.0 <= r.specificity <= 1.0
        assert 0 <= r.ds_flips_vs_majority <= r.n_items


def test_hill_alpha_positive(spark, sf_dir):
    r = Q.hill_tail_index(spark, sf_dir).collect()[0]
    assert r.mean_log_excess > 0  # top-200 all exceed the reference
    assert r.hill_alpha > 0


def test_holt_winters_fold_matches_python(spark, sf_dir):
    """Replay the HW recurrence in pure Python on the same daily
    series — catches fold-order regressions the SQL oracle would
    share (both engines replaying the same WRONG recurrence)."""
    from pyspark.sql import functions as FF

    from udacitydatawarehouseprj_spark import session as S

    ev = S.load_table(spark, sf_dir, "events").filter(
        FF.col("value").isNotNull()
    )
    S.configure(spark)
    daily = (
        ev.groupBy(FF.to_date(FF.col("ts").cast("timestamp")).alias("d"))
        .agg((FF.sum(FF.col("value").cast("decimal(38,4)"))
              .cast("double") / FF.count("*")).alias("x"))
        .orderBy("d")
        .collect()
    )
    xs = [r.x for r in daily]
    m1 = sum(xs[:7]) / 7.0
    m2 = sum(xs[7:14]) / 7.0
    l, b = m1, (m2 - m1) / 7.0
    s = [x - m1 for x in xs[:7]]
    for x in xs[7:]:
        lp = 0.3 * (x - s[0]) + 0.7 * (l + b)
        bp = 0.1 * (lp - l) + 0.9 * b
        s = s[1:] + [0.2 * (x - lp) + 0.8 * s[0]]
        l, bb = lp, bp
        b = bb
    got = Q.holt_winters_seasonal(spark, sf_dir).collect()[0]
    assert abs(got.level - round(l, 6)) < 2e-6
    assert abs(got.trend - round(b, 6)) < 2e-6
    assert abs(got.next_seasonal - round(s[0], 6)) < 2e-6
