"""Round-13 wave: the LEARNED-weight reranker exercising the neural
swap seam end-to-end (VERDICT r12 item 7's named candidate).

The DuckDB oracle (tests/test_oracle_parity.py) hash-gates training
AND serving (the learned weights are output columns); these tests pin
the claims the hash can't see — that the scorer still executes as an
Arrow-batched pandas UDF in a candidate-bounded plan, that the weights
relation reaches the UDF via a broadcast join (never a data×data
product, never the driver), that the learned weights live on the
dyadic 1/256 grid (the quantization that keeps them hash-exact), and
that the UDF's linear arithmetic is bit-equal to the same expression
written JVM-side.
"""
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from udacitydatawarehouseprj_spark import queries as Q


def _fx_and_weights(spark, sf_dir):
    """The query's feature pipeline + training aggregation, rebuilt
    independently with Column expressions (no UDF)."""
    from udacitydatawarehouseprj_spark.operators import dedup

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
    docs = Q._t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", dedup.tokens_expr().alias("t"))
    feats = F.broadcast(base).join(toks, "doc_id").select(
        "doc_id", "score", "r_base",
        *[
            F.array_position("t", term).cast("long").alias(f"p{i + 1}")
            for i, term in enumerate(Q._BM25_TERMS)
        ],
    )
    nz = [
        F.when(F.col(f"p{i}") == 0, F.lit(Q._CE_POS_SENTINEL)).otherwise(
            F.col(f"p{i}")
        )
        for i in (1, 2, 3)
    ]
    fx = feats.select(
        "doc_id", "r_base", "score",
        (
            (F.col("p1") > 0).cast("int")
            + (F.col("p2") > 0).cast("int")
            + (F.col("p3") > 0).cast("int")
        ).cast("long").alias("coverage"),
        F.least(
            F.greatest(
                F.greatest("p1", "p2", "p3") - F.least(*nz), F.lit(0)
            ).cast("long"),
            F.lit(Q._NN_POS_CLAMP).cast("long"),
        ).alias("s_c"),
        F.least(
            F.least(*nz).cast("long"), F.lit(Q._NN_POS_CLAMP).cast("long")
        ).alias("fp"),
    )
    is_pos = F.col("r_base") <= 10
    agg = fx.agg(
        F.sum(F.when(is_pos, F.col("coverage")).otherwise(F.lit(0))).alias("cov_pos"),
        F.sum(F.when(~is_pos, F.col("coverage")).otherwise(F.lit(0))).alias("cov_neg"),
        F.sum(F.when(is_pos, F.col("s_c")).otherwise(F.lit(0))).alias("span_pos"),
        F.sum(F.when(~is_pos, F.col("s_c")).otherwise(F.lit(0))).alias("span_neg"),
        F.sum(F.when(is_pos, F.col("fp")).otherwise(F.lit(0))).alias("fp_pos"),
        F.sum(F.when(~is_pos, F.col("fp")).otherwise(F.lit(0))).alias("fp_neg"),
        F.sum(F.when(is_pos, F.lit(1)).otherwise(F.lit(0))).alias("cnt_pos"),
        F.sum(F.when(~is_pos, F.lit(1)).otherwise(F.lit(0))).alias("cnt_neg"),
    )

    def wq(pos, neg):
        delta = (
            F.col(pos).cast("double") / F.col("cnt_pos").cast("double")
            - F.col(neg).cast("double") / F.col("cnt_neg").cast("double")
        )
        return F.floor(F.lit(256.0) * delta + F.lit(0.5)) / F.lit(256.0)

    weights = agg.select(
        wq("cov_pos", "cov_neg").alias("w_cov"),
        wq("span_pos", "span_neg").alias("w_span"),
        wq("fp_pos", "fp_neg").alias("w_fp"),
    )
    return fx, weights


def test_learned_rerank_plan_is_arrow_batched_and_bounded(spark, sf_dir):
    """Same plan bar as the fixed-weight scorer: vectorized Arrow UDF
    (never BatchEvalPython), TakeOrdered candidate truncation, no
    CartesianProduct — and SINGLE-PASS training: the class-mean sums
    are unpartitioned-window aggregates, so the documents table is
    scanned no more times than the fixed-weight scorer scans it (the
    first cut's separate .agg branch cross-joined back recomputed the
    whole BM25 + tokenize front-half: +10 s at sf10, 2x the corpus
    scan at 100 TB)."""
    df = Q.REGISTRY["rerank_learned_weights_eval"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan

    def _n_doc_scans(d):
        p = d._jdf.queryExecution().executedPlan().toString()
        return p.count("documents.parquet")

    fixed = Q.REGISTRY["rerank_neural_scorer_eval"].fn(spark, sf_dir)
    assert _n_doc_scans(df) <= max(_n_doc_scans(fixed), 1)


def test_learned_weights_are_dyadic_and_discriminative(spark, sf_dir):
    """The quantization contract: every learned weight sits exactly on
    the 1/256 grid (an off-grid weight would be a summation-order
    hazard — the reason training uses integer sums only), and the
    class-mean discriminant learned the BM25-consistent direction:
    NEGATIVE span and first-position weights (BM25's term-frequency
    reward concentrates tight, early term occurrences in the top-10,
    so positives have smaller s_c/fp — verified at sf0.001 AND sf0.01:
    w_span ~ -8..-9, w_fp ~ -1..-2, while coverage saturates and lands
    exactly 0). A sign flip means the labels leaked or inverted."""
    rows = (
        Q.REGISTRY["rerank_learned_weights_eval"].fn(spark, sf_dir)
        .select("w_cov", "w_span", "w_fp").distinct().collect()
    )
    assert len(rows) == 1  # one trained model, identical on every row
    w = rows[0]
    for v in (w.w_cov, w.w_span, w.w_fp):
        assert v * 256.0 == float(int(v * 256.0)), f"off-grid weight {v}"
    assert w.w_span < 0.0 and w.w_fp < 0.0
    assert any(v != 0.0 for v in (w.w_cov, w.w_span, w.w_fp))


def test_learned_rerank_udf_matches_column_expression(spark, sf_dir):
    """Replay the served linear model with JVM Column arithmetic over
    the identically-rebuilt features+weights and require row-for-row
    equality with the UDF-served query — a drifting weight, evaluation
    order, or quantization half-rule breaks this even when the
    plumbing is right."""
    fx, weights = _fx_and_weights(spark, sf_dir)
    scored = fx.crossJoin(F.broadcast(weights)).select(
        "doc_id", "r_base", "score", "w_cov", "w_span", "w_fp",
        F.round(
            F.col("w_cov") * F.col("coverage").cast("double")
            + F.col("w_span") * F.col("s_c").cast("double")
            + F.col("w_fp") * F.col("fp").cast("double"),
            6,
        ).alias("learned_score"),
    )
    wf = Window.orderBy(
        F.col("learned_score").desc(), F.col("score").desc(), F.col("doc_id")
    )
    want = sorted(
        tuple(r)
        for r in scored
        .withColumn("r_learned", F.row_number().over(wf).cast("long"))
        .filter(F.col("r_learned") <= 10)
        .select("doc_id", "r_base", "r_learned", "learned_score",
                "w_cov", "w_span", "w_fp")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in Q.REGISTRY["rerank_learned_weights_eval"]
        .fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) == 10


def test_learned_rerank_actually_reorders(spark, sf_dir):
    """The learned model must DO something: the top-10 by learned score
    is not the BM25 top-10 in base order (a passthrough would make the
    end-to-end seam exercise vacuous)."""
    rows = (
        Q.REGISTRY["rerank_learned_weights_eval"].fn(spark, sf_dir)
        .orderBy("r_learned").collect()
    )
    assert any(r.r_base != r.r_learned for r in rows)
