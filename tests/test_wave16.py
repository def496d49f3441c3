"""Round-12 wave: the neural-scorer pandas-UDF swap-in at the rerank
cascade's documented seam (VERDICT r11 item 6).

The DuckDB oracle (tests/test_oracle_parity.py) hash-gates the full
forward pass; these tests pin the claims the hash can't see — that the
scorer really executes as an Arrow-batched pandas UDF inside a
candidate-bounded plan, and that the UDF's arithmetic is bit-equal to
the same MLP written as JVM Column expressions (the two independent
implementations of one expression tree).
"""
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from udacitydatawarehouseprj_spark import queries as Q


def test_neural_rerank_plan_is_arrow_batched_and_bounded(spark, sf_dir):
    """The scorer must be a vectorized Arrow python UDF (ArrowEvalPython
    / ArrowEvalPythonExec — never BatchEvalPython, the row-at-a-time
    path) and the candidate truncation must plan as TakeOrdered, so the
    expensive stage sees ≤100 rows at any corpus size."""
    df = Q.REGISTRY["rerank_neural_scorer_eval"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan


def test_neural_rerank_udf_matches_column_expression_mlp(spark, sf_dir):
    """Replay the identical MLP with F.greatest/F.round Column
    expressions over the identical feature pipeline and require
    row-for-row equality — a drifting weight, association order, or
    ReLU clamp in the UDF body breaks this even if the plumbing is
    right."""
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
    from udacitydatawarehouseprj_spark.operators import dedup

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
    cov = (
        (F.col("p1") > 0).cast("int")
        + (F.col("p2") > 0).cast("int")
        + (F.col("p3") > 0).cast("int")
    ).cast("double")
    s_c = F.least(
        F.greatest(
            F.greatest("p1", "p2", "p3") - F.least(*nz), F.lit(0)
        ).cast("long"),
        F.lit(Q._NN_POS_CLAMP).cast("long"),
    ).cast("double")
    fp = F.least(
        F.least(*nz).cast("long"), F.lit(Q._NN_POS_CLAMP).cast("long")
    ).cast("double")
    w = {k: tuple(float(x) for x in v) for k, v in Q._NN_W.items()}
    h1 = F.greatest(
        w["h1"][0] * cov - w["h1"][1] * s_c - w["h1"][2] * fp
        + w["h1"][3] * F.col("score") - w["h1"][4],
        F.lit(0.0),
    )
    h2 = F.greatest(
        w["h2"][0] * cov + w["h2"][1] * F.col("score") - w["h2"][2],
        F.lit(0.0),
    )
    h3 = F.greatest(
        w["h3"][0] * s_c + w["h3"][1] * fp - w["h3"][2] * cov, F.lit(0.0)
    )
    nn = F.round(
        w["out"][0] * h1 + w["out"][1] * h2 - w["out"][2] * h3, 6
    )
    wf = Window.orderBy(F.col("nn_score").desc(), F.col("doc_id"))
    want = sorted(
        tuple(r)
        for r in feats.select(
            "doc_id", "r_base",
            cov.cast("long").alias("coverage"),
            nn.alias("nn_score"),
        )
        .withColumn("r_rerank", F.row_number().over(wf).cast("long"))
        .filter(F.col("r_rerank") <= 10)
        .select("doc_id", "r_base", "r_rerank", "coverage", "nn_score")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in Q.REGISTRY["rerank_neural_scorer_eval"]
        .fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) == 10


def test_neural_rerank_actually_reorders(spark, sf_dir):
    """The MLP must DO something: the reranked top-10 is not the base
    top-10 in base order (otherwise the swap-in seam is vacuous —
    the scorer output would be indistinguishable from a passthrough)."""
    rows = (
        Q.REGISTRY["rerank_neural_scorer_eval"].fn(spark, sf_dir)
        .orderBy("r_rerank").collect()
    )
    assert any(r.r_base != r.r_rerank for r in rows)
