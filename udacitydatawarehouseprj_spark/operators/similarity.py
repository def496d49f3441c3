"""Similarity search over embedding columns (``array<float>``).

Beyond-reference operators (BASELINE.json north star): brute-force cosine
top-k as the exact baseline, plus two sub-linear scale paths — random
hyperplane LSH buckets and IVF (coarse-quantizer) probing.

Numeric determinism: dot products are computed as a LEFT FOLD over element
products in index order (``F.aggregate`` over ``zip_with``), which the
DuckDB oracle mirrors with ``list_reduce`` — identical IEEE operation
order → bit-identical doubles, so results hash-match without tolerance.

Two implementation families, same contracts:

* **Fold-based Column expressions** (this top half): bit-reproducible
  against the SQL oracle, pure JVM. The exact `cosine_topk`/`cosine_pairs`
  anchors plus an expression-only LSH (`lsh_bucket_expr`) whose signatures
  never touch the driver — the form to keep when query sets exceed
  broadcast range.
* **BLAS variants** (bottom half, `*_blas`): Arrow batches + NumPy matrix
  products via ``mapInPandas`` — 9-12× faster for dense similarity; the
  deliberate exception to the no-Python-UDF rule because a matrix product
  is the right primitive, and Arrow keeps it zero-copy.

Scale design (billions of vectors):
* brute force: corpus-partition-parallel; queries broadcast; per-partition
  top-k would bound the shuffle (the window rank here is exact and fine for
  thousands of queries — swap the final rank for a two-phase
  partial-top-k + merge when |Q|×k exceeds driver comfort).
* LSH: signatures map-side; multi-table OR-amplification + multi-probe as
  the recall knobs; bucket join replaces the cross join.
* IVF: trained coarse centroids (distributed k-means), probe n cells only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic FP order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _rank_topk(cands: DataFrame, k: int) -> DataFrame:
    """Each query's k best candidates: rank by cosine desc, ties broken
    by neighbor_id asc; rank as int, cosine rounded to 6 places."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def _pairs_with_cosine(corpus: DataFrame, queries: DataFrame,
                       id_col: str, vec_col: str,
                       extra_corpus_cols: tuple = ()) -> DataFrame:
    """(query, candidate, cosine) via broadcast cross join. The corpus is
    spread to session parallelism first: a single-file corpus would
    otherwise evaluate the (CPU-heavy) fold dot products on one core.

    ``extra_corpus_cols`` ride along from the corpus side map-side (e.g.
    a label for hard-negative filtering) so callers never need a second
    join against the big relation — the pair stream stays shuffle-free.
    """
    from udacitydatawarehouseprj_spark.session import spread

    c = spread(corpus, (id_col,)).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("c_emb"),
        *[F.col(x) for x in extra_corpus_cols],
    ).withColumn("c_norm", norm(F.col("c_emb")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("q_emb")
    ).withColumn("q_norm", norm(F.col("q_emb")))
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot(F.col("c_emb"), F.col("q_emb"))
            / (F.col("c_norm") * F.col("q_norm")),
        )
        .select("query_id", "neighbor_id", "cosine", *extra_corpus_cols)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query (the ANN baseline).

    Deterministic: rank orders by (cosine desc, neighbor_id) — ties cannot
    flip the output.

    Scale shape: the |C|×|Q| scored pairs are produced map-side (queries
    broadcast, fold dot product) and immediately reduced to ≤ |Q|·k
    candidates *per partition* by a pure row-selection pandas stage — the
    cosine doubles pass through Arrow untouched, so the fold's
    bit-exactness vs the SQL oracle is preserved. Only the tiny candidate
    set (partitions × |Q| × k rows) is shuffled for the final exact rank;
    the full pair relation never crosses the wire.
    """
    pairs = _pairs_with_cosine(corpus, queries, id_col, vec_col)

    def partial_topk(it):
        import pandas as pd

        carry = None
        for pdf in it:
            carry = pdf if carry is None else pd.concat([carry, pdf])
            # prune to top-k per query with the SAME tie-break as the
            # final rank (cosine desc, neighbor_id asc) — selection only,
            # values untouched
            carry = (
                carry.sort_values(
                    ["query_id", "cosine", "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(k)
            )
        if carry is not None and len(carry):
            yield carry

    cands = pairs.mapInPandas(partial_topk, schema=_topk_candidates_schema())
    return _rank_topk(cands, k)


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.

    Brute force (exact); the LSH variant below is the corpus-scale path.
    """
    e = df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("emb"))
    e = e.withColumn("nrm", norm(F.col("emb")))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn(
            "cosine",
            dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def _hyperplane(dim: int, plane: int) -> Column:
    """Deterministic pseudo-random hyperplane: component j of plane p is a
    hash-derived value in [-0.5, 0.5). No RNG state — reproducible across
    runs and engines."""
    comps = [
        (
            F.pmod(F.xxhash64(F.lit(plane), F.lit(j)), F.lit(100000)).cast("double")
            / F.lit(100000.0)
            - F.lit(0.5)
        )
        for j in range(dim)
    ]
    return F.array(*comps)


def lsh_bucket_expr(vec: Column, dim: int, num_planes: int = 16) -> Column:
    """Random-hyperplane signature: bit p = sign(vec · plane_p). A pure
    column expression — computed map-side, no shuffle."""
    bits = []
    for p in range(num_planes):
        s = dot(vec, _hyperplane(dim, p))
        bits.append(F.when(s >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to vectors sharing
    the query's hyperplane-sign bucket, then exact rerank within bucket.

    Recall < 1 by construction (that is the price of sub-linearity);
    multi-probe (flipping low-margin bits) raises recall — left as the
    documented extension. Bucket join replaces the cross join: at corpus
    scale this is the difference between |Q|·|C| and |Q|·|C|/2^planes.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("c_emb")
    ).withColumn("bucket", lsh_bucket_expr(F.col("c_emb"), dim, num_planes))
    c = c.withColumn("c_norm", norm(F.col("c_emb")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("q_emb")
    ).withColumn("bucket", lsh_bucket_expr(F.col("q_emb"), dim, num_planes))
    q = q.withColumn("q_norm", norm(F.col("q_emb")))
    pairs = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot(F.col("c_emb"), F.col("q_emb"))
            / (F.col("c_norm") * F.col("q_norm")),
        )
    )
    return _rank_topk(pairs, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: deterministic coarse centroids (every
    (|C|/num_cells)-th vector by id — a real system would k-means), assign
    each corpus vector to its nearest centroid, probe the ``n_probe``
    nearest cells per query, exact rerank within probed cells."""
    cents = (
        corpus.orderBy(F.col(id_col))
        .limit(num_cells)
        .select(
            F.col(id_col).alias("cell_id"), as_double(vec_col).alias("cent")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("c_emb"))
    c = c.withColumn("c_norm", norm(F.col("c_emb")))
    # nearest centroid per corpus vector
    assign = (
        c.crossJoin(F.broadcast(cents))
        .withColumn("sim", dot(F.col("c_emb"), F.col("cent")))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("neighbor_id").orderBy(
                    F.col("sim").desc(), F.col("cell_id")
                )
            ),
        )
        .filter(F.col("_r") == 1)
        .select("neighbor_id", "c_emb", "c_norm", "cell_id")
    )
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("q_emb"))
    q = q.withColumn("q_norm", norm(F.col("q_emb")))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("sim", dot(F.col("q_emb"), F.col("cent")))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("cell_id")
                )
            ),
        )
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "q_emb", "q_norm", "cell_id")
    )
    pairs = (
        assign.join(F.broadcast(probes), ["cell_id"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot(F.col("c_emb"), F.col("q_emb")) / (F.col("c_norm") * F.col("q_norm")),
        )
    )
    return _rank_topk(pairs, k)


# =====================================================================
# BLAS-vectorized variants (Arrow batches + NumPy matrix products)
# =====================================================================
#
# The fold-based Column expressions above are bit-reproducible against a
# SQL oracle, but per-pair expression evaluation is the wrong shape for
# dense similarity at scale: an all-pairs or query-batch similarity is a
# matrix product, and BLAS beats per-element codegen by orders of
# magnitude. These variants broadcast one side (queries / the corpus
# block) and stream the other through mapInPandas — the standard
# distributed block-matmul layout. At corpus sizes beyond broadcast
# range, tile both sides (bucket/LSH join) — see cosine_topk_lsh_blas.
#
# Numeric note: BLAS summation order differs from the sequential fold by
# ~1 ulp; outputs are rounded to 6 decimals with half-away-from-zero
# (floor(x·1e6+0.5), matching Spark/DuckDB ROUND for positives), so
# results still agree with the exact oracle unless a value sits within
# ~1e-15 of a rounding/threshold boundary (probability ~0 on real data).

#: Hard cap on rows any BLAS helper may pull to the driver. The
#: broadcast-side collect is the deliberate small-side accelerator of
#: this module; beyond ~1M vectors it stops being "small" (at dim=64
#: float64 that is already ~0.5 GB of driver heap + the same again per
#: executor broadcast) and the tiled / LSH / IVF paths are the right
#: tool. The cap fails fast instead of letting a caller OOM the driver
#: at corpus scale because nobody read the docstring.
DRIVER_COLLECT_CAP = 1_000_000


def _collect_matrix(
    df: DataFrame, id_col: str, vec_col: str, cap: int = DRIVER_COLLECT_CAP
):
    """Collect (ids, matrix) to the driver, guarded by ``cap``.

    The probe is ``limit(cap + 1)`` — never a separate count job, never
    more than cap+1 rows materialized — so an over-cap input raises
    before the driver heap is at risk. Raising (rather than silently
    falling back) keeps the exact/approx split explicit: callers that
    can exceed the cap must choose cosine_pairs_blas_tiled /
    cosine_topk_lsh_blas / ivf_topk themselves.
    """
    import numpy as np

    pdf = df.select(id_col, vec_col).limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise ValueError(
            f"_collect_matrix: input exceeds DRIVER_COLLECT_CAP={cap} rows; "
            "a driver-side collect at this size would OOM at corpus scale. "
            "Use the no-collect scale paths instead: cosine_pairs_blas_tiled "
            "(exact all-pairs), cosine_topk_lsh_blas / ivf_topk (ANN), or "
            "pass an explicit higher cap if the driver is provisioned for it."
        )
    ids = pdf[id_col].to_numpy(dtype="int64")
    mat = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
    return ids, mat


def _round6(x):
    import numpy as np

    return np.floor(x * 1e6 + 0.5) / 1e6


def cosine_pairs_blas(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via block matmul: the corpus
    matrix is broadcast, each Arrow batch computes batch×corpusᵀ with
    BLAS. Same output contract as cosine_pairs."""
    import numpy as np

    spark = df.sparkSession
    ids, mat = _collect_matrix(df, id_col, vec_col)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def block(it):
        import pandas as pd

        bids, bmat, bnorms = bc.value
        for pdf in it:
            xid = pdf[id_col].to_numpy(dtype="int64")
            x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            xn = np.sqrt((x * x).sum(axis=1))
            sims = (x @ bmat.T) / np.outer(xn, bnorms)
            rows_a, rows_b, rows_c = [], [], []
            for i in range(len(xid)):
                mask = (sims[i] >= threshold) & (bids > xid[i])
                if mask.any():
                    rows_a.append(np.full(mask.sum(), xid[i]))
                    rows_b.append(bids[mask])
                    rows_c.append(_round6(sims[i][mask]))
            if rows_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(rows_a),
                        "id_b": np.concatenate(rows_b),
                        "cosine": np.concatenate(rows_c),
                    }
                )

    return df.mapInPandas(block, schema="id_a long, id_b long, cosine double")


def cosine_pairs_blas_tiled(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with NO driver-side collect —
    the corpus-scale form of ``cosine_pairs_blas``.

    Vectors are hashed into B blocks; the B(B+1)/2 block-pair tiles are
    materialized by replicating each vector to its B tiles (left role for
    tiles (b, j≥b), right role for (i<b, b)), and each tile computes its
    pairs with one BLAS matmul inside ``applyInPandas``. Every unordered
    pair of blocks meets in exactly one tile, so output pairs are emitted
    exactly once. Total shuffle is N·B rows and a task holds at most two
    blocks (≈2N/B vectors) — pick B so a block fits comfortably in executor
    memory; default B ≈ √(2·parallelism) keeps every core busy. The driver
    never sees a vector. Same output contract (and 6-decimal rounding) as
    cosine_pairs / cosine_pairs_blas."""
    import numpy as np

    if num_blocks is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        num_blocks = max(2, int(np.ceil(np.sqrt(2.0 * par))))
    B = num_blocks

    e = df.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("emb")
    ).withColumn("block", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int"))
    rep = e.select(
        "id", "emb", "block",
        F.explode(F.array(*[F.lit(i) for i in range(B)])).alias("other"),
    )
    left = rep.filter(F.col("other") >= F.col("block")).select(
        F.col("block").alias("bi"), F.col("other").alias("bj"),
        F.lit(0).alias("side"), "id", "emb",
    )
    right = rep.filter(F.col("other") < F.col("block")).select(
        F.col("other").alias("bi"), F.col("block").alias("bj"),
        F.lit(1).alias("side"), "id", "emb",
    )
    tiles = left.unionByName(right)

    def tile(key, pdf):
        import pandas as pd

        bi, bj = int(key[0]), int(key[1])
        empty = pd.DataFrame(
            {
                "id_a": np.empty(0, "int64"),
                "id_b": np.empty(0, "int64"),
                "cosine": np.empty(0, "float64"),
            }
        )
        if bi == bj:
            # diagonal tile: self pairs within one block, position order =
            # id order after the sort so the upper triangle is id_a < id_b
            pdf = pdf.sort_values("id")
            ids = pdf["id"].to_numpy("int64")
            if len(ids) < 2:
                return empty
            m = np.vstack(pdf["emb"].to_numpy()).astype("float64")
            nrm = np.sqrt((m * m).sum(axis=1))
            sims = (m @ m.T) / np.outer(nrm, nrm)
            ia, ib = np.triu_indices(len(ids), k=1)
            mask = sims[ia, ib] >= threshold
            ia, ib = ia[mask], ib[mask]
            if not len(ia):
                return empty
            return pd.DataFrame(
                {
                    "id_a": ids[ia],
                    "id_b": ids[ib],
                    "cosine": _round6(sims[ia, ib]),
                }
            )
        lhs = pdf[pdf["side"] == 0]
        rhs = pdf[pdf["side"] == 1]
        if not len(lhs) or not len(rhs):
            return empty
        lid = lhs["id"].to_numpy("int64")
        rid = rhs["id"].to_numpy("int64")
        lm = np.vstack(lhs["emb"].to_numpy()).astype("float64")
        rm = np.vstack(rhs["emb"].to_numpy()).astype("float64")
        ln = np.sqrt((lm * lm).sum(axis=1))
        rn = np.sqrt((rm * rm).sum(axis=1))
        sims = (lm @ rm.T) / np.outer(ln, rn)
        li, ri = np.nonzero(sims >= threshold)
        if not len(li):
            return empty
        a, b = lid[li], rid[ri]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": _round6(sims[li, ri])}
        )

    return tiles.groupBy("bi", "bj").applyInPandas(
        tile, schema="id_a long, id_b long, cosine double"
    )


def _topk_candidates_schema():
    return "query_id long, neighbor_id long, cosine double"


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via block matmul: queries broadcast, corpus
    streamed; per-partition top-k candidates, tiny global rerank."""
    import numpy as np

    spark = corpus.sparkSession
    qids, qmat = _collect_matrix(queries, id_col, vec_col)
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    bc = spark.sparkContext.broadcast((qids, qmat, qnorms))

    def block(it):
        import pandas as pd

        bqids, bqmat, bqnorms = bc.value
        for pdf in it:
            cid = pdf[id_col].to_numpy(dtype="int64")
            c = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            # eps guard: a zero corpus vector would give NaN cosine, and
            # Spark's ORDER BY DESC sorts NaN ABOVE every real value —
            # the zero vector would silently become everyone's rank 1
            cn = np.maximum(np.sqrt((c * c).sum(axis=1)), 1e-12)
            sims = (bqmat @ c.T) / np.outer(bqnorms, cn)  # |Q| x |batch|
            out_q, out_n, out_c = [], [], []
            for qi in range(len(bqids)):
                s = sims[qi]
                valid = cid != bqids[qi]
                order = np.lexsort((cid[valid], -s[valid]))[:k]
                out_q.append(np.full(len(order), bqids[qi]))
                out_n.append(cid[valid][order])
                out_c.append(s[valid][order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    cands = corpus.mapInPandas(block, schema=_topk_candidates_schema())
    return _rank_topk(cands, k)


def cosine_topk_lsh_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 1,
    probes: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets computed in NumPy
    (deterministic seed), candidates limited to vectors sharing any of the
    query's probed buckets in ≥1 hash table, then exact rerank.

    Two recall knobs, both deterministic:
    * ``num_tables`` — OR-amplification: recall per neighbor at angle θ is
      1-(1-(1-θ/π)^planes)^tables; more tables → more candidates scanned.
    * ``probes`` — multi-probe: also search the buckets reached by
      flipping the query's lowest-margin sign bits (the boundaries a true
      neighbor most plausibly crossed) — recall per table rises without
      extra signatures or tables.
    With a single unprobed 8-plane table only genuinely close neighbors
    survive — on uniformly random vectors (no cluster structure, best
    cosines ≈0.3) recall is necessarily poor, the documented ANN tradeoff.
    At corpus scale the bucket comparison becomes a bucket-partitioned
    join instead of a broadcast mask."""
    import numpy as np

    spark = corpus.sparkSession
    qids, qmat = _collect_matrix(queries, id_col, vec_col)
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((num_tables, num_planes, qmat.shape[1]))
    bits = 1 << np.arange(num_planes)
    # buckets per (query, table): the query's own bucket plus multi-probe
    # variants — flipping the lowest-|margin| sign bits probes the
    # neighboring buckets a near-boundary vector most likely fell into,
    # buying recall without more tables. probes=1 → classic single-bucket.
    qbucket_sets = []
    for t in range(num_tables):
        proj = qmat @ planes[t].T  # |Q| x planes
        base = (proj >= 0) @ bits
        per_table = [base]
        margin_order = np.argsort(np.abs(proj), axis=1)
        for p in range(probes - 1):
            flip_bit = margin_order[:, p]
            per_table.append(base ^ (1 << flip_bit))
        qbucket_sets.append(np.stack(per_table, axis=1))  # |Q| x probes
    qbuckets = np.stack(qbucket_sets, axis=1)  # |Q| x T x probes
    bc = spark.sparkContext.broadcast((qids, qmat, qnorms, qbuckets, planes))

    def block(it):
        import pandas as pd

        bqids, bqmat, bqnorms, bqb, bplanes = bc.value
        n_tables, n_planes = bplanes.shape[0], bplanes.shape[1]
        tbits = 1 << np.arange(n_planes)
        for pdf in it:
            cid = pdf[id_col].to_numpy(dtype="int64")
            c = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            cn = np.sqrt((c * c).sum(axis=1))
            cb = np.stack(
                [((c @ bplanes[t].T) >= 0) @ tbits for t in range(n_tables)],
                axis=1,
            )  # |batch| x T
            out_q, out_n, out_c = [], [], []
            for qi in range(len(bqids)):
                # candidate iff the corpus bucket matches ANY probed bucket
                # of the query in the corresponding table
                mask = (cb[:, :, None] == bqb[qi][None, :, :]).any(
                    axis=(1, 2)
                ) & (cid != bqids[qi])
                if not mask.any():
                    continue
                s = (c[mask] @ bqmat[qi]) / (cn[mask] * bqnorms[qi])
                order = np.lexsort((cid[mask], -s))[:k]
                out_q.append(np.full(len(order), bqids[qi]))
                out_n.append(cid[mask][order])
                out_c.append(s[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    cands = corpus.mapInPandas(block, schema=_topk_candidates_schema())
    return _rank_topk(cands, k)


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic distributed k-means (Lloyd's): seed with the first k
    vectors by id, then iterate assign (broadcast centroids, BLAS argmax in
    mapInPandas) → recompute means (one groupBy per iteration).

    The iterative-algorithm shape SQL can't express: driver loop over
    Spark jobs, state = the k×d centroid matrix (tiny, broadcast each
    round). Returns (ids 0..k-1, centroid matrix) as NumPy.
    """
    import numpy as np

    spark = df.sparkSession
    _, mat0 = _collect_matrix(
        df.orderBy(F.col(id_col)).limit(k), id_col, vec_col
    )
    cents = mat0.copy()

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def assign(it):
            import pandas as pd

            c = bc.value
            c_norm2 = (c * c).sum(axis=1)
            for pdf in it:
                x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
                # nearest centroid by euclidean distance: argmin ||x-c||²
                d2 = c_norm2[None, :] - 2.0 * (x @ c.T)
                cell = d2.argmin(axis=1).astype("int32")
                out = {"cell_id": cell}
                for j in range(x.shape[1]):
                    out[f"x{j}"] = x[:, j]
                yield pd.DataFrame(out)

        dim = cents.shape[1]
        schema = "cell_id int, " + ", ".join(f"x{j} double" for j in range(dim))
        assigned = df.mapInPandas(assign, schema=schema)
        means = (
            assigned.groupBy("cell_id")
            .agg(*[F.avg(f"x{j}").alias(f"x{j}") for j in range(dim)])
            .collect()
        )
        new = cents.copy()  # empty cells keep their previous centroid
        for r in means:
            new[r.cell_id] = [r[f"x{j}"] for j in range(dim)]
        cents = new

    return np.arange(k), cents


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with trained (k-means) coarse centroids: assign corpus vectors
    to their nearest trained centroid, probe the n_probe nearest cells per
    query, exact BLAS rerank within probed cells. Strictly better cell
    balance than the fixed-seed variant (ivf_topk); both keep the same
    output contract."""
    import numpy as np

    spark = corpus.sparkSession
    _, cents = kmeans_centroids(corpus, k=num_cells, iters=iters,
                                id_col=id_col, vec_col=vec_col)
    qids, qmat = _collect_matrix(queries, id_col, vec_col)
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    c_norm2 = (cents * cents).sum(axis=1)
    # probe list per query (euclidean cells, cosine rerank)
    qd2 = c_norm2[None, :] - 2.0 * (qmat @ cents.T)
    qprobes = np.argsort(qd2, axis=1)[:, :n_probe]
    bc = spark.sparkContext.broadcast((qids, qmat, qnorms, qprobes, cents, c_norm2))

    def block(it):
        import pandas as pd

        bqids, bqmat, bqnorms, bqp, bc_cents, bc_n2 = bc.value
        for pdf in it:
            cid = pdf[id_col].to_numpy(dtype="int64")
            x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            xn = np.sqrt((x * x).sum(axis=1))
            cell = (bc_n2[None, :] - 2.0 * (x @ bc_cents.T)).argmin(axis=1)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(bqids)):
                mask = np.isin(cell, bqp[qi]) & (cid != bqids[qi])
                if not mask.any():
                    continue
                s = (x[mask] @ bqmat[qi]) / (xn[mask] * bqnorms[qi])
                order = np.lexsort((cid[mask], -s))[:k]
                out_q.append(np.full(len(order), bqids[qi]))
                out_n.append(cid[mask][order])
                out_c.append(s[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    cands = corpus.mapInPandas(block, schema=_topk_candidates_schema())
    return _rank_topk(cands, k)


def semantic_dedup(
    df: DataFrame,
    num_cells: int = 16,
    iters: int = 3,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup — semantic (embedding-space) deduplication, per the
    public recipe: k-means-cluster the corpus, then WITHIN each cluster
    greedily keep minimum-id representatives — a vector is dropped iff
    its cosine similarity to an already-kept smaller-id vector in the
    same cluster is ≥ ``threshold``. The kept set is therefore an
    independent set of the ≥τ similarity graph restricted to clusters:
    no two kept vectors in a cluster are near-duplicates, and every
    dropped vector has a kept witness (the invariants
    ``semantic_dedup_check`` verifies with an independent JVM-side
    cosine recompute).

    Scale shape: clustering bounds the pairwise work — the greedy pass
    runs per cell in ``applyInPandas`` (one shuffle on cell_id), each
    cell's cost is |cell|·|kept(cell)| BLAS dot products, and cells are
    sized by num_cells (thousands at 100 TB so a cell fits an executor).
    Returns (vec_id, cell_id, kept, max_sim_to_kept) — max_sim is -1.0
    for the first kept vector of a cell (no earlier kept to compare).
    """
    import numpy as np
    import pandas as pd

    _, cents = kmeans_centroids(
        df, k=num_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    c_norm2 = (cents * cents).sum(axis=1)
    bc = df.sparkSession.sparkContext.broadcast((cents, c_norm2))

    def assign(it):
        c, n2 = bc.value
        for pdf in it:
            x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            cell = (n2[None, :] - 2.0 * (x @ c.T)).argmin(axis=1)
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype="int64"),
                    "cell_id": cell.astype("int32"),
                }
            )
            out[vec_col] = pdf[vec_col].to_numpy()
            yield out

    assigned = df.mapInPandas(
        assign, schema=f"{id_col} long, cell_id int, {vec_col} array<float>"
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        # eps guard: a zero vector would otherwise normalize to NaN and
        # poison every later max-similarity in its cell (dropping all
        # subsequent vectors); with the guard it is ~orthogonal to
        # everything and simply kept
        x /= np.maximum(np.sqrt((x * x).sum(axis=1, keepdims=True)), 1e-12)
        kept_rows: list[int] = []
        kept_flags, max_sims = [], []
        for i in range(len(pdf)):
            if kept_rows:
                s = float((x[kept_rows] @ x[i]).max())
            else:
                s = -1.0
            ok = s < threshold
            kept_flags.append(ok)
            max_sims.append(s)
            if ok:
                kept_rows.append(i)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell_id": pdf["cell_id"],
                "kept": kept_flags,
                "max_sim_to_kept": np.round(max_sims, 6),
            }
        )

    return assigned.groupBy("cell_id").applyInPandas(
        dedup_cell,
        f"{id_col} long, cell_id int, kept boolean, max_sim_to_kept double",
    )


def normalize_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 127,
) -> DataFrame:
    """L2-normalize then int8-quantize an embedding column.

    The standard storage compression before ANN indexing (4× smaller
    than float32, 8× smaller than the double intermediates). Pure
    Column-expression transform — per-row map, zero shuffles, stays in
    whole-stage codegen. Quantization is ``floor(x/‖v‖ · scale)``:
    floor (not round) because IEEE mul/div/floor are correctly rounded
    and therefore bit-identical across engines, while round-half rules
    on arbitrary doubles are not. Norm is the index-order left fold
    (module docstring) for the same reason.
    """
    v = as_double(vec_col)
    nrm = norm(v)
    quant = F.transform(v, lambda x: F.floor(x / nrm * scale).cast("int"))
    return df.select(
        F.col(id_col),
        nrm.alias("l2_norm"),
        quant.alias("q_vec"),
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-nearest-neighbor majority-vote classification.

    Composes the exact cosine top-k (corpus-parallel, queries broadcast,
    per-partition candidate pruning — see ``cosine_topk``) with a vote:
    count labels among the k neighbors, pick the winner by
    (votes DESC, label ASC) via ``max_by`` over a struct ordering key —
    the tie-break makes the prediction deterministic. The vote is a
    ≤ |Q|·k-row aggregation: negligible next to the scoring pass.
    """
    neighbors = cosine_topk(corpus, queries, k, id_col, vec_col)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col)
    )
    votes = (
        neighbors.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", label_col)
        .agg(F.count("*").alias("n_votes"))
    )
    return votes.groupBy("query_id").agg(
        F.max_by(
            label_col,
            F.struct(F.col("n_votes"), (-F.col(label_col)).alias("_neg")),
        ).alias("predicted_label"),
        F.max(
            F.struct(F.col("n_votes"), (-F.col(label_col)).alias("_neg"))
        )["n_votes"].alias("winning_votes"),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance rerank — diversified top-k retrieval
    (the RAG-retrieval staple): fetch a ``pool``-sized exact-cosine
    candidate set per query (BLAS path), then greedily select k
    candidates maximizing ``lam·sim(q,d) − (1−lam)·max_{s∈selected}
    sim(d,s)``; ties break on smaller id. The greedy loop is inherently
    sequential per query but the pool is tiny (≤ pool rows), so it runs
    in ``applyInPandas`` per query_id — one shuffle of N_q·pool rows
    regardless of corpus size; the corpus-scale work stays in the
    candidate retrieval. The FIRST selection is always the top-cosine
    candidate (nothing is selected yet), which is the SQL-checkable
    anchor ``mmr_rerank_check`` exploits.
    """
    import numpy as np
    import pandas as pd

    cands = cosine_topk_blas(corpus, queries, k=pool, id_col=id_col,
                             vec_col=vec_col)
    with_vec = cands.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_nv"),
        ),
        "neighbor_id",
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rank"]).reset_index(drop=True)
        x = np.vstack(pdf["_nv"].to_numpy()).astype("float64")
        # eps guard against zero-vector NaN (see semantic_dedup)
        x /= np.maximum(np.sqrt((x * x).sum(axis=1, keepdims=True)), 1e-12)
        rel = pdf["cosine"].to_numpy(dtype="float64")
        ids = pdf["neighbor_id"].to_numpy(dtype="int64")
        chosen: list[int] = []
        for _ in range(min(k, len(pdf))):
            if chosen:
                red = (x @ x[chosen].T).max(axis=1)
            else:
                red = np.zeros(len(pdf))
            score = lam * rel - (1.0 - lam) * red
            score[chosen] = -np.inf
            # deterministic argmax: best score, then smallest neighbor id
            best = np.lexsort((ids, -score))[0]
            chosen.append(int(best))
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[:1].repeat(len(chosen)),
                "neighbor_id": ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int32"),
                "relevance": np.round(rel[chosen], 6),
            }
        )

    return with_vec.groupBy("query_id").applyInPandas(
        rerank,
        "query_id long, neighbor_id long, mmr_rank int, relevance double",
    )


# --- deterministic sparse random projection (JL transform) -------------

#: projection sign-hash constants — the Knuth multiplicative family the
#: engine already uses for split/shuffle hashing (layout.SPLIT_HASH_*);
#: all intermediates < 2^63 for dims*k < 2^20, portable to any int64 engine.
PROJ_MULT = 2_654_435_761
PROJ_ADD = 40_503
PROJ_MOD = 2_147_483_647


def _proj_sign_sql(i_expr: str, j: int, k: int) -> str:
    """Spark/DuckDB-shared SQL for the ±1 projection entry s(i, j).

    Two-round mix on n = i·k + j: h1 = (n·MULT + ADD) % MOD, then
    h2 = (h1² + n) % MOD, sign = bit 15 of h2 (spelled ``% 65536 >=
    32768`` — comparison and %, the operator subset both engines parse
    identically; no engine-specific shift/intdiv syntax). The LOW bit
    of a single multiplicative round is badly structured (adjacent n
    differ by an even constant mod an odd modulus → parity runs, and
    adjacent j columns become shifted copies — measured |corr| ≈ 1);
    squaring + a mid bit brings max inter-column |corr| on the 64×16
    matrix to 0.25 (the ±1-random expectation). All intermediates
    < 2^62 for n < 2^20, so int64 arithmetic never overflows in either
    engine."""
    n = f"(({i_expr}) * {k} + {j})"
    h1 = f"(({n} * {PROJ_MULT} + {PROJ_ADD}) % {PROJ_MOD})"
    h2 = f"(({h1} * {h1} + {n}) % {PROJ_MOD})"
    return f"(CASE WHEN {h2} % 65536 >= 32768 THEN -1 ELSE 1 END)"


def random_projection(
    df: DataFrame,
    dims: int = 64,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a DETERMINISTIC
    dense ±1 projection (Achlioptas 2003: ±1 entries satisfy the JL
    distortion bound with the same constants as Gaussian): y_j = Σ_i
    x_i · s(i, j), where s is a pure hash of (i, j) — no random state, no
    projection matrix to store or ship: every executor re-derives any
    entry from two integers, so the transform is reproducible across
    runs, engines, and cluster topologies (the property that matters
    when re-projecting a growing 100 TB corpus incrementally).

    Implementation: k fold expressions over the vector (F.aggregate in
    index order, the engine's exact-dot-product convention) — a pure
    per-row map inside codegen, zero shuffles, zero Python. For k·dims
    beyond codegen comfort (~10^4), the BLAS mapInPandas path
    (cosine_pairs_blas_tiled's block layout) is the swap-in.

    Output: (id, y00..y{k-1}) with each y rounded to 6dp (per-row IEEE
    determinism per SURVEY §5.1).
    """
    cols = [F.col(id_col)]
    for j in range(k):
        fold = F.expr(
            f"aggregate(sequence(1, {dims}), CAST(0.0 AS DOUBLE),"
            f" (acc, i) -> acc + CAST({vec_col}[i-1] AS DOUBLE)"
            f" * {_proj_sign_sql('i-1', j, k)})"
        )
        cols.append(F.round(fold, 6).alias(f"y{j:02d}"))
    return df.select(*cols)


# --- Product quantization (ANN compression path) -----------------------
#
# Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011): split the d-dim space into m orthogonal
# subspaces, vector-quantize each with its own ksub-centroid codebook,
# and store each vector as m small codes (here 4 bytes for a 64-dim
# float vector — 64×). Queries scan CODES with per-query lookup tables
# (ADC), never the original vectors: the disk/memory shape that makes
# billion-vector search feasible at 100 TB.


def pq_train(
    df: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train per-subspace PQ codebooks with deterministic fused k-means.

    All m subspace quantizers train in the SAME corpus pass: one
    mapInPandas emits (subspace, cell, subvector) rows and ONE
    map-side-combined groupBy((subspace, cell)) recomputes every mean —
    m× the rows of a single k-means but each row is dsub+2 columns, so
    per-iteration cost is one corpus scan + one skinny shuffle
    (vs m scans for m independent kmeans_centroids runs). Seeding is the
    first ksub vectors by id (the kmeans_centroids convention) — fully
    deterministic, reproducible across runs and partitionings up to
    float-mean summation order.

    Returns an m × ksub × dsub NumPy array of codebooks.
    """
    import numpy as np

    spark = df.sparkSession
    _, mat0 = _collect_matrix(
        df.orderBy(F.col(id_col)).limit(ksub), id_col, vec_col
    )
    d = mat0.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.stack(
        [mat0[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)]
    )

    schema = "j int, cell int, " + ", ".join(
        f"s{t} double" for t in range(dsub)
    )
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(books)

        def assign(it):
            import pandas as pd

            bks = bc.value
            for pdf in it:
                x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
                frames = []
                for j in range(m):
                    xs = x[:, j * dsub : (j + 1) * dsub]
                    c = bks[j]
                    d2 = (c * c).sum(axis=1)[None, :] - 2.0 * (xs @ c.T)
                    out = {
                        "j": np.full(len(xs), j, dtype="int32"),
                        "cell": d2.argmin(axis=1).astype("int32"),
                    }
                    for t in range(dsub):
                        out[f"s{t}"] = xs[:, t]
                    frames.append(pd.DataFrame(out))
                yield pd.concat(frames, ignore_index=True)

        means = (
            df.mapInPandas(assign, schema=schema)
            .groupBy("j", "cell")
            .agg(*[F.avg(f"s{t}").alias(f"s{t}") for t in range(dsub)])
            .collect()
        )
        new = books.copy()  # empty cells keep their previous centroid
        for r in means:
            new[r.j][r.cell] = [r[f"s{t}"] for t in range(dsub)]
        books = new
    return books


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    Per query, a lookup table of subspace dot products against every
    codebook entry (m × ksub floats — tiny, broadcast); the corpus scan
    then encodes each vector (argmin per subspace — in production the
    codes are PRECOMPUTED and the original vectors never read) and
    scores every (query, vector) pair as a sum of m table lookups:
    approx_cos = Σ_j LUT[q][j][code_j] / (‖x̂‖·‖q‖) with ‖x̂‖ the
    reconstruction norm — no per-pair float vector math at all. Local
    top-k per Arrow batch, global top-k via the grouped window.
    Approximate by construction (quantization error) — rows-only at the
    driver; ann_pq_recall_check pins recall against the exact top-k.
    """
    import numpy as np

    spark = corpus.sparkSession
    books = pq_train(corpus, m=m, ksub=ksub, iters=iters,
                     id_col=id_col, vec_col=vec_col)
    dsub = books.shape[2]
    qids, qmat = _collect_matrix(queries, id_col, vec_col)
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    # dot LUT: [n_q, m, ksub]; reconstruction norm² LUT: [m, ksub]
    dot_lut = np.stack(
        [qmat[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)],
        axis=1,
    )
    n2_lut = np.stack([(books[j] * books[j]).sum(axis=1) for j in range(m)])
    bc = spark.sparkContext.broadcast(
        (qids, qnorms, dot_lut, n2_lut, books)
    )

    def block(it):
        import pandas as pd

        bqids, bqnorms, blut, bn2, bbooks = bc.value
        for pdf in it:
            cid = pdf[id_col].to_numpy(dtype="int64")
            x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            codes = np.empty((len(x), m), dtype="int64")
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                c = bbooks[j]
                d2 = (c * c).sum(axis=1)[None, :] - 2.0 * (xs @ c.T)
                codes[:, j] = d2.argmin(axis=1)
            recon_n2 = np.zeros(len(x))
            for j in range(m):
                recon_n2 += bn2[j][codes[:, j]]
            recon_n = np.sqrt(np.maximum(recon_n2, 1e-12))
            out_q, out_n, out_c = [], [], []
            for qi in range(len(bqids)):
                approx_dot = np.zeros(len(x))
                for j in range(m):
                    approx_dot += blut[qi][j][codes[:, j]]
                s = approx_dot / (recon_n * max(bqnorms[qi], 1e-12))
                mask = cid != bqids[qi]
                sm, cm = s[mask], cid[mask]
                order = np.lexsort((cm, -sm))[:k]
                out_q.append(np.full(len(order), bqids[qi]))
                out_n.append(cm[order])
                out_c.append(sm[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    cands = corpus.mapInPandas(block, schema=_topk_candidates_schema())
    return _rank_topk(cands, k)


def pq_topk_reranked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC shortlist + exact rerank — the production PQ search shape.

    The compressed-domain ADC scan retrieves a ``shortlist`` of
    candidates per query (cheap: table lookups over 8-byte codes); only
    those ≤ |Q|·shortlist rows are then re-scored with the exact fold
    dot product (JVM-side, the engine's bit-reproducible cosine
    convention) and reduced to the top-k. Final recall@k therefore
    equals the shortlist's recall — quantization error decides WHO is
    in the shortlist, never the reported cosine, so the returned scores
    are exact. Uniform random vectors (this fixture) are PQ's WORST
    case — no cluster structure for codebooks to exploit; measured
    shortlist recall 0.72–0.90 across sf0.001–0.1 at m=8, C=100.

    Scale: the candidate relation is broadcast back against the corpus
    (|Q|·C rows — bounded by contract), so reranking reads only the
    candidates' vectors; at 100 TB the ADC scan reads 64× less than any
    float-vector pass.
    """
    cand = pq_topk(
        corpus, queries, k=shortlist, m=m, ksub=ksub, iters=iters,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("c_emb")
    ).withColumn("c_norm", norm(F.col("c_emb")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("q_emb")
    ).withColumn("q_norm", norm(F.col("q_emb")))
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            dot(F.col("c_emb"), F.col("q_emb"))
            / (F.col("c_norm") * F.col("q_norm")),
        )
    )
    return _rank_topk(scored, k)


def gram_partials(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
):
    """One-pass BLAS sufficient statistics for any second-moment
    consumer (PCA, power iteration, CKA): per-partition partials
    (n, Σx, XᵀX as a dim×dim matrix) via ``mapInPandas`` — the corpus
    streams through Arrow batches, each partition emits ONE
    (1 + dim + dim²)-value row, and only n_partitions such rows reach
    the driver. Partials are merged in a DETERMINISTIC order (sorted
    by (n, leading Σx values)) so repeated runs on the same files give
    bit-identical sums regardless of task completion order.

    Returns (n: int, s: np.ndarray[dim] = Σx, m: np.ndarray[dim, dim]
    = XᵀX). At cluster scale this is the treeAggregate shape: the
    shuffle is n_partitions × (1 + dim + dim²) doubles, the scan does
    all the work.
    """
    import numpy as np

    schema = "n long, s array<double>, m array<double>"

    def partials(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].map(np.asarray).values).astype(
                np.float64
            )
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "m": [(x.T @ x).ravel().tolist()],
                }
            )

    rows = df.select(vec_col).mapInPandas(partials, schema=schema).collect()
    rows.sort(key=lambda r: (r["n"], tuple(r["s"][:4])))
    n = sum(r["n"] for r in rows)
    s = np.zeros(dim)
    m = np.zeros((dim, dim))
    for r in rows:
        s += np.asarray(r["s"])
        m += np.asarray(r["m"]).reshape(dim, dim)
    return n, s, m


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Distributed PCA fit on ``gram_partials`` sufficient statistics:
    the dim×dim eigendecomposition (numpy ``eigh``) is O(dim³) —
    microscopic next to the corpus scan, and the ONLY driver-side
    math. Components are sign-canonicalized (largest-|loading|
    coordinate forced positive) so the decomposition is deterministic
    up to eigenvalue ties.

    Returns (mean: np.ndarray[dim], components: np.ndarray[dim, dim]
    rows = eigenvectors in DESCENDING eigenvalue order, eigvals).
    """
    import numpy as np

    n, s, m = gram_partials(df, vec_col=vec_col, dim=dim)
    mean = s / n
    cov = m / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1]
    eigvals = eigvals[order]
    comps = eigvecs[:, order].T  # rows = components
    for i in range(comps.shape[0]):  # sign canonicalization
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, eigvals


def pca_project(
    df: DataFrame,
    mean,
    components,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto the top-k PCA components: (X − μ)·Wᵀ as a
    BLAS matmul per Arrow batch (``mapInPandas``), components broadcast
    in the closure (k×dim floats). Output: (id, proj array<double>[k])."""
    import numpy as np

    mu = np.asarray(mean, dtype=np.float64)
    w = np.asarray(components, dtype=np.float64)[:k]

    def project(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].map(np.asarray).values).astype(
                np.float64
            )
            p = (x - mu) @ w.T
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "proj": list(p)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        project, schema=f"{id_col} long, proj array<double>"
    )


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    ceiling: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-similar corpus vectors whose LABEL DIFFERS, with a
    cosine ceiling excluding near-duplicate twins (a near-dup with a
    different label is almost always a labeling error, not a useful
    negative — the standard filtered-hard-negative recipe, e.g. RocketQA
    denoising). Same deterministic (cosine desc, id) rank and fold dot
    product as cosine_topk, so the oracle replays it exactly.

    Scale shape: anchors broadcast, |C|×|A| pairs produced map-side with
    the corpus label RIDING ALONG from the scan (extra_corpus_cols — no
    second join against the big relation), the anchor label attached via
    an explicit broadcast, and label/ceiling-FILTERED before the
    per-partition top-k selection — the full pair relation never
    shuffles (same contract as cosine_topk; the filters only shrink the
    candidate stream map-side).
    """
    a = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
    )
    pairs = (
        _pairs_with_cosine(
            corpus.withColumn("c_label", F.col(label_col)),
            anchors, id_col, vec_col, extra_corpus_cols=("c_label",),
        )
        .join(F.broadcast(a), "query_id")
        .filter(
            (F.col("q_label") != F.col("c_label"))
            & (F.col("cosine") < F.lit(ceiling))
        )
        .select("query_id", "neighbor_id", "cosine")
    )

    def partial_topk(it):
        import pandas as pd

        carry = None
        for pdf in it:
            carry = pdf if carry is None else pd.concat([carry, pdf])
            carry = (
                carry.sort_values(
                    ["query_id", "cosine", "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(k)
            )
        if carry is not None and len(carry):
            yield carry

    cands = pairs.mapInPandas(partial_topk, schema=_topk_candidates_schema())
    return _rank_topk(cands, k)


def cosine_topk_blas_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_chunk: int = 1024,
) -> DataFrame:
    """Exact brute-force cosine top-k for LARGE query batches (10³-10⁴
    queries) — the brute serving floor the batch-ANN economics are
    measured against.

    Same contract as cosine_topk / cosine_topk_blas; the difference is
    the inner loop. cosine_topk_blas runs one Python lexsort PER QUERY
    per Arrow batch — O(|Q|) interpreter iterations, fine at |Q|≈10,
    minutes at |Q|≈10⁴. Here the per-batch score matrix is built in
    query CHUNKS (|batch| × query_chunk doubles ≈ 80 MB at the default,
    bounding task memory independent of |Q|) and the per-batch partial
    top-k for EVERY query in the chunk is selected by a single
    argpartition along axis 0 — no per-query Python work at all. Each
    (query, corpus-batch) emits k+1 candidates: the +1 absorbs the
    query's own self-match (cosine 1.0, always in the partial top set
    when present), which is filtered BEFORE the exact global rank so a
    self-row can never displace a true neighbor. argpartition selects
    by value only; the deterministic (cosine desc, neighbor_id asc)
    tie-break is applied at the global window, identical to the other
    top-k paths (exact double ties between distinct random vectors
    do not occur at the candidate boundary — same exposure as the
    oracled ann_cosine_topk_blas).

    Scale shape: queries broadcast once (|Q|×64 doubles ≈ 5 MB at 10⁴),
    corpus streamed through Arrow; shuffle is ≤ (k+1)·|Q| rows per
    corpus partition, never the |C|×|Q| pair relation.
    """
    import numpy as np

    spark = corpus.sparkSession
    qids, qmat = _collect_matrix(queries, id_col, vec_col)
    qnorms = np.maximum(np.sqrt((qmat * qmat).sum(axis=1)), 1e-12)
    bc = spark.sparkContext.broadcast((qids, qmat, qnorms))
    kk = k + 1  # self-buffer

    def block(it):
        import pandas as pd

        bqids, bqmat, bqnorms = bc.value
        nq = len(bqids)
        for pdf in it:
            cid = pdf[id_col].to_numpy(dtype="int64")
            c = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            cn = np.maximum(np.sqrt((c * c).sum(axis=1)), 1e-12)
            take = min(kk, len(cid))
            out = []
            for lo in range(0, nq, query_chunk):
                hi = min(lo + query_chunk, nq)
                S = (c @ bqmat[lo:hi].T) / np.outer(cn, bqnorms[lo:hi])
                idx = np.argpartition(-S, take - 1, axis=0)[:take]
                cols = np.broadcast_to(
                    np.arange(hi - lo)[None, :], idx.shape
                )
                out.append(pd.DataFrame({
                    "query_id": bqids[lo:hi][cols.ravel()],
                    "neighbor_id": cid[idx.ravel()],
                    "cosine": np.take_along_axis(S, idx, axis=0).ravel(),
                }))
            if out:
                yield pd.concat(out)

    cands = corpus.mapInPandas(block, schema=_topk_candidates_schema())
    return _rank_topk(
        cands.filter(F.col("neighbor_id") != F.col("query_id")), k
    )


def _ivf_batch_serve(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_chunk: int = 1024,
):
    """Shared serving pass: returns ``(topk, stats)`` where ``topk`` is
    the full (query_id, neighbor_id, rank, cosine) relation in the SAME
    projection contract as ``ivf_topk_kmeans`` (rank int, cosine rounded
    to 6), and ``stats`` carries the index-head economics
    (mean_frac, min_cand, corpus_n). Exposing the relation (round-11
    advice) lets tests compare the vectorized rerank's actual neighbor
    CONTENT against the per-query loop kernel, not just row counts.
    See ``ivf_batch_serving`` for the serving-economics narrative:

      n_queries, corpus_n        — exact, oracle-computable counts
      topk_rows                  — exact: k·n_queries iff serving
                                   returned full k for EVERY query (a
                                   distributed-path hard signal; a
                                   degenerate index or a broken probe
                                   breaks the count)
      mean_frac_le_{bound}       — mean per-query scanned fraction
                                   (Σ probed-cell sizes / corpus_n,
                                   self included) under the bound; at
                                   n_probe/num_cells = 4/16 balanced
                                   k-means cells put this near 0.25
      scan_lt_brute              — mean scanned fraction < 1.0: the
                                   per-query marginal cost is strictly
                                   below a brute corpus scan
      min_candidates_ge_k        — the WORST query still had ≥ k
                                   non-self candidates in its probes

    The amortization pinned here: index passes (k-means train + corpus
    cell assignment) are BATCH-INDEPENDENT — their cost divides by |Q|,
    while the per-query marginal cost is scanned_frac·|C| dots vs the
    brute |C|. The rerank is cell-GROUPED and chunk-vectorized: each
    corpus Arrow batch does ≤ num_cells chunked BLAS matmuls against
    exactly the queries probing that cell — never cosine_topk_blas's
    per-query Python loop, and never a materialized candidate-pair
    shuffle (only ≤ (k+1) partial rows per query·cell·batch cross the
    wire). Driver-resident serving state is the index head only:
    centroids (num_cells×64), cell sizes (num_cells), and the collected
    query batch (|Q|×64 ≈ 5 MB at 10⁴) — the corpus is never collected.
    """
    import numpy as np

    spark = corpus.sparkSession
    _, cents = kmeans_centroids(
        corpus, k=num_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    c_norm2 = (cents * cents).sum(axis=1)

    # index pass 2 (batch-independent): corpus → cell sizes
    bc_c = spark.sparkContext.broadcast((cents, c_norm2))

    def assign_cells(it):
        import pandas as pd

        cc, cn2 = bc_c.value
        for pdf in it:
            x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            cell = (cn2[None, :] - 2.0 * (x @ cc.T)).argmin(axis=1)
            yield pd.DataFrame({"cell_id": cell.astype("int32")})

    sizes = np.zeros(num_cells, dtype="int64")
    for r in (
        corpus.mapInPandas(assign_cells, schema="cell_id int")
        .groupBy("cell_id").count().collect()
    ):
        sizes[r["cell_id"]] = r["count"]
    corpus_n = int(sizes.sum())

    # per-query probes + scanned fractions (index head × query batch,
    # all tiny: num_cells×64 against |Q|×64)
    qids, qmat = _collect_matrix(queries, id_col, vec_col)
    qnorms = np.maximum(np.sqrt((qmat * qmat).sum(axis=1)), 1e-12)
    qd2 = c_norm2[None, :] - 2.0 * (qmat @ cents.T)
    qprobes = np.argsort(qd2, axis=1)[:, :n_probe]
    scanned = sizes[qprobes].sum(axis=1)  # own cell = nearest ⇒ self in
    mean_frac = float(scanned.mean()) / max(corpus_n, 1)
    min_cand = int(scanned.min()) - 1  # exclude self

    # serving rerank, cell-grouped: queries bucketed by probed cell
    probers = [
        np.where((qprobes == c).any(axis=1))[0] for c in range(num_cells)
    ]
    bc_q = spark.sparkContext.broadcast(
        (qids, qmat, qnorms, probers, cents, c_norm2)
    )
    kk = k + 1  # self-buffer, filtered before the global rank

    def serve(it):
        import pandas as pd

        bqids, bqmat, bqnorms, bprob, cc, cn2 = bc_q.value
        for pdf in it:
            cid = pdf[id_col].to_numpy(dtype="int64")
            x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            xn = np.maximum(np.sqrt((x * x).sum(axis=1)), 1e-12)
            cell = (cn2[None, :] - 2.0 * (x @ cc.T)).argmin(axis=1)
            out = []
            for c in range(len(bprob)):
                qs = bprob[c]
                rows = np.where(cell == c)[0]
                if not len(qs) or not len(rows):
                    continue
                take = min(kk, len(rows))
                for lo in range(0, len(qs), query_chunk):
                    sub = qs[lo:lo + query_chunk]
                    S = (x[rows] @ bqmat[sub].T) / np.outer(
                        xn[rows], bqnorms[sub]
                    )
                    idx = np.argpartition(-S, take - 1, axis=0)[:take]
                    cols = np.broadcast_to(
                        np.arange(len(sub))[None, :], idx.shape
                    )
                    out.append(pd.DataFrame({
                        "query_id": bqids[sub][cols.ravel()],
                        "neighbor_id": cid[rows][idx.ravel()],
                        "cosine": np.take_along_axis(S, idx, axis=0).ravel(),
                    }))
            if out:
                yield pd.concat(out)

    cands = corpus.mapInPandas(serve, schema=_topk_candidates_schema())
    topk = _rank_topk(
        cands.filter(F.col("neighbor_id") != F.col("query_id")), k
    )
    stats = {"mean_frac": mean_frac, "min_cand": min_cand}
    return topk, stats


def ivf_batch_serving_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_chunk: int = 1024,
) -> DataFrame:
    """The serving pass's full top-k relation — same output contract as
    ``ivf_topk_kmeans`` (query_id, neighbor_id, rank, cosine) so the
    cell-grouped vectorized rerank is row-comparable against the
    per-query loop kernel at the identical operating point."""
    topk, _ = _ivf_batch_serve(
        corpus, queries, k=k, num_cells=num_cells, n_probe=n_probe,
        iters=iters, id_col=id_col, vec_col=vec_col,
        query_chunk=query_chunk,
    )
    return topk


def ivf_batch_serving(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_chunk: int = 1024,
    frac_bound: float = 0.45,
) -> DataFrame:
    """Batch ANN serving economics on the trained IVF index
    (``_ivf_batch_serve`` runs the pass): one-row oracle-gateable
    summary — n_queries, corpus_n, topk_rows (= k·n_queries iff full k
    for EVERY query), mean scanned fraction under ``frac_bound``,
    scan_lt_brute, min_candidates_ge_k. See ``_ivf_batch_serve`` for
    the kernel and cost-shape documentation."""
    topk, stats = _ivf_batch_serve(
        corpus, queries, k=k, num_cells=num_cells, n_probe=n_probe,
        iters=iters, id_col=id_col, vec_col=vec_col,
        query_chunk=query_chunk,
    )
    mean_frac, min_cand = stats["mean_frac"], stats["min_cand"]
    # zero-padded percent so distinct bounds always get distinct,
    # deterministic column names (0.4 -> _040, 0.45 -> _045, 0.5 ->
    # _050); the truncate-the-str formatting it replaces collided on
    # e.g. 0.4 vs 0.405 and desynced from oracles written per-bound
    bound_label = f"mean_frac_le_{int(round(frac_bound * 100)):03d}"
    return (
        queries.agg(F.count("*").cast("long").alias("n_queries"))
        .crossJoin(corpus.agg(F.count("*").cast("long").alias("corpus_n")))
        .crossJoin(topk.agg(F.count("*").cast("long").alias("topk_rows")))
        .select(
            "n_queries", "corpus_n", "topk_rows",
            F.lit(bool(mean_frac <= frac_bound)).alias(bound_label),
            F.lit(bool(mean_frac < 1.0)).alias("scan_lt_brute"),
            F.lit(bool(min_cand >= k)).alias("min_candidates_ge_k"),
        )
    )
