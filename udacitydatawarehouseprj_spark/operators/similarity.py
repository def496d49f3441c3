"""Similarity search over embedding columns (``array<float>``).

Beyond-reference operators (BASELINE.json north star). Two families
share one output contract per task:

* **Fold-based Column expressions**: the exact ``cosine_topk`` /
  ``cosine_pairs`` references (plus ``hard_negative_topk`` and the
  ``pq_topk_reranked`` rerank). Dot products are a LEFT FOLD over element
  products in index order (``F.aggregate`` over ``zip_with``), which the
  DuckDB oracle mirrors with ``list_reduce`` — identical IEEE operation
  order → bit-identical doubles, so results hash-match without tolerance.
  Every BLAS path below is tested against these.
* **BLAS kernels**: Arrow batches + NumPy matrix products via
  ``mapInPandas`` — the deliberate exception to the no-Python-UDF rule
  because a matrix product is the right primitive for dense similarity.
  One kernel per method:

  - brute top-k (``cosine_topk_blas``) and IVF top-k (``ivf_topk_kmeans``,
    ``ivf_batch_serving``) share one chunked selection, ``_chunk_topk``:
    each corpus batch is scored against ``QUERY_CHUNK`` queries per
    matmul and every query's partial top-(k+1) is taken with one
    ``argpartition`` — a local top-k per partition, then one global
    rank (the REPOSE shape);
  - LSH (``cosine_topk_lsh_blas``, random-hyperplane tables) and PQ
    (``pq_topk``, ADC over product-quantization codes) keep per-query
    candidate masks and share one ``lexsort`` selection tail;
  - all-pairs cosine ≥ τ: ``cosine_pairs_blas`` (broadcast corpus) and
    ``cosine_pairs_blas_tiled`` (block-pair tiles, no driver collect).

Every candidate path ends in ``_rank_topk``: the exact (cosine desc,
neighbor_id asc) rank and the 6-decimal rounding. BLAS summation order
differs from the fold by ~1 ulp; after rounding the results agree with
the exact oracle unless a value sits within ~1e-15 of a rounding or
threshold boundary.

The operating point of every method is a module constant (below): each
has a single production setting. Tests that need another value
monkeypatch the constant; kernels read constants on the driver, so a
patched value reaches the executors through the closure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Column names of every embedding relation.
ID_COL, VEC_COL, LABEL_COL = "vec_id", "embedding", "label"
#: Embedding dimensionality (PCA / Gram statistics, JL input width).
EMB_DIM = 64
#: Neighbors per query of the single-setting top-k paths (LSH, IVF, PQ,
#: kNN vote, MMR).
TOPK = 5
#: Queries scored per matmul in the chunked top-k selection: bounds the
#: per-batch score matrix (|batch| × QUERY_CHUNK doubles) independent
#: of |Q|.
QUERY_CHUNK = 1024
#: Random-hyperplane LSH: planes per table, OR-amplified tables, seed.
LSH_PLANES, LSH_TABLES, LSH_SEED = 4, 16, 42
#: IVF coarse quantizer: k-means cells, probed cells per query; the
#: serving summary's scanned-fraction bound.
IVF_CELLS, IVF_PROBES, IVF_FRAC_BOUND = 16, 4, 0.45
#: Lloyd rounds of every k-means here (IVF cells, SemDeDup, PQ books).
KMEANS_ITERS = 3
#: SemDeDup: within-cell cosine at or above which a vector is dropped.
SEMDEDUP_THRESHOLD = 0.4
#: int8 quantization scale.
QUANT_SCALE = 127
#: MMR: candidate pool per query and the relevance weight λ.
MMR_POOL, MMR_LAMBDA = 20, 0.7
#: JL projection output width.
PROJ_K = 16
#: Product quantization: subspaces, centroids per subspace, ADC
#: shortlist reranked exactly.
PQ_M, PQ_KSUB, PQ_SHORTLIST = 8, 16, 100
#: Hard-negative mining: negatives per anchor, near-duplicate ceiling.
HARD_NEG_K, HARD_NEG_CEILING = 3, 0.95
#: Tile grid side of cosine_pairs_blas_tiled; None = ⌈√(2·parallelism)⌉.
TILE_BLOCKS: int | None = None

_CANDIDATES = "query_id long, neighbor_id long, cosine double"


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
                       extra_corpus_cols: tuple = ()) -> DataFrame:
    """(query, candidate, cosine) via broadcast cross join. The corpus is
    spread to session parallelism first: a single-file corpus would
    otherwise evaluate the (CPU-heavy) fold dot products on one core.

    ``extra_corpus_cols`` ride along from the corpus side map-side (e.g.
    a label for hard-negative filtering) so callers never need a second
    join against the big relation — the pair stream stays shuffle-free.
    """
    from udacitydatawarehouseprj_spark.session import spread

    c = spread(corpus, (ID_COL,)).select(
        F.col(ID_COL).alias("neighbor_id"),
        as_double(VEC_COL).alias("c_emb"),
        *[F.col(x) for x in extra_corpus_cols],
    ).withColumn("c_norm", norm(F.col("c_emb")))
    q = queries.select(
        F.col(ID_COL).alias("query_id"), as_double(VEC_COL).alias("q_emb")
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


def _fold_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Top-k of a fold-scored (query_id, neighbor_id, cosine) pair
    stream. Each partition is first reduced to ≤ |Q|·k candidates by a
    pure row-selection pandas stage — the cosine doubles pass through
    Arrow untouched, so the fold's bit-exactness vs the SQL oracle is
    preserved, and only that candidate set is shuffled for the final
    exact rank."""

    def partial_topk(it):
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

    return _rank_topk(pairs.mapInPandas(partial_topk, schema=_CANDIDATES), k)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact brute-force cosine top-k per query (the ANN baseline).

    Deterministic: rank orders by (cosine desc, neighbor_id) — ties cannot
    flip the output. Scale shape: the |C|×|Q| scored pairs are produced
    map-side (queries broadcast, fold dot product) and reduced per
    partition before the rank shuffle (``_fold_topk``); the full pair
    relation never crosses the wire.
    """
    return _fold_topk(_pairs_with_cosine(corpus, queries), k)


def cosine_pairs(df: DataFrame, threshold: float) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.

    Brute force (exact); the reference the BLAS pair paths are tested
    against.
    """
    e = df.select(F.col(ID_COL).alias("id"), as_double(VEC_COL).alias("emb"))
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


# =====================================================================
# BLAS kernels (Arrow batches + NumPy matrix products)
# =====================================================================

#: Hard cap on rows any BLAS helper may pull to the driver. The
#: broadcast-side collect is the deliberate small-side accelerator of
#: this module; beyond ~1M vectors it stops being "small" (at dim=64
#: float64 that is already ~0.5 GB of driver heap + the same again per
#: executor broadcast) and the tiled path is the right tool. The cap
#: fails fast instead of letting a caller OOM the driver at corpus scale
#: because nobody read the docstring.
DRIVER_COLLECT_CAP = 1_000_000


def _collect_matrix(df: DataFrame):
    """Collect (ids, matrix) to the driver, guarded by DRIVER_COLLECT_CAP.

    The probe is ``limit(cap + 1)`` — never a separate count job, never
    more than cap+1 rows materialized — so an over-cap input raises
    before the driver heap is at risk. Raising (rather than silently
    falling back) keeps the exact/approx split explicit.
    """
    cap = DRIVER_COLLECT_CAP
    pdf = df.select(ID_COL, VEC_COL).limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise ValueError(
            f"_collect_matrix: input exceeds DRIVER_COLLECT_CAP={cap} rows; "
            "a driver-side collect at this size would OOM at corpus scale. "
            "Use the no-collect scale path instead (cosine_pairs_blas_tiled "
            "for exact all-pairs), or raise DRIVER_COLLECT_CAP if the "
            "driver is provisioned for it."
        )
    return pdf[ID_COL].to_numpy(dtype="int64"), _matrix(pdf[VEC_COL])


def _matrix(vectors: pd.Series) -> np.ndarray:
    """A column of vectors as one float64 matrix, a row per vector."""
    return np.vstack(vectors.to_numpy()).astype("float64")


def _norms(x: np.ndarray) -> np.ndarray:
    """Row L2 norms with an eps guard: a zero vector would give a NaN
    cosine, and Spark's ORDER BY DESC sorts NaN ABOVE every real value —
    the zero vector would silently become everyone's rank 1."""
    return np.maximum(np.sqrt((x * x).sum(axis=1)), 1e-12)


def _cell_dist(x: np.ndarray, cents: np.ndarray, c_norm2: np.ndarray):
    """Squared euclidean distance of each row of x to each centroid, less
    the row's own ‖x‖² (constant per row, so argmin / argsort over cells
    are unchanged)."""
    return c_norm2[None, :] - 2.0 * (x @ cents.T)


def _round6(x):
    return np.floor(x * 1e6 + 0.5) / 1e6


def cosine_pairs_blas(df: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via block matmul: the corpus
    matrix is broadcast, each Arrow batch computes batch×corpusᵀ with
    BLAS. Same output contract as cosine_pairs."""
    ids, mat = _collect_matrix(df)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ids, mat, norms))

    def block(it):
        bids, bmat, bnorms = bc.value
        for pdf in it:
            xid = pdf[ID_COL].to_numpy(dtype="int64")
            x = _matrix(pdf[VEC_COL])
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


def cosine_pairs_blas_tiled(df: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with NO driver-side collect —
    the corpus-scale form of ``cosine_pairs_blas``.

    Vectors are hashed into B blocks; the B(B+1)/2 block-pair tiles are
    materialized by replicating each vector to its B tiles (left role for
    tiles (b, j≥b), right role for (i<b, b)), and each tile computes its
    pairs with one BLAS matmul inside ``applyInPandas``. Every unordered
    pair of blocks meets in exactly one tile, so output pairs are emitted
    exactly once. Total shuffle is N·B rows and a task holds at most two
    blocks (≈2N/B vectors); B = TILE_BLOCKS, by default ≈ √(2·parallelism)
    so every core is busy. The driver never sees a vector. Same output
    contract (and 6-decimal rounding) as cosine_pairs /
    cosine_pairs_blas."""
    B = TILE_BLOCKS
    if B is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        B = max(2, int(np.ceil(np.sqrt(2.0 * par))))

    e = df.select(
        F.col(ID_COL).alias("id"), as_double(VEC_COL).alias("emb")
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
            m = _matrix(pdf["emb"])
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
        lm = _matrix(lhs["emb"])
        rm = _matrix(rhs["emb"])
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


def _chunk_topk(cid, x, xn, qids, qmat, qnorms, take: int, chunk: int):
    """Every query's top-``take`` rows of the corpus block ``x`` (ids
    ``cid``, norms ``xn``), ``chunk`` queries per matmul: the score
    matrix is |block| × chunk doubles, and each chunk's selection is ONE
    argpartition along the corpus axis — no per-query Python work.
    argpartition selects by value only; the deterministic (cosine desc,
    neighbor_id asc) tie-break is applied at the global rank. Returns a
    list of candidate frames."""
    out = []
    for lo in range(0, len(qids), chunk):
        hi = lo + chunk
        S = (x @ qmat[lo:hi].T) / np.outer(xn, qnorms[lo:hi])
        idx = np.argpartition(-S, take - 1, axis=0)[:take]
        cols = np.broadcast_to(np.arange(S.shape[1])[None, :], idx.shape)
        out.append(pd.DataFrame({
            "query_id": qids[lo:hi][cols.ravel()],
            "neighbor_id": cid[idx.ravel()],
            "cosine": np.take_along_axis(S, idx, axis=0).ravel(),
        }))
    return out


def _rank_chunk_candidates(cands: DataFrame, k: int) -> DataFrame:
    """Global rank of ``_chunk_topk`` candidates. Each (query, block)
    emitted k+1 rows: the +1 absorbs the query's own self-match (cosine
    1.0, always in the partial top set when present), which is dropped
    BEFORE the rank so a self-row never displaces a true neighbor."""
    return _rank_topk(
        cands.filter(F.col("neighbor_id") != F.col("query_id")), k
    )


def cosine_topk_blas(
    corpus: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact brute-force cosine top-k via block matmul — same contract as
    cosine_topk, for any batch size from 10 queries to 10⁴.

    Queries broadcast once (|Q|×64 doubles ≈ 5 MB at 10⁴), corpus
    streamed through Arrow; each batch takes every query's partial
    top-(k+1) with the chunked selection (``_chunk_topk``), and the
    shuffle is ≤ (k+1)·|Q| rows per corpus batch, never the |C|×|Q|
    pair relation.
    """
    qids, qmat = _collect_matrix(queries)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (qids, qmat, _norms(qmat))
    )
    chunk = QUERY_CHUNK

    def block(it):
        bqids, bqmat, bqnorms = bc.value
        for pdf in it:
            cid = pdf[ID_COL].to_numpy(dtype="int64")
            c = _matrix(pdf[VEC_COL])
            out = _chunk_topk(cid, c, _norms(c), bqids, bqmat, bqnorms,
                              min(k + 1, len(cid)), chunk)
            if out:
                yield pd.concat(out)

    cands = corpus.mapInPandas(block, schema=_CANDIDATES)
    return _rank_chunk_candidates(cands, k)


def _lexsort_topk(qid, cid, s, k: int):
    """One query's k best (cosine desc, neighbor_id asc) candidates out of
    its masked scores ``s`` over ids ``cid``, as (query, neighbor, cosine)
    arrays."""
    order = np.lexsort((cid, -s))[:k]
    return np.full(len(order), qid), cid[order], s[order]


def _candidate_frame(picks) -> pd.DataFrame:
    q, n, c = zip(*picks)
    return pd.DataFrame({
        "query_id": np.concatenate(q),
        "neighbor_id": np.concatenate(n),
        "cosine": np.concatenate(c),
    })


def _lsh_signatures(x: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Bucket of every row in every table: bit p = sign(x · plane_p)."""
    bits = 1 << np.arange(planes.shape[1])
    return np.stack(
        [((x @ planes[t].T) >= 0) @ bits for t in range(len(planes))],
        axis=1,
    )  # |x| x tables


def cosine_topk_lsh_blas(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-TOPK: random-hyperplane buckets computed in NumPy
    (deterministic seed), candidates limited to vectors sharing the
    query's bucket in ≥1 of LSH_TABLES hash tables, then exact rerank.

    OR-amplification is the recall knob: recall per neighbor at angle θ
    is 1-(1-(1-θ/π)^planes)^tables; more tables → more candidates
    scanned. On uniformly random vectors (no cluster structure, best
    cosines ≈0.3) a single table's recall is near chance, the documented
    ANN tradeoff. At corpus scale the bucket comparison becomes a
    bucket-partitioned join instead of a broadcast mask."""
    k = TOPK
    qids, qmat = _collect_matrix(queries)
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    rng = np.random.RandomState(LSH_SEED)
    planes = rng.standard_normal((LSH_TABLES, LSH_PLANES, qmat.shape[1]))
    qbuckets = _lsh_signatures(qmat, planes)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (qids, qmat, qnorms, qbuckets, planes)
    )

    def block(it):
        bqids, bqmat, bqnorms, bqb, bplanes = bc.value
        for pdf in it:
            cid = pdf[ID_COL].to_numpy(dtype="int64")
            c = _matrix(pdf[VEC_COL])
            cn = np.sqrt((c * c).sum(axis=1))
            cb = _lsh_signatures(c, bplanes)
            picks = []
            for qi in range(len(bqids)):
                # candidate iff the corpus bucket matches the query's
                # bucket in ANY table
                mask = (cb == bqb[qi][None, :]).any(axis=1) & (
                    cid != bqids[qi]
                )
                if not mask.any():
                    continue
                s = (c[mask] @ bqmat[qi]) / (cn[mask] * bqnorms[qi])
                picks.append(_lexsort_topk(bqids[qi], cid[mask], s, k))
            if picks:
                yield _candidate_frame(picks)

    cands = corpus.mapInPandas(block, schema=_CANDIDATES)
    return _rank_topk(cands, k)


def kmeans_centroids(df: DataFrame) -> np.ndarray:
    """Deterministic distributed k-means (Lloyd's) with IVF_CELLS cells:
    seed with the first cells' worth of vectors by id, then KMEANS_ITERS
    rounds of assign (broadcast centroids, BLAS argmin in mapInPandas) →
    recompute means (one groupBy per round).

    The iterative-algorithm shape SQL can't express: driver loop over
    Spark jobs, state = the cells×d centroid matrix (tiny, broadcast each
    round). Returns the centroid matrix, row i = cell i.
    """
    spark = df.sparkSession
    _, cents = _collect_matrix(df.orderBy(F.col(ID_COL)).limit(IVF_CELLS))

    for _ in range(KMEANS_ITERS):
        bc = spark.sparkContext.broadcast(cents)

        def assign(it):
            c = bc.value
            c_norm2 = (c * c).sum(axis=1)
            for pdf in it:
                x = _matrix(pdf[VEC_COL])
                cell = _cell_dist(x, c, c_norm2).argmin(axis=1).astype("int32")
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

    return cents


def _ivf_index(corpus: DataFrame, queries: DataFrame):
    """Train the IVF coarse quantizer on the corpus and pick each query's
    IVF_PROBES nearest cells (euclidean cells, cosine rerank). Returns
    (cents, c_norm2, qids, qmat, qprobes)."""
    cents = kmeans_centroids(corpus)
    c_norm2 = (cents * cents).sum(axis=1)
    qids, qmat = _collect_matrix(queries)
    qprobes = np.argsort(_cell_dist(qmat, cents, c_norm2), axis=1)[
        :, :IVF_PROBES
    ]
    return cents, c_norm2, qids, qmat, qprobes


def _ivf_rerank(corpus: DataFrame, cents, c_norm2, qids, qmat, qprobes,
                k: int) -> DataFrame:
    """Exact top-k inside each query's probed cells, cell-grouped: each
    corpus Arrow batch runs the chunked selection once per cell against
    exactly the queries probing that cell — never a per-query Python
    loop and never a materialized candidate-pair shuffle (≤ (k+1) rows
    per query·cell·batch cross the wire)."""
    probers = [
        np.where((qprobes == c).any(axis=1))[0] for c in range(len(cents))
    ]
    bc = corpus.sparkSession.sparkContext.broadcast(
        (qids, qmat, _norms(qmat), probers, cents, c_norm2)
    )
    chunk = QUERY_CHUNK

    def serve(it):
        bqids, bqmat, bqnorms, bprob, cc, cn2 = bc.value
        for pdf in it:
            cid = pdf[ID_COL].to_numpy(dtype="int64")
            x = _matrix(pdf[VEC_COL])
            xn = _norms(x)
            cell = _cell_dist(x, cc, cn2).argmin(axis=1)
            out = []
            for c, qs in enumerate(bprob):
                rows = np.where(cell == c)[0]
                if len(qs) and len(rows):
                    out += _chunk_topk(
                        cid[rows], x[rows], xn[rows], bqids[qs], bqmat[qs],
                        bqnorms[qs], min(k + 1, len(rows)), chunk,
                    )
            if out:
                yield pd.concat(out)

    cands = corpus.mapInPandas(serve, schema=_CANDIDATES)
    return _rank_chunk_candidates(cands, k)


def ivf_topk_kmeans(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF with trained (k-means) coarse centroids: IVF_CELLS cells,
    assign corpus vectors to their nearest trained centroid, probe the
    IVF_PROBES nearest cells per query, exact BLAS rerank of the top-TOPK
    within probed cells (``_ivf_rerank``)."""
    return _ivf_rerank(corpus, *_ivf_index(corpus, queries), TOPK)


def semantic_dedup(df: DataFrame) -> DataFrame:
    """SemDeDup — semantic (embedding-space) deduplication, per the
    public recipe: k-means-cluster the corpus, then WITHIN each cluster
    greedily keep minimum-id representatives — a vector is dropped iff
    its cosine similarity to an already-kept smaller-id vector in the
    same cluster is ≥ SEMDEDUP_THRESHOLD. The kept set is therefore an
    independent set of the ≥τ similarity graph restricted to clusters:
    no two kept vectors in a cluster are near-duplicates, and every
    dropped vector has a kept witness (the invariants
    ``semantic_dedup_check`` verifies with an independent JVM-side
    cosine recompute).

    Scale shape: clustering bounds the pairwise work — the greedy pass
    runs per cell in ``applyInPandas`` (one shuffle on cell_id), each
    cell's cost is |cell|·|kept(cell)| BLAS dot products, and cells are
    sized by IVF_CELLS (thousands at 100 TB so a cell fits an executor).
    Returns (vec_id, cell_id, kept, max_sim_to_kept) — max_sim is -1.0
    for the first kept vector of a cell (no earlier kept to compare).
    """
    cents = kmeans_centroids(df)
    c_norm2 = (cents * cents).sum(axis=1)
    bc = df.sparkSession.sparkContext.broadcast((cents, c_norm2))
    threshold = SEMDEDUP_THRESHOLD

    def assign(it):
        c, n2 = bc.value
        for pdf in it:
            x = _matrix(pdf[VEC_COL])
            cell = _cell_dist(x, c, n2).argmin(axis=1)
            out = pd.DataFrame(
                {
                    ID_COL: pdf[ID_COL].to_numpy(dtype="int64"),
                    "cell_id": cell.astype("int32"),
                }
            )
            out[VEC_COL] = pdf[VEC_COL].to_numpy()
            yield out

    assigned = df.mapInPandas(
        assign, schema=f"{ID_COL} long, cell_id int, {VEC_COL} array<float>"
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ID_COL).reset_index(drop=True)
        x = _matrix(pdf[VEC_COL])
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
                ID_COL: pdf[ID_COL],
                "cell_id": pdf["cell_id"],
                "kept": kept_flags,
                "max_sim_to_kept": np.round(max_sims, 6),
            }
        )

    return assigned.groupBy("cell_id").applyInPandas(
        dedup_cell,
        f"{ID_COL} long, cell_id int, kept boolean, max_sim_to_kept double",
    )


def normalize_quantize(df: DataFrame) -> DataFrame:
    """L2-normalize then int8-quantize an embedding column.

    The standard storage compression before ANN indexing (4× smaller
    than float32, 8× smaller than the double intermediates). Pure
    Column-expression transform — per-row map, zero shuffles, stays in
    whole-stage codegen. Quantization is ``floor(x/‖v‖ · QUANT_SCALE)``:
    floor (not round) because IEEE mul/div/floor are correctly rounded
    and therefore bit-identical across engines, while round-half rules
    on arbitrary doubles are not. Norm is the index-order left fold
    (module docstring) for the same reason.
    """
    v = as_double(VEC_COL)
    nrm = norm(v)
    quant = F.transform(v, lambda x: F.floor(x / nrm * QUANT_SCALE).cast("int"))
    return df.select(
        F.col(ID_COL),
        nrm.alias("l2_norm"),
        quant.alias("q_vec"),
    )


def knn_label_vote(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """k-nearest-neighbor (k = TOPK) majority-vote classification.

    Composes the exact cosine top-k (corpus-parallel, queries broadcast,
    per-partition candidate pruning — see ``cosine_topk``) with a vote:
    count labels among the k neighbors, pick the winner by
    (votes DESC, label ASC) via ``max_by`` over a struct ordering key —
    the tie-break makes the prediction deterministic. The vote is a
    ≤ |Q|·k-row aggregation: negligible next to the scoring pass.
    """
    neighbors = cosine_topk(corpus, queries, TOPK)
    labels = corpus.select(
        F.col(ID_COL).alias("neighbor_id"), F.col(LABEL_COL)
    )
    votes = (
        neighbors.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", LABEL_COL)
        .agg(F.count("*").alias("n_votes"))
    )
    return votes.groupBy("query_id").agg(
        F.max_by(
            LABEL_COL,
            F.struct(F.col("n_votes"), (-F.col(LABEL_COL)).alias("_neg")),
        ).alias("predicted_label"),
        F.max(
            F.struct(F.col("n_votes"), (-F.col(LABEL_COL)).alias("_neg"))
        )["n_votes"].alias("winning_votes"),
    )


def mmr_rerank(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Maximal Marginal Relevance rerank — diversified top-k retrieval
    (the RAG-retrieval staple): fetch a MMR_POOL-sized exact-cosine
    candidate set per query (``cosine_topk_blas``), then greedily select
    TOPK candidates maximizing ``λ·sim(q,d) − (1−λ)·max_{s∈selected}
    sim(d,s)`` with λ = MMR_LAMBDA; ties break on smaller id. The greedy
    loop is inherently sequential per query but the pool is tiny, so it
    runs in ``applyInPandas`` per query_id — one shuffle of N_q·pool rows
    regardless of corpus size; the corpus-scale work stays in the
    candidate retrieval. The FIRST selection is always the top-cosine
    candidate (nothing is selected yet), which is the SQL-checkable
    anchor ``mmr_rerank_check`` exploits.
    """
    k, lam = TOPK, MMR_LAMBDA
    cands = cosine_topk_blas(corpus, queries, k=MMR_POOL)
    with_vec = cands.join(
        corpus.select(
            F.col(ID_COL).alias("neighbor_id"),
            F.col(VEC_COL).alias("_nv"),
        ),
        "neighbor_id",
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rank"]).reset_index(drop=True)
        x = _matrix(pdf["_nv"])
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


def random_projection(df: DataFrame) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction (EMB_DIM → PROJ_K)
    with a DETERMINISTIC dense ±1 projection (Achlioptas 2003: ±1 entries
    satisfy the JL distortion bound with the same constants as
    Gaussian): y_j = Σ_i x_i · s(i, j), where s is a pure hash of (i, j)
    — no random state, no projection matrix to store or ship: every
    executor re-derives any entry from two integers, so the transform is
    reproducible across runs, engines, and cluster topologies (the
    property that matters when re-projecting a growing 100 TB corpus
    incrementally).

    Implementation: k fold expressions over the vector (F.aggregate in
    index order, the engine's exact-dot-product convention) — a pure
    per-row map inside codegen, zero shuffles, zero Python. For k·dims
    beyond codegen comfort (~10^4), the BLAS mapInPandas path
    (cosine_pairs_blas_tiled's block layout) is the swap-in.

    Output: (id, y00..y{k-1}) with each y rounded to 6dp (per-row IEEE
    determinism per SURVEY §5.1).
    """
    dims, k = EMB_DIM, PROJ_K
    cols = [F.col(ID_COL)]
    for j in range(k):
        fold = F.expr(
            f"aggregate(sequence(1, {dims}), CAST(0.0 AS DOUBLE),"
            f" (acc, i) -> acc + CAST({VEC_COL}[i-1] AS DOUBLE)"
            f" * {_proj_sign_sql('i-1', j, k)})"
        )
        cols.append(F.round(fold, 6).alias(f"y{j:02d}"))
    return df.select(*cols)


# --- Product quantization (ANN compression path) -----------------------
#
# Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011): split the d-dim space into m orthogonal
# subspaces, vector-quantize each with its own ksub-centroid codebook,
# and store each vector as m small codes (here 8 bytes for a 64-dim
# float vector — 32×). Queries scan CODES with per-query lookup tables
# (ADC), never the original vectors: the disk/memory shape that makes
# billion-vector search feasible at 100 TB.


def pq_train(df: DataFrame) -> np.ndarray:
    """Train PQ_M per-subspace codebooks of PQ_KSUB centroids with
    deterministic fused k-means.

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
    m = PQ_M
    spark = df.sparkSession
    _, mat0 = _collect_matrix(df.orderBy(F.col(ID_COL)).limit(PQ_KSUB))
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
    for _ in range(KMEANS_ITERS):
        bc = spark.sparkContext.broadcast(books)

        def assign(it):
            bks = bc.value
            for pdf in it:
                x = _matrix(pdf[VEC_COL])
                frames = []
                for j in range(m):
                    xs = x[:, j * dsub : (j + 1) * dsub]
                    c = bks[j]
                    out = {
                        "j": np.full(len(xs), j, dtype="int32"),
                        "cell": _cell_dist(xs, c, (c * c).sum(axis=1))
                        .argmin(axis=1).astype("int32"),
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


def pq_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Asymmetric-distance (ADC) top-PQ_SHORTLIST over PQ codes.

    Per query, a lookup table of subspace dot products against every
    codebook entry (m × ksub floats — tiny, broadcast); the corpus scan
    then encodes each vector (argmin per subspace — in production the
    codes are PRECOMPUTED and the original vectors never read) and
    scores every (query, vector) pair as a sum of m table lookups:
    approx_cos = Σ_j LUT[q][j][code_j] / (‖x̂‖·‖q‖) with ‖x̂‖ the
    reconstruction norm — no per-pair float vector math at all. Local
    top-k per Arrow batch, global top-k via the grouped window.
    Approximate by construction (quantization error) — the shortlist
    ``pq_topk_reranked`` rescores exactly.
    """
    k, m = PQ_SHORTLIST, PQ_M
    books = pq_train(corpus)
    dsub = books.shape[2]
    qids, qmat = _collect_matrix(queries)
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    # dot LUT: [n_q, m, ksub]; reconstruction norm² LUT: [m, ksub]
    dot_lut = np.stack(
        [qmat[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)],
        axis=1,
    )
    n2_lut = np.stack([(books[j] * books[j]).sum(axis=1) for j in range(m)])
    bc = corpus.sparkSession.sparkContext.broadcast(
        (qids, qnorms, dot_lut, n2_lut, books)
    )

    def block(it):
        bqids, bqnorms, blut, bn2, bbooks = bc.value
        for pdf in it:
            cid = pdf[ID_COL].to_numpy(dtype="int64")
            x = _matrix(pdf[VEC_COL])
            codes = np.empty((len(x), m), dtype="int64")
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                c = bbooks[j]
                codes[:, j] = _cell_dist(xs, c, (c * c).sum(axis=1)).argmin(
                    axis=1
                )
            recon_n2 = np.zeros(len(x))
            for j in range(m):
                recon_n2 += bn2[j][codes[:, j]]
            recon_n = np.sqrt(np.maximum(recon_n2, 1e-12))
            picks = []
            for qi in range(len(bqids)):
                approx_dot = np.zeros(len(x))
                for j in range(m):
                    approx_dot += blut[qi][j][codes[:, j]]
                s = approx_dot / (recon_n * max(bqnorms[qi], 1e-12))
                mask = cid != bqids[qi]
                picks.append(_lexsort_topk(bqids[qi], cid[mask], s[mask], k))
            if picks:
                yield _candidate_frame(picks)

    cands = corpus.mapInPandas(block, schema=_CANDIDATES)
    return _rank_topk(cands, k)


def pq_topk_reranked(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """PQ-ADC shortlist + exact rerank — the production PQ search shape.

    The compressed-domain ADC scan (``pq_topk``) retrieves a
    PQ_SHORTLIST of candidates per query (cheap: table lookups over
    8-byte codes); only those ≤ |Q|·shortlist rows are then re-scored
    with the exact fold dot product (JVM-side, the engine's
    bit-reproducible cosine convention) and reduced to the top-TOPK.
    Final recall@k therefore equals the shortlist's recall —
    quantization error decides WHO is in the shortlist, never the
    reported cosine, so the returned scores are exact. Uniform random
    vectors (this fixture) are PQ's WORST case — no cluster structure
    for codebooks to exploit; measured shortlist recall 0.72–0.90 across
    sf0.001–0.1 at m=8, C=100.

    Scale: the candidate relation is broadcast back against the corpus
    (|Q|·C rows — bounded by contract), so reranking reads only the
    candidates' vectors; at 100 TB the ADC scan reads 32× less than any
    float-vector pass.
    """
    cand = pq_topk(corpus, queries).select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(ID_COL).alias("neighbor_id"), as_double(VEC_COL).alias("c_emb")
    ).withColumn("c_norm", norm(F.col("c_emb")))
    q = queries.select(
        F.col(ID_COL).alias("query_id"), as_double(VEC_COL).alias("q_emb")
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
    return _rank_topk(scored, TOPK)


def gram_partials(df: DataFrame):
    """One-pass BLAS sufficient statistics for any second-moment
    consumer (PCA, power iteration, CKA): per-partition partials
    (n, Σx, XᵀX as a dim×dim matrix) via ``mapInPandas`` — the corpus
    streams through Arrow batches, each partition emits ONE
    (1 + dim + dim²)-value row, and only n_partitions such rows reach
    the driver. Partials are merged in a DETERMINISTIC order (sorted
    by (n, leading Σx values)) so repeated runs on the same files give
    bit-identical sums regardless of task completion order.

    Returns (n: int, s: np.ndarray[dim] = Σx, m: np.ndarray[dim, dim]
    = XᵀX) with dim = EMB_DIM. At cluster scale this is the
    treeAggregate shape: the shuffle is n_partitions × (1 + dim + dim²)
    doubles, the scan does all the work.
    """
    dim = EMB_DIM
    schema = "n long, s array<double>, m array<double>"

    def partials(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf[VEC_COL].map(np.asarray).values).astype(
                np.float64
            )
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "m": [(x.T @ x).ravel().tolist()],
                }
            )

    rows = df.select(VEC_COL).mapInPandas(partials, schema=schema).collect()
    rows.sort(key=lambda r: (r["n"], tuple(r["s"][:4])))
    n = sum(r["n"] for r in rows)
    s = np.zeros(dim)
    m = np.zeros((dim, dim))
    for r in rows:
        s += np.asarray(r["s"])
        m += np.asarray(r["m"]).reshape(dim, dim)
    return n, s, m


def pca_fit(df: DataFrame):
    """Distributed PCA fit on ``gram_partials`` sufficient statistics:
    the dim×dim eigendecomposition (numpy ``eigh``) is O(dim³) —
    microscopic next to the corpus scan, and the ONLY driver-side
    math. Components are sign-canonicalized (largest-|loading|
    coordinate forced positive) so the decomposition is deterministic
    up to eigenvalue ties.

    Returns (mean: np.ndarray[dim], components: np.ndarray[dim, dim]
    rows = eigenvectors in DESCENDING eigenvalue order, eigvals).
    """
    n, s, m = gram_partials(df)
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


def pca_project(df: DataFrame, mean, components, k: int) -> DataFrame:
    """Project vectors onto the top-k PCA components: (X − μ)·Wᵀ as a
    BLAS matmul per Arrow batch (``mapInPandas``), components broadcast
    in the closure (k×dim floats). Output: (id, proj array<double>[k])."""
    mu = np.asarray(mean, dtype=np.float64)
    w = np.asarray(components, dtype=np.float64)[:k]

    def project(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf[VEC_COL].map(np.asarray).values).astype(
                np.float64
            )
            p = (x - mu) @ w.T
            yield pd.DataFrame(
                {ID_COL: pdf[ID_COL].values, "proj": list(p)}
            )

    return df.select(ID_COL, VEC_COL).mapInPandas(
        project, schema=f"{ID_COL} long, proj array<double>"
    )


def hard_negative_topk(corpus: DataFrame, anchors: DataFrame) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-HARD_NEG_K most-similar corpus vectors whose LABEL DIFFERS, with
    a cosine ceiling (HARD_NEG_CEILING) excluding near-duplicate twins
    (a near-dup with a different label is almost always a labeling
    error, not a useful negative — the standard filtered-hard-negative
    recipe, e.g. RocketQA denoising). Same deterministic (cosine desc,
    id) rank and fold dot product as cosine_topk, so the oracle replays
    it exactly.

    Scale shape: anchors broadcast, |C|×|A| pairs produced map-side with
    the corpus label RIDING ALONG from the scan (extra_corpus_cols — no
    second join against the big relation), the anchor label attached via
    an explicit broadcast, and label/ceiling-FILTERED before the
    per-partition top-k selection — the full pair relation never
    shuffles (same contract as cosine_topk; the filters only shrink the
    candidate stream map-side).
    """
    a = anchors.select(
        F.col(ID_COL).alias("query_id"),
        F.col(LABEL_COL).alias("q_label"),
    )
    pairs = (
        _pairs_with_cosine(
            corpus.withColumn("c_label", F.col(LABEL_COL)),
            anchors, extra_corpus_cols=("c_label",),
        )
        .join(F.broadcast(a), "query_id")
        .filter(
            (F.col("q_label") != F.col("c_label"))
            & (F.col("cosine") < F.lit(HARD_NEG_CEILING))
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _fold_topk(pairs, HARD_NEG_K)


def ivf_batch_serving(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Batch ANN serving economics on the trained IVF index: the
    ``ivf_topk_kmeans`` pass plus one index pass for cell sizes, reduced
    to a one-row oracle-gateable summary:

      n_queries, corpus_n        — exact, oracle-computable counts
      topk_rows                  — exact: TOPK·n_queries iff serving
                                   returned full k for EVERY query (a
                                   distributed-path hard signal; a
                                   degenerate index or a broken probe
                                   breaks the count)
      mean_frac_le_{bound}       — mean per-query scanned fraction
                                   (Σ probed-cell sizes / corpus_n,
                                   self included) under IVF_FRAC_BOUND;
                                   at IVF_PROBES/IVF_CELLS = 4/16
                                   balanced k-means cells put this near
                                   0.25
      scan_lt_brute              — mean scanned fraction < 1.0: the
                                   per-query marginal cost is strictly
                                   below a brute corpus scan
      min_candidates_ge_k        — the WORST query still had ≥ k
                                   non-self candidates in its probes

    The amortization pinned here: index passes (k-means train + corpus
    cell assignment) are BATCH-INDEPENDENT — their cost divides by |Q|,
    while the per-query marginal cost is scanned_frac·|C| dots vs the
    brute |C|. Driver-resident serving state is the index head only:
    centroids (cells×64), cell sizes (cells), and the collected query
    batch (|Q|×64 ≈ 5 MB at 10⁴) — the corpus is never collected.
    """
    k = TOPK
    cents, c_norm2, qids, qmat, qprobes = _ivf_index(corpus, queries)

    # index pass 2 (batch-independent): corpus → cell sizes
    bc_c = corpus.sparkSession.sparkContext.broadcast((cents, c_norm2))

    def assign_cells(it):
        cc, cn2 = bc_c.value
        for pdf in it:
            x = _matrix(pdf[VEC_COL])
            cell = _cell_dist(x, cc, cn2).argmin(axis=1)
            yield pd.DataFrame({"cell_id": cell.astype("int32")})

    sizes = np.zeros(len(cents), dtype="int64")
    for r in (
        corpus.mapInPandas(assign_cells, schema="cell_id int")
        .groupBy("cell_id").count().collect()
    ):
        sizes[r["cell_id"]] = r["count"]
    corpus_n = int(sizes.sum())
    scanned = sizes[qprobes].sum(axis=1)  # own cell = nearest ⇒ self in
    mean_frac = float(scanned.mean()) / max(corpus_n, 1)
    min_cand = int(scanned.min()) - 1  # exclude self

    topk = _ivf_rerank(corpus, cents, c_norm2, qids, qmat, qprobes, k)
    # zero-padded percent so distinct bounds always get distinct,
    # deterministic column names (0.4 -> _040, 0.45 -> _045, 0.5 -> _050)
    bound_label = f"mean_frac_le_{int(round(IVF_FRAC_BOUND * 100)):03d}"
    return (
        queries.agg(F.count("*").cast("long").alias("n_queries"))
        .crossJoin(corpus.agg(F.count("*").cast("long").alias("corpus_n")))
        .crossJoin(topk.agg(F.count("*").cast("long").alias("topk_rows")))
        .select(
            "n_queries", "corpus_n", "topk_rows",
            F.lit(bool(mean_frac <= IVF_FRAC_BOUND)).alias(bound_label),
            F.lit(bool(mean_frac < 1.0)).alias("scan_lt_brute"),
            F.lit(bool(min_cand >= k)).alias("min_candidates_ge_k"),
        )
    )
