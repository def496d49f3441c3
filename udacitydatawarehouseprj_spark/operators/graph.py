"""Iterative graph algorithms as join+aggregate rounds.

Beyond-reference operators: the reference has no graph surface; this
module hosts the iterative-algorithm family — the engine's one
connected-components operator (``connected_components_minlabel``) and
its one PageRank loop (``pagerank_integer``, personalized when given
seeds), plus label propagation, k-core and triangle counting.

Scale design (100 TB): one iteration = ONE |E|-linear equi-join plus a
hash aggregation on the destination key — the canonical distributed
PageRank shape; no adjacency matrices, no driver-side graph. Lineage is
truncated per round with ``localCheckpoint`` in every loop here, so 10
iterations cost 10 shuffles, not an exponentially deep plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: fixed-point scale for integer PageRank (1.0 == 10^12 units)
PAGERANK_UNIT = 10**12


def pagerank_integer(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "n",
    iterations: int = 6,
    unit: int = PAGERANK_UNIT,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank with damping 0.85 in EXACT integer fixed-point.

    Every quantity is a BIGINT multiple of ``1/unit`` and every division
    is integral floor division on positives, so the result is
    bit-identical across engines, partitionings, and summation orders —
    the property that lets a DuckDB oracle replay the full iteration
    unrolled (no float accumulation anywhere). With S the seed set
    (every node when ``seeds`` is None), the recurrence:

        r₀(v)    = [v ∈ S] · unit // |S|
        contrib  = (r(u)·85) // (100·deg(u))        per edge u→v
        dangling = Σ_{deg(u)=0} (r(u)·85) // 100
        r'(v)    = [v ∈ S]·((15·unit)//(100·|S|) + dangling//|S|)
                   + Σ contrib

    ``seeds`` (rows keyed by ``id_col``, non-empty) gives Personalized
    PageRank (random walk with restart): teleport and dangling mass
    restart at the seed set, so rank concentrates in the seeds'
    neighborhoods and nodes unreachable from any seed converge to
    exactly 0 — a property the integer arithmetic preserves
    bit-for-bit (float PPR leaks epsilon mass everywhere).

    Floor-division remainders leak a few units per node per round
    (deterministically), which is irrelevant to ranking and the price of
    cross-engine exactness.

    ``edges`` is a directed (a, b) relation — pass both directions for an
    undirected graph. ``nodes`` must contain every vertex (isolated
    vertices are dangling mass). |S| is one bounded driver scalar (the
    watermark pattern).

    Returns (id_col, degree, rank_unit).
    """
    e = edges.select("a", "b").localCheckpoint(eager=True)
    n_seeds = (nodes if seeds is None else seeds).count()
    if seeds is not None and n_seeds == 0:
        raise ValueError("seeds must be non-empty")
    # every rank row carries its node's out-degree ``d`` (and seed flag),
    # so each round reads contributions and dangling mass off ``r`` alone
    deg = e.groupBy(F.col("a").alias("n")).agg(F.count("*").alias("d"))
    r = nodes.select(F.col(id_col).alias("n")).join(deg, "n", "left").select(
        "n", F.coalesce("d", F.lit(0)).alias("d")
    )
    teleport = F.lit(1)
    if seeds is not None:
        seed_ids = seeds.select(F.col(id_col).alias("n"), F.lit(1).alias("s"))
        r = r.join(F.broadcast(seed_ids), "n", "left").select(
            "n", "d", F.coalesce("s", F.lit(0)).alias("is_seed")
        )
        teleport = F.col("is_seed")
    keep = r.columns
    r = r.select(
        *keep, (teleport * F.lit(unit // n_seeds)).cast("long").alias("r")
    ).localCheckpoint(eager=True)
    base = (15 * unit) // (100 * n_seeds)
    for _ in range(iterations):
        contrib = (
            r.join(e, F.col("n") == F.col("a"))
            .select(
                F.col("b").alias("dst"),
                F.expr("(r * 85) div (100 * d)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        dang = r.filter(F.col("d") == 0).agg(
            F.coalesce(F.sum(F.expr("(r * 85) div 100")), F.lit(0)).alias(
                "dang"
            )
        )
        r = (
            r.join(contrib, F.col("n") == F.col("dst"), "left")
            .crossJoin(F.broadcast(dang))
            .select(
                *keep,
                (
                    teleport
                    * (F.lit(base) + F.expr(f"dang div {n_seeds}"))
                    + F.coalesce("c", F.lit(0))
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return r.select(
        F.col("n").alias(id_col),
        F.col("d").alias("degree"),
        F.col("r").alias("rank_unit"),
    )


def triangle_count(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Global triangle count over an undirected edge list, via the
    degree-ordered node-iterator (the standard distributed formulation:
    Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11).

    Each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, so every node's out-degree is bounded
    and the wedge relation (two out-edges sharing a source) has at most
    Σ_v d⁺(v)² rows with d⁺ ≤ O(√|E|) — the orientation is exactly what
    keeps a hot hub (a boilerplate near-dup cluster centre) from
    generating deg² wedges in one partition at 100 TB. A wedge
    (u→v, u→w) closes into a triangle iff the oriented edge v→w exists;
    with a consistent total order every triangle is counted exactly
    once, so the result is identical to the naive a<b<c enumeration the
    SQL oracle uses.

    Cost: two |E|-linear hash joins plus one wedge⋈edge join — all
    equi-joins on node keys, no cartesian anywhere.

    Returns a single row: (n_nodes, n_edges, n_triangles), all BIGINT.
    """
    # canonical undirected edge set (a < b), self-loops dropped.
    # localCheckpoint: the edge relation is referenced by SIX subtrees
    # below (degrees, orientation, both wedge sides, closure, counts) —
    # without truncation each subtree re-executes the caller's full
    # edge-producing pipeline (e.g. the LSH candidate build), measured
    # 16 s → 5 s at sf0.1. The relation is |pairs|-sized (∝ dup rate),
    # never corpus-sized, so materializing it is the cheap side.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("ea"),
            F.greatest(F.col(src), F.col(dst)).alias("eb"),
        )
        .filter(F.col("ea") < F.col("eb"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("ea").alias("n"))
        .union(e.select(F.col("eb").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    # orient toward the higher-(degree, id) endpoint
    with_deg = (
        e.join(deg.withColumnRenamed("n", "ea").withColumnRenamed("d", "da"), "ea")
        .join(deg.withColumnRenamed("n", "eb").withColumnRenamed("d", "db"), "eb")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("ea") < F.col("eb"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("ea")).otherwise(F.col("eb")).alias("u"),
        F.when(lower_first, F.col("eb")).otherwise(F.col("ea")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    # wedges: two out-edges of u, deduped by the same (deg, id) order
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("w1"), F.col("dv").alias("dw1")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("w2"), F.col("dv").alias("dw2")
    )
    wedge_order = (F.col("dw1") < F.col("dw2")) | (
        (F.col("dw1") == F.col("dw2")) & (F.col("w1") < F.col("w2"))
    )
    wedges = o1.join(o2, "u").filter(wedge_order).select(
        F.col("w1").alias("u2"), F.col("w2").alias("v2")
    )
    # a wedge closes iff its (ordered) far pair is itself an oriented edge
    tri = wedges.join(
        oriented.select(F.col("u").alias("u2"), F.col("v").alias("v2")),
        ["u2", "v2"],
    ).agg(F.count("*").cast("long").alias("n_triangles"))
    n_edges = e.agg(F.count("*").cast("long").alias("n_edges"))
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_triangles")
    )


def majority_label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "n",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous majority-label propagation (Raghavan et al. 2007) —
    community detection distinct from connected components: each round,
    every node adopts the label held by the MOST of its neighbors
    (tie-break: smallest label; isolated nodes keep their own), starting
    from label = node id. A fixed iteration count plus the deterministic
    tie-break makes every round a pure function of the edge set, so a
    SQL oracle can replay the iterations unrolled — no randomized
    update order (the usual LPA nondeterminism) anywhere.

    One iteration = one |E|-linear equi-join (neighbor labels) + two
    hash aggregations (label counts, per-node argmax via max-struct) —
    the same scale shape as the PageRank rounds; lineage truncated per
    round with localCheckpoint. The argmax is encoded as
    max(struct(count, -label)) so the whole round stays in map-side-
    combining aggregates — no per-node window sort.

    Returns (id_col, label) — final community assignment per node.
    """
    node_ids = nodes.select(F.col(id_col).alias("n")).distinct()
    e = edges.select(F.col("a"), F.col("b")).localCheckpoint(eager=True)
    labels = node_ids.select(
        "n", F.col("n").cast("long").alias("lbl")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        msgs = labels.join(e, F.col("n") == F.col("a")).select(
            F.col("b").alias("dst"), F.col("lbl")
        )
        counts = msgs.groupBy("dst", "lbl").agg(
            F.count("*").cast("long").alias("c")
        )
        # argmax by (count desc, label asc): max over (c, -lbl) structs
        pick = counts.groupBy("dst").agg(
            F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias(
                "s"
            )
        ).select(F.col("dst"), (-F.col("s.neg")).cast("long").alias("new_lbl"))
        labels = (
            labels.join(pick, F.col("n") == F.col("dst"), "left")
            .select(
                "n",
                F.coalesce("new_lbl", "lbl").cast("long").alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select(F.col("n").alias(id_col), F.col("lbl").alias("label"))


def connected_components_minlabel(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "n",
) -> DataFrame:
    """Connected components by min-label propagation with star
    shortcuts — the alternating-contraction family (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): each
    round every node adopts the minimum label among itself and its
    neighbors, and the label assignment itself is fed back as extra
    (node ↔ label) star edges: when node m takes a smaller label, every
    node labelled m takes it the next round. Along a path a label still
    moves one hop per round, so the round count grows with the length
    of the paths a component's minimum must cross: the path 0–1–…–63
    takes 8 rounds, but 0–40–39–…–1, whose ids fall away from its
    minimum, takes 41.

    Converges to label(v) = min node id in v's component — a pure
    function of the edge set, so a recursive-CTE oracle (min reachable
    id per node) replays it exactly. Iteration runs until a round
    changes no label (checked with a single count aggregate per round).

    One round = one |E|-linear equi-join + one min-aggregation +
    one left join; lineage truncated per round with localCheckpoint
    (the iterative-plan-growth guard the PageRank/LPA rounds use).

    ``edges`` (a, b) is undirected: each pair is stored in both
    directions once, before the loop, because labels propagate along
    stored direction only (edge 2→1 alone would leave node 2 in its own
    component). ``nodes`` must contain every edge endpoint; a node
    with no edge keeps its own id.

    Actions: ONE SQL execution before the loop — one checkpoint that
    holds both the label seed and the symmetric edges, with the edge
    count observed on the way — then one checkpoint and one
    convergence count per round.

    Returns (id_col, component) — component = min node id reachable.
    """
    spark = edges.sparkSession
    # One job materializes the label seed and both directions of every
    # edge in one checkpoint, rows tagged by ``edge``; an observation
    # counts the stored edges on the way.
    seen = Observation()
    both = (
        edges.select("a", "b")
        .observe(seen, F.count(F.lit(1)).alias("n"))
        .select(
            F.explode(
                F.array(
                    F.struct("a", "b"),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("r")
        )
        .select(F.lit(True).alias("edge"), "r.*")
        .unionByName(
            nodes.select(
                F.lit(False).alias("edge"),
                F.col(id_col).alias("a"),
                F.col(id_col).alias("b"),
            ).distinct()
        )
        .localCheckpoint(eager=True)
    )
    # Size the loop's partitioning from the edge count: the per-round
    # joins/aggregates only need enough partitions to hold ~2M edges
    # each, and a 13-round loop over a tiny graph otherwise pays 13 ×
    # (conf-many empty tasks + an AQE wave per exchange) of pure
    # scheduling overhead — measured 14.7 s → 6.5 s at sf0.1 for
    # modularity's 920-edge graph. On a real cluster the same formula
    # yields conf-many partitions and the scoped setting is a no-op.
    # The seed above ran at full parallelism; the loop's inputs are
    # narrowed with coalesce (no recompute of the checkpoint).
    n_parts = max(
        1,
        min(int(spark.sparkContext.defaultParallelism),
            2 * seen.get["n"] // 2_000_000 + 1),
    )
    if n_parts < both.rdd.getNumPartitions():
        both = both.coalesce(n_parts)
    base = both.filter("edge").select("a", "b")
    labels = both.filter(~F.col("edge")).select(
        F.col("a").alias("n"), F.col("b").cast("long").alias("lbl")
    )
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        return _minlabel_loop(base, labels, id_col)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)


def _checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, rebuilt as a frame that carries
    no size estimate. A checkpoint keeps the estimate of the plan it ran,
    and a join's estimate is the product of its sides', so in a loop
    that joins its checkpointed state with itself the estimate's digit
    count doubles every round (39 digits after round 1, 2,440 after
    round 7): past about 25 rounds the optimizer's arithmetic on it
    stalls the loop."""
    ck = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False
        ),
        spark,
    )


def _minlabel_loop(
    base: DataFrame,
    labels: DataFrame,
    id_col: str,
) -> DataFrame:
    n_changed = 1
    while n_changed:
        # star shortcuts: every node reaches its current label's node
        # directly, both directions
        stars = labels.filter(F.col("n") != F.col("lbl"))
        aug = base.unionByName(
            stars.select(F.col("n").alias("a"), F.col("lbl").alias("b"))
        ).unionByName(
            stars.select(F.col("lbl").alias("a"), F.col("n").alias("b"))
        )
        nbr_min = (
            labels.join(aug, F.col("n") == F.col("a"))
            .groupBy(F.col("b").alias("dst"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = _checkpoint(
            labels.join(nbr_min, F.col("n") == F.col("dst"), "left")
            .select(
                "n",
                F.least(
                    F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))
                ).cast("long").alias("lbl"),
                (F.coalesce("nbr_lbl", F.col("lbl")) < F.col("lbl"))
                .cast("int")
                .alias("changed"),
            )
        )
        n_changed = new_labels.agg(F.sum("changed")).first()[0] or 0
        labels = new_labels.drop("changed")
    return labels.select(
        F.col("n").alias(id_col), F.col("lbl").alias("component")
    )


def k_core(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = 2,
    rounds: int = 4,
    id_col: str = "n",
) -> DataFrame:
    """k-core decomposition by synchronous peeling (Batagelj-Zaversnik
    family, round-unrolled): each round removes every node whose degree
    WITHIN the surviving subgraph is < k; the k-core is the fixpoint —
    the maximal subgraph where every member keeps ≥ k neighbors, the
    standard dense-region extractor (community seeds, spam-farm
    detection) that CC/LPA can't express (they never remove nodes).

    A FIXED round count keeps every round a pure function of the edge
    set, so a SQL oracle replays the peeling CTE by CTE (the LPA
    discipline); at fixture scale the fixpoint is reached well inside
    ``rounds`` — at 100 TB each round is one |E|-linear join + one
    count aggregation, and O(log) rounds suffice in practice because
    peeling cascades.

    Returns (id_col, core_degree) for members of the k-core after
    ``rounds`` peels, with their within-core degree.
    """
    e = edges.select("a", "b").localCheckpoint(eager=True)
    alive = nodes.select(F.col(id_col).alias("n")).distinct().localCheckpoint(
        eager=True
    )
    for _ in range(rounds):
        live_edges = (
            e.join(alive.withColumnRenamed("n", "a"), "a")
            .join(alive.withColumnRenamed("n", "b"), "b")
        )
        deg = live_edges.groupBy("a").agg(F.count("*").alias("d"))
        alive = (
            alive.join(deg, alive["n"] == deg["a"])
            .filter(F.col("d") >= k)
            .select("n")
            .localCheckpoint(eager=True)
        )
    final_edges = (
        e.join(alive.withColumnRenamed("n", "a"), "a")
        .join(alive.withColumnRenamed("n", "b"), "b")
    )
    return (
        final_edges.groupBy("a")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .select(F.col("a").alias(id_col), "core_degree")
    )
