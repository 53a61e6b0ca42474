"""Iterative graph algorithms beyond connected components.

PageRank here is FIXED-POINT INTEGER PageRank: probabilities are
micro-units (scale 1e12) on BIGINT, contributions are floor divisions,
and the damping step is (7*s) div 8 with teleport 1e12 div (8N) — the
damping factor is exactly 7/8 so every operation stays in integer
arithmetic and the result is bit-identical on any engine and any
partial-aggregation order (float PageRank cannot be hash-gated: the
per-node sum order leaks into low bits).  Reference point: the same
fixed-point trick production systems use for deterministic replays.

Scale shape: each iteration is one (edge join on src) + one groupBy dst
+ one left join back to the node table — all shuffles on node keys,
lineage truncated per round with localCheckpoint exactly like
dedup.connected_components.  State is one BIGINT per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000  # 1e12 micro-probability units


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
    broadcast_nodes_max: int = 2_000_000,
) -> DataFrame:
    """(node, pr_fixed) after `iters` rounds of integer PageRank with
    damping exactly 7/8.  Nodes are whatever `src`/`dst` hold; for
    undirected graphs each edge contributes both directions.  Every
    node present in the edge list has deg >= 1, so there are no
    dangling-mass corrections.  int64 bounds: total mass is ~1e12, a
    node's incoming sum is < 1e12 * indeg... well under 2^63 until
    indeg ~ 9e6 at this scale; use DECIMAL(38,0) sums beyond that.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionByName(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = e.distinct().localCheckpoint(eager=True)
    # Materialize deg ONCE (r14): it is both counted (n_val) and the
    # initial rank state, and the un-materialized groupBy executed
    # twice (count + the old eager p checkpoint). The initial p is now
    # a cheap projection over the materialized deg — no second
    # checkpoint, no second aggregation.
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    # Node count to the driver ONCE (one scalar — the bounded-collect
    # contract) and degree folded INTO the rank state (r13): the old
    # round plan re-derived deg from e (an extra shuffle aggregate),
    # joined it as a second per-round join, and re-broadcast the
    # 1-row n aggregate every round. Same integer arithmetic, one
    # join + one aggregate fewer per iteration (guide §2.4).
    n_val = deg.count()
    # Join strategy per round (r14, guide §3.1): the rank state and
    # the per-round contribution table are both <= n rows; when n is
    # broadcastable the edge list never shuffles — each round is one
    # broadcast join + one aggregation exchange + one broadcast update
    # join instead of three exchanges. Past the threshold the shape
    # falls back to the planner's shuffle joins unchanged.
    small = n_val <= broadcast_nodes_max
    p = deg.select(
        F.col("src").alias("node"),
        "deg",
        F.lit(SCALE // max(n_val, 1)).cast("long").alias("p"),
    )
    base = SCALE // (8 * max(n_val, 1))
    for _ in range(max(iters, 0)):
        p_src = p.select(F.col("node").alias("src"), "p", "deg")
        if small:
            p_src = F.broadcast(p_src)
        contrib = (
            e.join(p_src, "src")
            .select("dst", F.expr("p div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        upd = contrib.withColumnRenamed("dst", "node")
        if small:
            upd = F.broadcast(upd)
        p = (
            p.select("node", "deg")
            .join(upd, "node", "left")
            .select(
                "node",
                "deg",
                F.expr(
                    f"CAST({base} + (7 * coalesce(s, 0)) div 8 AS BIGINT)"
                ).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
    return p.select("node", F.col("p").alias("pr_fixed"))


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
) -> DataFrame:
    """(node, community) after `iters` rounds of MIN-label propagation:
    every node starts labeled with itself, and each round takes the
    minimum of its own label and its neighbors' labels.

    Deterministic by construction (min over an id domain — no float
    arithmetic, no tie randomness), which is what makes it hash-gatable
    where classic frequency-based LPA is not (its ties are broken by
    arrival order). After k rounds a node carries the smallest id
    within distance k; run to convergence it equals connected
    components — the bounded-round form is the cheap community prior a
    crawl/dedup pipeline wants (seed expansion, spam-cluster flags)
    without the full CC loop.

    Scale shape mirrors pagerank_fixed: per round one edge join on src
    + one groupBy dst + one left join back — all shuffles on node keys,
    lineage truncated per round; state is one label per node.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionByName(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = e.distinct().localCheckpoint(eager=True)
    # node set from BOTH endpoints: with undirected=False a pure sink
    # (dst-only) node must still carry a community row
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    lab = nodes.select("node", F.col("node").alias("label")).localCheckpoint(
        eager=True
    )
    for _ in range(max(iters, 0)):
        nb = (
            e.join(lab.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("_nl"))
            .withColumnRenamed("dst", "node")
        )
        lab = (
            lab.join(nb, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return lab.select("node", F.col("label").alias("community"))


def triangle_count(
    edges: DataFrame, broadcast_edges_max: int = 2_000_000
) -> DataFrame:
    """Per-node TRIANGLE participation counts via degree-ordered edge
    orientation (the MapReduce-era algorithm of Suri & Vassilvitskii's
    'Counting Triangles and the Curse of the Last Reducer', WWW'11):
    orient every undirected edge from its (degree, id)-smaller
    endpoint to the larger, enumerate wedges only at each triangle's
    LOWEST vertex in that total order, and close them with one more
    equi-join. Orientation bounds every node's out-degree by
    O(sqrt(m)) whatever the degree skew — the hub that breaks naive
    neighbor-pair enumeration generates NO wedges, its low-degree
    neighbors do.

    `edges` must be undirected-deduped: one row per edge with
    src < dst (ids comparable). All joins are equi-joins on node
    keys; counts are exact BIGINTs, so the output hash-gates.

    Output: (node, n_triangles) for nodes in >= 1 triangle.

    Join strategy (r14 optimization round, guide §3.1): the planner
    sees the materialized edge RDD with an unknown size estimate and
    defaults every equi-join here to SortMergeJoin. The edge list is
    already materialized, so one cheap count() picks deliberately:
    graphs with <= `broadcast_edges_max` oriented edges broadcast the
    degree and edge sides (the deg/o frames are bounded by the edge
    count; 2M rows of 3 longs is tens of MB framed — well inside the
    guide's broadcast comfort zone), removing every join exchange;
    larger graphs take SHUFFLE_HASH hints (no sort of the wedge
    fan-out; AQE skew-join still splits oversized partitions, and the
    per-partition build side is the O(sqrt(m))-out-degree oriented
    edge set, not the raw adjacency). The A/B behind both choices is in
    OPTIMIZATION_r14.md (batch 4); results are join-strategy-invariant.
    """
    # materialize the edge list and (below) the oriented set: both are
    # consumed by MULTIPLE branches (deg x2 + orientation; wedge left/
    # right + closing), and a shared lineage re-executes per branch —
    # the union-of-tiers rule. O(m) rows each. (The no-checkpoint
    # spelling that leans on AQE ReusedExchange was A/B'd in r14 and
    # measured slower — the re-executed post-shuffle joins cost more
    # than the checkpoints' RDD-path pass on the tiny edge frame.)
    e = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).localCheckpoint(eager=True)
    small = e.count() <= broadcast_edges_max  # bounded-scalar job on the RDD
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    if small:
        du, dv = F.broadcast(du), F.broadcast(dv)
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
        )
    ).localCheckpoint(eager=True)
    # wedge pair ordered by the SAME (deg, id) total order as the
    # orientation, so the closing edge's oriented direction is known
    o1 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        F.col("dd").alias("db"),
    )
    o2 = o.select(
        F.col("src").alias("a2"), F.col("dst").alias("c"),
        F.col("dd").alias("dc"),
    )
    o2 = F.broadcast(o2) if small else o2.hint("shuffle_hash")
    wedges = o1.join(o2, o1["a"] == o2["a2"]).filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = o.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    closing = F.broadcast(closing) if small else closing.hint("shuffle_hash")
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    nodes = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def personalized_pagerank_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
) -> DataFrame:
    """Personalized PageRank in the same bit-exact integer arithmetic
    as pagerank_fixed, with the teleport mass restricted to `seeds`
    (one column `node`) — the recommendation / related-entities
    ranking: mass leaks from the seed set through the graph, so score
    measures proximity TO THE SEEDS rather than global centrality.

    Initial mass SCALE div n_seeds on each seed (0 elsewhere); each
    round a node gets SCALE div (8*n_seeds) teleport if it is a seed
    (else 0) plus (7*s) div 8 from neighbors. Same int64 bounds and
    per-round localCheckpoint lineage truncation as pagerank_fixed.
    Seeds not present in the edge list are ignored (no dangling
    handling, as documented for the base variant).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionByName(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = e.distinct().localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    sflag = nodes.join(
        seeds.select(F.col("node")).distinct(), "node", "left_semi"
    ).select("node", F.lit(1).alias("is_seed"))
    marked = nodes.join(sflag, "node", "left").select(
        "node", "deg", F.coalesce("is_seed", F.lit(0)).alias("is_seed")
    ).localCheckpoint(eager=True)
    ns = marked.agg(F.sum("is_seed").alias("n_seeds"))
    # An empty effective seed set (no seed node appears in the edge
    # list) would feed n_seeds = 0 into `SCALE div n_seeds`, which under
    # non-ANSI Spark is NULL — every score silently NULL instead of an
    # error. One scalar job decides it up front: fail loudly.
    n_seeds_val = ns.collect()[0]["n_seeds"]
    if not n_seeds_val:
        raise ValueError(
            "personalized_pagerank_fixed: no seed node appears in the"
            " edge list — the teleport distribution is undefined"
        )
    # n_seeds is already a driver scalar (the empty-seed guard above);
    # inline it and fold deg/is_seed into the rank state (r13): the old
    # round plan re-broadcast the 1-row aggregate and joined deg every
    # iteration. Same integer arithmetic — SCALE div n on BIGINTs
    # equals Python // for the positive values here.
    seed_mass = SCALE // n_seeds_val
    seed_tele = SCALE // (8 * n_seeds_val)
    p = (
        marked.select(
            "node",
            "deg",
            "is_seed",
            F.expr(
                f"CAST(CASE WHEN is_seed = 1 THEN {seed_mass}"
                " ELSE 0 END AS BIGINT)"
            ).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max(iters, 0)):
        contrib = (
            e.join(p.select(F.col("node").alias("src"), "p", "deg"), "src")
            .select("dst", F.expr("p div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        p = (
            p.select("node", "deg", "is_seed")
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                "deg",
                "is_seed",
                F.expr(
                    f"CAST(CASE WHEN is_seed = 1 THEN {seed_tele} ELSE 0 END"
                    " + (7 * coalesce(s, 0)) div 8 AS BIGINT)"
                ).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
    return p.select("node", F.col("p").alias("ppr_fixed"))


def weighted_pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    undirected: bool = True,
) -> DataFrame:
    """EDGE-WEIGHTED PageRank in the same bit-exact integer
    arithmetic as pagerank_fixed: a node's mass splits across its
    out-edges IN PROPORTION TO WEIGHT — contribution to v is
    (p(u) · w(u,v)) div W(u), with W(u) = Σ out-weights — instead of
    uniformly by degree. The natural ranking when edges carry
    interaction counts or amounts (co-purchase frequency, traffic,
    citation counts): a neighbor you interact with 100x as often
    pulls 100x the mass.

    Same 7/8 damping, SCALE fixed-point, per-round localCheckpoint
    lineage truncation, and no-dangling contract as the base variant.
    Exactness bound: p ≤ SCALE (1e12), so p·w stays inside int64 for
    weights up to ~9.2e6 — callers with larger weights must pre-scale
    them (the ranking is invariant under per-node weight scaling).
    Duplicate (src, dst) rows act as parallel edges (their weights
    add through W(u) and the per-edge sum) — pre-aggregate if that is
    not the intent.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    )
    if undirected:
        e = e.unionByName(
            edges.select(
                F.col(dst).alias("src"),
                F.col(src).alias("dst"),
                F.col(weight).cast("long").alias("w"),
            )
        )
    e = e.localCheckpoint(eager=True)
    # Out-weight folded into the rank state (r13): the old round plan
    # re-derived wsum's aggregate and joined it separately every
    # iteration. Same integer arithmetic, one join + one aggregate
    # fewer per round.
    wsum = e.groupBy("src").agg(F.sum("w").alias("wsum"))
    n = wsum.count()
    p = wsum.select(
        F.col("src").alias("node"),
        "wsum",
        F.expr(f"CAST({SCALE} div {max(n, 1)} AS BIGINT)").alias("p"),
    ).localCheckpoint(eager=True)
    for _ in range(max(iters, 0)):
        contrib = (
            e.join(p.select(F.col("node").alias("src"), "p", "wsum"), "src")
            .select("dst", F.expr("(p * w) div wsum").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        p = (
            p.select("node", "wsum")
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                "wsum",
                F.expr(
                    f"CAST({SCALE} div (8 * {max(n, 1)})"
                    " + (7 * coalesce(s, 0)) div 8 AS BIGINT)"
                ).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
    return p.select("node", F.col("p").alias("wpr_fixed"))


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
) -> DataFrame:
    """Bounded-round K-CORE peeling (Seidman's coreness, the
    degeneracy-ordering workhorse of community/spam detection): each
    round drops every node whose CURRENT degree is below k together
    with its edges — peeling, because removals cascade. Run to a
    fixed point this yields the exact k-core; the bounded-round form
    is the deterministic, hash-gatable prefix (monotone: the edge set
    only shrinks), the same bargain label_propagation strikes.

    Output: (node, deg) — degrees over the edges surviving `rounds`
    peels, for nodes that still have any edge. Scale shape per round:
    one groupBy degree + two semi-joins, lineage truncated per round.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionByName(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = e.distinct().localCheckpoint(eager=True)
    for _ in range(max(rounds, 0)):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
    return e.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    ).select(F.col("src").alias("node"), "deg")


def tree_root_depth(
    nodes: DataFrame,
    parent_col: str = "parent",
    node_col: str = "node",
    rounds: int = 5,
) -> DataFrame:
    """Root and depth for every node of a forest by POINTER DOUBLING
    (the log-rounds hierarchy traversal — org charts, category trees,
    thread ancestry): each round every node's ancestor pointer jumps
    to its ancestor's ancestor and accumulates the hop count, so
    `rounds` rounds resolve any depth up to 2^rounds — O(log depth)
    shuffle joins where the naive per-level walk takes O(depth).

    `nodes` carries (node, parent) with roots marked parent == node.
    After convergence anc is the root and d the exact depth; extra
    rounds are no-ops (jumping from a root adds 0), so `rounds` only
    needs to be >= ceil(log2(max depth)) — cheap insurance on an
    unknown hierarchy. Per round: one self-equi-join on the ancestor
    key + lineage truncation, the connected-components discipline.

    Output: (node, root, depth)."""
    s = nodes.select(
        F.col(node_col).alias("node"),
        F.col(parent_col).alias("anc"),
        F.when(F.col(parent_col) == F.col(node_col), 0)
        .otherwise(1)
        .cast("long")
        .alias("d"),
    ).localCheckpoint(eager=True)
    for _ in range(max(rounds, 0)):
        jump = s.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("d").alias("d2"),
        )
        s = (
            s.join(jump, "anc")
            .select(
                "node",
                F.col("anc2").alias("anc"),
                (F.col("d") + F.col("d2")).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    return s.select(
        "node", F.col("anc").alias("root"), F.col("d").alias("depth")
    )
