"""Graph algorithms as fixed-iteration DataFrame programs.

The reference (a read-only pandas monolith, /root/reference/main.py)
has no graph surface; the dedup stack already runs driver-looped
connected components (operators/dedup.py).  This module adds the other
canonical link-analysis primitive — PageRank (Page, Brin, Motwani &
Winograd, "The PageRank Citation Ranking", Stanford InfoLab 1999) — in
the engine's oracle-exact style: a FIXED iteration count turns an
iterative algorithm into a finite, deterministic dataflow both engines
can replay bit-identically (the same move that made the frozen
quantizer tiers hash-checkable: `ivf_knn` retrains per call and stays
rows-only; `pagerank_fixed` runs k known joins).

Determinism: per-edge contributions are IEEE doubles (bit-identical in
any engine), but their per-node SUM would depend on partition order —
so each aggregation accumulates in DECIMAL(38,18) and casts back, the
`_dot_dec` convention.  The damping constants are embedded from ONE
Python computation so the SQL oracle and the Spark plan share the
exact double literal.

At 100 TB: each iteration is one equi-join of the edge list against a
node-keyed rank table plus one groupBy — both co-partitioned on the
key after the first shuffle, which AQE reuses; state between
iterations is one row per node (localCheckpointed to cut lineage, the
Kneser-Ney lesson).  k iterations = k shuffles of node-cardinality
data; the edge list is scanned k times (cache it at cluster scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import materialize as _mat

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3

# Auto-posture threshold for the per-iteration node-table broadcasts
# (rank/rate/sum tables for PageRank, the label table for label
# propagation).  A node-table row is a key plus one double/label
# (~40 B serialized), so 250k rows ≈ 10 MB — the same budget
# choose_join_strategy's BROADCAST_MAX_ROWS mirrors at its ~100 B/row
# assumption (operators/scale.py).  Measured r8: a 1.6M-node broadcast
# posture dies with UNABLE_TO_ACQUIRE_MEMORY under the local 8 GiB
# default heap, while 160k nodes broadcast comfortably; this constant
# puts the flip between those observed points, and the r9 verdict-item
# fix derives the posture from the measured node count instead of the
# former manual knob.
GRAPH_BROADCAST_MAX_NODES = 250_000


def pagerank_fixed(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
    src: str = "src",
    dst: str = "dst",
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """PageRank with a FIXED number of power iterations over a
    directed edge list (one row per distinct edge).

    rank_0(v) = 1/N;
    rank_{i+1}(v) = (1-d)/N + d · Σ_{(u,v)∈E} rank_i(u) / outdeg(u).

    Dangling nodes (no out-edges) contribute nothing — their mass is
    not redistributed; this is the defined variant (documented so the
    oracle can replay it verbatim), adequate for ranking use and free
    of the extra global aggregate per iteration.  Returns
    (node, rank) for every node.

    `broadcast_ranks=None` (default) DERIVES the posture from the
    measured node count — broadcast the node-keyed rank table into
    each iteration's edge join iff nodes ≤ GRAPH_BROADCAST_MAX_NODES
    (the `choose_join_strategy`/`lsh_n_planes` idiom: measure, then
    pick; the count job runs against the already-materialized node
    checkpoint, so it costs one node-cardinality pass).  Broadcast is
    the right plan whenever the rank table fits an executor (node
    count ≪ edge count; a rank row is ~row-key + one double); past
    the threshold the join falls back to a shuffle, and the edge
    side's `localCheckpoint` below means it is shuffled FROM a
    materialized block, not recomputed — co-partition/bucket both
    sides on `src` upstream for the full cluster posture.  Pass
    True/False to pin either posture explicitly."""
    from pyspark import StorageLevel

    teleport = 1.0 - damping  # ONE double computation, shared w/ oracle
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # the loop-invariant inputs are materialized ONCE (edge list,
    # out-degrees, node set); the iterations themselves stay LAZY —
    # plan depth is linear in `iters`, and a single execution at the
    # sink runs each iteration exactly once, instead of paying an
    # eager intermediate materialization per iteration (measured: the
    # eager-per-iteration form spent 13 s re-running the node distinct
    # and checkpoint machinery for a 3x0.7 s computation).  Past
    # ~8-10 iterations cut the lineage with a localCheckpoint on
    # `ranks` every few rounds (the dedup-CC idiom) — at the fixed
    # small iteration counts this oracle-exact form targets, lazy wins.
    #
    # The EDGE-cardinality table persists DISK_ONLY, not
    # localCheckpoint: checkpoint blocks live MEMORY_AND_DISK in the
    # unified pool, and materializing a 58M-edge list that way starved
    # execution memory into UNABLE_TO_ACQUIRE_MEMORY under the local
    # 8 GiB default heap (measured r9: SCALE.md "Round-9: graph posture
    # auto-derivation") — while DISK_ONLY blocks cost the pool nothing
    # and small-graph re-reads come from the OS page cache anyway.  Node-sized tables
    # below keep the (faster) localCheckpoint.
    ed = _mat.track(e.persist(StorageLevel.DISK_ONLY))
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if broadcast_ranks is None:
        broadcast_ranks = nodes.count() <= GRAPH_BROADCAST_MAX_NODES
    n = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    deg = ed.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("_deg")
    ).localCheckpoint()
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(iters):
        # per-SOURCE emission rate first (node-sized join), THEN one
        # join against the edge list — the contribution rank/deg
        # depends only on src, so joining deg onto every EDGE row
        # would move edge-cardinality data for node-cardinality work
        rates = ranks.join(deg, ranks.node == deg.src).select(
            F.col("node").alias("_u"),
            (F.col("rank") / F.col("_deg")).alias("_rate"),
        )
        rhs = F.broadcast(rates) if broadcast_ranks else rates
        sums = (
            ed.join(rhs, ed.src == rates._u)
            .groupBy("dst")
            .agg(
                F.sum(F.col("_rate").cast("decimal(38,18)"))
                .cast("double")
                .alias("_s")
            )
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n))
            .join(
                F.broadcast(sums) if broadcast_ranks else sums,
                nodes.node == sums.dst,
                "left",
            )
            .select(
                "node",
                (
                    F.lit(teleport) / F.col("_n")
                    + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


LABELPROP_ITERS = 3


def label_propagation_fixed(
    edges: DataFrame,
    iters: int = LABELPROP_ITERS,
    src: str = "src",
    dst: str = "dst",
    broadcast_labels: bool | None = None,
) -> DataFrame:
    """Community detection by label propagation (Raghavan, Albert &
    Kumara, Phys. Rev. E 76, 2007) with a FIXED iteration count and
    fully deterministic updates — the asynchronous random-order
    algorithm of the paper replaced by synchronous rounds with a total
    tie order, the same oracle-exactness move as `pagerank_fixed`:

    label_0(v) = v;
    label_{i+1}(v) = the most frequent label among v's neighbors
    (undirected: both edge directions), ties → smallest label.

    Integer counts and string mins only — no floats anywhere, so the
    result is hash-exact across engines by construction.  Physical
    shape per iteration: one join of the (materialized, loop-invariant)
    undirected edge list against the node-sized label table, one
    groupBy count, one per-node top-1 window over (node × distinct
    neighbor labels) rows.  Iterations stay LAZY (the pagerank
    lesson); returns (node, label) — nodes sharing a label after k
    rounds are one community.

    `broadcast_labels=None` derives the per-iteration label-table
    broadcast posture from the measured node count exactly as
    :func:`pagerank_fixed` does for its rank tables (the label table
    is node-sized too); past GRAPH_BROADCAST_MAX_NODES the neighbor
    join shuffles the materialized undirected edge list instead."""
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # edge-cardinality table: DISK_ONLY for the same reason as
    # pagerank_fixed's edge list (checkpoint blocks squat in the
    # unified pool; the undirected list is 2x edges)
    und = _mat.track(e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist(StorageLevel.DISK_ONLY))
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    from pyspark.sql import Window

    if broadcast_labels is None:
        broadcast_labels = labels.count() <= GRAPH_BROADCAST_MAX_NODES
    for _ in range(iters):
        nbr = und.join(
            F.broadcast(labels) if broadcast_labels else labels,
            und.dst == labels.node,
        ).select(F.col("src").alias("_v"), "label")
        counts = nbr.groupBy("_v", "label").agg(
            F.count(F.lit(1)).alias("_n")
        )
        # top-1 label per node stays a row_number window (r14 A/B:
        # the min(struct(-n, label)) aggregate variant — map-side
        # partial agg, no sort — measured 1.115x SLOWER paired over 4
        # interleaved trips; Catalyst's WindowGroupLimit pushdown
        # already prunes the per-node sort to top-1 before it runs,
        # and the struct build costs more than the pruned sort saves)
        w = Window.partitionBy("_v").orderBy(F.desc("_n"), F.asc("label"))
        labels = (
            counts.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(F.col("_v").alias("node"), "label")
        )
    return labels


def bfs_min_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    broadcast_frontier: bool | None = None,
) -> DataFrame:
    """Minimum-hop reachability from a seed set: classic frontier BFS
    as K bounded join rounds.  Returns (node, hops) for every node
    within `max_hops` edges of any seed (seeds at hops 0, each node at
    its MINIMUM distance — the GROUP BY min(hops) a recursive CTE
    computes, which is why the catalog oracle can be DuckDB's WITH
    RECURSIVE while Spark, which lacks recursive CTEs, runs this
    finite dataflow; results are identical by construction).

    Frontier discipline is what makes this 100 TB-shaped: iteration i
    joins the edge list against ONLY the nodes first reached at i-1
    (never the full visited set), and the left_anti against visited
    keeps every node's SECOND discovery out of the frontier — so total
    join work across all rounds is one edge-list probe per reachable
    node, not per path (the path-count explosion a naive UNION ALL
    recursion pays).  Early exit on an empty frontier is
    result-neutral (BFS has converged; remaining rounds would add
    nothing) and skips dead stages.  Frontier/visited tables are
    node-bounded and localCheckpointed per round (the dedup-CC lineage
    idiom); the edge list persists DISK_ONLY and is probed ≤ K times
    (the pagerank_fixed posture).  `broadcast_frontier=None` derives
    the posture from the measured node count like the other graph
    operators — a frontier is at most node-sized, so the same
    GRAPH_BROADCAST_MAX_NODES budget applies."""
    from pyspark import StorageLevel

    e = _mat.track(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist(StorageLevel.DISK_ONLY)
    )
    if broadcast_frontier is None:
        n_nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .count()
        )
        broadcast_frontier = n_nodes <= GRAPH_BROADCAST_MAX_NODES

    def posture(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_frontier else df

    visited = (
        seeds.select("node")
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hops"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for i in range(1, max_hops + 1):
        nxt = (
            e.join(posture(frontier.withColumnRenamed("node", "src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(posture(visited.select("node")), "node", "left_anti")
            .select("node", F.lit(i).cast("long").alias("hops"))
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited.orderBy("node")


def triangle_listing(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Exact triangle listing over an undirected edge list via
    degree-ordered orientation (Cohen, "Graph Twiddling in a MapReduce
    World", CiSE 2009; Suri & Vassilvitskii WWW'11): orient every edge
    from its lower-(degree, id) endpoint to the higher one, join
    oriented wedges (u→v, u→w), and close them against the oriented
    edge (v→w).

    The orientation is the 100 TB lever: out-degree under it is
    bounded by O(sqrt(m)) (a node of degree d keeps only neighbors of
    degree >= d), so the wedge join — the only super-linear stage —
    fans out per-node by the arboricity bound instead of the raw
    degree; a naive three-way self-join on the undirected list pays
    the hub node's full d^2.  All joins are key-partitioned
    equi-joins.  Returns one row per triangle as the id-sorted triple
    (p_a, p_b, p_c), p_a < p_b < p_c, deterministically ordered —
    exactly what the oracle's a<b<c three-join over canonical edges
    produces.  Reference N/A (no graph surface in main.py)."""
    canon = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("x"),
            F.greatest(F.col(a), F.col(b)).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = (
        canon.select(F.col("x").alias("node"))
        .unionByName(canon.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("deg_y"))
    # orient low-(deg, id) -> high-(deg, id); the struct comparison is
    # the deterministic tie-break
    oriented = (
        canon.join(dx, "x")
        .join(dy, "y")
        .select(
            F.when(
                F.struct(F.col("deg_x"), F.col("x"))
                < F.struct(F.col("deg_y"), F.col("y")),
                F.col("x"),
            )
            .otherwise(F.col("y"))
            .alias("src"),
            F.when(
                F.struct(F.col("deg_x"), F.col("x"))
                < F.struct(F.col("deg_y"), F.col("y")),
                F.col("y"),
            )
            .otherwise(F.col("x"))
            .alias("dst"),
        )
    )
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "u").where(F.col("v") < F.col("w"))
    # close the wedge: the third edge is oriented either v->w or w->v;
    # v < w here is ID order, not orientation order, so check both via
    # the canonical form
    closer = oriented.select(
        F.least("src", "dst").alias("v"), F.greatest("src", "dst").alias("w")
    )
    tri = wedges.join(closer, ["v", "w"])
    return (
        tri.select(
            F.array_sort(F.array("u", "v", "w")).alias("t")
        )
        .select(
            F.col("t")[0].alias("p_a"),
            F.col("t")[1].alias("p_b"),
            F.col("t")[2].alias("p_c"),
        )
        .orderBy("p_a", "p_b", "p_c")
    )


KCORE_ROUNDS = 12


def kcore_nodes(
    edges: DataFrame,
    k: int,
    rounds: int = KCORE_ROUNDS,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """k-core via bounded synchronous peeling (Seidman, "Network
    structure and minimum degree", Social Networks 1983; the
    Batagelj-Zaveršnik peel expressed as rounds): each round drops
    every node whose degree within the surviving subgraph is < k,
    `rounds` times — a FIXED dataflow the oracle unrolls verbatim
    (the pagerank_fixed move), with a result-neutral early exit when a
    round removes nothing (the peel has reached its fixpoint; further
    rounds are identity).  If the graph needs more than `rounds`
    peels, both engines stop at the same intermediate subgraph, so
    hash equality holds by construction and the fixture pins the
    fixpoint with an idempotence test.

    Returns (node, deg) — survivors with their in-core degree,
    deterministically ordered.  Each round is one degree aggregate +
    two semi-joins of the edge list against the (node-bounded)
    survivor set; the edge list shrinks monotonically, so round cost
    decays — the property that makes peeling viable at 100 TB where a
    full recursive fixpoint would not bound its round count."""
    canon = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("x"),
            F.greatest(F.col(a), F.col(b)).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = canon
    prev_edges = cur.count()
    for _ in range(rounds):
        deg = (
            cur.select(F.col("x").alias("node"))
            .unionByName(cur.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "x"), "x", "left_semi")
            .join(keep.withColumnRenamed("node", "y"), "y", "left_semi")
            .select("x", "y")
            .localCheckpoint(eager=True)
        )
        n_edges = nxt.count()
        cur = nxt
        if n_edges == prev_edges:
            break  # fixpoint: every further round is identity
        prev_edges = n_edges
    deg_final = (
        cur.select(F.col("x").alias("node"))
        .unionByName(cur.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg_final.where(F.col("deg") >= k).orderBy("node")


HITS_ITERS = 3


def hits_fixed(
    edges: DataFrame,
    iters: int = HITS_ITERS,
    src: str = "src",
    dst: str = "dst",
    broadcast_scores: bool | None = None,
    fused: bool = False,
) -> DataFrame:
    """HITS hubs-and-authorities with a FIXED number of iterations
    (Kleinberg, "Authoritative sources in a hyperlinked environment",
    JACM 1999) over a directed edge list — the natural companion to
    `pagerank_fixed` on a bipartite graph, where hubs and authorities
    are the two node populations rather than one mixed score.

    Synchronous Jacobi update from the PREVIOUS pair (the unrollable
    form): h_i(u) = Σ_{(u,v)} a_{i-1}(v), a_i(v) = Σ_{(u,v)} h_{i-1}(u),
    starting from all-ones, L1-normalized ONCE at the end — every step
    is linear, so per-iteration scalars would cancel in the final norm
    anyway; skipping them removes two aggregate+crossJoin pairs per
    iteration from the plan (measured: the per-iteration-normalized
    form cost 10.8 s at sf0.1 against ~6 s for this one).  All
    per-node sums DECIMAL-accumulate (the _dot_dec convention) and the
    single norm divides as a plain IEEE double, so the oracle replays
    the arithmetic bit-identically.  Returns (node, kind, score) for
    every node — kind 'hub' for sources, 'authority' for destinations
    (a node on both sides carries both rows), scores rounded to 9.
    Input contract (same as pagerank_fixed, stated per r10 advice
    item 5): `edges` must hold ONE ROW PER DISTINCT EDGE — duplicate
    rows double-count hub/authority contributions.  The operator does
    NOT dedup internally (an unconditional .distinct() would charge
    every caller a shuffle the catalog's already-distinct edge lists
    don't need); callers with multi-edges dedup first, as
    `_purchase_edges` does.  Same posture rules as pagerank_fixed.

    Probe shape (r10 verdict item 3, A/B'd round 11): the DEFAULT is
    the two-probe Jacobi form — per iteration the |E|-row DISK_ONLY
    edge persist is joined twice (hub pass + authority pass).  The
    ``fused=True`` arm routes both half-updates through ONE
    union-keyed message table built once before the loop — each edge
    (u,v) contributes (probe=(v,authority) → out=(u,hub)) and
    (probe=(u,hub) → out=(v,authority)) — making an iteration one
    equi-join on (node, kind) plus one (node, kind) aggregate.  The
    interleaved median-of-3 A/B (BASELINE.md "Round-11 A/B: HITS probe
    shape") measured the fused arm 1.45x SLOWER at sf0.1 and
    1.52x slower at 10x: halving the join count does not pay for
    doubling the persisted probe rows and widening every join and
    group key by the kind column, so the fused form is kept only as
    the measured-and-rejected arm (same verdict pattern as r10's
    per-iteration-norm A/B).  The DECIMAL message multiset per
    (node, kind) group is identical in both forms, so the arms are
    bit-equal (test-pinned) and the oracle is unchanged."""
    from pyspark import StorageLevel

    ed = _mat.track(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist(
            StorageLevel.DISK_ONLY
        )
    )
    # r15 (guide §1.2, fewer serial jobs): the old shape ran FOUR
    # construction jobs before the loop — two eager localCheckpoints of
    # hubs/auths plus two separate .count()s for the posture probe.
    # One combined aggregate over the edge list returns both distinct
    # populations in a single job (which also fills the DISK_ONLY edge
    # cache); hubs/auths then stay LAZY — each is consumed exactly once
    # (as the opposite chain's iteration-0 scores), so materializing
    # them bought nothing.
    if broadcast_scores is None:
        # struct(): count a NULL endpoint as one node, as distinct() does
        pops = ed.agg(
            F.countDistinct(F.struct("src")).alias("h"),
            F.countDistinct(F.struct("dst")).alias("a"),
        ).first()
        broadcast_scores = pops["h"] + pops["a"] <= GRAPH_BROADCAST_MAX_NODES
    hubs = ed.select(F.col("src").alias("node")).distinct()
    auths = ed.select(F.col("dst").alias("node")).distinct()

    def posture(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_scores else df

    if fused:
        # ONE routing table, built once: edge (u,v) emits a message
        # request from (v, authority) to (u, hub) and from (u, hub) to
        # (v, authority) — both half-updates ride a single join + agg
        route = (
            ed.select(
                F.col("dst").alias("pnode"),
                F.lit("authority").alias("pkind"),
                F.col("src").alias("onode"),
                F.lit("hub").alias("okind"),
            )
            .unionByName(
                ed.select(
                    F.col("src").alias("pnode"),
                    F.lit("hub").alias("pkind"),
                    F.col("dst").alias("onode"),
                    F.lit("authority").alias("okind"),
                )
            )
            .persist(StorageLevel.DISK_ONLY)
        )
        route = _mat.track(route)
        scores = hubs.select(
            "node", F.lit("hub").alias("kind"), F.lit(1.0).alias("score")
        ).unionByName(
            auths.select(
                "node", F.lit("authority").alias("kind"), F.lit(1.0).alias("score")
            )
        )
        for _ in range(iters):
            scores = (
                route.join(
                    posture(
                        scores.select(
                            F.col("node").alias("pnode"),
                            F.col("kind").alias("pkind"),
                            "score",
                        )
                    ),
                    ["pnode", "pkind"],
                )
                .groupBy("onode", "okind")
                .agg(
                    F.sum(F.col("score").cast("decimal(38,18)"))
                    .cast("double")
                    .alias("score")
                )
                .select(
                    F.col("onode").alias("node"),
                    F.col("okind").alias("kind"),
                    "score",
                )
            )
        h = scores.where(F.col("kind") == "hub").select("node", "score")
        a = scores.where(F.col("kind") == "authority").select("node", "score")
    else:
        h = hubs.select("node", F.lit(1.0).alias("score"))
        a = auths.select("node", F.lit(1.0).alias("score"))
        for _ in range(iters):
            h_next = (
                ed.join(
                    posture(a.select(F.col("node").alias("dst"), "score")), "dst"
                )
                .groupBy("src")
                .agg(
                    F.sum(F.col("score").cast("decimal(38,18)"))
                    .cast("double")
                    .alias("score")
                )
                .select(F.col("src").alias("node"), "score")
            )
            a_next = (
                ed.join(
                    posture(h.select(F.col("node").alias("src"), "score")), "src"
                )
                .groupBy("dst")
                .agg(
                    F.sum(F.col("score").cast("decimal(38,18)"))
                    .cast("double")
                    .alias("score")
                )
                .select(F.col("dst").alias("node"), "score")
            )
            h, a = h_next, a_next

    # node-cardinality eager persists (r14): the norm consumes each of
    # h/a TWICE (the total aggregate and the divide join), and without
    # materialization each consumer re-ran the entire iteration chain —
    # the whole HITS loop executed ~2x per invocation (interleaved A/B
    # 0.804 paired, 10.56 -> 8.49 s at sf0.1 over 4 trips).  Persist +
    # count, not localCheckpoint: a lazy persist measured NO win (the
    # broadcast-total job and the result stage raced past the
    # still-empty cache), and a checkpoint truncates lineage so the
    # final plan would no longer show the two-probe iteration subtree
    # the r11 A/B pinned (tests/test_plans.py).  The counts fill the
    # caches before either consumer plans a job.
    # r15 (guide §2.6, overlap independent jobs): the h and a chains
    # are INDEPENDENT until the final union, and each eager fill is a
    # multi-stage job whose stage tails leave cores idle — so the two
    # fills run concurrently from a 2-thread pool, one chain's tasks
    # back-filling executors freed by the other's stragglers.
    # Lifecycle (see materialize.py): runs at query-construction time;
    # the tracked CacheManager entries are released by
    # release_materialized() when the consumer finishes.
    from concurrent.futures import ThreadPoolExecutor

    hp = _mat.track(h.persist())
    ap = _mat.track(a.persist())
    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(lambda d: d.count(), (hp, ap)))

    def l1_normalize(df: DataFrame) -> DataFrame:
        tot = df.agg(
            F.sum(F.col("score").cast("decimal(38,18)"))
            .cast("double")
            .alias("_tot")
        )
        return df.crossJoin(F.broadcast(tot)).select(
            "node", (F.col("score") / F.col("_tot")).alias("score")
        )

    h, a = l1_normalize(hp), l1_normalize(ap)
    return (
        h.select("node", F.lit("hub").alias("kind"), "score")
        .unionByName(a.select("node", F.lit("authority").alias("kind"), "score"))
        .select("node", "kind", F.round("score", 9).alias("score"))
        .orderBy("kind", "node")
    )


def ppr_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
    src: str = "src",
    dst: str = "dst",
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Personalized PageRank with FIXED iterations (Page et al. 1999
    §6 'personalized' teleport; the random walk restarts at the SEED
    set instead of uniformly):

      rank_0(v) = 1[v∈S]/|S|;
      rank_{i+1}(v) = (1-d)·1[v∈S]/|S| + d·Σ_{(u,v)} rank_i(u)/deg(u)

    — 'what is close to THESE nodes' rather than global importance;
    the recommendation/expansion primitive (related suppliers for one
    nation's customers, similar docs to a seed set).  Machinery twin
    of `pagerank_fixed`: same dangling variant, same DECIMAL
    accumulation, same auto posture, same lazy loop over the
    DISK_ONLY edge list — only the teleport vector differs, so the
    oracle unrolls identically with a CASE'd teleport.  Seeds outside
    the graph's node set are ignored (no edges to walk; |S| counts
    in-graph seeds).  Non-empty-seed contract (r10 advice item 2):
    |S| = 0 would divide by zero — NULL ranks on Spark but
    Infinity/NaN under DuckDB's IEEE double division — so an empty
    in-graph seed set raises ValueError instead of returning a
    cross-engine-divergent result.  Returns (node, rank) for every
    node."""
    from pyspark import StorageLevel

    teleport = 1.0 - damping
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ed = _mat.track(e.persist(StorageLevel.DISK_ONLY))
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if broadcast_ranks is None:
        broadcast_ranks = nodes.count() <= GRAPH_BROADCAST_MAX_NODES
    s = (
        seeds.select("node")
        .distinct()
        .join(nodes, "node", "left_semi")
        .localCheckpoint()
    )
    # fail loud on |S| = 0 (already materialized by the checkpoint, so
    # this probe is metadata-cheap): 1/|S| and teleport/|S| below have
    # no meaning without a seed inside the graph
    if not s.take(1):
        raise ValueError(
            "ppr_fixed: no seed node present in the edge set (|S| = 0); "
            "personalized teleport requires at least one in-graph seed"
        )
    ns = s.agg(F.count(F.lit(1)).cast("double").alias("_ns"))
    deg = ed.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("_deg")
    ).localCheckpoint()
    # teleport vector: (1-d)/|S| on seeds, 0 elsewhere — materialized
    # once, reused every iteration (and scaled for the init)
    tvec = (
        nodes.join(s.select("node", F.lit(1).alias("_is_s")), "node", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.when(F.col("_is_s") == 1, F.lit(teleport) / F.col("_ns"))
            .otherwise(F.lit(0.0))
            .alias("_t"),
        )
        .localCheckpoint()
    )
    # init 1[seed]/|S| computed DIRECTLY (dividing _t back by
    # (1-d) would round differently than 1/|S| — the oracle replays
    # this exact expression)
    ranks = (
        nodes.join(s.select("node", F.lit(1).alias("_is_s")), "node", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.when(F.col("_is_s") == 1, F.lit(1.0) / F.col("_ns"))
            .otherwise(F.lit(0.0))
            .alias("rank"),
        )
    )
    for _ in range(iters):
        rates = ranks.join(deg, ranks.node == deg.src).select(
            F.col("node").alias("_u"),
            (F.col("rank") / F.col("_deg")).alias("_rate"),
        )
        rhs = F.broadcast(rates) if broadcast_ranks else rates
        sums = (
            ed.join(rhs, ed.src == rates._u)
            .groupBy("dst")
            .agg(
                F.sum(F.col("_rate").cast("decimal(38,18)"))
                .cast("double")
                .alias("_s")
            )
        )
        ranks = (
            tvec.join(
                F.broadcast(sums) if broadcast_ranks else sums,
                tvec.node == sums.dst,
                "left",
            )
            .select(
                "node",
                (
                    F.col("_t")
                    + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    broadcast_frontier: bool | None = None,
) -> DataFrame:
    """Bounded-hop minimum-cost paths from a seed set (Bellman-Ford
    value iteration with the improved-only frontier — the weighted
    companion to `bfs_min_hops`): dist_i(v) = min cost of reaching v
    from any seed using <= i edges; after `max_hops` rounds every
    reached node carries its cheapest bounded path cost.

    Weights must be exact integers (the caller converts money to
    cents etc.) so min-plus arithmetic is engine-exact — the DuckDB
    oracle can then be a genuine bounded WITH RECURSIVE over all
    paths, and hash equality proves the relaxation computes the same
    minima without enumerating paths.  Input contract: one row per
    directed edge with its weight (pre-aggregate parallel edges to
    their min first, as `pagerank_fixed` requires distinct edges).

    Frontier discipline is the 100 TB shape: round i relaxes ONLY
    nodes whose distance IMPROVED in round i-1 (the Bellman-Ford
    queue optimization) — a settled subgraph costs nothing, total
    probe work is one edge probe per improvement, never per path
    (the recursive CTE pays per path, which is why it is only the
    sf0.01 oracle).  Early exit when no node improves is
    result-neutral (the fixpoint is reached).  Distance/frontier
    tables are node-bounded, localCheckpointed per round; the edge
    list persists DISK_ONLY, probed <= max_hops times.  Returns
    (node, cost) for every node within `max_hops` edges of a seed
    (seeds at cost 0), deterministically ordered."""
    from pyspark import StorageLevel

    e = _mat.track(edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    ).persist(StorageLevel.DISK_ONLY))
    if broadcast_frontier is None:
        n_nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .count()
        )
        broadcast_frontier = n_nodes <= GRAPH_BROADCAST_MAX_NODES

    def posture(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_frontier else df

    dist = (
        seeds.select("node")
        .distinct()
        .select("node", F.lit(0).cast("long").alias("cost"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(max_hops):
        offers = (
            e.join(
                posture(
                    frontier.select(
                        F.col("node").alias("src"), F.col("cost").alias("c0")
                    )
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("c0") + F.col("w")).alias("cost"))
        )
        improved = (
            offers.join(
                posture(dist.select("node", F.col("cost").alias("cur"))),
                "node",
                "left",
            )
            .where(F.col("cur").isNull() | (F.col("cost") < F.col("cur")))
            .select("node", "cost")
            .localCheckpoint(eager=True)
        )
        if not improved.take(1):
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return dist.orderBy("node")


def degree_assortativity(pairs: DataFrame) -> DataFrame:
    """Degree assortativity of an undirected graph (Newman, PRL 2002):
    the Pearson correlation of endpoint degrees over edges — positive
    when hubs attach to hubs (social-style), negative when hubs attach
    to leaves (hub-and-spoke), the one-number mixing diagnostic above
    the triangle/k-core structure tiers.

    Input: one row per undirected edge (a, b) with a < b (the
    _copurchase_pairs convention).  Both directions are counted, and
    that symmetry IS the engine-exactness trick: with each edge seen
    both ways the two endpoint-degree marginals coincide, so Newman's
    eq. 4 needs NO libm sqrt —

        r = (m·Σ d_u d_v − (Σ d_u)²) / (m·Σ d_u² − (Σ d_u)²)

    over directed edges, every Σ an exact BIGINT (degrees from one
    count agg), then ONE IEEE division rounded 9dp — bit-identical in
    any engine (the series_acf moment discipline; a 100 TB deployment
    swaps the casts to DECIMAL(38,0)).  Regular graphs (zero degree
    variance) surface NULL.

    100 TB shape: one degree aggregate (node-sized), two broadcast-able
    degree attaches keyed on the endpoint, one scalar fold — no
    quadratic stage anywhere; the edge list is scanned twice.  Returns
    a single row (n_nodes, n_edges, assortativity)."""
    directed = pairs.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
    deg = directed.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    both = (
        directed.join(deg.withColumnRenamed("u", "_n"), F.col("u") == F.col("_n"))
        .select("u", "v", F.col("d").alias("du"))
        .join(
            deg.select(F.col("u").alias("_n2"), F.col("d").alias("dv")),
            F.col("v") == F.col("_n2"),
        )
        .select("du", "dv")
    )
    mom = both.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("du").alias("sx"),
        F.sum(F.col("du") * F.col("dv")).alias("sxy"),
        F.sum(F.col("du") * F.col("du")).alias("sxx"),
    )
    m, sx = F.col("m"), F.col("sx")
    num = m * F.col("sxy") - sx * sx
    den = m * F.col("sxx") - sx * sx
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return mom.crossJoin(F.broadcast(nodes)).select(
        "n_nodes",
        (m / F.lit(2)).cast("long").alias("n_edges"),
        F.when(
            den > 0, F.round(num.cast("double") / den.cast("double"), 9)
        ).alias("assortativity"),
    )


def degree_powerlaw(pairs: DataFrame, d_min: int = 1) -> DataFrame:
    """Continuous-MLE power-law exponent of the degree distribution
    (Clauset, Shalizi & Newman SIAM Rev. 2009, eq. 3.1 with the
    d_min − ½ discreteness shift):

        alpha = 1 + n / Σ_{d_u ≥ d_min} ln(d_u / (d_min − ½))

    — the heavy-tail diagnostic completing the graph-statistics
    ladder beside assortativity's mixing number (alpha near 2-3 =
    scale-free hub structure; large alpha = thin exponential-ish
    tail; the value decides whether hub-aware salting is worth it).

    Input: one row per undirected edge (a, b), a < b (the
    _copurchase_pairs convention); degrees count both endpoints.
    Engine-exactness: degrees are exact BIGINTs; each ln term may
    differ by an engine ulp, so the fold accumulates DECIMAL(38,18)
    quantized terms (order-free, the JS-matrix convention) and alpha
    rounds at 6dp; the d_min − ½ shift is an exact double literal.
    Degenerate inputs (no nodes at d ≥ d_min, or all degrees equal to
    d_min with a zero ln sum) surface NULL.

    100 TB shape: one degree aggregate (node-sized) + one scalar fold
    over the degree table; no quadratic stage.  Returns one row
    (n_nodes, n_tail, alpha)."""
    if d_min < 1:
        raise ValueError("degree_powerlaw: d_min must be >= 1")
    directed = pairs.select(F.col("a").alias("u")).unionByName(
        pairs.select(F.col("b").alias("u"))
    )
    deg = directed.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    shift = float(d_min) - 0.5
    tail = deg.where(F.col("d") >= d_min)
    agg = deg.groupBy().agg(
        F.count(F.lit(1)).alias("n_nodes")
    ).crossJoin(
        F.broadcast(
            tail.groupBy().agg(
                F.count(F.lit(1)).alias("n_tail"),
                F.sum(
                    F.log(
                        F.col("d").cast("double") / F.lit(shift)
                    ).cast("decimal(38,18)")
                ).alias("lsum"),
            )
        )
    )
    return agg.select(
        "n_nodes",
        F.coalesce("n_tail", F.lit(0).cast("long")).alias("n_tail"),
        F.when(
            (F.col("n_tail") > 0)
            & (F.col("lsum").cast("double") > 0),
            F.round(
                F.lit(1.0)
                + F.col("n_tail").cast("double")
                / F.col("lsum").cast("double"),
                6,
            ),
        ).alias("alpha"),
    )
