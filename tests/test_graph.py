"""Fixed-iteration PageRank (operators/graph.py)."""

from __future__ import annotations

import pytest

from database_per_keyword_analysis_spark.operators import graph as G


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.rank for r in G.pagerank_fixed(df, **kw).collect()}


def test_pagerank_one_iteration_matches_hand_computation(spark):
    # A -> B, A -> C, B -> C; C dangling (contributes nothing — the
    # documented variant)
    got = _ranks(spark, [("A", "B"), ("A", "C"), ("B", "C")], iters=1)
    t, d = 0.15 / 3, 0.85
    assert got["A"] == pytest.approx(t, abs=1e-15)
    assert got["B"] == pytest.approx(t + d * (1 / 3 / 2), abs=1e-12)
    assert got["C"] == pytest.approx(t + d * (1 / 3 / 2 + 1 / 3), abs=1e-12)


def test_pagerank_sink_accumulates_and_is_deterministic(spark):
    # star into a hub: the hub must dominate after 3 iterations, and
    # two runs must agree bit-for-bit (DECIMAL-accumulated sums)
    edges = [(f"u{i}", "hub") for i in range(20)] + [("hub", "u0")]
    a = _ranks(spark, edges)
    b = _ranks(spark, edges)
    assert a == b
    assert max(a, key=a.get) == "hub"


def test_pagerank_rank_mass_is_bounded(spark):
    # teleport mass + damped link mass can never exceed 1 (dangling
    # nodes leak mass; they never create it)
    got = _ranks(spark, [("A", "B"), ("B", "A"), ("B", "C")])
    total = sum(got.values())
    assert 0.0 < total <= 1.0 + 1e-9


def test_label_propagation_merges_a_clique_and_ties_go_low(spark):
    # triangle {A,B,C} plus pendant D-E: after enough rounds the
    # triangle shares one label; synchronous ties resolve to the
    # smallest label so two runs are bit-identical
    edges = [("A", "B"), ("B", "C"), ("A", "C"), ("D", "E")]
    df = spark.createDataFrame(edges, "src string, dst string")
    from database_per_keyword_analysis_spark.operators import graph as G

    got = {r.node: r.label for r in G.label_propagation_fixed(df, iters=4).collect()}
    assert len({got["A"], got["B"], got["C"]}) == 1  # one community
    assert {got["D"], got["E"]} == {"D", "E"} or len({got["D"], got["E"]}) == 1
    again = {
        r.node: r.label
        for r in G.label_propagation_fixed(df, iters=4).collect()
    }
    assert got == again


def test_label_propagation_one_round_is_min_neighbor_on_ties(spark):
    # star: center X with leaves a,b,c — one round: X takes min leaf
    # label 'a' (all counts 1), every leaf takes 'X'
    edges = [("X", "a"), ("X", "b"), ("X", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    from database_per_keyword_analysis_spark.operators import graph as G

    got = {r.node: r.label for r in G.label_propagation_fixed(df, iters=1).collect()}
    assert got == {"X": "a", "a": "X", "b": "X", "c": "X"}


def test_pagerank_auto_posture_broadcasts_small_and_shuffles_large(spark):
    """Round-9 (r8 verdict item 3): broadcast_ranks=None derives the
    posture from the measured node count — broadcast under the
    threshold, shuffle past it — and both postures produce the same
    bit-exact ranks (DECIMAL-accumulated sums)."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A"), ("A", "C")],
        "src string, dst string",
    )
    auto = G.pagerank_fixed(df)  # 3 nodes << threshold -> broadcast
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # pin a tiny threshold: the auto path must pick the shuffle posture
    orig = G.GRAPH_BROADCAST_MAX_NODES
    try:
        G.GRAPH_BROADCAST_MAX_NODES = 0
        shuffled = G.pagerank_fixed(df)
    finally:
        G.GRAPH_BROADCAST_MAX_NODES = orig
    plan2 = shuffled._jdf.queryExecution().executedPlan().toString()
    # the per-iteration rate/sum joins are no longer broadcast (the
    # one-row node-count crossJoin legitimately stays broadcast)
    assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
    a = {r.node: r.rank for r in auto.collect()}
    b = {r.node: r.rank for r in shuffled.collect()}
    assert a == b  # bit-exact across postures


def test_label_propagation_auto_posture_matches_across_postures(spark):
    df = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("X", "Y")], "src string, dst string"
    )
    auto = G.label_propagation_fixed(df)
    orig = G.GRAPH_BROADCAST_MAX_NODES
    try:
        G.GRAPH_BROADCAST_MAX_NODES = 0
        shuffled = G.label_propagation_fixed(df)
    finally:
        G.GRAPH_BROADCAST_MAX_NODES = orig
    a = sorted((r.node, r.label) for r in auto.collect())
    b = sorted((r.node, r.label) for r in shuffled.collect())
    assert a == b


def test_bfs_min_hops_contracts(spark):
    """r10 BFS contracts: seeds at 0, every node at its MINIMUM
    distance even when a longer path exists, unreachable components
    absent, the max_hops bound enforced, seeds outside the graph kept
    at 0, and early exit (frontier drains before max_hops) result-
    neutral."""
    # a -> b -> c -> d plus shortcut a -> c; island x -> y
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",), ("ghost",)], "node string")
    got = {
        (r.node, r.hops)
        for r in G.bfs_min_hops(edges, seeds, 2).collect()
    }
    assert got == {("a", 0), ("ghost", 0), ("b", 1), ("c", 1), ("d", 2)}
    # max_hops=1 cuts d; max_hops=10 early-exits after the graph drains
    got1 = {(r.node, r.hops) for r in G.bfs_min_hops(edges, seeds, 1).collect()}
    assert got1 == {("a", 0), ("ghost", 0), ("b", 1), ("c", 1)}
    got10 = {(r.node, r.hops) for r in G.bfs_min_hops(edges, seeds, 10).collect()}
    assert got10 == got
    # cycle safety: BFS terminates and keeps first-discovery hops
    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    s = spark.createDataFrame([("a",)], "node string")
    assert {(r.node, r.hops) for r in G.bfs_min_hops(cyc, s, 5).collect()} == {
        ("a", 0),
        ("b", 1),
    }


def test_bfs_min_hops_posture_equality(spark):
    """Auto-derived broadcast posture vs forced shuffle posture are
    result-identical (the graph-family posture contract)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    auto = sorted(
        (r.node, r.hops) for r in G.bfs_min_hops(edges, seeds, 3).collect()
    )
    forced = sorted(
        (r.node, r.hops)
        for r in G.bfs_min_hops(
            edges, seeds, 3, broadcast_frontier=False
        ).collect()
    )
    assert auto == forced


def test_triangle_listing_matches_brute_force(spark):
    """r10 triangle contracts: every triangle found exactly once as its
    id-sorted triple, on a seeded random graph vs itertools brute
    force; self-loops and duplicate/reversed edges are harmless."""
    import itertools
    import random

    rng = random.Random(7)
    nodes = list(range(20))
    edges = set()
    for _ in range(60):
        x, y = rng.sample(nodes, 2)
        edges.add((min(x, y), max(x, y)))
    rows = sorted(edges)
    # noise: reversed duplicates + a self-loop must not change anything
    noisy = rows + [(b, a) for a, b in rows[:10]] + [(3, 3)]
    df = spark.createDataFrame(noisy, "a long, b long")
    got = sorted(tuple(r) for r in G.triangle_listing(df).collect())
    brute = sorted(
        (x, y, z)
        for x, y, z in itertools.combinations(nodes, 3)
        if (x, y) in edges and (y, z) in edges and (x, z) in edges
    )
    assert got == brute
    # hub star graph (no triangles) and one closed fan
    star = [(0, i) for i in range(1, 10)] + [(1, 2)]
    sdf = spark.createDataFrame(star, "a long, b long")
    assert sorted(tuple(r) for r in G.triangle_listing(sdf).collect()) == [
        (0, 1, 2)
    ]


def test_kcore_nodes_contracts(spark):
    """r10 k-core contracts: a clique survives at k = size-1, an
    attached chain unravels over CASCADING rounds (the case one peel
    round cannot catch), isolated/low-degree structure drops, and the
    fixture's bounded rounds reach the true fixpoint (idempotence)."""
    # K4 clique on 1-4 + a chain 4-5-6-7 that peels from the tail in
    # three successive rounds at k=2
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    chain = [(4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(k4 + chain, "a long, b long")
    out = {(r.node, r.deg) for r in G.kcore_nodes(df, 2, rounds=5).collect()}
    assert out == {(1, 3), (2, 3), (3, 3), (4, 3)}  # chain fully peeled
    # k=3: the clique is exactly the 3-core
    out3 = {r.node for r in G.kcore_nodes(df, 3, rounds=5).collect()}
    assert out3 == {1, 2, 3, 4}
    # k=4: nothing survives
    assert G.kcore_nodes(df, 4, rounds=5).count() == 0
    # one round is NOT enough for the chain: round 1 peels 7 and the
    # output's final deg>=k filter exposes 6, but 5 still shows deg 2
    # until the NEXT round's edge induction removes (5,6)
    partial = {r.node for r in G.kcore_nodes(df, 2, rounds=1).collect()}
    assert 5 in partial and 6 not in partial and 7 not in partial
    partial2 = {r.node for r in G.kcore_nodes(df, 2, rounds=2).collect()}
    assert partial2 == {1, 2, 3, 4}
    # idempotence at the catalog depth: rounds and rounds+4 agree on
    # the sf0.001 fixture graph (the early exit makes extras free)
    from pyspark.sql import functions as F

    items = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select(F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("it"))
        .distinct()
    )
    a = items.select("bk", F.col("it").alias("ia"))
    b = items.select("bk", F.col("it").alias("ib"))
    pairs = (
        a.join(b, "bk")
        .where(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select(F.col("ia").alias("a"), F.col("ib").alias("b"))
    )
    r12 = sorted(tuple(r) for r in G.kcore_nodes(pairs, 3).collect())
    r16 = sorted(tuple(r) for r in G.kcore_nodes(pairs, 3, rounds=16).collect())
    assert r12 == r16


def test_hits_fixed_contracts(spark):
    """r10 HITS contracts on a hand-built bipartite graph: the source
    linked from every hub out-ranks the rest, hub scores order by
    out-reach into strong authorities, L1 norms hold per kind, and the
    forced-shuffle posture is result-identical."""
    edges = spark.createDataFrame(
        # s1 is cited by all three hubs; s2 by one strong hub; s3 by a weak hub
        [("c1", "s1"), ("c2", "s1"), ("c3", "s1"), ("c1", "s2"), ("c3", "s3")],
        "src string, dst string",
    )
    rows = G.hits_fixed(edges).collect()
    hubs = {r.node: r.score for r in rows if r.kind == "hub"}
    auths = {r.node: r.score for r in rows if r.kind == "authority"}
    assert set(hubs) == {"c1", "c2", "c3"} and set(auths) == {"s1", "s2", "s3"}
    assert auths["s1"] > auths["s2"] > 0 and auths["s1"] > auths["s3"]
    assert hubs["c1"] > hubs["c2"]  # c1 reaches s1+s2; c2 only s1
    assert abs(sum(hubs.values()) - 1.0) < 1e-6
    assert abs(sum(auths.values()) - 1.0) < 1e-6
    forced = G.hits_fixed(edges, broadcast_scores=False).collect()
    assert sorted(map(tuple, forced)) == sorted(map(tuple, rows))


def test_hits_posture_counts_null_endpoints_as_nodes(spark, monkeypatch):
    """The posture probe must count the populations hubs/auths iterate
    over.  Their distinct() keeps a NULL endpoint as one node, so here
    the NULLs lift the count from 2 to 4: past a threshold of 3 the
    scores take the shuffle posture, and at 4 they broadcast."""
    edges = spark.createDataFrame(
        [("a", "b"), (None, "b"), ("a", None)], "src string, dst string"
    )
    real = G.F.broadcast
    score_broadcasts = []

    def spy(df):
        if "score" in df.columns:
            score_broadcasts.append(df)
        return real(df)

    monkeypatch.setattr(G.F, "broadcast", spy)
    for limit, broadcast in ((3, False), (4, True)):
        score_broadcasts.clear()
        monkeypatch.setattr(G, "GRAPH_BROADCAST_MAX_NODES", limit)
        G.hits_fixed(edges, iters=1)
        assert bool(score_broadcasts) is broadcast, limit


def test_hits_fused_and_two_probe_forms_are_bit_equal(spark):
    """r10 verdict item 3: the fused single-probe update (one
    union-keyed routing join per iteration) must be BIT-equal to the
    two-probe Jacobi form — the per-(node, kind) DECIMAL message
    multiset is identical, so no tolerance is needed.  Checked on an
    asymmetric multi-component graph under both postures."""
    edges = spark.createDataFrame(
        [
            ("c1", "s1"), ("c2", "s1"), ("c3", "s1"), ("c1", "s2"),
            ("c3", "s3"), ("x", "y"), ("y", "z"), ("z", "x"),
            ("s1", "c1"),  # a node on both sides carries both kinds
        ],
        "src string, dst string",
    )
    for posture in (None, False):
        fused = G.hits_fixed(edges, broadcast_scores=posture, fused=True).collect()
        plain = G.hits_fixed(edges, broadcast_scores=posture, fused=False).collect()
        assert sorted(map(tuple, fused)) == sorted(map(tuple, plain))


def test_ppr_fixed_contracts(spark):
    """r10 personalized-PageRank contracts: mass concentrates around
    the seed's neighborhood (a node near the seed out-ranks a distant
    one), off-graph seeds are ignored, and rank sums stay <= 1."""
    # chain a -> b -> c -> d plus a far component x -> y
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",), ("ghost",)], "node string")
    got = {r.node: r.rank for r in G.ppr_fixed(edges, seeds).collect()}
    assert "ghost" not in got  # off-graph seed ignored
    # hand-unrolled 3 iterations on the chain (d=0.85, single seed a):
    # a holds its teleport; the restarted-walk wavefronts sit at b/c;
    # the 3-step wavefront 0.85^3 lands on the sink d
    import pytest as _pytest

    assert got["a"] == _pytest.approx(0.15)
    assert got["b"] == _pytest.approx(0.85 * 0.15)
    assert got["c"] == _pytest.approx(0.85**2 * 0.15)
    assert got["d"] == _pytest.approx(0.85**3)
    assert got["x"] == 0.0 and got["y"] == 0.0  # unreachable component
    assert sum(got.values()) <= 1.0 + 1e-9


def test_ppr_fixed_empty_in_graph_seed_set_raises(spark):
    """r10 advice item 2: |S| = 0 would divide by zero (NULL on Spark,
    Infinity under DuckDB's IEEE division) — the non-empty-seed
    contract fails loud instead."""
    import pytest as _pytest

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("ghost",)], "node string")
    with _pytest.raises(ValueError, match=r"\|S\| = 0"):
        G.ppr_fixed(edges, seeds)


def test_sssp_bounded_contracts(spark):
    """r11 Bellman-Ford contracts on a hand-built weighted graph: a
    cheap 2-hop route beats an expensive direct edge, the hop bound
    excludes a cheaper-but-longer route, seeds sit at cost 0,
    unreachable nodes are absent, and the forced-shuffle posture is
    result-identical."""
    edges = spark.createDataFrame(
        [
            ("a", "b", 10),  # direct but expensive
            ("a", "c", 1), ("c", "b", 2),  # 2-hop route, cost 3
            ("a", "d", 1), ("d", "e", 1), ("e", "f", 1),  # f needs 3 hops
            ("x", "y", 5),  # disconnected from the seed
        ],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.cost for r in G.sssp_bounded(edges, seeds, 2).collect()}
    assert got == {"a": 0, "b": 3, "c": 1, "d": 1, "e": 2}
    # 3 hops reaches f; b stays at the relaxed 2-hop optimum
    got3 = {r.node: r.cost for r in G.sssp_bounded(edges, seeds, 3).collect()}
    assert got3["f"] == 3 and got3["b"] == 3
    # early exit past the fixpoint is result-neutral
    got9 = {r.node: r.cost for r in G.sssp_bounded(edges, seeds, 9).collect()}
    assert got9 == got3
    forced = {
        r.node: r.cost
        for r in G.sssp_bounded(
            edges, seeds, 2, broadcast_frontier=False
        ).collect()
    }
    assert forced == got


class TestDegreeAssortativity:
    def _run(self, spark, pairs):
        from database_per_keyword_analysis_spark.operators import graph as G

        df = spark.createDataFrame(pairs, "a string, b string")
        return G.degree_assortativity(df).collect()[0]

    @staticmethod
    def _ref(pairs):
        # pure-Python Newman r over directed edges (both ways)
        from collections import Counter

        dirs = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
        deg = Counter(u for u, _ in dirs)
        xs = [(deg[u], deg[v]) for u, v in dirs]
        m = len(xs)
        sx = sum(x for x, _ in xs)
        sxy = sum(x * y for x, y in xs)
        sxx = sum(x * x for x, _ in xs)
        den = m * sxx - sx * sx
        return None if den == 0 else round((m * sxy - sx * sx) / den, 9)

    def test_star_graph_is_maximally_disassortative(self, spark):
        pairs = [("h", f"l{i}") for i in range(5)]
        row = self._run(spark, pairs)
        assert row.n_nodes == 6 and row.n_edges == 5
        assert row.assortativity == -1.0 == self._ref(pairs)

    def test_regular_graph_is_null(self, spark):
        # a 4-cycle: every degree 2 -> zero variance -> NULL
        pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")]
        row = self._run(spark, pairs)
        assert row.assortativity is None and row.n_edges == 4

    def test_matches_pure_python_on_mixed_graph(self, spark):
        pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
                 ("d", "e"), ("e", "f"), ("f", "g"), ("d", "g")]
        row = self._run(spark, pairs)
        assert row.assortativity == self._ref(pairs)


def test_degree_powerlaw_star_graph(spark):
    # star K1,5: hub degree 5, five leaves degree 1
    # alpha = 1 + 6 / (ln(5/0.5) + 5*ln(1/0.5)) = 1 + 6/(ln10 + 5 ln2)
    import math

    from database_per_keyword_analysis_spark.operators import graph as G

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "a long, b long"
    )
    r = G.degree_powerlaw(pairs).collect()[0]
    assert (r.n_nodes, r.n_tail) == (6, 6)
    want = 1 + 6 / (math.log(10.0) + 5 * math.log(2.0))
    assert abs(r.alpha - round(want, 6)) <= 2e-6
    import pytest as _pt

    with _pt.raises(ValueError):
        G.degree_powerlaw(pairs, d_min=0)


def test_degree_powerlaw_matches_pure_python(spark):
    import math
    import random
    from collections import Counter

    from database_per_keyword_analysis_spark.operators import graph as G

    rng = random.Random(19)
    edges = set()
    while len(edges) < 60:
        a, b = rng.randint(0, 25), rng.randint(0, 25)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(sorted(edges), "a long, b long")
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    lsum = sum(math.log(d / 0.5) for d in deg.values())
    want = 1 + len(deg) / lsum
    r = G.degree_powerlaw(pairs).collect()[0]
    assert r.n_nodes == len(deg)
    assert abs(r.alpha - round(want, 6)) <= 2e-6
