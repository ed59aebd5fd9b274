"""Property tests for connected components and PageRank.

Both connected-components branches — union-find on the driver and the
large-star/small-star loop (Kiveris et al., SoCC'14) — must produce the
union-find components on arbitrary graphs, and the loop must converge in
O(log n) rounds on a path graph, where min-label propagation would need
O(n) (one hop of label travel per round).
"""

import random

import pytest

from trading_etl_spark.operators import graph as gr


def _labels(df):
    return {r["id"]: r["comp"] for r in df.collect()}


def _frames(spark, n_nodes, edge_list):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges = spark.createDataFrame(edge_list or [(0, 0)], "u long, v long")
    if not edge_list:
        edges = edges.limit(0)
    return nodes, edges


def _brute_components(n_nodes, edge_list):
    """Union-find ground truth, min id as representative."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_list:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {i: find(i) for i in range(n_nodes)}


def _star_loop(spark, n_nodes, edge_list, max_iter=30):
    """The distributed branch alone: (labels, rounds) of the star loop run
    directly on the distinct edge set, whatever the driver bound says."""
    _, edges = _frames(spark, n_nodes, edge_list)
    e = edges.filter("u != v").distinct().localCheckpoint()
    star, rounds = gr._star_loop(e, max_iter)
    labels = {i: i for i in range(n_nodes)}
    for r in star.collect():
        labels[r["u"]] = min(labels[r["u"]], r["v"])
    return labels, rounds


def test_two_phase_matches_min_label_on_random_graphs(spark, monkeypatch):
    rng = random.Random(42)
    graphs = []
    for _ in range(3):
        n = 60
        graphs.append((n, [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(20, 55))
        ]))
    # high-degree case: hub 100 with 200 leaves on both sides of its id
    # (one collect_set row holds all of them) plus a 20-edge chain off
    # leaf 201; node 0 and 222..229 stay isolated
    leaves = [i for i in range(1, 202) if i != 100]
    hub = [(100, i) for i in leaves] + [(i, i + 1) for i in range(201, 221)]
    graphs.append((230, hub))
    # clique 10..17 + path 0-1-2 + isolated 3..9, and no edges at all
    clique = [(a, b) for a in range(10, 18) for b in range(a + 1, 18)]
    graphs.append((18, clique + [(0, 1), (1, 2)]))
    graphs.append((5, []))
    # every graph here is below the driver bound; -1 forces the star loop
    for bound in (gr.DRIVER_CC_MAX_EDGES, -1):
        monkeypatch.setattr(gr, "DRIVER_CC_MAX_EDGES", bound)
        for n, edge_list in graphs:
            nodes, edges = _frames(spark, n, edge_list)
            truth = _brute_components(n, edge_list)
            got = _labels(gr.connected_components_two_phase(nodes, edges))
            assert got == truth, (bound, n)


def test_two_phase_path_graph_converges_in_log_rounds(spark):
    # 1000-node path: diameter 999, so min-label propagation would need
    # 999 rounds; two-phase collapses the whole path in O(log n) rounds.
    n = 1000
    edge_list = [(i, i + 1) for i in range(n - 1)]
    labels, rounds = _star_loop(spark, n, edge_list)
    # exact count: each round's edge set is fixed by the algorithm, so any
    # change in the round count means the star steps changed
    assert rounds == 11, f"two-phase took {rounds} rounds on a 1000-node path"
    assert labels == {i: 0 for i in range(n)}


def test_two_phase_clique_isolated_and_empty(spark):
    # clique 10..17 + path 0-1-2 + isolated 3..9
    clique = [(a, b) for a in range(10, 18) for b in range(a + 1, 18)]
    edge_list = clique + [(0, 1), (1, 2)]
    labels, rounds = _star_loop(spark, 18, edge_list)
    expected = {i: 10 for i in range(10, 18)} | {0: 0, 1: 0, 2: 0}
    expected |= {i: i for i in range(3, 10)}
    assert labels == expected
    assert rounds <= 4  # near-cliques collapse almost immediately
    # no edges at all → every node a singleton
    nodes2, edges2 = _frames(spark, 5, [])
    assert _labels(gr.connected_components_two_phase(nodes2, edges2)) == {
        i: i for i in range(5)
    }


def test_two_phase_below_bound_runs_at_most_three_jobs(spark):
    """Below DRIVER_CC_MAX_EDGES the whole operator is the edge checkpoint
    (which also counts the edges) and one Arrow collect; the labels are
    lazy. Counted under a job group, as the pagerank build test does."""
    edge_list = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2)]
    nodes, edges = _frames(spark, 41, edge_list)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("cc-driver-branch", "probe")
        labels = gr.connected_components_two_phase(nodes, edges)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-driver-branch"))
    finally:
        sc.setJobGroup("", "")
    assert n_jobs <= 3, n_jobs
    assert _labels(labels) == _brute_components(41, edge_list)


def test_pagerank_fixed_point_and_dangling(spark):
    """Triangle {0,1,2} + isolated node 3: the uniform start IS the
    triangle's fixed point (regular graph), so every iteration returns
    0.25 for triangle nodes; the dangling node keeps teleport-only mass
    0.15/4 — the no-redistribution variant the oracle replays."""
    nodes, edges = _frames(spark, 4, [(0, 1), (0, 2), (1, 2)])
    got = {r["id"]: r["rank"] for r in gr.pagerank(nodes, edges).collect()}
    assert got[3] == round(0.15 / 4, 6)
    for i in range(3):
        assert abs(got[i] - 0.25) < 1e-6, got


def test_pagerank_star_hub_outranks_leaves_and_sums(spark):
    """Star 0-{1..4}: the hub accumulates every leaf's full mass and must
    outrank the leaves; ranks stay positive and bounded by 1."""
    nodes, edges = _frames(spark, 5, [(0, i) for i in range(1, 5)])
    got = {r["id"]: r["rank"] for r in gr.pagerank(nodes, edges).collect()}
    assert got[0] > got[1] > 0
    leaves = {got[i] for i in range(1, 5)}
    assert len(leaves) == 1  # symmetric leaves tie exactly
    assert 0 < sum(got.values()) <= 1.0 + 1e-6


def test_pagerank_build_submits_no_job(spark):
    """Fixed-iteration formulation: building the plan runs NO driver-side
    action (the convergence-probe pattern of CC is deliberately absent)
    except the edge-list localCheckpoint materialization, which is the
    one documented eager step — so assert only jobs from the checkpoint
    lineage run, i.e. building twice adds the same bounded job count."""
    nodes, edges = _frames(spark, 4, [(0, 1)])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # count jobs via per-build JOB GROUPS, not global job-id totals: in a
    # long shared session the status tracker evicts old jobs past
    # spark.ui.retainedJobs, so absolute counts go wrong exactly when the
    # full suite runs (r11 flake). Group-scoped ids are immune — only the
    # jobs THIS build submits land in its group.
    try:
        sc.setJobGroup("pagerank-build-1", "probe")
        gr.pagerank(nodes, edges)
        n1 = len(tracker.getJobIdsForGroup("pagerank-build-1"))
        sc.setJobGroup("pagerank-build-2", "probe")
        gr.pagerank(nodes, edges)
        n2 = len(tracker.getJobIdsForGroup("pagerank-build-2"))
    finally:
        sc.setJobGroup("", "")
    # constant per build (the checkpoint's own stages), not growing with
    # plan reuse — a convergence probe would add per-iteration jobs (5
    # iterations >> the bound)
    assert n1 == n2 <= 6, (n1, n2)


def test_keeper_election_centrality_and_ties(spark):
    """Composition rule check at operator level: star cluster keeps its
    hub (highest PageRank), a symmetric pair ties down to the lower id,
    an isolated node keeps itself."""
    from pyspark.sql import functions as F

    nodes, edges = _frames(spark, 7, [(1, 0), (1, 2), (1, 3), (4, 5)])
    comp = gr.connected_components_two_phase(nodes, edges)
    ranks = gr.pagerank(nodes, edges)
    scored = comp.join(ranks, "id")
    keepers = scored.groupBy("comp").agg(
        F.max_by("id", F.struct(F.col("rank"), (-F.col("id")).alias("nid"))).alias(
            "keeper_id"
        )
    )
    got = {
        r["id"]: r["keeper_id"]
        for r in scored.join(keepers, "comp").collect()
    }
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_triangle_stats_known_graph(spark):
    """Triangle + pendant edge: 1-2-3 closed, 3-4 hanging. One triangle;
    wedges = C(2,2)+C(2,2)+C(3,2)+0 = 1+1+3 = 5; transitivity 3/5."""
    from trading_etl_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    row = triangle_stats(edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"], row["n_wedges"]) == (
        4,
        4,
        1,
        5,
    )
    assert row["transitivity"] == 0.6

    # edgeless graph: no wedges -> NULL transitivity, not a crash
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    row0 = triangle_stats(empty).collect()[0]
    assert (row0["n_triangles"], row0["transitivity"]) == (0, None)


def test_triangle_stats_star_hub_degree_orientation(spark):
    """VERDICT r9 task #2: a high-degree near-dup hub must not become the
    wedge-join key. Star fixture — hub 0 with 10k leaves, id-canonical so
    the hub is doc_a of EVERY edge (the worst case for id-canonical wedge
    enumeration: all 10k edges would meet at one join key). Under
    degree-ordered orientation the hub (deg 10000) is the (deg, id)-LARGER
    endpoint of every edge, so every edge orients leaf→hub and the hub has
    out-degree 0: zero wedges enumerate at it. Plus a closing edge between
    two leaves to prove triangles still count across the re-orientation."""
    from pyspark.sql import functions as F

    from trading_etl_spark.operators.graph import triangle_stats

    n = 10_000
    edges = spark.range(1, n + 1).selectExpr("0 as doc_a", "id as doc_b").union(
        spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    )
    row = triangle_stats(edges).collect()[0]
    # hub wedges C(n,2) + one wedge at each of leaf 1 and 2 (deg 2)
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (n + 1, n + 1, 1)
    assert row["n_wedges"] == n * (n - 1) // 2 + 2

    # The wedge join must consume the ORIENTED (u, v) relation — the plan's
    # equi-join keys are the conditional re-orientation expressions, not the
    # raw id-canonical (a, b) columns.
    from trading_etl_spark.operators import graph as gr

    e = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    ends = e.select(F.col("a").alias("id")).unionAll(e.select(F.col("b").alias("id")))
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    with_deg = e.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("_da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("_db")), "b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    # every star edge orients leaf -> hub; hub out-degree is exactly zero
    out_deg = {r["u"]: r["c"] for r in oriented.groupBy("u").count().withColumnRenamed("count", "c").collect()}
    assert 0 not in out_deg, "hub must have zero out-edges under degree orientation"
    assert max(out_deg.values()) <= 2, "leaf out-degree stays O(sqrt(E))"


def test_two_phase_raises_when_max_iter_ends_before_fixed_point(spark):
    # a 50-node chain needs several rounds; one round can never confirm a
    # fixed point, so the call must fail rather than return its labels
    edge_list = [(i, i + 1) for i in range(49)]
    with pytest.raises(RuntimeError, match="no fixed point in 1 rounds"):
        _star_loop(spark, 50, edge_list, max_iter=1)
