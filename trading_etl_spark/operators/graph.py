"""Distributed graph operators for dedup canonicalization.

After pair-finding (minhash/simhash/embedding LSH), production dedup needs
one more step the pairwise operators don't give: grouping transitively-
connected near-dups into clusters and electing one keeper per cluster.
That is connected components over the dup-pair graph.

No reference analog (the reference has no dedup at all) — this is part of
the LLM-training-data-pipeline surface mandated as first-class by
BASELINE.json.

Scale design: connected components first count the distinct edge set, for
free, on the checkpoint that materializes it. At most
``DRIVER_CC_MAX_EDGES`` edges are collected to the driver and labelled by
union-find there. A dup-pair graph is usually small, and there the loop
is all fixed cost, every round being several jobs of near-empty tasks: on
the sf0.01 simhash graph (1,597 edges; warm ``local[4]`` session, 4-core
host, labels collected) the driver path runs 5 jobs in 0.3-1.3 s and the
loop 24 jobs in 1.7-3.7 s; on sf0.1's (166k edges) 0.7-1.2 s against
2.2-3.0 s, with identical labels. Above the bound, the
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) runs on the executors — O(log n) rounds on
ANY topology, so adversarial cluster diameters (chains of pairwise-similar
documents) cost no more rounds than near-cliques. Each star step is one
``collect_set`` groupBy on node id followed by one ``distinct`` — no join,
no broadcast. Memory bound: one row holds the neighbor id array of a
node, so the highest-degree node's ids must fit in a task. Both branches
are asserted against union-find in tests/test_graph.py on
path/clique/hub/random graphs.

Each round truncates lineage with ``localCheckpoint`` so plans stay O(1)
deep, and all data stays on executors — the driver sees only per-round
convergence signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor LARGER than the center to the center's
    minimum: for each u over the symmetrized adjacency, m = min(Γ(u) ∪
    {u}); emit (v, m) for v ∈ Γ(u), v > u. One ``collect_set`` groupBy
    on u, then one ``distinct`` — two exchanges, no join. m is projected
    BELOW the explode so it is computed once per node, not once per
    exploded neighbor (quadratic at a star center). Memory bound: one
    row holds Γ(u), so the highest-degree node's neighbor ids must fit
    in a task."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.collect_set("v").alias("nb"))
        .select("u", "nb", F.least(F.array_min("nb"), F.col("u")).alias("m"))
        .select("u", "m", F.explode("nb").alias("v"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor SMALLER than the center (and the center)
    to the minimum: orient edges (hi, lo), m = min(N(u) ∪ {u}); emit
    (v, m) for v ∈ N(u) ∪ {u} \\ {m}. Same shape as :func:`_large_star`:
    one ``collect_set`` groupBy on the larger endpoint (the set also
    dedups the oriented edges), m projected below the explode, one
    ``distinct``; the same one-row-per-node memory bound."""
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .groupBy("u")
        .agg(F.collect_set("v").alias("nb"))
        .select("u", "nb", F.array_min("nb").alias("m"))
        .select(
            "m", F.explode(F.concat("nb", F.array(F.col("u")))).alias("v")
        )
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


# Measured by tools/driver_bound_probe.py (see connected_components_two_phase).
DRIVER_CC_MAX_EDGES = 1_000_000


def _star_loop(e: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Alternate large-star/small-star rounds over the distinct,
    checkpointed edge set ``e`` (u, v) until it stops changing; returns
    the fixed-point edge set and the number of rounds run. At the fixed
    point every component is a star centered at its minimum id.

    Convergence is detected from a (count, xxhash64-xor) signature of the
    edge set, computed by ``observe`` on the relation each round
    checkpoints — it rides the ``localCheckpoint`` job instead of running
    an aggregate job of its own, and replaces a per-round set-difference
    join (xor, not sum: order-independent and immune to ANSI-mode long
    overflow; the edge set is distinct so pairs can't cancel). A signature
    match is then CONFIRMED exactly with one ``exceptAll`` anti-join
    against the previous round's (checkpointed, distinct, equal-count)
    edge set before terminating — so a 64-bit hash collision between
    consecutive rounds can never end the loop early with unconverged
    labels; the exact check runs only at the one candidate termination
    round, not per round.
    Raises ``RuntimeError`` when ``max_iter`` rounds pass without a
    confirmed fixed point: labels from an unconfirmed round can split a
    component.
    """
    prev_sig = None
    rounds = 0
    for _ in range(max_iter):
        prev_e = e
        obs = Observation()
        e = (
            _small_star(_large_star(e))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("x"),
            )
            .localCheckpoint()
        )
        rounds += 1
        sig = (obs.get["n"], obs.get["x"])
        # Signature match → exact confirmation: both relations are distinct
        # with equal counts (the signature's count component), so an empty
        # set-difference proves true equality, ruling out a hash collision.
        if sig == prev_sig and e.exceptAll(prev_e).isEmpty():
            return e, rounds
        prev_sig = sig
    raise RuntimeError(
        f"connected components found no fixed point in {rounds} rounds "
        f"(max_iter={max_iter})"
    )


def _driver_components(e: DataFrame) -> DataFrame:
    """(u, star_comp) for every non-minimum vertex of the edge set ``e``
    (u, v), by union-find on the driver with the minimum id as each
    component's representative. The edges come over as one Arrow
    collect and the labels go back as an Arrow-backed relation: a Python
    row list would go through ``parallelize`` and start Python workers."""
    import pyarrow as pa

    t = e.toArrow()
    parent: dict = {}

    def find(x):
        root = x
        while (p := parent.get(root, root)) != root:
            root = p
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(t.column("u").to_pylist(), t.column("v").to_pylist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # every non-root vertex has a parent entry; roots are component minima
    us = list(parent)
    return e.sparkSession.createDataFrame(
        pa.table(
            {
                "u": pa.array(us, t.schema.field("u").type),
                "star_comp": pa.array(map(find, us), t.schema.field("v").type),
            }
        )
    )


def connected_components_two_phase(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "u",
    dst: str = "v",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of an undirected graph. ``nodes``: one row per
    vertex (column ``id_col``); ``edges``: undirected pairs (``src``,
    ``dst``), either orientation. Returns (id, comp) with comp = the
    MINIMUM reachable vertex id — deterministic regardless of
    partitioning; isolated vertices are singletons.

    The distinct edge set is checkpointed once, and an ``Observation`` on
    that checkpoint counts it without a job of its own. Up to
    ``DRIVER_CC_MAX_EDGES`` edges, union-find runs on the driver
    (:func:`_driver_components`: 3 jobs in all). Above it, alternating
    large-star/small-star rounds (Kiveris et al., SoCC'14) run on the
    executors (:func:`_star_loop`) — O(log n) rounds on any topology, vs
    the O(diameter) of min-label propagation — and raise
    ``RuntimeError`` when ``max_iter`` rounds pass without a confirmed
    fixed point.

    The bound is measured (``tools/driver_bound_probe.py cc``: random graphs with
    as many vertices as edges, a fresh ``local[4]`` session per run on a
    4-core host, build plus one aggregate over the labels, median of 3):

    ======== ========== ======== ===========================
    edges    driver     loop     driver Python peak RSS
    ======== ========== ======== ===========================
    10k      4.5 s      10.1 s   142 MB
    100k     5.8 s      13.5 s   154 MB
    1M       15.8 s     38.8 s   294 MB (138 MB at start)
    ======== ========== ======== ===========================

    The driver wins at every measured size: each loop round is several
    jobs of mostly fixed cost, and the union-find itself takes 0.15 s at
    100k edges and 2.8 s at 1M. The bound is the largest measured size,
    not a crossover: the driver's memory grows linearly with the edge set
    (~0.16 KB per edge in Python, plus the Arrow collect in the JVM), and
    beyond it the executors scale where the driver does not.

    The labels are one left join of ``nodes`` against the (u, star_comp)
    relation either branch produces.
    """
    obs = Observation()
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if obs.get["n"] <= DRIVER_CC_MAX_EDGES:
        star = _driver_components(e)
    else:
        e, _ = _star_loop(e, max_iter)
        star = e.groupBy("u").agg(F.min("v").alias("star_comp"))
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(star, F.col("id") == star["u"], "left")
        .select("id", F.coalesce("star_comp", F.col("id")).alias("comp"))
    )


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def damping_fraction(damping: float = PAGERANK_DAMPING) -> tuple[int, int]:
    """The damping factor as an exact small rational (0.85 → 17/20), shared
    by the Spark operator and the DuckDB oracle so both engines run the
    SAME integer arithmetic — the float 0.85 is not exactly 17/20, so the
    fixed-point scheme defines the operator's semantics in terms of the
    rational, not the float."""
    from fractions import Fraction

    f = Fraction(damping).limit_denominator(1000)
    return f.numerator, f.denominator


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "u",
    dst: str = "v",
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
) -> DataFrame:
    """Fixed-iteration PageRank by power iteration — the centrality score
    of the dup-pair graph family (a high-rank document is the hub its
    near-dup cluster orbits: the natural KEEPER choice when canonicalizing
    by representativeness instead of min-id; CC answers "which cluster",
    this answers "which member matters").

    ``edges`` are undirected pairs in either orientation (symmetrized
    here); dangling nodes (no edges)
    keep the bare teleport mass — the no-redistribution variant, chosen
    because it is expressible identically in the DuckDB oracle. A FIXED
    iteration count (no convergence probe) keeps the whole query a single
    lazy plan: no driver-side action at build time (the repo's laziness
    convention) and an oracle expressible as ``iters`` chained
    non-recursive CTEs.

    DETERMINISM: the trajectory is integer fixed-point, not float.
    A float formulation rounded to 6dp per iteration is not enough: the
    neighbor-contribution SUM is an order-nondeterministic float reduction
    — at sf0.1 a cross-SF sweep caught 6/2000 ranks flipping by
    1e-6 between Spark and DuckDB (ulp-level sum drift landing exactly on
    a round-half tie). Fix: ranks live in 1e-6 units (BIGINT), per-edge
    contributions are quantized to 1e-12 units with round-half-up INTEGER
    division, and the per-node reduction is an exact integer sum —
    order-independent, so the whole trajectory is bit-reproducible across
    engines, partition counts, cluster sizes, and retries. Damping enters
    as the exact rational 17/20 (:func:`damping_fraction`); the only
    float op left is the final exact-int → double division, correctly
    rounded identically everywhere. Overflow bound (stated
    WITH the rounding-drift term): total rank mass starts at ~1e6
    micro-units and per-node half-up rounding can add up to 0.5 micro-unit
    per node per iteration, so after k iterations mass ≤ 1e6 + k·|V|/2
    micro-units and a node's contribution sum (1e-12 units) is ≤
    1e6·(1e6 + k·|V|/2). At the default k=10 that stays < 2^63 for |V| up
    to ~1.8e12 nodes — far beyond any dup-graph this engine will ever
    rank (a trillion-node graph would bottleneck elsewhere first) — but
    it is a |V|-dependent bound, not "any graph size".

    Scale shape (the classic distributed PageRank): the symmetrized
    degree-annotated edge list materializes ONCE (``localCheckpoint``, so
    the upstream pair-finding lineage is not replayed per iteration);
    each iteration is one ranks⋈edges equi-join on the source id plus one
    partial-aggregable hash-agg of contributions keyed on the destination
    — two node-id-keyed shuffles per round over a ranks relation of |V|
    rows, never the corpus. The |V| count rides along as a broadcast
    1-row aggregate column, not an eager ``.count()``.
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # dedup after symmetrization: duplicate input pairs — or the same
    # pair given in both orientations — would silently
    # double-count degrees and contributions. The LSH call sites emit
    # distinct single-orientation pairs already, but a general operator
    # cannot rely on that; the dedup also matches the oracle's
    # distinct-by-construction edge set. One extra pre-aggregate shuffle
    # on the same (u, v) keys the degree count shuffles on anyway.
    sym = sym.dropDuplicates(["u", "v"])
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    e = sym.join(deg, "u").localCheckpoint()

    dnum, dden = damping_fraction(damping)
    tnum = dden - dnum
    base = (
        nodes.select(F.col(id_col).alias("id"))
        .crossJoin(F.broadcast(nodes.agg(F.count(F.lit(1)).alias("_n"))))
    )
    # initial rank = round(1e6 / n) in 1e-6 units (round-half-up division:
    # round(a/b) = (2a + b) div (2b) for positives)
    ranks = base.withColumn("r", F.expr("(2000000 + _n) div (2 * _n)"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.select(F.col("id").alias("u"), "r"), "u")
            .groupBy("v")
            .agg(
                # per-edge contribution round(r·1e6 / deg) in 1e-12 units;
                # the sum is EXACT integer arithmetic — order-independent
                F.sum(
                    F.expr("(2 * r * 1000000 + _deg) div (2 * _deg)")
                ).alias("_s")
            )
        )
        ranks = (
            base.join(contrib, base["id"] == contrib["v"], "left")
            .select(
                "id",
                "_n",
                # r' = round((tele12 + damp12) / 1e6) where
                # tele12 = round(tnum·1e12 / (dden·n)),
                # damp12 = round(dnum·s / dden) — all in 1e-12 units
                F.expr(
                    f"(2 * ((2 * {tnum} * 1000000000000 + {dden} * _n)"
                    f"        div (2 * {dden} * _n)"
                    f"      + (2 * {dnum} * coalesce(_s, 0L) + {dden})"
                    f"        div (2 * {dden}))"
                    f" + 1000000) div 2000000"
                ).alias("r"),
            )
        )
    # exact int → double division: correctly rounded, identical everywhere
    return ranks.select("id", (F.col("r") / F.lit(1000000.0)).alias("rank"))


def triangle_stats(edges: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b") -> DataFrame:
    """Global triangle/transitivity report over an undirected edge set:
    n_nodes, n_edges, n_triangles, n_wedges and transitivity =
    3·triangles / wedges — the clustering-quality metric of a near-dup
    graph (dense dup clusters → transitivity near 1; chains of borderline
    pairs → near 0, a signal the banding threshold is admitting noise).

    Edges must arrive CANONICAL (a < b), which the LSH pair producers
    guarantee. Triangles enumerate exactly once via the DEGREE-ORDERED
    orientation: each undirected edge is re-oriented
    from its lower-(deg, id) endpoint to its higher one, then two
    equi-joins close the wedge. The wedge join key is always the
    ≺-minimum vertex of the triangle, whose out-degree under this
    orientation is O(√|E|) — so a high-degree near-dup hub (one document
    duplicated thousands of times, common in web corpora) becomes the
    DESTINATION of almost all its edges and can no longer skew the wedge
    join, unlike the id-canonical orientation where the hub's id decides.
    Triangle counts are orientation-invariant; the oracle is unchanged.
    Wedges = Σ deg·(deg−1)/2 from one degree aggregate. The counts are
    1-row aggregates cross-joined at the end; note that CONSTRUCTION is
    eager — the two localCheckpoints below run the upstream
    edge lineage at build time (the same property pagerank has), which
    is the deliberate price of not replaying LSH pair-finding ~8× at
    execution.
    """
    # Materialize the edge relation ONCE: the call
    # sites hand in LSH pair-finding lineage (banded candidate generation +
    # verification) and this report reads its edges from five places (degree
    # agg, two re-orientation joins, edge count, and the 3-way wedge join) —
    # without truncation the static plan recomputed that pipeline ~8× per
    # 1-row report. Same localCheckpoint pattern as pagerank's `e` above;
    # |E| rows, never the corpus.
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).localCheckpoint()
    ends = e.select(F.col("a").alias("id")).unionAll(e.select(F.col("b").alias("id")))
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    # Re-orient each edge from the (deg, id)-smaller endpoint to the larger.
    # Two broadcast-able? No — deg is |V|-sized, so these are plain keyed
    # joins; both shuffle on node ids the degree aggregate already keyed on.
    with_deg = (
        e.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("_da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("_db")), "b")
    )
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    # Truncate again after re-orientation: the wedge self-join reads
    # `oriented` three times, which would otherwise replay the two degree
    # joins 3× (cheap over checkpointed edges, but still |E|-sized work).
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    # A triangle x ≺ y ≺ z appears as out-edges x→y, x→z at the wedge apex
    # x plus the closing oriented edge y→z; the mirrored leg order (x→z,
    # x→y) finds no z→y edge, so each triangle counts exactly once.
    tri = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .join(
            oriented.alias("e3"),
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    wedge = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        wedge.crossJoin(n_e)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
            ).alias("transitivity"),
        )
    )
