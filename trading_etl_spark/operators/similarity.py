"""Similarity search over an embedding column (``array<float>``) — the
vector half of the LLM-data-pipeline surface (north-star extension).

Cosine similarity is computed JVM-side with higher-order array functions
(``zip_with`` + ``aggregate`` — whole-stage-codegen'd, no Python UDF), in
double precision to match the oracle bit-for-bit after 6dp rounding.

Every nearest-neighbour operator is assembled from the same private
pieces, each written once:

- :func:`_queries` — the query side, ``vec_id < n_queries`` as
  ``query_id``;
- :func:`_pair_cos` — a pair's 6dp cosine from per-row norms;
- :func:`_top_k` — the ranking rule: similarity descending, then lowest
  ``neighbor_id``, ``row_number`` ≤ k (the DuckDB oracles replay it);
- :func:`_probe_cells` — the ``nprobe`` cells with the highest 6dp cosine
  to the query, lowest cell id on ties;
- :func:`_adc_scored` — PQ asymmetric-distance scoring;
- :func:`_seed_vectors`, :func:`_lloyd_rows` and :func:`_nearest_kernel`
  (over :func:`_cosines6_kernel`) — the md5 seed pick, the Lloyd loop and
  the NumPy assignment kernel behind every trained codebook.

A trained coarse quantizer is one :class:`Codebook` value carrying both of
its forms.

Training and assignment (k-means, PQ, SemDeDup's cells) run on the driver
below ``DRIVER_VECTORS_MAX_ROWS`` vectors: one bounded Arrow collect
(:func:`_local_vectors`), NumPy for the seed pick, the Lloyd loop and the
assignment, and the assigned cells back as an Arrow-backed relation — no
Python worker starts. Above the bound the same kernel runs on the
executors as a ``pandas_udf`` (:func:`_nearest_cell_udf`) and the mean
update is a Spark aggregate; both branches give the same rows.

Scale notes:
- Brute-force top-k is the O(n·q) baseline: queries × candidates with the
  small query side broadcast. Correct at any scale, cost grows linearly in
  corpus size — the verification baseline for ANN.
- The IVF-style variant prunes the candidate set to the query's coarse
  cluster (here: the ``label`` column as the inverted-file cell, i.e. the
  partition key). At 100 TB the corpus is partitioned by cell → a probe
  reads only its cell's partitions (partition pruning), the classic
  IVF trade: recall bounded by cell assignment, cost divided by n_cells.
- Embedding-cosine near-dup: all-pairs above threshold — quadratic baseline,
  LSH/IVF bucketing is the scale path (same pattern as minhash vs ngram).
"""

from __future__ import annotations

import functools
import hashlib
import heapq
import math
import operator
from decimal import ROUND_HALF_UP, Context, Decimal
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import cached, materialize
from ..sources.local import bounded_arrow, local_relation
from ..sources.ticks import spread_if_underpartitioned
from .text import colliding_pairs

N_QUERIES = 16  # vec_id < 16 are the demo query vectors
TOP_K = 3

EMB_DIM = 64
SRP_BANDS = 96
SRP_BAND_BITS = 4
SRP_SEED = "srp-v1"


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )


def _dot(a: str | Column, b: str | Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: str | Column, b: str | Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _norm(col: str | Column) -> Column:
    return F.sqrt(_dot(col, col))


def _queries(emb: DataFrame, n_queries: int, *cols: str | Column) -> DataFrame:
    """The query side: vectors with ``vec_id < n_queries`` as ``query_id``."""
    return emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), *cols
    )


def _pair_cos(a: str, b: str, na: str, nb: str) -> Column:
    """6dp cosine of a pair whose norms are already per-row columns: ONE
    fold per pair. The division ``dot/(na*nb)`` evaluates in the same
    order as :func:`cosine`, so results are bit-identical."""
    return F.round(_dot(a, b) / (F.col(na) * F.col(nb)), 6)


def _top_k(scored: DataFrame, sim: str, k: int, rank: str = "rank") -> DataFrame:
    """The ranking rule every kNN operator shares: per ``query_id``,
    ``sim`` descending, then the lowest ``neighbor_id``; ``row_number``
    (not ``rank``) so ties still yield exactly k rows, 1..k. Ranking on
    the 6dp-rounded similarity keeps the order engine-independent."""
    w = Window.partitionBy("query_id").orderBy(F.desc(sim), F.asc("neighbor_id"))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _probe_cells(
    q: DataFrame, vec: str, cells: DataFrame, cell: str, nprobe: int
) -> DataFrame:
    """``q``'s rows, one per probed cell: the ``nprobe`` cells of the
    broadcast (``cell``, cv) codebook with the highest 6dp cosine to the
    query vector ``vec``, lowest cell id on ties."""
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc(cell))
    return (
        q.crossJoin(F.broadcast(cells))
        .withColumn("csim", F.round(cosine(vec, "cv"), 6))
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select(*q.columns, cell)
    )


def _exact_scored(
    emb: DataFrame, corpus: DataFrame, n_queries: int, labels: bool = False
) -> DataFrame:
    """Broadcast queries × ``corpus`` with ``cos_sim``, self-pairs dropped.

    Each side's norm is computed once per ROW as a plain column behind its
    exchange (the broadcast / repartition materializes it, so Catalyst
    cannot re-inline the aggregate into the per-pair projection): one fold
    per pair instead of three. An under-split corpus scan — a single
    small parquet file is ONE task for the whole cross join — is spread
    to defaultParallelism. ``labels`` carries ``label`` on both sides as
    ``_qlabel`` / ``_clabel``."""
    q = _queries(
        emb,
        n_queries,
        *([F.col("label").alias("_qlabel")] if labels else []),
        F.col("emb").alias("qv"),
        _norm(F.col("emb")).alias("qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        *([F.col("label").alias("_clabel")] if labels else []),
        F.col("emb").alias("cv"),
        _norm(F.col("emb")).alias("cnorm"),
    )
    return (
        F.broadcast(q)
        .crossJoin(spread_if_underpartitioned(emb, c, emb))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", _pair_cos("qv", "cv", "qnorm", "cnorm"))
    )


def knn_bruteforce(emb: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES) -> DataFrame:
    """Exact top-k cosine neighbors for the query vectors (vec_id < n_queries).

    Measured at sf0.1 in the interleaved bench harness: three folds per
    pair on the scan's native partitioning 0.906 s -> one fold per pair,
    respread 0.559 s (BENCH_DETAIL.json)."""
    # project the two dim-wide arrays away before the window sort
    scored = _exact_scored(emb, emb, n_queries).select(
        "query_id", "neighbor_id", "cos_sim"
    )
    return _top_k(scored, "cos_sim", k).select(
        "query_id", "neighbor_id", "rank", "cos_sim"
    )


FILTER_LABEL = 2


def knn_filtered(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    label: int = FILTER_LABEL,
) -> DataFrame:
    """FILTERED vector search: exact top-k cosine among corpus
    vectors satisfying a metadata predicate (``label == FILTER_LABEL``) —
    the retrieval-with-constraints shape every production vector store
    serves (tenant/language/source filters on top of similarity).

    Strategy is PRE-FILTER + exact rank: the predicate is a plain column
    comparison that pushes to the parquet SCAN (PushedFilters), so the
    candidate set shrinks before any vector math — the right regime for
    selective filters, where an IVF post-filter would over-probe cells to
    refill k after discarding non-matching candidates (the standard
    filtered-ANN trade-off; with ~1/|labels| selectivity here, pre-filter
    reads strictly less). Queries that carry the filter label still
    exclude themselves."""
    scored = _exact_scored(
        emb, emb.filter(F.col("label") == label), n_queries
    ).select("query_id", "neighbor_id", "cos_sim")
    return _top_k(scored, "cos_sim", k).select(
        "query_id", "neighbor_id", "rank", "cos_sim"
    )


def hard_negatives(
    emb: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector,
    the top-k most-similar corpus vectors with a DIFFERENT label, plus the
    query's best same-label similarity (``positive_sim``) and the margin
    ``positive_sim − cos_sim`` — the standard training-pair miner for
    embedding models (high-similarity wrong-label items are the negatives
    that actually move the loss; the margin column is what a margin-loss
    curriculum thresholds on).

    Shape: ONE broadcast-queries × corpus scoring pass, executed ONCE —
    the corpus streams through the broadcast join map-side, and both the
    positive similarity (an unordered window max over same-label rows)
    and the different-label top-k rank ride the SAME query_id window
    exchange, so the expensive cosine stage is never replayed for a
    second consumer (the multi-consumer-recompute trap triangle_stats
    also avoids). Queries with no same-label partner drop out
    (positive_sim IS NULL — inner-join semantics)."""
    scored = _exact_scored(emb, emb, n_queries, labels=True).select(
        "query_id", "_qlabel", "neighbor_id", "_clabel", "cos_sim"
    )
    w_pos = Window.partitionBy("query_id")
    negatives = scored.withColumn(
        "positive_sim",
        F.max(
            F.when(F.col("_qlabel") == F.col("_clabel"), F.col("cos_sim"))
        ).over(w_pos),
    ).filter(F.col("_qlabel") != F.col("_clabel"))
    return (
        _top_k(negatives, "cos_sim", k)
        .filter(F.col("positive_sim").isNotNull())
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            "cos_sim",
            "positive_sim",
            F.round(F.col("positive_sim") - F.col("cos_sim"), 6).alias("margin"),
        )
    )


MRL_PREFIX_DIM = 16
MRL_CANDIDATES = 32


def knn_matryoshka(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    prefix_dim: int = MRL_PREFIX_DIM,
    n_candidates: int = MRL_CANDIDATES,
) -> DataFrame:
    """Matryoshka two-stage ANN (Kusupati et al. 2022, arXiv:2205.13147):
    stage 1 ranks the corpus by cosine over only the FIRST ``prefix_dim``
    dimensions — MRL-trained embeddings front-load information, so the
    prefix is a faithful coarse ranker (on this fixture's random vectors
    it is an unbiased 4×-cheaper sketch) — keeping ``n_candidates`` per
    query; stage 2 reranks just those with the exact full-dim cosine.

    Scale shape: the stage-1 scan reads a dim/prefix_dim-times narrower
    column (store the prefix as its own column/table for real IO savings —
    column pruning then never touches the full vector); stage 2's exact
    math runs on n_queries×n_candidates rows only.
    """
    # per-row norms as plain columns behind the exchanges: stage 1 pays
    # ONE prefix-dim fold per pair, stage 2 one full-dim fold per
    # surviving candidate
    q = _queries(
        emb,
        n_queries,
        F.col("emb").alias("qv"),
        F.slice("emb", 1, prefix_dim).alias("qp"),
        _norm(F.col("emb")).alias("qnorm"),
        _norm(F.slice("emb", 1, prefix_dim)).alias("qpnorm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cv"),
        F.slice("emb", 1, prefix_dim).alias("cp"),
        _norm(F.col("emb")).alias("cnorm"),
        _norm(F.slice("emb", 1, prefix_dim)).alias("cpnorm"),
    )
    cand = _top_k(
        F.broadcast(q)
        .crossJoin(spread_if_underpartitioned(emb, c, emb))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("prefix_sim", _pair_cos("qp", "cp", "qpnorm", "cpnorm")),
        "prefix_sim",
        n_candidates,
        rank="crank",
    )
    return _top_k(
        cand.withColumn("cos_sim", _pair_cos("qv", "cv", "qnorm", "cnorm")),
        "cos_sim",
        k,
    ).select("query_id", "neighbor_id", "rank", "cos_sim")


def knn_ivf(emb: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cell (label column).
    Same output shape as brute force; recall limited to same-cell neighbors."""
    q = _queries(emb, n_queries, F.col("label").alias("cell"), F.col("emb").alias("qv"))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("cell"), F.col("emb").alias("cv")
    )
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine("qv", "cv"), 6))
    )
    return _top_k(scored, "cos_sim", k).select(
        "query_id", F.col("cell").alias("label"), "neighbor_id", "rank", "cos_sim"
    )


def centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid as an ordered array column: posexplode → hash-agg
    avg keyed (label, pos) — shuffle bounded by |labels|×dim — then ordered
    reassembly (array_sort on (pos, avg) structs, stable and deterministic)."""
    vals = (
        emb.select("label", F.posexplode("emb").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("av"))
    )
    return (
        vals.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "av"))).alias("pv"))
        .select("label", F.expr("transform(pv, x -> x.av)").alias("cv"))
    )


def knn_ivf_multiprobe(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN with centroid-ranked multiprobe — the production IVF shape:
    instead of trusting the stored cell assignment (knn_ivf), rank ALL
    cells by cosine(query, centroid) and probe the top ``nprobe`` cells.
    Recovers neighbors that sit just across a cell boundary, at nprobe×
    the single-cell probe cost — still a tiny fraction of the corpus.

    Scale shape: the centroid codebook is |cells|×dim — broadcast to rank
    cells per query with zero shuffle; the probe itself is a broadcast
    equi-join of (query, probed cell) pairs against the corpus, so only
    the probed cells' partitions are read (partition pruning on ``label``
    when the corpus is stored partitioned by cell).
    """
    cent = centroids(emb)
    q = _queries(emb, n_queries, F.col("emb").alias("qv"))
    probed = _probe_cells(q, "qv", cent, "label", nprobe)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), "label", F.col("emb").alias("cv")
    )
    scored = (
        F.broadcast(probed)
        .join(c, "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine("qv", "cv"), 6))
    )
    return _top_k(scored, "cos_sim", k).select(
        "query_id", "neighbor_id", "rank", "cos_sim"
    )


KMEANS_K = 8
KMEANS_ITERS = 3


def _mean_update(assigned: DataFrame, col: str, dim: int) -> DataFrame:
    """Centroid mean update — (cell, cv) rows via posexplode → one
    (cell, pos) hash-agg. MEASURED DECISION: an alternative with
    ``dim`` per-component AVG buffers in one groupBy(cell) was tried and
    REVERTED — it benchmarked 2.5-3× SLOWER (isolated A/B at sf0.1,
    3 Lloyd iterations: 2.0 s explode vs 6.5 s wide-agg cold, 1.2 vs
    3.1 s warm) because Catalyst analysis + codegen of 64 aggregate
    expressions is re-paid every iteration (the loop re-plans per
    iteration by construction), while the explode shape is NOT a
    scale hazard in the first place: partial aggregation on the
    (cell, pos) key bounds shuffle volume at k·dim rows PER PARTITION
    regardless of input size — the exploded rows exist only inside the
    map-side hash-agg. ``dim`` is unused but kept so call sites state
    the vector width they expect."""
    del dim  # shape is dim-agnostic; see docstring
    return (
        assigned.select("cell", F.posexplode(col).alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("val"), 6).alias("av"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "av"))).alias("pv"))
        .select("cell", F.expr("transform(pv, x -> x.av)").alias("cv"))
    )


def _mean_update_rows(assigned: DataFrame, col: str) -> list[tuple[int, list[float]]]:
    """Centroid mean update collected straight off the (cell, pos) agg —
    the driver-loop twin of :func:`_mean_update` (guide §5). Both
    Lloyd loops pull the k×dim result to the driver every iteration
    anyway, so the second (cell) shuffle plus the collect_list /
    array_sort / transform assembly — re-analyzed per iteration, the loop
    re-plans by construction — buys nothing: collect the k·dim
    per-component rows (same posexplode → (cell, pos) hash-agg, same 6dp
    rounding — values identical by construction, pinned by
    test_mean_update_rows_matches_relation_shape) and sort by pos in the
    driver. Cells that lost every member vanish from the agg output in
    both shapes. Rows are returned sorted by cell for determinism."""
    rows = (
        assigned.select("cell", F.posexplode(col).alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("val"), 6).alias("av"))
        .collect()
    )
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(int(r["cell"]), []).append((r["pos"], r["av"]))
    return [
        (cell, [av for _, av in sorted(pv)])
        for cell, pv in sorted(by_cell.items())
    ]


# Measured by tools/driver_bound_probe.py (see _local_vectors).
DRIVER_VECTORS_MAX_ROWS = 100_000


class _Local(NamedTuple):
    """A relation's vectors held on the driver: ``table`` is the bounded
    Arrow collect of (vec_id, emb), ``V`` its vectors as an (n, dim)
    NumPy array."""

    table: pa.Table
    V: np.ndarray


def _local_vectors(emb: DataFrame) -> _Local | None:
    """(vec_id, emb) of ``emb`` on the driver, or ``None`` above
    ``DRIVER_VECTORS_MAX_ROWS`` rows. Below the bound the seed pick, the
    Lloyd loop and the cell assignment run in NumPy on this collect and
    start no Python worker; above it they run on the executors.

    The bound is measured (``tools/driver_bound_probe.py vectors``: 8-cell
    k-means, 3 Lloyd iterations plus the assignment, on dim-64 vectors, a
    fresh ``local[4]`` session per run on a 4-core host, build plus one
    aggregate over the assigned cells, median of 3):

    ======== ========== ========== ===========================
    rows     driver     executors  driver Python peak RSS
    ======== ========== ========== ===========================
    2k       5.0 s      9.0 s      148 MB
    20k      5.0 s      9.1 s      194 MB
    100k     7.3 s      13.4 s     352 MB
    1M       failed     45.9 s     1.8 GB (one run of 25.9 s)
    ======== ========== ========== ===========================

    The driver wins up to 100k rows: the executors pay the Python
    workers, a pandas-UDF assignment and a mean aggregate per Lloyd
    iteration, the driver one collect and a few NumPy matmuls. At 1M
    rows the collect is 512 MB of doubles, and with a 2 GB driver JVM
    all three probe runs lost the collect's task result (one earlier run
    finished in 25.9 s). The bound is the largest measured size at which
    the driver wins and finishes. The corpus's 200–2,000 vectors sit far
    below it.
    """
    t = bounded_arrow(emb.select("vec_id", "emb"), DRIVER_VECTORS_MAX_ROWS)
    if t is None:
        return None
    vecs = t.column("emb").combine_chunks()
    flat = vecs.flatten().to_numpy(zero_copy_only=False).astype("float64", copy=False)
    dim = pc.max(pc.list_value_length(vecs)).as_py() or 0
    if len(flat) != len(vecs) * dim:
        raise ValueError("emb: vectors of unequal length or NULL")
    return _Local(t, flat.reshape(len(vecs), dim))


def _seed_vectors(emb: DataFrame, k: int) -> list[list[float]]:
    """The ``k`` vectors with the smallest ``md5(vec_id)`` hex (vec_id
    tie-break), in that order — reproducible sampling, no RNG state; the
    oracles replay the same pick."""
    rows = (
        emb.select("vec_id", "emb", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["emb"]] for r in rows]


def _seed_local(local: _Local, k: int) -> list[list[float]]:
    """:func:`_seed_vectors` on the driver collect ``local``: the same
    md5-then-vec_id order, so the same pick."""
    ids = local.table.column("vec_id").to_pylist()
    pick = heapq.nsmallest(
        k,
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    return local.V[pick].tolist()


_DEC6 = Decimal("1e-6")
_DEC_CONTEXT = Context(prec=400)


def _round6(x: float) -> float:
    """``F.round(x, 6)`` on the driver: Spark reads a double as the
    decimal digits of the JVM's ``Double.toString`` and rounds them
    HALF_UP; ``repr`` gives the same shortest round-trip digits. A
    rounded zero is +0.0, as Spark's decimal has no signed zero."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_DEC6, ROUND_HALF_UP, _DEC_CONTEXT)) + 0.0


def _cell_means(V: np.ndarray, cells: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """Per cell of ``cells`` (ascending), the unrounded component means of
    its rows of ``V``, as Spark's ``avg`` computes them: a double sum from
    0.0 in row order, divided by the count. ``cumsum`` adds strictly in
    order where ``sum`` would add pairwise, and the final ``+ 0.0`` is the
    sum buffer's initial zero, which turns an all-``-0.0`` sum into +0.0."""
    out = []
    for cell in np.unique(cells):
        members = V[cells == cell]
        out.append((int(cell), (np.cumsum(members, axis=0)[-1] + 0.0) / len(members)))
    return out


def _lloyd_local(
    V: np.ndarray, cent_rows: list[tuple[int, list[float]]], iters: int
) -> list[tuple[int, list[float]]]:
    """:func:`_lloyd_rows` on the driver over the (n, dim) array ``V``:
    the assignment is the NumPy kernel the executors run, and the mean
    update equals :func:`_mean_update_rows` (:func:`_cell_means`, rounded
    by :func:`_round6`)."""
    for _ in range(iters):
        cells = _nearest_kernel(cent_rows)(V)
        cent_rows = [
            (cell, [_round6(x) for x in mean.tolist()])
            for cell, mean in _cell_means(V, cells)
        ]
    return cent_rows


def _lloyd_rows(
    vecs: DataFrame, col: str, cent_rows: list[tuple[int, list[float]]], iters: int
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd over ``vecs[col]`` starting from ``cent_rows``;
    returns the trained (cell, centroid) rows, sorted by cell.
    :func:`_lloyd_local` is the same loop on the driver.

    - assignment: argmax of 6dp-rounded cosine, ties to the lowest cell id
      (:func:`_nearest_kernel`);
    - update: component-wise mean, rounded to 6dp. Rounding at every stage
      keeps cross-engine float drift (~1e-15) far below the decision
      threshold (5e-7), so DuckDB replays the identical trajectory.

    Scale shape: the standard iterative-ML driver loop (what MLlib's
    KMeans does): the per-iteration reduce is a hash-agg whose output is
    only k×dim doubles, pulled to the driver and closed over by the next
    assignment kernel — lineage is truncated every iteration, no growing
    plan. At 100 TB you train on a sample (``vecs.sample(frac)``) and only
    the final full-corpus assignment scans everything once."""
    for _ in range(iters):
        nearest = _nearest_cell_udf(cent_rows)
        assigned = vecs.select(nearest(F.col(col)).alias("cell"), F.col(col).alias("sv"))
        cent_rows = _mean_update_rows(assigned, "sv")
    return cent_rows


class Codebook(NamedTuple):
    """A trained coarse quantizer in both of its forms, built once where it
    is trained: ``rows``, the driver-local (cell, centroid) pairs sorted
    by cell that the NumPy assignment kernel closes over, and ``rel``, the
    same rows as a (cell int, cv array<double>) relation the probes
    broadcast. k×dim doubles either way."""

    rows: list[tuple[int, list[float]]]
    rel: DataFrame


def kmeans_codebook(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> Codebook:
    """Train an IVF coarse quantizer with Lloyd's k-means: the ``k``
    md5-ranked seed vectors (:func:`_seed_vectors`) seed cells 0..k-1,
    then ``iters`` rounds of :func:`_lloyd_rows`. Deterministic by
    construction, so the result is engine-independent."""
    return _train_codebook(emb, k, iters)[0]


def _train_codebook(
    emb: DataFrame, k: int, iters: int
) -> tuple[Codebook, _Local | None]:
    """:func:`kmeans_codebook` and the driver collect it trained on
    (``None`` above the bound), for a caller that assigns ``emb`` to the
    codebook next (:func:`assign_cells`' ``local``)."""
    local = _local_vectors(emb)
    if local is None:
        rows = _lloyd_rows(emb, "emb", list(enumerate(_seed_vectors(emb, k))), iters)
    else:
        rows = _lloyd_local(local.V, list(enumerate(_seed_local(local, k))), iters)
    rel = local_relation(emb.sparkSession, rows, "cell int, cv array<double>")
    return Codebook(rows, rel), local


def _cosines6_kernel():
    """The NumPy kernel ``cosines6(a, b)``: cosine of every row of ``a``
    against every row of ``b``, rounded half-away-from-zero at 6dp —
    ``sign(x)·floor(|x|·1e6 + 0.5)/1e6``, the tie rule of ``F.round``
    (HALF_UP) and DuckDB's ``round``, so Spark/NumPy/DuckDB share ONE
    regime. The norm is guarded: a zero row (an emptied centroid, a
    degenerate vector) divides to an all-zero unit row, not 0/0 NaN — it
    scores cosine 0 everywhere, never wins an argmax or threshold over a
    real row, and keeps NumPy RuntimeWarnings out of pytest so a REAL NaN
    regression stays visible.

    Returned as a closure so cloudpickle ships it by value inside the UDFs
    that call it: a Python worker need not be able to import this
    package."""
    import numpy as np

    def unit(m):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(n == 0.0, 1.0, n)

    def cosines6(a, b):
        raw = unit(a) @ unit(b).T
        return np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6

    return cosines6


def _nearest_kernel(cent_rows: list[tuple[int, list[float]]]):
    """The nearest-centroid kernel ``nearest(V)``: the int32 cell of each
    row of the (n, dim) array ``V``, one ``V @ Cᵀ`` matmul. ``argmax`` of
    the :func:`_cosines6_kernel` sims takes the FIRST maximum, i.e. the
    lowest cell id — identical to the (desc csim, asc cell) window
    ordering and the DuckDB oracle's row_number ordering. A closure, like
    :func:`_cosines6_kernel`, so a UDF ships it by value."""
    import numpy as np

    rows = sorted(cent_rows)
    cells = np.array([c for c, _ in rows], dtype="int64")
    C = np.array([v for _, v in rows], dtype="float64")  # (k, dim)
    cosines6 = _cosines6_kernel()

    def nearest(V):
        if not len(V):
            return np.zeros(0, dtype="int32")
        return cells[np.argmax(cosines6(V, C), axis=1)].astype("int32")

    return nearest


def _nearest_cell_udf(cent_rows: list[tuple[int, list[float]]]):
    """:func:`_nearest_kernel` as an Arrow-vectorized UDF, one matmul per
    batch: the assignment above ``DRIVER_VECTORS_MAX_ROWS``, where it
    runs on the executors (below it, :func:`_local_vectors` runs the same
    kernel on the driver). The interpreted ``zip_with``/``aggregate``
    cosine costs seconds per few thousand vectors at n×cells×dim scale
    (the SRP lesson — measured 5.0 s → ~1 s for the sf0.1 kmeans query);
    NumPy does the same double math per Arrow batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    kernel = _nearest_kernel(cent_rows)

    @pandas_udf("int")
    def nearest(emb: pd.Series) -> pd.Series:
        return pd.Series(kernel(np.vstack(emb.to_numpy()).astype("float64")))

    return nearest


def assign_cells(
    emb: DataFrame, codebook: Codebook, local: _Local | None = None
) -> DataFrame:
    """Nearest-centroid assignment (vec_id, cell, emb): the k×dim codebook
    rows are closed over by the NumPy kernel (the broadcast-codebook
    pattern); the corpus side never shuffles. Below
    ``DRIVER_VECTORS_MAX_ROWS`` rows the kernel runs on the driver and
    the cells come back as an Arrow-backed relation. ``local``, the
    driver collect of ``emb`` that trained the codebook
    (:func:`_train_codebook`), lets training and assignment share one
    collect; without it the bounded collect runs here."""
    if local is None:
        local = _local_vectors(emb)
    if local is None:
        nearest = _nearest_cell_udf(codebook.rows)
        return emb.select("vec_id", nearest(F.col("emb")).alias("cell"), "emb")
    cells = _nearest_kernel(codebook.rows)(local.V)
    t = local.table
    return emb.sparkSession.createDataFrame(
        pa.table({"vec_id": t.column("vec_id"), "cell": cells, "emb": t.column("emb")})
    )


def ivf_inverted_index(
    emb: DataFrame, codebook: Codebook, local: _Local | None = None
) -> DataFrame:
    """The IVF INVERTED-LIST relation — (neighbor_id, cell, nv, nnorm):
    every corpus vector tagged with its trained coarse cell, its norm
    materialized once per row. This is index-BUILD state, exactly
    what FAISS's IndexIVF stores: production serving never re-assigns the
    corpus per query, it reads the prebuilt lists. Callers cache/persist
    this relation next to the codebook (queries/datapipe._ivf_index) so
    the serving path is the probe join alone; at 100 TB the lists are a
    written table partitioned by cell, and a probe reads nprobe
    partitions. ``local`` as in :func:`assign_cells`."""
    return assign_cells(emb, codebook, local).select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("emb").alias("nv"),
        _norm(F.col("emb")).alias("nnorm"),
    )


DRIFT_MIN_MEAN_COS = 0.26


def ivf_drift_report(
    emb: DataFrame,
    codebook: Codebook,
    assigned: DataFrame | None = None,
    min_mean_cos: float = DRIFT_MIN_MEAN_COS,
) -> DataFrame:
    """Per-cell quantizer-drift report — the RETRAIN gate that
    closes the ANN lifecycle (train → index → serve → recall-eval →
    drift-detect): for each trained cell, its population, corpus share,
    and the mean/min cosine of member vectors to THEIR OWN centroid.
    Falling within-cell similarity is quantization error growing — the
    corpus drifting away from the centroids it was indexed under — and is
    the signal a vector-store operator watches to schedule coarse-
    quantizer retraining (serving recall decays silently otherwise;
    the recall eval needs ground-truth queries, this needs none).

    Consumes the CACHED inverted lists (norms already materialized) plus
    the broadcast codebook: one partial-aggregable hash-agg keyed on cell
    — |cells| output rows regardless of corpus size; the total is a lazy
    1-row aggregate broadcast back. Decisions on 6dp-rounded values in
    both engines."""
    if assigned is None:
        assigned = ivf_inverted_index(emb, codebook)
    cos = F.round(
        _dot("nv", "cv") / (F.col("nnorm") * _norm(F.col("cv"))), 6
    )
    per_cell = (
        assigned.join(F.broadcast(codebook.rel), "cell")
        .withColumn("_cos", cos)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("_cos"), 6).alias("mean_cos"),
            F.min("_cos").alias("min_cos"),
        )
    )
    total = assigned.agg(F.count(F.lit(1)).alias("_t"))
    return (
        per_cell.crossJoin(F.broadcast(total))
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("_t"), 6).alias("cell_share"),
            "mean_cos",
            "min_cos",
            F.when(F.col("mean_cos") < min_mean_cos, "retrain")
            .otherwise("ok")
            .alias("action"),
        )
    )


def knn_ivf_kmeans(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    nprobe: int = 2,
    n_cells: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    codebook: Codebook | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer — the full production shape.

    ``knn_ivf_multiprobe`` trusts the stored ``label`` column as the cell
    assignment; here the codebook comes from :func:`kmeans_codebook` (Lloyd
    over the corpus itself), the corpus is re-assigned to the learned cells,
    and queries probe the ``nprobe`` nearest cells. This is what runs when
    no label exists — the usual case for a raw embedding corpus.

    Measured recall@3 vs the exact brute-force top-k (8 learned cells,
    500-vector fixtures; verified as a monotone contract by
    tests/test_datapipe.py::test_ivf_kmeans_recall_monotone_in_nprobe):

        nprobe    1       2       4       8 (=n_cells)
        sf0.001   0.375   0.542   0.750   1.0
        sf0.01    0.208   0.4375  0.854   1.0

    Low mid-curve recall is a property of this fixture, not the operator:
    the embeddings are near-orthogonal noise, so Lloyd cells carve
    arbitrary boundaries and true neighbors scatter uniformly across cells
    (the information-theoretic floor is ≈ nprobe/n_cells). Recall is
    non-decreasing in nprobe by construction (probing more cells can only
    grow the candidate set) and exactly 1.0 at nprobe = n_cells (the probe
    becomes exhaustive). On a real clusterable corpus recall tracks the
    cluster structure; probing cost is nprobe/n_cells of the corpus.
    """
    local = None
    if codebook is None:
        codebook, local = _train_codebook(emb, n_cells, iters)
    if assigned is None:
        assigned = ivf_inverted_index(emb, codebook, local)
    q = _queries(
        emb, n_queries, F.col("emb").alias("qv"), _norm(F.col("emb")).alias("qnorm")
    )
    probed = _probe_cells(q, "qv", codebook.rel, "cell", nprobe)
    scored = (
        F.broadcast(probed)
        .join(assigned, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", _pair_cos("qv", "nv", "qnorm", "nnorm"))
    )
    return _top_k(scored, "cos_sim", k).select(
        "query_id", "neighbor_id", "rank", "cos_sim"
    )


PQ_M = 4       # subspaces
PQ_K = 8       # centroids per subspace → codes are m × log2(k) = 12 bits here
PQ_ITERS = 2


def pq_codes(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    dim: int = EMB_DIM,
    model: tuple | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI 2011) — the compressed ANN
    sidecar format beyond scalar int8: split each vector into ``m``
    subvectors, train an independent ``k``-centroid codebook per subspace
    (the shared md5-ranked seed vectors sliced per subspace, then
    :func:`_lloyd_rows`), and store each vector as its m-tuple of
    nearest-centroid codes — here m=4 × log2(8) = 12 bits per 64-dim
    vector, a 170× compression whose codebook distances can be
    table-looked-up at query time (the classic ADC trick).

    The full m-subspace training trajectory replays in DuckDB — the PQ
    oracle verifies codes exactly, not statistically. Scale shape: each
    subspace's reduce is k×(dim/m) doubles to the driver per iteration;
    the corpus is scanned once per iteration per subspace and at 100 TB
    the codebooks train on a sample while only the final coding pass
    reads everything.
    """
    codes, _books = model if model is not None else pq_model(emb, m, k, iters, dim)
    return codes.select(
        "vec_id",
        F.concat_ws(
            ",", *[F.col(f"_c{s}").cast("string") for s in range(m)]
        ).alias("pq_code"),
    )


def pq_model(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    dim: int = EMB_DIM,
) -> tuple[DataFrame, list[list[tuple[int, list[float]]]]]:
    """Train the PQ codebooks and code the corpus: returns
    ``(codes, books)`` where codes = (vec_id, emb, _c0.._c{m-1}) and
    books[s] = that subspace's trained (cell, centroid) rows."""
    dsub = dim // m
    subspaces = [slice(s * dsub, (s + 1) * dsub) for s in range(m)]
    local = _local_vectors(emb)
    seeds = _seed_vectors(emb, k) if local is None else _seed_local(local, k)
    seed_rows = [[(i, v[sub]) for i, v in enumerate(seeds)] for sub in subspaces]
    if local is None:
        svs = [F.slice("emb", sub.start + 1, dsub) for sub in subspaces]
        books = [
            sorted(_lloyd_rows(emb.select(sv.alias("sv")), "sv", rows, iters))
            for sv, rows in zip(svs, seed_rows)
        ]
        codes = emb.select(
            "vec_id",
            "emb",
            *[
                _nearest_cell_udf(b)(sv).alias(f"_c{s}")
                for s, (sv, b) in enumerate(zip(svs, books))
            ],
        )
        return codes, books
    books = [
        sorted(_lloyd_local(local.V[:, sub], rows, iters))
        for sub, rows in zip(subspaces, seed_rows)
    ]
    codes = {
        f"_c{s}": _nearest_kernel(b)(local.V[:, sub])
        for s, (sub, b) in enumerate(zip(subspaces, books))
    }
    t = local.table
    return emb.sparkSession.createDataFrame(
        pa.table({"vec_id": t.column("vec_id"), "emb": t.column("emb"), **codes})
    ), books


def _adc_scored(
    cand: DataFrame, q: DataFrame, books: list, dim: int
) -> DataFrame:
    """Asymmetric Distance Computation (Jégou et al.) over PQ codes:
    ``cand`` (neighbor_id, _c0.._c{m-1}, and query_id unless the first
    subspace join supplies it) gains ``adc_sim`` =
    cosine(query, reconstruction(code)).

    Each query of ``q`` (query_id, emb) precomputes an m×k table of
    (subspace dot, centroid norm²) against the codebooks, so a
    candidate's score needs only m TABLE LOOKUPS on its code — the
    64-float dot product never happens at scan time: one broadcast join
    per subspace keyed (query_id, code), the first on the code alone when
    ``cand`` has no query_id yet. The score is (Σ_s dot_s) /
    (|q|·sqrt(Σ_s |c_s|²)) with a FIXED left-to-right sum d0+d1+…+d{m-1},
    so Spark and the SQL oracle group the floating-point additions
    identically. The tables are n_queries×m×k rows."""
    m = len(books)
    dsub = dim // m
    books_df = local_relation(
        q.sparkSession,
        [(s, cell, cv) for s, rows in enumerate(books) for cell, cv in rows],
        "s int, cell int, cv array<double>",
    )
    q_slices = functools.reduce(
        DataFrame.unionAll,
        [
            q.select(
                "query_id",
                F.lit(s).alias("s"),
                F.slice("emb", s * dsub + 1, dsub).alias("qs"),
            )
            for s in range(m)
        ],
    )
    adc = q_slices.join(books_df, "s").select(
        "query_id",
        "s",
        "cell",
        _dot("qs", "cv").alias("dotc"),
        _dot("cv", "cv").alias("cn2"),
    )
    qn = q.select("query_id", _norm("emb").alias("qnorm"))
    scored = cand
    for s in range(m):
        part = adc.filter(F.col("s") == s).select(
            "query_id", F.col("cell").alias(f"_c{s}"),
            F.col("dotc").alias(f"d{s}"), F.col("cn2").alias(f"n{s}"),
        )
        keys = ["query_id", f"_c{s}"] if "query_id" in scored.columns else [f"_c{s}"]
        scored = scored.join(F.broadcast(part), keys)
    sdot = functools.reduce(operator.add, [F.col(f"d{s}") for s in range(m)])
    sn2 = functools.reduce(operator.add, [F.col(f"n{s}") for s in range(m)])
    return scored.join(F.broadcast(qn), "query_id").withColumn(
        "adc_sim", F.round(sdot / (F.col("qnorm") * F.sqrt(sn2)), 6)
    )


def knn_pq_adc(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    m: int = PQ_M,
    n_cells: int = PQ_K,
    iters: int = PQ_ITERS,
    dim: int = EMB_DIM,
    model: tuple | None = None,
) -> DataFrame:
    """ANN search over PQ codes, every corpus vector scored by
    :func:`_adc_scored`.

    Scale shape: the ADC tables broadcast; the corpus side touches only
    its integer code columns through m broadcast-hash joins and never
    shuffles until the final per-query top-k. This is the production read
    path PQ exists for; recall is bounded by code resolution (m·log2(k)
    bits), with the exact kNN as the labeled verification baseline.
    """
    codes, books = model if model is not None else pq_model(emb, m, n_cells, iters, dim)
    q = _queries(emb, n_queries, "emb")
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"), *[f"_c{s}" for s in range(m)]
    )
    scored = _adc_scored(cand, q, books, dim).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _top_k(scored, "adc_sim", k).select(
        "query_id", "neighbor_id", "rank", "adc_sim"
    )


def knn_ivfadc(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    nprobe: int = 2,
    n_coarse: int = KMEANS_K,
    coarse_iters: int = KMEANS_ITERS,
    m: int = PQ_M,
    pq_k: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    dim: int = EMB_DIM,
    codebook: Codebook | None = None,
    pq: tuple | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al., TPAMI 2011 §IV) — the production ANN read
    path a 100 TB vector store actually runs, composing this repo's two
    halves: an IVF coarse quantizer restricts WHICH
    vectors are scored (probe the ``nprobe`` nearest of ``n_coarse``
    learned cells) and PQ codes + asymmetric distance computation decide
    HOW each candidate is scored (m table lookups on integer codes — the
    raw 64-float vector is never touched at scan time).

    This is the raw-subvector IVF-PQ variant: PQ encodes the vectors
    themselves rather than their residuals against the coarse centroid.
    Residual encoding (the paper's default) squeezes more accuracy from
    the same code budget but couples every subspace codebook to the
    coarse assignment; the raw variant keeps the two quantizers
    independently trainable — and independently verifiable: both
    trajectories replay verbatim in the DuckDB oracle.

    Scale shape: the coarse codebook (n_coarse×dim) and the per-query
    probe list broadcast; candidate generation is a broadcast-hash join
    on the integer cell id — with the corpus stored partitioned by cell
    this is partition pruning, reading nprobe/n_coarse of the data. The
    scored scan then touches only the m integer code columns; the only
    corpus shuffle is the final per-query top-k. Exactly-equal contract:
    at nprobe = n_coarse the probe is exhaustive and the result equals
    :func:`knn_pq_adc` row-for-row (tested); recall vs the EXHAUSTIVE-ADC
    ranking is non-decreasing in nprobe, reaching 1.0 at n_coarse
    (tested). Recall vs the exact kNN is NOT monotone in nprobe — a wider
    candidate pool can inject ADC-flattering false positives that displace
    a true neighbor from top-k; that is inherent to quantized scoring
    (resolution m·log2(k) bits), and the exact kNN remains the labeled
    verification baseline.
    """
    local = None
    if codebook is None:
        codebook, local = _train_codebook(emb, n_coarse, coarse_iters)
    if assigned is None:
        # standalone path; production callers pass the CACHED inverted-list
        # relation (queries/datapipe._ivf_index) so the assignment
        # stage runs at index-build time, not per query
        assigned = ivf_inverted_index(emb, codebook, local)
    assigned = assigned.select("neighbor_id", F.col("cell").alias("ivf_cell"))
    codes, books = pq if pq is not None else pq_model(emb, m, pq_k, pq_iters, dim)
    q = _queries(emb, n_queries, "emb")
    cent = codebook.rel.select(F.col("cell").alias("ivf_cell"), "cv")
    probed = _probe_cells(q, "emb", cent, "ivf_cell", nprobe).select(
        "query_id", "ivf_cell"
    )
    # candidates: integer code columns of the probed cells only — the raw
    # vector column is projected away before any join
    cand = (
        codes.select(
            F.col("vec_id").alias("neighbor_id"), *[f"_c{s}" for s in range(m)]
        )
        .join(assigned, "neighbor_id")
        .join(F.broadcast(probed), "ivf_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _top_k(_adc_scored(cand, q, books, dim), "adc_sim", k).select(
        "query_id", "neighbor_id", "rank", "adc_sim"
    )


def embedding_near_dup(emb: DataFrame, threshold: float = 0.35) -> DataFrame:
    """All vector pairs with cosine ≥ threshold — the EXACT all-pairs form.

    Quadratic verification baseline ONLY (O(n²) compare — a scale-killer on a
    real corpus). The production path is :func:`embedding_near_dup_lsh`,
    whose banded candidate join replaces the cross product.
    """
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.round(cosine("va", "vb"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.35,
    n_cells: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    codebook: Codebook | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the trained k-means codebook,
    then compare pairs only WITHIN a cell and drop every vector that has a
    lower-id within-cell neighbor with cosine ≥ threshold. Returns the
    surviving (vec_id, cell) rows — the min-id member of each within-cell
    duplicate ball is the keeper.

    This is the embedding-space sibling of the MinHash/SimHash text dedups:
    the cluster assignment plays the LSH-band role, bounding the quadratic
    compare to O(Σ|cell|²) instead of O(n²).

    Scale shape (100 TB): the codebook trains on a sample
    (:func:`kmeans_codebook`); assignment is the zero-shuffle broadcast-
    codebook NumPy matmul (:func:`assign_cells`); the ONE shuffle is the
    groupBy(cell), after which each cell's Gram matrix is a single NumPy
    matmul. n_cells must scale with the corpus (cells of ~10³-10⁴
    vectors) so per-cell work stays bounded — exactly the SemDeDup
    paper's deployment regime; a skewed
    giant cell is the operator's known hot spot and is what the paper's
    k ∝ n guidance prevents.

    The threshold compares :func:`_cosines6_kernel` values, so the DuckDB
    oracle replays the identical drop set.
    """
    local = None
    if codebook is None:
        codebook, local = _train_codebook(emb, n_cells, iters)
    cosines6 = _cosines6_kernel()

    def survivors(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.vstack(pdf["emb"].to_numpy()).astype("float64")
        sims = cosines6(V, V)
        # upper triangle: sims[i, j] with i < j (ids ascending) — j is
        # dropped when ANY earlier id i matches it at ≥ threshold
        hit = np.triu(sims >= threshold, k=1)
        keep = ~hit.any(axis=0)
        return pdf.loc[keep, ["vec_id", "cell"]]

    return (
        assign_cells(emb, codebook, local)
        .groupBy("cell")
        .applyInPandas(survivors, "vec_id bigint, cell int")
    )


def _srp_planes(dim: int, n_planes: int, seed: str = SRP_SEED) -> list[list[float]]:
    """Deterministic Rademacher (±1) random hyperplanes.

    Coefficient (p, d) is +1 when the first hex digit of
    ``md5(f"{seed}:{p}:{d}")`` is even, else −1 — reproducible across
    engines/cluster sizes with no RNG state, same trick as the md5-bucket
    train/test split. Rademacher projections satisfy the same sign-hash
    property as Gaussian ones (Goemans–Williamson / Charikar SRP):
    P[sign(h·a) = sign(h·b)] ≈ 1 − θ(a,b)/π.
    """
    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        out.append(row)
    return out


def _srp_band_keys_udf(dim: int, n_bands: int, band_bits: int, seed: str = SRP_SEED):
    """Arrow-vectorized SRP signature: one ``V @ Hᵀ`` matmul per batch.

    Spark's higher-order array functions (``transform``/``aggregate``) are
    evaluated INTERPRETED (no whole-stage codegen), so expressing the
    384-projection signature with them costs seconds per few hundred rows —
    measured 5.3 s for 500×64 at 96×4 bits. The Pandas UDF does the same
    math as one NumPy matmul per Arrow batch (~µs), which is exactly the
    "vectorized kernel" case the repo reserves Python for (cf. the
    indicator recursions in operators/indicators.py).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    H = np.array(_srp_planes(dim, n_bands * band_bits, seed))  # (P, dim)
    weights = 1 << np.arange(band_bits - 1, -1, -1)  # MSB-first bit packing

    @pandas_udf("array<int>")
    def band_keys(emb: pd.Series) -> pd.Series:
        V = np.vstack(emb.to_numpy())  # (n, dim)
        bits = (V @ H.T) > 0  # (n, P) sign bits
        keys = bits.reshape(len(V), n_bands, band_bits) @ weights  # (n, n_bands)
        return pd.Series(list(keys.astype("int32")))

    # asNondeterministic (guide §4.4): the posexplode over the UDF
    # column makes InferFiltersFromGenerate add a size/isnotnull filter
    # whose pushdown re-inlines the UDF — the plan carried TWO
    # ArrowEvalPython nodes, every row crossing the Python boundary and
    # paying the matmul twice. The function is pure (fixed seed), so the
    # marker only stops the optimizer duplicating it; values unchanged.
    return band_keys.asNondeterministic()


def srp_banded(
    emb: DataFrame,
    dim: int = EMB_DIM,
    n_bands: int = SRP_BANDS,
    band_bits: int = SRP_BAND_BITS,
) -> DataFrame:
    """(vec_id, band_idx, band_key) — SRP sign-bit signature, banded."""
    keys = _srp_band_keys_udf(dim, n_bands, band_bits)
    return emb.select(
        "vec_id", keys(F.col("emb")).alias("keys")
    ).select("vec_id", F.posexplode("keys").alias("band_idx", "band_key"))


def _srp_banded_cached(
    emb: DataFrame,
    dim: int = EMB_DIM,
    n_bands: int = SRP_BANDS,
    band_bits: int = SRP_BAND_BITS,
) -> DataFrame:
    # The banded SRP index relation (vec_id, band_idx, band_key), built once
    # per emb plan and banding: four query paths (near-dup LSH pairs,
    # dup-graph PageRank, triangle stats, keeper centrality) read it, and
    # the banded self-join references it twice per plan.
    return cached(
        emb.sparkSession,
        "srp_bands",
        lambda: materialize(
            srp_banded(emb, dim=dim, n_bands=n_bands, band_bits=band_bits)
        ),
        emb,
        dim,
        n_bands,
        band_bits,
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.35,
    dim: int = EMB_DIM,
    n_bands: int = SRP_BANDS,
    band_bits: int = SRP_BAND_BITS,
) -> DataFrame:
    """Bucketed embedding near-dup: SRP-LSH candidates → exact cosine verify.

    Random-hyperplane sign bits (``n_bands × band_bits`` of them) are banded
    exactly like ``dedup_simhash``: a candidate pair must agree on ≥1 whole
    band, so candidate generation is an equi-join on (band_idx, band_key) —
    shuffle keyed on buckets, never a cross product. Candidates then get the
    exact cosine filter, so precision is exact; recall is probabilistic:
    a pair at cosine c collides per band with p = (1 − θ(c)/π)^band_bits,
    and is missed with (1−p)^n_bands. At the defaults (96 bands × 4 bits)
    a worst-case qualifying pair at c = 0.35 (p_bit ≈ 0.614) is missed with
    probability (1 − 0.614⁴)^96 ≈ 4e-7 — effectively total recall, which is
    why this query hash-matches the exact all-pairs oracle.

    Scale note (honest): the pruning power depends on the gap between the
    threshold and the background cosine. The test corpus is near-orthogonal
    noise (background c ≈ 0, p_band = 2⁻⁴), so ~99.8% of pairs still become
    candidates somewhere across 96 bands — on THIS data LSH adds little over
    the cross product. On a real near-dup corpus (dups at c ≥ 0.9, p_bit ≈
    0.966) the same machinery with n_bands=8, band_bits=16 keeps recall
    ≈ 1-(1-0.76)^8 ≈ 0.99999 while admitting only ~2⁻¹⁶ of random pairs per
    band — the quadratic term vanishes. tests/test_datapipe.py demonstrates
    both regimes.
    """
    banded = _srp_banded_cached(emb, dim=dim, n_bands=n_bands,
                                band_bits=band_bits)
    cand = colliding_pairs(
        banded, ["band_idx", "band_key"], "vec_id", "vec_a", "vec_b"
    )
    # Per-VECTOR norms computed below the join (guide §2.3): the
    # inline cosine() ran three interpreted array folds per candidate
    # PAIR (dot + both self-norms) — on the near-orthogonal fixture the
    # banding admits ~all pairs, so two of the three folds repeated per
    # pair what is a per-vector quantity. sqrt(dot(v, v)) of the same
    # vector is the same IEEE double either way, and the final expression
    # is the identical dot/(na*nb) association — bit-for-bit the same
    # cos_sim (oracle hash unchanged).
    va = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("va"),
        _norm("emb").alias("_na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("vb"),
        _norm("emb").alias("_nb"),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos_sim", _pair_cos("va", "vb", "_na", "_nb"))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column:
    code_i = round(clamp(x_i, -1, 1) · 127) — the storage/ANN-sidecar format
    a vector pipeline writes next to raw floats (4× smaller, SIMD-friendly).

    Pure map-side codegen (``transform``/``aggregate`` higher-order
    functions): no shuffle, no UDF. The reconstruction error is accumulated
    left-to-right inside one sequential ``aggregate`` so the double math is
    bitwise identical to the oracle's list_reduce. Codes are emitted joined
    as a string so the hash compare is array-layout-independent.
    """
    codes = F.expr(
        "transform(emb, x -> cast(round(greatest(-1.0d, least(1.0d, x)) * 127.0d)"
        " as int))"
    )
    d = emb.withColumn("codes", codes)
    abs_err = F.expr(
        "aggregate(zip_with(emb, codes, (x, c) -> abs(x - c / 127.0d)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    n_sat = F.size(F.expr("filter(codes, c -> abs(c) = 127)"))
    return d.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",").alias(
            "code_str"
        ),
        n_sat.cast("long").alias("n_saturated"),
        F.round(abs_err / F.size("emb"), 6).alias("mean_abs_err"),
    )


SIL_Q = 10000  # component quantization grid: 1e-4 units
# enforced input contract: |component| ≤ SIL_MAX_ABS, checked
# AT quantization time on both engines (Spark raise_error / DuckDB error),
# so the BIGINT pipeline can never wrap silently under Spark's non-ANSI
# arithmetic while DuckDB raises — the asymmetric failure mode is closed.
# Headroom math at this bound: |q| ≤ 1e5, per-component Δ² ≤ (2e5)² = 4e10,
# so d² ≤ dim·4e10 and the s-ratio's 2·|b−a|·1e6 term stays < 2^63 for
# dim ≤ 115 (fixture dim = 8; unit-ish embeddings sit 10× inside the bound).
SIL_MAX_ABS = 10.0
# ceiling on the centroid codebook embedded as SQL literals: the two-job
# pattern inlines k·dim BIGINTs into ONE map()/named_struct expression,
# which Catalyst must parse/analyze/codegen
# — fine at today's label counts, quadratic pain beyond. Above this bound
# the operator fails loudly with the designed alternative (broadcast-join
# the codebook on label: one extra k·dim-row broadcast hash join, no
# literal growth) rather than compiling a multi-MB expression tree.
SIL_MAX_CODEBOOK_LITERALS = 200_000
# DERIVED dim ceiling: the SIL_MAX_ABS headroom math above is
# valid only while dim·(2·SIL_MAX_ABS·SIL_Q)²·1e6·2 < 2^63 — the per-
# component contract alone cannot stop a high-dim max-magnitude vector
# from wrapping Spark's non-ANSI BIGINT s-ratio while DuckDB raises, the
# exact asymmetry the overflow guard exists to close. Enforced AT
# quantization time on both engines, same as the component check.
SIL_MAX_DIM = int((2**63 - 1) / (2 * (2 * SIL_MAX_ABS * SIL_Q) ** 2 * 1_000_000))
assert SIL_MAX_DIM == 115  # the docstring derivation, pinned


# canonical rounding recipe lives with the fixed6 helpers in operators.text;
# re-exported here because the silhouette oracle twin reads it as
# sim.half_away_div next to sim.EMB_SQL/sim.SIL_Q
from .text import half_away_div  # noqa: E402


def cluster_silhouette(emb: DataFrame) -> DataFrame:
    """Simplified silhouette per label (the cluster-quality eval of
    the embedding lifecycle, next to :func:`ivf_drift_report`):
    for each point, a = squared distance to its OWN label centroid, b =
    min squared distance to any OTHER label centroid, s = (b−a)/max(a,b);
    the per-label mean-s says how separable that label's cluster is.
    Centroid-based ("simplified") silhouette is the O(n·k) variant — the
    O(n²) pairwise classic cannot exist at corpus scale — and squared
    distances keep the pipeline inside +/* only. With a single label there
    is no "other" centroid: b is NULL for every point, each per-point s is
    NULL (the b-IS-NULL guard fires BEFORE the degenerate a=0 branch), and
    the mean — an all-NULL sum over a count of non-NULL scores — is NULL:
    silhouette is undefined at k = 1 and the NULL says so rather than
    faking a score.

    Exactness (no float-margin class): every
    component quantizes to the BIGINT 1e-4 grid (floor(x·1e4 + 0.5) of
    the exact float→double cast), centroids are half-away-from-zero
    integer means, a/b are exact integer squared distances, per-point s
    is the round-half-up integer ratio in 1e-6 units, and the per-label
    mean goes through the fixed6 integer mean — order-, partitioning-
    and engine-independent by construction. Overflow headroom is
    ENFORCED, not assumed: quantization raises on any
    component with |x| > ``SIL_MAX_ABS`` — on BOTH engines (Spark
    raise_error, DuckDB error), so a large-magnitude vector fails
    loudly instead of wrapping silently in Spark's non-ANSI BIGINT
    arithmetic while DuckDB raises. At the enforced bound |q| ≤ 1e5,
    d² ≤ dim·(2e5)² and the s-ratio's 2·|b−a|·1e6 term stays < 2^63
    for dim ≤ 115; the label-sum of s stays < 9.2e18 up to ~9e12
    points per label. (Unit-ish embeddings — this corpus — sit 10×
    inside the bound.)

    Codebook-literal ceiling: the map()/
    named_struct codebook below is a LITERAL-STRING plan that grows
    with k·dim — Catalyst parse/analysis/codegen cost and plan-size
    limits make it the wrong shape past ~10⁵ literals, so the operator
    raises ValueError above ``SIL_MAX_CODEBOOK_LITERALS`` naming the
    alternative (broadcast-join the k·dim-row codebook relation on
    label — no literal growth, one extra broadcast hash join) instead
    of silently compiling a multi-MB expression tree. The guard path
    is test-pinned (tests/test_datapipe.py).

    Scale — the two-job codebook pattern (same as :func:`kmeans_codebook`):
    job 1 computes centroids with one (label, pos) partial agg (shuffle
    bounded at k·dim rows at ANY corpus size) and collects the k×dim
    integer codebook to the driver (the established small-state broadcast
    pattern); job 2 re-derives a/b/s entirely MAP-SIDE against the
    centroid literals — no n·k distance-row shuffle, no per-point
    regroup — and ends in one k-row label agg. Total exchanges that
    scale with n: the centroid partial agg and the final partial agg,
    both map-combined."""
    from .text import fixed6_mean_expr

    # NULL-label rows are unassigned points — there is no cluster to score
    # them against, so they are dropped here (a NULL key would otherwise
    # crash the driver-side codebook sort below and poison the literals)
    from .text import eval_once

    q = emb.filter(F.col("label").isNotNull()).select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        # the input contract fires HERE, inside the quantizing transform,
        # so no out-of-bound (or NULL — corrupt-vector) component ever
        # enters the BIGINT pipeline (see SIL_MAX_ABS; the oracle twin
        # carries the same two-arm CASE with DuckDB's error()). The NULL
        # arm is explicit so the failure message is truthful: without it
        # a NULL comparison would fall into the overflow ELSE and
        # misdiagnose corrupt data as an overflow.
        eval_once(F.expr(
            # the dim arm fires before any component quantizes:
            # past SIL_MAX_DIM the headroom derivation no longer bounds the
            # s-ratio under 2^63, so the operator fails loudly on BOTH
            # engines instead of wrapping silently on one.
            # eval_once: qv feeds the posexplode centroid agg (whose
            # inferred generator filter would re-inline the quantizing
            # transform twice more per row) AND both distance expressions
            # of the scoring projection — pin it to one evaluation per row.
            f"CASE WHEN size(emb) > {SIL_MAX_DIM}"
            f" THEN cast(raise_error('cluster_silhouette: dim > {SIL_MAX_DIM}"
            " breaks the BIGINT overflow headroom derivation')"
            " as array<bigint>)"
            " ELSE transform(emb, x -> CASE"
            " WHEN x IS NULL THEN cast(raise_error('cluster_silhouette:"
            " NULL component — corrupt embedding vector') as bigint)"
            f" WHEN abs(x) <= {SIL_MAX_ABS}"
            f" THEN cast(floor(x * {SIL_Q} + 0.5) as bigint)"
            f" ELSE cast(raise_error('cluster_silhouette: |component| >"
            f" {SIL_MAX_ABS} breaks the BIGINT overflow contract') as bigint)"
            " END) END"
        )).alias("qv"),
    )
    cpos = (
        q.select("label", F.posexplode("qv").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .withColumn("c", F.expr(half_away_div("s", "n")))
    )
    cent: dict[int, dict[int, int]] = {}
    for row in cpos.select("label", "pos", "c").collect():  # k×dim ints — tiny
        cent.setdefault(row["label"], {})[row["pos"]] = row["c"]
    cent_arrays = {
        lbl: [by_pos[p] for p in sorted(by_pos)] for lbl, by_pos in cent.items()
    }
    if not cent_arrays:
        # empty (or all-NULL-label) input: 0 labels — emit an empty frame
        # with the contract schema instead of generating untyped map()/
        # array() literals the analyzer rejects
        return local_relation(
            emb.sparkSession, [], "label long, n_points long, mean_silhouette double"
        )
    n_literals = sum(len(cv) for cv in cent_arrays.values())
    if n_literals > SIL_MAX_CODEBOOK_LITERALS:
        raise ValueError(
            f"cluster_silhouette: codebook k·dim = {n_literals} exceeds the"
            f" literal-plan ceiling {SIL_MAX_CODEBOOK_LITERALS} — at this"
            " label count, broadcast-join the (label, pos, c) centroid"
            " relation on label instead of inlining it as SQL literals"
        )

    def _arr(cv: list[int]) -> str:
        return "array(" + ",".join(f"{c}L" for c in cv) + ")"

    own_map = (
        "map("
        + ",".join(
            f"cast({lbl} as bigint), {_arr(cv)}" for lbl, cv in sorted(cent_arrays.items())
        )
        + ")"
    )
    entries = (
        "array("
        + ",".join(
            f"named_struct('l', cast({lbl} as bigint), 'cv', {_arr(cv)})"
            for lbl, cv in sorted(cent_arrays.items())
        )
        + ")"
    )

    def _d2(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
            " cast(0 as bigint), (acc, v) -> acc + v)"
        )

    s = q.select(
        "label",
        F.expr(_d2("qv", f"element_at({own_map}, label)")).alias("a"),
        F.expr(
            f"array_min(transform({entries},"
            f" e -> IF(e.l = label, cast(null as bigint), {_d2('qv', 'e.cv')})))"
        ).alias("b"),
    ).withColumn(
        "sfp",
        F.expr(
            # b IS NULL ⇒ k = 1 (no other label anywhere) ⇒ s undefined;
            # the guard must fire BEFORE the a = 0 branch or a point
            # sitting on its own centroid would fake s = 0 at k = 1
            "CASE WHEN b IS NULL THEN cast(null as bigint)"
            " WHEN greatest(a, b) = 0 THEN cast(0 as bigint)"
            f" ELSE {half_away_div('(b - a)*1000000', 'greatest(a, b)')} END"
        ),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").alias("n_points"),
            F.sum("sfp").alias("_num"),
            # count of non-NULL scores: 0 at k = 1, where the NULL _num
            # then propagates a NULL mean (undefined, not 0.0)
            F.count("sfp").alias("_den"),
        )
        .withColumn("mean_silhouette", fixed6_mean_expr("_num", "_den"))
        .drop("_num", "_den")
    )


# --- DuckDB oracle fragments -------------------------------------------------

EMB_SQL = """
emb AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
)
""".strip()

# list_cosine_similarity on DOUBLE[] matches the Spark double-precision
# zip_with/aggregate pipeline within 1e-12 — both sides round to 6dp.
COS_SQL = "round(list_cosine_similarity({a}, {b}), 6)"
