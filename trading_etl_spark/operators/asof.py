"""As-of joins — match each probe row to the nearest build row per key:
backward (most recent at-or-before, "price at the time of the event") and
forward (first at-or-after, "the fill a market order placed at event time
would get").

Spark has no native as-of join (the reference has none either — §2.4 lists
range/as-of as absent — but a trading engine wants one: "price at the time
of the event"). Implemented as a composition of built-in operators, the
scalable construction:

1. tag and union the two sides (probe rows carry NULL build values);
2. one window over (key) ordered by (time, side) takes ``last(value,
   ignorenulls=True)`` with an unbounded-preceding frame — each probe row
   sees the latest non-null build value at or before it (build side sorts
   first on ties, so an exactly-simultaneous quote matches);
3. keep probe rows.

Cost: ONE shuffle on the key + a per-partition sort — identical shape to a
sort-merge join, no range cross-product, no per-row UDF.

CAVEAT for low key cardinality: a window partitioned only on the join key
puts each key's ENTIRE history in one task. With 6 currency pairs that is
6-way parallelism no matter how many executors exist — a scale-killer on
a long tick history. :func:`asof_join_backward_bucketed` fixes this with
the two-level construction (in-bucket window on (key, time-bucket) +
carry-forward over the tiny per-bucket-final relation); use it whenever
|keys| ≪ cores × history. The plain variant remains the verification twin
for high-cardinality keys where one-partition-per-key is already fine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tag_sides(
    probe: DataFrame, build: DataFrame, on: str, by: list[str], value_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """The union prelude of every as-of join: ``(probe, build)`` with a
    ``_side`` tag (build 0, probe 1 — build sorts first on time ties, so an
    exactly-simultaneous quote matches) and each side padded with typed
    NULLs for the other side's columns, ready for ``unionByName``."""
    collisions = set(value_cols) & set(probe.columns)
    if collisions:
        raise ValueError(f"value_cols collide with probe columns: {collisions}")
    p = probe.withColumn("_side", F.lit(1))
    for v in value_cols:
        p = p.withColumn(v, F.lit(None).cast(build.schema[v].dataType))
    b = build.select(*by, on, *value_cols).withColumn("_side", F.lit(0))
    for c in probe.columns:
        if c not in b.columns:
            b = b.withColumn(c, F.lit(None).cast(probe.schema[c].dataType))
    return p, b


def _horizon_prune(
    b: DataFrame, probe: DataFrame, on: str, bucket_seconds: int
) -> DataFrame:
    """Prune the UNION's build side to the probe's bucket horizon: build
    rows in buckets outside [min(probe bucket), max(probe bucket)] can only
    ever reach a probe row through the edge/carry relation — which is built
    from the FULL build side and is candle-sized — so dropping them from
    the heavy in-bucket window input is a semantic identity (pinned by
    tests/test_asof.py::test_horizon_prune_is_identity). The bounds are a
    lazy 1-row min/max aggregate broadcast into a range condition (a
    map-side filter after a 1-row BroadcastNestedLoopJoin — no driver
    action at build time), so the in-bucket window never sorts history no
    probe can reach: at 100 TB, a week of events against years of ticks
    windows one week of ticks, not the archive. ``b`` must already carry
    the ``_bkt`` column."""
    t = F.unix_timestamp(F.col(on))
    bounds = probe.agg(
        F.floor(F.min(t) / F.lit(bucket_seconds)).alias("_lo_bkt"),
        F.floor(F.max(t) / F.lit(bucket_seconds)).alias("_hi_bkt"),
    )
    in_range = (F.col("_bkt") >= F.col("_lo_bkt")) & (F.col("_bkt") <= F.col("_hi_bkt"))
    return b.join(F.broadcast(bounds), on=in_range, how="inner").drop("_lo_bkt", "_hi_bkt")


def asof_join_backward(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    by: list[str],
    value_cols: list[str],
) -> DataFrame:
    """For each ``probe`` row: latest ``build`` values with build.on <= probe.on.

    ``on``: the time column name, present in both sides. ``by``: equi-join
    keys. ``value_cols``: build-side columns to carry over (must not collide
    with probe column names). Probe rows with no prior build row keep NULLs.
    """
    p, b = _tag_sides(probe, build, on, by, value_cols)
    unioned = p.unionByName(b)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for v in value_cols:
        unioned = unioned.withColumn(v, F.last(v, ignorenulls=True).over(w))
    return unioned.filter(F.col("_side") == 1).select(*probe.columns, *value_cols)


def _asof_bucketed(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    by: list[str],
    value_cols: list[str],
    bucket_seconds: int,
    forward: bool,
) -> DataFrame:
    """The two-level bucketed as-of, backward or ``forward``:

    1. in-bucket pass: the union window partitions on (keys…,
       floor(epoch/bucket_seconds)) — each task sorts one key×bucket slice,
       so a 6-key corpus still fans out across every core. Ordered by time
       (DESC when forward, build before probe on ties), ``last(ignorenulls)``
       carries the nearest build value through the bucket; the window's
       build side is horizon-pruned (:func:`_horizon_prune`);
    2. carry: per (key, bucket) the EDGE build value — the last one
       (``max_by``) backward, the first (``min_by``) forward, a
       partially-aggregable hash-agg of |keys|×|buckets| rows — and a
       window over that tiny relation yields each bucket's value from the
       nearest prior (backward) or next (forward) bucket;
    3. probe rows take ``coalesce(in-bucket, carry)``.

    The only heavy data movement is the one well-distributed shuffle of
    step 1; step 2's relation is candle-sized, not tick-sized.
    """
    p, b = _tag_sides(probe, build, on, by, value_cols)
    bkt = F.floor(F.unix_timestamp(F.col(on)) / F.lit(bucket_seconds))
    b_win = _horizon_prune(b.withColumn("_bkt", bkt), probe, on, bucket_seconds)
    u = p.withColumn("_bkt", bkt).unionByName(b_win)
    t_order = F.col(on).desc() if forward else F.col(on).asc()
    w_in = (
        Window.partitionBy(*by, "_bkt")
        .orderBy(t_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for v in value_cols:
        u = u.withColumn(f"_in_{v}", F.last(v, ignorenulls=True).over(w_in))

    edge_by = F.min_by if forward else F.max_by
    edges = (
        b.withColumn("_bkt", bkt)
        .groupBy(*by, "_bkt")
        .agg(*[edge_by(v, F.col(on)).alias(f"_edge_{v}") for v in value_cols])
    )
    # every bucket either side touches, so probe-only buckets still get a
    # carry value from the nearest bucket that HAS build rows. The build
    # side's bucket set is exactly edges' key set — reuse it instead of
    # re-scanning the (100 TB) build relation a third time; only the small
    # probe side is scanned again for its buckets.
    bkts = (
        edges.select(*by, "_bkt")
        .unionByName(p.withColumn("_bkt", bkt).select(*by, "_bkt"))
        .distinct()
    )
    frame = (1, Window.unboundedFollowing) if forward else (Window.unboundedPreceding, -1)
    w_carry = Window.partitionBy(*by).orderBy("_bkt").rowsBetween(*frame)
    nearest = F.first if forward else F.last
    carry = bkts.join(edges, [*by, "_bkt"], "left").select(
        *by,
        "_bkt",
        *[
            nearest(f"_edge_{v}", ignorenulls=True).over(w_carry).alias(f"_carry_{v}")
            for v in value_cols
        ],
    )
    return (
        u.filter(F.col("_side") == 1)
        .join(carry, [*by, "_bkt"], "left")
        .select(
            *probe.columns,
            *[
                F.coalesce(f"_in_{v}", f"_carry_{v}").alias(v)
                for v in value_cols
            ],
        )
    )


def asof_join_backward_bucketed(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    by: list[str],
    value_cols: list[str],
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Same semantics as :func:`asof_join_backward`, parallelism that scales
    with the TIME RANGE instead of the key cardinality (:func:`_asof_bucketed`).

    Skew: a hot key (one pair carrying 90%+ of all ticks) needs no extra
    salting here because the bucket IS a salt — a deterministic,
    range-aligned one. The heavy window partitions on (keys…, time-bucket),
    so the hot key's history splits into slices of at most hot-rate ×
    ``bucket_seconds`` rows; no reducer ever holds the whole hot key, and
    ``bucket_seconds`` is the direct skew knob (halve it → halve the worst
    task). Unlike crc32 salting (operators/skew.py) this needs no
    replication or merge pass: the carry relation already restores
    cross-bucket continuity. Measured on a 95%-skewed fixture by
    tests/test_asof.py::test_bucketed_asof_bounds_skew — max per-task group
    size drops ~bucket-count-fold vs the plain variant while the result
    stays identical.
    """
    return _asof_bucketed(probe, build, on, by, value_cols, bucket_seconds, forward=False)


def asof_join_nearest_bucketed(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    by: list[str],
    value_cols: list[str],
    bucket_seconds: int = 3600,
) -> DataFrame:
    """NEAREST as-of: each probe row takes the build row minimizing
    ``|build.on − probe.on|`` (ties → the at-or-before row) — sensor
    alignment / "closest quote to the event" semantics, the third member
    of the as-of family (backward = price when it fired, forward = fill
    you could get, nearest = best timestamp alignment).

    Composition of the two bucketed passes with the matched build TIME
    carried alongside the values, then a map-side chooser — 2× the cost
    of one direction, the same scale properties (heavy windows on
    (keys…, time-bucket), carry relations candle-sized). Output adds
    ``asof_lag_seconds``: signed probe−match distance (positive = matched
    earlier, negative = matched later, NULL = no match either side).
    """
    collisions = set(value_cols) & set(probe.columns)
    if collisions:
        raise ValueError(f"value_cols collide with probe columns: {collisions}")

    probe_cols = probe.columns
    base = build.select(*by, on, *value_cols)
    build_b = base.select(
        *by,
        on,
        *[F.col(v).alias(f"_b_{v}") for v in value_cols],
        F.col(on).alias("_b_t"),
    )
    build_f = base.select(
        *by,
        on,
        *[F.col(v).alias(f"_f_{v}") for v in value_cols],
        F.col(on).alias("_f_t"),
    )
    step = asof_join_backward_bucketed(
        probe, build_b, on, by,
        [f"_b_{v}" for v in value_cols] + ["_b_t"], bucket_seconds,
    )
    step = asof_join_forward_bucketed(
        step, build_f, on, by,
        [f"_f_{v}" for v in value_cols] + ["_f_t"], bucket_seconds,
    )
    eb = F.unix_timestamp(F.col(on)) - F.unix_timestamp("_b_t")
    ef = F.unix_timestamp("_f_t") - F.unix_timestamp(F.col(on))
    pick_b = F.col("_f_t").isNull() | (F.col("_b_t").isNotNull() & (eb <= ef))
    return step.select(
        *probe_cols,
        *[
            F.when(pick_b, F.col(f"_b_{v}")).otherwise(F.col(f"_f_{v}")).alias(v)
            for v in value_cols
        ],
        F.when(pick_b, eb).otherwise(-ef).cast("long").alias("asof_lag_seconds"),
    )


def asof_join_forward_bucketed(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    by: list[str],
    value_cols: list[str],
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Forward as-of: for each probe row, the EARLIEST build values with
    build.on >= probe.on — the fill-price lookup of a backtester (a market
    order at event time executes on the next quote, not the previous one).
    Mirror image of :func:`asof_join_backward_bucketed`, same scale
    properties (:func:`_asof_bucketed`).
    """
    return _asof_bucketed(probe, build, on, by, value_cols, bucket_seconds, forward=True)
