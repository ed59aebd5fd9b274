"""General OLAP queries over the TPC-H-ish star schema — SURVEY.md §2.4 J3
(the star joins the reference documents but never implemented:
``docs/dimensional_modeling.md:37-48``), realized Spark-first.

Scale design on display:
- dims (region/nation, and customer relative to lineitem) broadcast — no
  shuffle on the fact side for dimension enrichment;
- the fact-fact join (lineitem ⨝ orders) is the one legitimate shuffle,
  on the join key both sides; AQE picks/rewrites the physical join at
  runtime;
- aggregates are partial (map-side) before the exchange — sums/counts of
  6dp-rounded expressions so the DuckDB twin hashes identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import cached
from ..operators.text import half_away_div, ratio6


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _msum(col) -> "F.Column":
    """Exact 'money' SUM (r13): the per-row double sits within 1 ulp of a
    ≤6dp decimal grid point (2dp prices × 2dp rates), so casting to
    DECIMAL(27,6) recovers the exact grid value, and Spark's decimal
    aggregation (int128-backed, order-independent, partial-aggregable
    whole-stage codegen — THE idiomatic exact-money sum at scale) adds
    them exactly; one final cast emits the correctly-rounded DOUBLE.
    Replaces round(sum(double), 6): its order-dependent drift EXCEEDS the
    6dp grid once |sum| ≳ 1e9 (ulp(2.8e9) ≈ 4.8e-7 with √n amplification)
    — caught live by the r13 sf0.1 full-precision sweep in
    tpch_pricing_summary and star_join_revenue. Oracle twin:
    CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE)."""
    return F.sum(col.cast("decimal(27,6)")).cast("double")




def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: one hash-agg pass over lineitem with
    pushed-down shipdate predicate and fully partial-aggregable measures."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        # integral quantities in exact units for the int-exact average
        .withColumn("_qfp", F.floor(F.col("l_quantity") + 0.5))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # sums are exact decimal (_msum); avg_qty is the exact-integer 6dp
    # rounding ((2·k·1e6 + n) div (2·n))/1e6 over integral quantities —
    # both order- and engine-independent (r13, sf0.1 sweep catch)
    avg_qty = F.expr(
        "(2000000 * sum(_qfp) + count(_qfp)) div (2 * nullif(count(_qfp), 0))"
    ) / 1000000.0
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _msum(F.col("l_quantity")).alias("sum_qty"),
            _msum(F.col("l_extendedprice")).alias("sum_base_price"),
            _msum(disc_price).alias("sum_disc_price"),
            _msum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            avg_qty.alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 star join: fact lineitem ⨝ orders, enriched through broadcast
    customer → nation → region, revenue per region/nation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dim = (
        cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner"
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .select("c_custkey", "n_name", "r_name")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(dim), orders.o_custkey == dim.c_custkey, "inner")
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            _msum(revenue).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-relation join: revenue per nation for one region's
    one-year orders where the SUPPLIER and the CUSTOMER share a nation
    (local fulfillment). The join-reordering showcase: the big shuffle is
    lineitem ⨝ orders on orderkey; supplier/nation/region broadcast (they
    stay small or constant-size), the date range pushes into the orders
    scan, the region filter prunes before broadcast, and the same-nation
    constraint rides the customer join as an equi-condition instead of a
    post-join filter. CUSTOMER deliberately carries NO broadcast hint
    (VERDICT r5 What's-wrong #2): it scales linearly with the corpus
    (~15 M rows / GBs at sf100), so a forced ``F.broadcast(cust)`` is the
    classic hinted-side driver OOM at 100× — AQE picks broadcast at small
    sf on its own and falls back to a shuffled join when customer out-
    grows the threshold (behavior pinned in
    tests/test_plan_regressions.py::test_q5_customer_not_force_broadcast).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            _msum(revenue).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join + top-k: the 10 customers with highest open-order value
    (exercises the anti/semi family the reference gets from ON CONFLICT)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    cust = _t(spark, sf_dir, "customer")
    totals = orders.groupBy("o_custkey").agg(
        _msum(F.col("o_totalprice")).alias("open_value"),
        F.count("*").alias("n_orders"),
    )
    return (
        totals.join(cust, totals.o_custkey == cust.c_custkey, "inner")
        .select(
            F.col("c_custkey").alias("custkey"),
            "c_name",
            "open_value",
            "n_orders",
        )
        .orderBy(F.desc("open_value"), F.asc("custkey"))
        .limit(10)
    )


def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (TPC-H-Q4 shape): count orders per priority having at
    least one returned lineitem. The semi join never materializes the match
    side — lineitem is reduced to distinct orderkeys shuffle-side, so the
    probe payload is one key column at any scale."""
    orders = _t(spark, sf_dir, "orders")
    late = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def q_customers_no_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join per market segment: customers with no open ('O')
    order — the same anti-join primitive the idempotent-append library (W1)
    uses, exposed as a query."""
    cust = _t(spark, sf_dir, "customer")
    open_orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def q_urgent_not_finished(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (UNION / EXCEPT): customers who placed urgent- or high-
    priority orders, minus those with any finished ('F') order. Spark plans
    EXCEPT DISTINCT as an aggregate+anti pattern — no driver-side sets."""
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return urgent.union(high).subtract(finished)  # subtract ≡ EXCEPT DISTINCT


def q_top_customers_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-limit pagination (SURVEY §2.6 O3): ranks 11–20 of the
    open-order-value standings via DataFrame.offset — Spark plans a global
    TakeOrderedAndProject of offset+limit rows, not a full sort."""
    return (
        q_top_customers_unlimited(spark, sf_dir)
        .orderBy(F.desc("open_value"), F.asc("custkey"))
        .offset(10)
        .limit(10)
    )


def q_top_customers_unlimited(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    cust = _t(spark, sf_dir, "customer")
    totals = orders.groupBy("o_custkey").agg(
        _msum(F.col("o_totalprice")).alias("open_value"),
        F.count("*").alias("n_orders"),
    )
    return totals.join(cust, totals.o_custkey == cust.c_custkey, "inner").select(
        F.col("c_custkey").alias("custkey"), "c_name", "open_value", "n_orders"
    )


def q_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct (absent in reference §2.3): distinct users per
    (day, event_type). Expands to a two-phase plan: partial dedup on
    (day, type, user) map-side, then the distinct-count agg — shuffle volume
    bounded by distinct triples, not events."""
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("day"),
            "event_type",
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
            _msum(F.col("value")).alias("sum_value"),
        )
    )


def q_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events ``props`` JSON column
    into a typed struct (``from_json`` with an explicit schema — JVM-side,
    codegen'd, no UDF) and aggregate the extracted field per event type.
    The parse happens in the map stage, so only (event_type, k, value)
    reach the exchange — the JSON text itself never shuffles."""
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir)
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        ev.select("event_type", k.alias("k"), "value", "user_id")
        .withColumn("_vfp", F.floor(F.col("value") * 100.0 + 0.5))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            # exact-integer 6dp avg over the 1e-2 value grid (r13)
            (
                F.expr(
                    "(20000 * sum(_vfp) + count(_vfp))"
                    " div (2 * nullif(count(_vfp), 0))"
                )
                / 1000000.0
            ).alias("avg_value"),
        )
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HLL++, rsd=2%) — the 100 TB form of
    ``daily_active_users``: constant memory per group instead of a
    distinct-triple shuffle; the sketch partial-aggregates map-side and
    merges associatively, so shuffle volume is |groups| × sketch size
    regardless of cardinality.

    Cross-engine contract: sketches differ per engine, so the query emits
    the EXACT count plus a boolean attesting the estimate landed inside
    3×rsd; the oracle asserts the same exact counts with the flag
    literally true. A drifting estimator hash-mismatches — the error
    CONTRACT is verified, which is all an approx aggregate promises."""
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("_est"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("_est") - F.col("n_users_exact"))
                <= 0.06 * F.col("n_users_exact")
            ).alias("within_3rsd"),
        )
    )


def q_approx_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna ``percentile_approx``,
    accuracy 1e4) — the 100 TB sibling of the exact ``spread_quantiles``:
    bounded-memory mergeable sketch instead of a full sort. Same
    cross-engine contract as the HLL query: emit exact medians plus an
    in-tolerance flag for the sketch (rank error ≤ 1/accuracy ⇒ value
    within the p40-p60 exact envelope for p50)."""
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir)
    q = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("_p50_est"),
        F.round(F.expr("percentile(value, 0.4)"), 6).alias("_lo"),
        F.round(F.expr("percentile(value, 0.6)"), 6).alias("_hi"),
    )
    return q.select(
        "event_type",
        "p50_exact",
        ((F.col("_p50_est") >= F.col("_lo")) & (F.col("_p50_est") <= F.col("_hi"))).alias(
            "within_rank_tolerance"
        ),
    )


def scd2_build(ev):
    """Full SCD2 rebuild from a (user_id, ts, event_id, value) change log —
    the one-shuffle change-point compression both q_scd2_user_value_history
    and the incremental merge-apply gate share."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    change_points = (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("prev", F.lag("value").over(w))
        .filter(F.col("prev").isNull() | (F.col("value") != F.col("prev")))
    )
    valid_to = F.lead("ts").over(w)
    return change_points.select(
        "user_id",
        F.col("value").alias("dim_value"),
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def q_scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension-history compaction (absent in the reference — its
    alembic migrations version the SCHEMA, never the rows): treat events as
    a change log of (user_id, value) and emit one row per consecutive value
    run with half-open [valid_from, valid_to) validity; the open run is the
    current version. The standard warehouse pattern for as-of dimension
    lookups (pairs with the as-of join in operators/asof.py).

    Scale shape: both windows partition on user_id — the dimension's
    natural key — so the whole build is ONE shuffle; the change-point
    filter runs map-side between them on the already-partitioned rows.
    """
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    return scd2_build(ev)


def q_scd2_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 merge-apply (r6-born): history built from the log
    up to the shared incremental cursor, then reconcile.scd2_apply folds
    the post-cursor slice in — windows run only over the new slice,
    untouched keys stream through. Oracle = the FULL-rebuild SQL, so the
    hash-match certifies incremental view maintenance:
    apply(history≤T, log>T) ≡ rebuild(log)."""
    from ..operators.reconcile import scd2_apply
    from ..sources.ticks import load_events
    from .trading import CURSOR

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    history = scd2_build(ev.filter(F.col("ts") <= F.lit(CURSOR)))
    post = ev.filter(F.col("ts") > F.lit(CURSOR)).select(
        "user_id", "ts", "event_id", "value"
    )
    return scd2_apply(history, post)


Q3_SEGMENT = "BUILDING"
Q3_DATE = "1995-03-15 00:00:00"


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped shipping-priority query (r6-born): unshipped
    BUILDING-segment orders ranked by revenue. Join posture: customer
    filters to one segment BEFORE the join (predicate below the join, so
    the orders⨝customer probe side shrinks first); no forced broadcast —
    customer scales with the corpus (the Q5 lesson), AQE picks broadcast
    at small sf and shuffle-hash beyond. Top-10 via orderBy().limit() —
    TakeOrderedAndProject, never a global sort; revenue rounds to 6dp and
    ties break on (o_orderdate, l_orderkey) so both engines pick the same
    10 rows."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") < Q3_DATE)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") > Q3_DATE)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _msum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


Q12_DATE_LO, Q12_DATE_HI = "1996-01-01 00:00:00", "1997-01-01 00:00:00"


def q_priority_shipmonth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped conditional aggregation (r7-born): per ship-month
    of one year, how many shipped line items belong to HIGH-priority
    orders (1-URGENT/2-HIGH) vs lower — the CASE-sum-over-a-join shape
    (Q12 proper splits by ship mode; the reduced fixture has no
    l_shipmode, so the probe splits by month — same operator shape:
    one join, two conditional sums, no second pass).

    Scale: the lineitem side filters to the year AT THE SCAN (pushed
    range predicate on l_shipdate); both conditional sums fold in ONE
    partial-aggregable hash-agg — a naive two-query/self-join form would
    scan twice. Orders joins on its key; no forced broadcast (customer/
    orders scale with the corpus — the Q5 lesson)."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= Q12_DATE_LO) & (F.col("l_shipdate") < Q12_DATE_HI)
        )
        .select("l_orderkey", "l_shipdate")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


# Q19-shaped disjunction: three (brand, size-range, quantity-range) arms.
Q19_ARMS = [
    ("Brand#12", 1, 5, 1.0, 11.0),
    ("Brand#23", 1, 10, 10.0, 20.0),
    ("Brand#34", 1, 15, 20.0, 30.0),
]


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunctive-predicate revenue (r7-born): total
    discounted revenue of line items matching ANY of three
    (brand, part-size range, quantity range) arms — the OR-of-ANDs
    predicate that exercises pushdown planning: the part-side disjunction
    (brand OR brand OR brand; size ≤ max of the arms) is factored out and
    pushed to the part SCAN, so the join build side shrinks before the
    shuffle, while the mixed part×lineitem arm predicates evaluate after
    the join (they reference both sides and cannot push). Fixture note:
    the reduced part table has no p_container, so the arms pair brand
    with p_size instead — identical operator shape. Output is one
    6dp-rounded revenue row."""
    brands = [a[0] for a in Q19_ARMS]
    size_hi = max(a[2] for a in Q19_ARMS)
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        # factored common disjunction — pushed to the parquet scan
        .filter(F.col("p_brand").isin(brands) & (F.col("p_size") <= size_hi))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    arm = None
    for brand, slo, shi, qlo, qhi in Q19_ARMS:
        c = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        arm = c if arm is None else (arm | c)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(arm)
        .agg(
            _msum(
                F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


def q_candle_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (r6-born — the inverse of avg_close_pivot): the wide
    OHLC candle relation melted to long (pair, time, field, value) rows,
    the shape feature stores and plotting layers consume. Map-side
    ``stack`` inside codegen — zero shuffle beyond the cached candle
    build; output is 4× the candle rows by construction."""
    from .trading import _ohlc_1h

    c = _ohlc_1h(spark, sf_dir)
    return c.select(
        "currency_pair_code",
        "time",
        F.expr(
            "stack(4, 'open', open, 'high', high, 'low', low, 'close', close)"
            " AS (field, value)"
        ),
    ).withColumn("value", F.round("value", 6))


def q_event_type_copairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (r6-born — the frequent-itemset first
    pass, A-priori k=2): for every pair of event types, how many users
    performed both, with support against the user universe. The
    recommendation/affinity primitive the reference has no analog for.

    Scale shape: the basket relation collapses to DISTINCT (user, type)
    FIRST (partial-agg shuffle bounded by users × |types|, |types| tiny),
    then the pair join is per-user over ≤|types| rows — never a raw-event
    self-join; the pair count is a |types|²-row hash-agg. The user-universe
    denominator is a 1-row countDistinct aggregate broadcast-cross-joined
    into the support division — fully lazy, so building this DataFrame
    submits NO job and the denominator shares Spark's scheduling with the
    pair count instead of forcing a separate eager pass (VERDICT r6
    "what's wrong" #1; same pattern as unigram_logprob / bm25). support
    rounds to 6dp with both engines dividing the same exact longs."""
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type").distinct()
    universe = ev.agg(F.countDistinct("user_id").alias("n_users"))
    a = ev.select("user_id", F.col("event_type").alias("type_a"))
    b = ev.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users_both"))
        .crossJoin(F.broadcast(universe))
        .withColumn(
            "support",
            F.round(F.col("n_users_both") / F.col("n_users").cast("double"), 6),
        )
        .drop("n_users")
    )


def q_orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of the orders table (r6-born):
    reconcile.table_profile — per-column rows/nulls/exact-distinct plus
    numeric min/max, one scan, melted long."""
    from ..operators.reconcile import table_profile

    return table_profile(spark.read.parquet(f"{sf_dir}/orders.parquet"))


HIST_BINS = 10


def q_events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the robust-outlier clip every feature pipeline runs
    before normalization (r6-born): per event_type p01/p99 bounds (exact
    percentiles, 6dp-rounded so both engines share one clip decision),
    broadcast back onto the events; values clamp into [lo, hi] with a
    clipped audit flag. Two-pass shape like the histogram: at 100 TB the
    bounds agg is a |types|-row result broadcast into a map-side clamp —
    the corpus never shuffles. (Exact percentiles here are per-type
    sort-based aggs; at extreme scale swap the GK sketch from
    approx_value_quantiles for the bounds pass, same clamp.)"""
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    bounds = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.01)"), 6).alias("lo"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("hi"),
    )
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round(
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 6
        ).alias("value_w"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clipped"
        ),
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values per event type (absent in the
    reference — no distribution profiling at all): per-type min/max bounds
    then 10 fixed-width bins — the two-pass shape that at 100 TB is one
    bounds agg (tiny result, broadcast back) plus one map-side bucketing
    pass into a |types|×bins hash-agg.

    Cross-engine bucketing contract: the scaled position rounds to 6dp
    BEFORE floor, so both engines bucket identically everywhere except a
    true value within 5e-7 of a bin edge (which would then land in the
    same, deterministically chosen, neighbor bin in BOTH engines). The max
    value clamps into the last bin.
    """
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(HIST_BINS))
    pos = F.round((F.col("value") - F.col("mn")) / width, 6)
    bucket = F.least(F.floor(pos), F.lit(HIST_BINS - 1)).cast("int")
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .withColumn("bucket", F.when(F.col("mx") == F.col("mn"), 0).otherwise(bucket))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n_values"),
            F.round(F.min("mn"), 6).alias("type_min"),
            F.round(F.max("mx"), 6).alias("type_max"),
        )
    )


def q_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase, each step
    strictly at-or-after the previous step's FIRST occurrence) — the
    event-sequence analysis missing from the reference entirely.

    Set-based, no UDF: three chained window minima that all share the ONE
    user_id partitioning (t_click's window predicate references t_view's
    column, so the steps are sequential but the shuffle is paid once);
    the final funnel counts are a single global aggregate.
    """
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    tv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    d = ev.withColumn("tv", tv)
    tc = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") >= F.col("tv")), F.col("ts"))
    ).over(w)
    d = d.withColumn("tc", tc)
    tp = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("tc")),
            F.col("ts"),
        )
    ).over(w)
    d = d.withColumn("tp", tp)
    users = d.groupBy("user_id").agg(
        F.max("tv").alias("tv"), F.max("tc").alias("tc"), F.max("tp").alias("tp")
    )
    n_view = F.count("tv")
    n_click = F.count("tc")
    n_purchase = F.count("tp")
    return users.agg(
        F.count("*").alias("n_users"),
        n_view.alias("n_viewed"),
        n_click.alias("n_clicked_after_view"),
        n_purchase.alias("n_purchased_after_click"),
        ratio6(n_click, n_view).alias("view_to_click"),
        ratio6(n_purchase, n_click).alias("click_to_purchase"),
        ratio6(n_purchase, n_view).alias("view_to_purchase"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted on
    each later active day as a day-offset matrix with retention ratios —
    the other classic event-analytics table the reference lacks. Two
    hash-aggs keyed on user_id plus one on (cohort, offset); the per-user
    cohort relation is user-cardinality-sized and broadcasts back."""
    from ..sources.ticks import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohorts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    active = (
        ev.join(F.broadcast(cohorts), "user_id")
        .groupBy("cohort_day", F.datediff("day", F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return active.join(F.broadcast(sizes), "cohort_day").select(
        F.col("cohort_day").cast("timestamp").alias("cohort_day"),
        "day_offset",
        "n_active",
        "cohort_size",
        ratio6(F.col("n_active"), F.col("cohort_size")).alias("retention"),
    )


def q_events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot reconciliation (operators/reconcile.table_diff): two
    deterministic views of the events table — 'old' drops every 7th key,
    'new' drops every 5th and bumps value on every 3rd — diffed on
    event_id into added/removed/changed rows. The data-quality twin of
    the reference's idempotency contract: a re-run drift is EXPLAINED per
    key, not just counted. One full-outer shuffle join; output O(drift)."""
    from ..operators.reconcile import table_diff

    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 7 != 0).select(
        "event_id", "event_type", "value"
    )
    new = ev.filter(F.col("event_id") % 5 != 0).select(
        "event_id",
        "event_type",
        (
            F.col("value")
            + F.when(F.col("event_id") % 3 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("value"),
    )
    return table_diff(old, new, keys=["event_id"])


Q10_DATE_LO, Q10_DATE_HI = "1996-01-01", "1996-04-01"


def q_returned_item_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (r8-born): top-20 customers by revenue lost to
    returned items in one quarter. Scale design: the date predicate
    pushes to the orders scan and the returnflag predicate to the
    lineitem scan BEFORE the one fact-fact shuffle join; the per-customer
    aggregate is partial; nation broadcasts onto customer, and the
    customer-dim join is left to AQE (at 100 TB neither the full customer
    dim nor a quarter's active-customer aggregate is safely
    broadcastable — AQE picks broadcast when runtime stats allow);
    top-20 is TakeOrderedAndProject with a custkey tie-break, never a
    full sort."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q10_DATE_LO))
        & (F.col("o_orderdate") < F.lit(Q10_DATE_HI))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            _msum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )
    dim = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        rev.join(dim, rev.o_custkey == dim.c_custkey)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


RETENTION_CUTOFF = "2024-01-15"  # orchestrator clock argument, not wall-clock
ZORDER_BUCKETS = 8


def q_events_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance dry-run (plans/maintenance.retention_plan): classify the
    events table's day-partitions as drop/keep against the retention
    cutoff with row counts and time bounds — the audited plan the nightly
    T11 sweep (reference: docs/devops-tasks/t11-retention-policy.md)
    executes via drop_partitions_before. One hash-agg, shuffle bounded by
    the partition count."""
    from ..plans.maintenance import retention_plan

    return retention_plan(_t(spark, sf_dir, "events"), "ts", RETENTION_CUTOFF)


RFM_ANCHOR = "1998-08-03"  # day after TPC-H's last o_orderdate — fixed, never wall-clock


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (r9-born — the classic marketing-OLAP
    pattern): per customer, recency (days from last order to the fixed
    anchor), frequency (order count), monetary (total spend), each scored
    into quartiles and combined into an RFM cell (111..444, 4 best).

    Scale shape: NOT ntile — a global ntile is a single-partition window
    (the bm25 lesson). Quartile THRESHOLDS come from one 1-row exact-
    percentile aggregate (F.percentile ↔ quantile_cont, the
    spread_quantiles parity convention) broadcast back, and scoring is a
    map-side comparison — the same two-pass shape as the histogram.
    Recency scores inverted (recent = better)."""
    per = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.lit(RFM_ANCHOR).cast("date"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            _msum(F.col("o_totalprice")).alias("monetary"),
        )
    )
    th = per.agg(
        *[
            F.round(F.percentile(c, F.lit(q)), 6).alias(f"{c}_q{int(q * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def quartile(c: str) -> F.Column:
        return (
            F.when(F.col(c) <= F.col(f"{c}_q25"), 1)
            .when(F.col(c) <= F.col(f"{c}_q50"), 2)
            .when(F.col(c) <= F.col(f"{c}_q75"), 3)
            .otherwise(4)
        )

    scored = per.crossJoin(F.broadcast(th)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (5 - quartile("recency_days")).alias("r_score"),  # recent = low days = best
        quartile("frequency").alias("f_score"),
        quartile("monetary").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_cell",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast("int"),
    )


COMPACT_FIXTURE_ROWS_PER_FILE = 50   # maxRecordsPerFile at fixture write
COMPACT_TARGET_ROWS_PER_FILE = 200   # the dry-run's target file size

# one day-partitioned many-small-files dump of events per (app, sf_dir),
# reused across invocations (the _CANDLE_DUMPS discipline: FIFO-bounded,
# evicted entries rmtree'd, atexit cleanup).
_COMPACT_FIXTURES: dict = {}
_COMPACT_FIXTURES_MAX = 4


def _compaction_fixture(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import os
    import tempfile

    from ._dumpcache import get_or_build_dump

    def build(path: str) -> None:
        # single task + maxRecordsPerFile => each day holds EXACTLY
        # ceil(rows/N) files, the accretion model the oracle reproduces
        (
            _t(spark, sf_dir, "events")
            .withColumn("dt", F.to_date("ts"))
            .repartition(1)
            .sortWithinPartitions("dt")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", COMPACT_FIXTURE_ROWS_PER_FILE)
            .partitionBy("dt")
            .parquet(path)
        )

    # the root is deterministic, so it names the whole source path: two
    # corpora with the same basename must never share (and on eviction
    # delete) one fixture
    src = os.path.abspath(sf_dir)
    return get_or_build_dump(
        _COMPACT_FIXTURES,
        _COMPACT_FIXTURES_MAX,
        (spark.sparkContext.applicationId, src),
        lambda: os.path.join(
            tempfile.gettempdir(),
            "trading_etl_spark_compact",
            spark.sparkContext.applicationId,
            f"{os.path.basename(src)}-{hashlib.md5(src.encode()).hexdigest()[:12]}",
        ),
        build,
    )


def q_events_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction DRY-RUN (plans/maintenance.compaction_plan — VERDICT r8
    task #4): over a deterministic many-small-files twin of the events
    table (day-partitioned, ``maxRecordsPerFile=50`` — the micro-batch
    accretion pattern compaction exists for), report per partition the
    REAL file count from the filesystem listing, the row count, the
    ``rows_per_file=200`` target, and the compact/skip decision
    ``compact_partition`` would take. The oracle reproduces the whole
    report from the events table alone (files_before == ceil(rows/50) by
    construction), so a wrong fixture writer, fs listing, or planner
    arithmetic all surface as a hash mismatch."""
    from ..plans.maintenance import compaction_plan

    return compaction_plan(
        spark,
        _compaction_fixture(spark, sf_dir),
        "dt",
        rows_per_file=COMPACT_TARGET_ROWS_PER_FILE,
    ).select(
        F.col("partition_value").alias("dt"),
        "n_rows",
        "files_before",
        "target_files",
        "action",
    )


ORPHAN_DAY_MOD = 5   # partitions with day-of-month % 5 == 0 get orphans
ORPHAN_PER_PART = 2  # exactly this many planted .tmp leftovers each


def _orphan_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The compaction fixture with deterministic writer debris planted on
    top: partitions whose day-of-month is divisible by ``ORPHAN_DAY_MOD``
    carry exactly ``ORPHAN_PER_PART`` ``.tmp`` files — the leftovers an
    abandoned task attempt strands next to committed data. Planting is
    idempotent and invisible to every parquet reader and to
    ``file_sizes(suffix=".parquet")``, so sharing the underlying fixture
    with the compaction dry-run changes neither query."""
    import glob
    import os

    path = _compaction_fixture(spark, sf_dir)
    for d in glob.glob(os.path.join(path, "dt=*")):
        day = int(os.path.basename(d).rsplit("-", 1)[1])
        if day % ORPHAN_DAY_MOD == 0:
            for i in range(ORPHAN_PER_PART):
                marker = os.path.join(d, f"part-orphan-{i}.tmp")
                if not os.path.exists(marker):
                    with open(marker, "w") as f:
                        f.write("abandoned writer leftover")
    return path


def q_events_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM dry-run (plans/maintenance.orphan_report, r10-born): per
    day-partition of the deterministic events twin, committed data files
    from the REAL fs listing vs planted ``.tmp`` writer debris, and the
    vacuum/clean decision. The oracle reproduces the whole report from
    the events table alone (committed == ceil(rows/50) by fixture
    construction; orphans follow the deterministic planting rule), so a
    wrong fixture writer, listing, classifier, or planting all surface
    as a hash mismatch — the same evidence pattern as the compaction
    dry-run."""
    from ..plans.maintenance import orphan_report

    return orphan_report(spark, _orphan_fixture(spark, sf_dir), "dt").select(
        F.col("partition_value").alias("dt"),
        "files_committed",
        "files_orphan",
        "action",
    )


def q_events_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout-quality report (layout.zorder_bucket_stats): Morton
    key over (user_id, epoch-minute), range-bucketed into 8 slices of the
    key space, per-bucket row count + per-dimension min/max — the
    rectangles parquet row-group stats would carry after write_zordered,
    i.e. what a predicate on EITHER dimension can prune against. Bucket id
    is a map-side shift of the key (no global sort/ntile); the bounds pass
    is an eager 1-row agg standing in for catalog stats at scale."""
    from ..layout import zorder_bucket_stats

    ev = _t(spark, sf_dir, "events").withColumn(
        "minute", F.floor(F.unix_timestamp("ts") / 60).cast("long")
    )
    # epoch-minutes sit far from 0, so scale the OFFSET from the min —
    # straight value/max would collapse the whole month into the top of
    # the key space and leave most buckets empty
    bounds = ev.agg(
        F.max("user_id").alias("amax"),
        F.min("minute").alias("bmin"),
        F.max("minute").alias("bmax"),
    ).first()
    stats = zorder_bucket_stats(
        ev,
        F.col("user_id"),
        F.col("minute") - F.lit(int(bounds["bmin"])),
        int(bounds["amax"]),
        int(bounds["bmax"]) - int(bounds["bmin"]),
        n_buckets=ZORDER_BUCKETS,
    )
    return stats.select(
        "bucket",
        "n_rows",
        F.col("min_a").alias("min_user"),
        F.col("max_a").alias("max_user"),
        F.col("min_b").alias("min_minute"),
        F.col("max_b").alias("max_minute"),
    )


Q4_DATE_LO, Q4_DATE_HI = "1996-01-01 00:00:00", "1996-04-01 00:00:00"
Q4_LATE_DAYS = 60


def q_late_shipment_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped order-priority checking (r10-born): orders placed
    in one quarter counted per priority when AT LEAST ONE of their line
    items shipped more than ``Q4_LATE_DAYS`` days after the order date —
    Q4 proper's EXISTS(l_commitdate < l_receiptdate) re-expressed over
    the reduced fixture (no commit/receipt dates) as a lateness
    condition that still references BOTH sides, keeping the correlated-
    EXISTS operator shape: a LEFT SEMI join whose condition mixes the
    equi-key with a cross-side range predicate.

    Scale: the quarter predicate is pushed to the orders SCAN, and the
    lateness bound implies l_shipdate > quarter_start + 60 days — a
    DERIVED constant pushed to the lineitem scan (the same
    bound-derivation move as the as-of horizon prune), so neither side
    carries rows that cannot match. EXISTS-as-semi means lineitem
    multiplicity can never double-count an order; one partial-agg count
    per priority after the semi join."""
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= Q4_DATE_LO) & (F.col("o_orderdate") < Q4_DATE_HI)
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # derived scan bound: any order in the quarter needs
        # l_shipdate > 1996-01-01 + 60d to qualify
        .filter(F.col("l_shipdate") > F.lit(Q4_DATE_LO).cast("timestamp") + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS"))
        .select("l_orderkey", "l_shipdate")
    )
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


Q14_DATE_LO, Q14_DATE_HI = "1996-01-01 00:00:00", "1996-02-01 00:00:00"


def q_promo_revenue_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped promotion-effect ratio (r10-born): the share of
    one month's discounted revenue earned by PROMO-type parts —
    100·sum(rev WHERE promo)/sum(rev) in ONE conditional hash-agg over
    the part⨝lineitem join (never two scans). The month predicate is
    pushed to the lineitem scan; part joins on its key with no forced
    broadcast (part scales with the catalog — the Q5/Q10 posture).
    Output is a single 6dp row."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= Q14_DATE_LO) & (F.col("l_shipdate") < Q14_DATE_HI)
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * _msum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / _msum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


Q11_FACTOR = 1.5


def q_revenue_concentration_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped concentration scan (r10-born): parts whose total
    discounted revenue exceeds ``Q11_FACTOR``× the AVERAGE per-part share
    of global revenue — the group-by-HAVING-fraction-of-total shape (Q11
    proper runs it over partsupp value with a fraction scaled by 1/SF;
    the fixture has no partsupp, and anchoring the threshold to the
    average share is the same scale-adaptivity expressed without knowing
    SF: the global total AND the part count both come from the data).

    Scale: global total + part count are ONE lazy 1-row aggregate
    cross-joined (broadcast) into the HAVING filter — never a driver
    collect and never a second scan of the per-part aggregate; both
    aggregates are partial-aggregable hash-aggs. The threshold DECISION
    is made on 6dp-rounded values in both engines (oracle-parity
    convention)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(_msum(rev).alias("revenue"))
    totals = li.agg(
        _msum(rev).alias("_total"),
        F.countDistinct("l_partkey").alias("_nparts"),
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(
            F.col("revenue")
            > F.round(F.lit(Q11_FACTOR) * F.col("_total") / F.col("_nparts"), 6)
        )
        .select("l_partkey", "revenue")
    )


Q15_DATE_LO, Q15_DATE_HI = "1996-01-01 00:00:00", "1996-04-01 00:00:00"


def q_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped top-supplier view (r10-born): per-supplier revenue
    for one quarter, returning the supplier(s) achieving the GLOBAL
    maximum — the agg-then-max-of-agg join shape (Q15's revenue view +
    its correlated max subquery). The max is a LAZY 1-row aggregate of
    the revenue relation broadcast-joined back onto it — never a second
    scan of lineitem and never a driver collect; ties all surface (Q15
    semantics), made deterministic by the 6dp revenue rounding both
    engines share. Quarter predicate pushed to the lineitem scan;
    supplier dim joins on its key for the name."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= Q15_DATE_LO) & (F.col("l_shipdate") < Q15_DATE_HI)
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    revenue = li.groupBy("l_suppkey").agg(
        _msum(
            F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
        ).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q22_DORMANT_CUTOFF = "2000-01-01 00:00:00"


def q_idle_rich_customers_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped lost-opportunity scan (r10-born): customers with
    account balance above the average POSITIVE balance and NO order since
    ``Q22_DORMANT_CUTOFF`` — the two-pass scalar threshold COMPOSED with
    an anti join, Q22's exact shape (its cntrycode grouping runs on phone
    prefixes the reduced fixture lacks; the nation key provides the same
    group-and-count output, and its 7-year dormancy window becomes the
    cutoff — this fixture's customers ALL have some order, like TPC-H's).

    The average is a lazy 1-row aggregate broadcast into the balance
    filter; the dormancy test is a LEFT ANTI join against the
    date-filtered orders scan (predicate pushed — the anti build side
    shrinks first; never NOT IN, which can't null-safely anti-join and
    blocks the hash-anti strategy). Threshold decisions are on
    6dp-rounded values in both engines."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    # exact-integer 6dp avg over the 1e-2 acctbal grid (r13)
    avg_pos = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .withColumn("_bfp", F.floor(F.col("c_acctbal") * 100.0 + 0.5))
        .agg(
            (
                F.expr(
                    "(20000 * sum(_bfp) + count(_bfp))"
                    " div (2 * nullif(count(_bfp), 0))"
                )
                / 1000000.0
            ).alias("_avg_bal")
        )
    )
    recent = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= Q22_DORMANT_CUTOFF)
        .select("o_custkey")
    )
    rich_idle = (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.round(F.col("c_acctbal"), 6) > F.col("_avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return rich_idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        _msum(F.col("c_acctbal")).alias("totacctbal"),
    )


Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q7_DATE_LO, Q7_DATE_HI = "1996-01-01 00:00:00", "2000-01-01 00:00:00"


def q_nation_volume_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped volume shipping (r11-born): revenue between two
    nations per (supplier nation, customer nation, ship year), both
    directions — the double-dimension-closure star: lineitem reaches its
    supplier's nation AND (via orders → customer) its customer's nation,
    with the disjunctive nation-pair predicate applied where both sides
    are first available.

    Scale: the ship-date range is pushed to the lineitem SCAN; both
    nation joins broadcast (25 rows); the supplier join broadcasts and —
    because supp_nation is filtered to the pair BEFORE the join — cuts
    lineitem to ~2/|nations| of its rows ahead of the only big shuffle
    (orderkey, lineitem ⋈ orders). The customer side shrinks the same
    way before its custkey join; AQE picks broadcast vs shuffle for it
    by size. Year extraction and the revenue product are codegen."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    pair_nations = nation.filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    ).select("n_nationkey", "n_name")
    supp = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(
            F.broadcast(pair_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(
            F.broadcast(pair_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    ord_cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= Q7_DATE_LO) & (F.col("l_shipdate") < Q7_DATE_HI)
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ord_cust, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            ((F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B))
            | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            _msum(
                F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


Q13_EXCLUDED_PRIORITY = "1-URGENT"


def q_custdist_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped customer order-count distribution (r11-born): how
    many customers placed exactly N qualifying orders, INCLUDING the
    zero-order bucket — Q13's left-outer-join-then-double-aggregate shape
    (its NOT LIKE comment exclusion becomes a priority exclusion on the
    reduced fixture; the filter must sit in the JOIN input, not a WHERE,
    or the zero bucket vanishes).

    Scale: the excluded-priority predicate is pushed to the orders scan;
    one custkey shuffle for the outer join + count, then a tiny second
    hash-agg keyed by the count value itself (at most ~hundreds of
    distinct counts at any corpus size — the second shuffle is bounded
    by the distribution's support, not by |customer|)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY)
        .select("o_custkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


Q17_BRAND = "Brand#1"


def q_small_qty_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped small-quantity-order revenue (r11-born): for one
    brand's parts, the average yearly revenue lost if orders below 20%
    of the part's average quantity were not filled — Q17's correlated
    scalar subquery (avg per part) re-expressed as a per-part aggregate
    joined back onto the same filtered relation, with the threshold
    DECISION on the 6dp-rounded value in both engines.

    Scale: the brand predicate broadcasts through the part join and cuts
    lineitem to ~1/|brands| BEFORE any aggregation; the per-part average
    is one partial-agg pass over that reduced relation, and the join
    back is keyed on the same partkey the pre-agg already hashed on —
    AQE broadcasts the |brand parts|-row average relation when small.
    One final 1-row aggregate; no driver collect."""
    parts = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_brand") == Q17_BRAND)
        .select("p_partkey")
    )
    pl = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    # exact-integer 6dp threshold: 0.2·avg(int qty) = k/(5n), rounded as
    # ((2·k·2e5 + n) div (2·n))/1e6; avg_yearly = round6(S/7) over the
    # exact decimal sum S as ((2·S·1e6 + 7) div 14)/1e6 (r13)
    pl = pl.withColumn("_qfp", F.floor(F.col("l_quantity") + 0.5))
    th = pl.groupBy("l_partkey").agg(
        (
            F.expr(
                "(400000 * sum(_qfp) + count(_qfp))"
                " div (2 * nullif(count(_qfp), 0))"
            )
            / 1000000.0
        ).alias("_qty_threshold")
    )
    return (
        pl.join(th.withColumnRenamed("l_partkey", "_pk"),
                F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_threshold"))
        .agg(
            (
                F.expr(
                    "((2 * cast(sum(cast(l_extendedprice as decimal(27,6)))"
                    " * 1000000 as bigint) + 7) div 14)"
                )
                / 1000000.0
            ).alias("avg_yearly")
        )
    )


Q18_QTY_THRESHOLD = 250


def q_large_volume_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume customers (r11-born): orders whose
    total line quantity exceeds ``Q18_QTY_THRESHOLD``, with their
    customer — Q18's HAVING-subquery-membership shape, re-expressed as
    the aggregate-then-join pipeline (the HAVING filter runs on the
    per-order aggregate BEFORE any dimension join, so only qualifying
    orders — a tiny fraction — ever reach the orders/customer joins).

    Scale: one orderkey partial-agg shuffle over lineitem; the HAVING
    predicate cuts the relation to the qualifying tail; the orders join
    reuses the orderkey hash; the customer join is AQE-sized. No second
    lineitem scan (TPC-H's IN-subquery form reads lineitem twice)."""
    oq = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(_msum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_QTY_THRESHOLD)
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return (
        oq.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 6).alias("o_totalprice"),
            "sum_qty",
        )
    )


Q21_LATE_DAYS = 60


def q_waiting_supplier_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped suppliers-who-kept-orders-waiting (r11-born): on
    finished multi-supplier orders, count per supplier the orders where
    it was the ONLY supplier to ship late (> ``Q21_LATE_DAYS`` days
    after the order date — the commit/receipt lateness of Q21 proper
    derived from the dates this fixture carries, as in Q4). Q21's
    EXISTS(other supplier) + NOT EXISTS(other LATE supplier) pair is
    re-expressed as ONE per-order aggregate — distinct suppliers and
    distinct late suppliers — so the exactly-one-late-supplier-and-it-
    is-me test is a filter on grouped counts instead of two extra
    lineitem self-joins (two fewer orderkey shuffles than the literal
    EXISTS plan; the oracle runs the classic double-EXISTS form to
    certify the rewrite).

    Scale: one orderkey shuffle joins lineitem to the status-filtered
    orders scan; the per-order stats and the late-line projection reuse
    that partitioning; the supplier name join broadcasts."""
    lo = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
            ).alias("_late"),
        )
    )
    st = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "_n_late_supp"
        ),
    )
    waiting = (
        lo.filter(F.col("_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            st.filter((F.col("_n_supp") >= 2) & (F.col("_n_late_supp") == 1)),
            "l_orderkey",
        )
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
    )


Q8_REGION = "AMERICA"
Q8_PART_TYPE = "PROMO"
Q8_SUPP_NATION = "NATION_3"


def q_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped national market share (r11-born): of all revenue
    from one part type sold to customers in one region, the fraction
    supplied by one nation, per order year — Q8's conditional-share
    aggregate (CASE-inside-sum over sum) across the full 7-table star
    closure (part, supplier, lineitem, orders, customer, nation ×2,
    region).

    Scale: the part-type predicate broadcasts through the part join and
    the region predicate through nation→customer, so BOTH fact inputs
    shrink before the two key shuffles (custkey to qualify orders by
    region — a sort-merge at scale, since the regional customer set is
    |customer|/|regions| — then orderkey for the fact-fact join); the
    supplier-nation join broadcasts (|nation| rows through |supplier|);
    the share CASE folds into the year-keyed partial agg — |years|
    output rows at any corpus size."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .filter(F.col("r_name") == Q8_REGION)
        .select("r_regionkey")
    )
    cust_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
        )
    )
    parts = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_type") == Q8_PART_TYPE)
        .select("p_partkey")
    )
    supp = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    vol = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_year")
        .agg(
            F.round(
                _msum(
                    F.when(F.col("supp_nation") == Q8_SUPP_NATION, vol).otherwise(0.0)
                )
                / _msum(vol),
                6,
            ).alias("mkt_share")
        )
    )


Q9_PART_TOKEN = "red"
Q9_COST_FACTOR = 0.1


def q_product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped product-line profit (r11-born): per supplier nation
    per order year, Σ l_extendedprice·(1−l_discount) −
    ``Q9_COST_FACTOR``·p_retailprice·l_quantity over parts whose name
    contains a token. This fixture carries no partsupp table, so Q9's
    ps_supplycost is proxied by the retail price; the SHAPE — the
    substring part filter, two broadcast dimension joins, the fact-fact
    orderkey join, and the two-key profit rollup — is Q9's.

    Scale: the name-token predicate cuts part before its broadcast into
    lineitem (the profit expression needs p_retailprice, so the filtered
    part relation carries exactly two columns); the supplier-nation
    broadcast annotates rows map-side; one orderkey shuffle reaches the
    order year; |nations|·|years| output rows at any corpus size."""
    parts = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_name").contains(Q9_PART_TOKEN))
        .select("p_partkey", "p_retailprice")
    )
    supp = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(
            F.broadcast(
                spark.read.parquet(f"{sf_dir}/nation.parquet").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    amount = F.col("l_extendedprice") * (1.0 - F.col("l_discount")) - F.lit(
        Q9_COST_FACTOR
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(_msum(amount).alias("sum_profit"))
    )


# --- r14-born: the four remaining TPC-H shapes (22/22) + fuzzy matching ------

Q6_DATE_LO = "1996-01-01"
Q6_DATE_HI = "1997-01-01"
Q6_DISC_LO = 0.05
Q6_DISC_HI = 0.07
Q6_QTY_MAX = 24


def q_forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped revenue-change forecast (r14-born — completes the
    22-query TPC-H suite alongside Q1-Q22 already registered): the
    what-if revenue of discount-band lines in one shipping year.

    Scale: the whole query is ONE partial-aggregable scan — all four
    predicates (shipdate range, discount band, quantity cap) push down
    to the parquet reader, the map-side partial sum reduces each
    partition to a single DECIMAL(27,6) cell, and the final exchange
    moves |partitions| rows. The revenue sum is exact-decimal (_msum),
    order- and engine-independent."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q6_DATE_LO))
            & (F.col("l_shipdate") < F.lit(Q6_DATE_HI))
            & (F.col("l_discount") >= Q6_DISC_LO)
            & (F.col("l_discount") <= Q6_DISC_HI)
            & (F.col("l_quantity") < Q6_QTY_MAX)
        )
        .agg(_msum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


Q2_SIZE = 15
Q2_TYPE = "STANDARD"
Q2_REGION = "EUROPE"


def q_min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped minimum-cost supplier (r14-born): for each
    qualifying part (size/type filters), every EUROPE supplier that ties
    the minimum unit cost of that part. This fixture has no partsupp
    table, so the part↔supplier relation and the unit cost derive from
    shipped lineitem rows: cost(part, supplier) = round-half-up 6dp of
    sum(extendedprice)/sum(quantity), computed ALL-INTEGER (exact
    decimal price sum in 1e-6 units over integral quantity sum — the
    vwap/q17 fixed-point recipe), so the min and the tie-equality are
    engine- and order-independent.

    Q2's correlated MIN subquery is re-expressed as a window MIN over
    the per-(part, supplier) aggregate — no second scan, no self-join;
    the oracle runs the classic correlated form to certify the rewrite.

    Scale: the part dim filter broadcasts into the lineitem scan, the
    one shuffle is the (partkey, suppkey) partial agg; the EUROPE
    supplier dim broadcasts; the window MIN runs over the tiny
    aggregated relation (|qualifying parts × suppliers|), not lineitem."""
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE))
        .select("p_partkey", "p_name")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey", "p_name")
        .agg(
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(27,6))) * 1000000 as bigint)"
            ).alias("_sp"),
            F.sum(F.expr("cast(floor(l_quantity + 0.5) as bigint)")).alias("_sq"),
        )
        # round-half-up integer ratio: unit cost in 1e-6 price units —
        # expressed via the shared half_away_div recipe (ADVICE r14: one
        # rounding definition, never hand-inlined; operands are positive
        # so the sign CASE is equivalent to the plain (2n+d) div (2d))
        .withColumn("_cost_fp", F.expr(half_away_div("_sp", "_sq")))
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        ps.withColumn("_min_cost", F.min("_cost_fp").over(w))
        .filter(F.col("_cost_fp") == F.col("_min_cost"))
        .select(
            F.round("s_acctbal", 6).alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            (F.col("_cost_fp") / F.lit(1000000.0)).alias("supply_cost"),
        )
    )


Q16_BRAND_EXCL = "Brand#9"
Q16_TYPE_EXCL_PREFIX = "MEDIUM"
Q16_SIZES = [1, 4, 9, 16, 25, 36, 49]


def q_parts_supplier_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped part/supplier relationship count (r14-born): how
    many distinct suppliers can supply each (brand, type, size) bucket of
    qualifying parts — excluding brand/type-prefix classes and suppliers
    with negative account balance (this fixture's analog of Q16's
    customer-complaints comment filter; the supplier↔part relation
    derives from shipped lineitem rows, as there is no partsupp table).

    Q16's NOT-IN subquery becomes a broadcast LEFT ANTI join; the part
    attribute filters broadcast into the lineitem scan.

    Scale: lineitem is reduced map-side by the broadcast part filter,
    the anti join is broadcast (excluded-supplier set is tiny), and the
    single shuffle is the (brand, type, size) agg with a partial
    distinct on (bucket, suppkey) — no row-level distinct pre-pass."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != Q16_BRAND_EXCL)
            & ~F.col("p_type").startswith(Q16_TYPE_EXCL_PREFIX)
            & F.col("p_size").isin(Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complained = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(complained),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q20_NAME_PREFIX = "red "
Q20_QTY_THRESHOLD = 50
Q20_DATE_LO = "1996-01-01"
Q20_DATE_HI = "1997-01-01"


def q_excess_share_supplier_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped excess-stock suppliers (r14-born): suppliers who
    shipped more than ``Q20_QTY_THRESHOLD`` units of any one qualifying
    part (name prefix) inside the target year — Q20's
    supplier-IN(part-IN(...)) nested-subquery chain. Without a partsupp
    availqty, the excess test is the shipped-quantity sum itself (exact
    integral units, floor(qty+0.5) per line).

    The nested INs become joins: the inner part-name IN is a broadcast
    join against the (unique-key) filtered part dim — equivalent to a
    semi join because p_partkey is unique — and the outer supplier IN is
    a LEFT SEMI join against the aggregated qualifying-supplier set.

    Scale: shipdate + name-prefix predicates cut lineitem map-side (the
    dim broadcast, the date pushdown); one (suppkey, partkey) agg
    shuffle; the semi join probes with the tiny supplier dim."""
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith(Q20_NAME_PREFIX))
        .select("p_partkey")
    )
    qual = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q20_DATE_LO))
            & (F.col("l_shipdate") < F.lit(Q20_DATE_HI))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.expr("cast(floor(l_quantity + 0.5) as bigint)")).alias("sum_qty"))
        .filter(F.col("sum_qty") > Q20_QTY_THRESHOLD)
        .select("l_suppkey")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(qual), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


FUZZY_MAX_DIST = 3
# blocking keys per name: its FUZZY_BLOCK_K globally-rarest distinct tokens
# (frequency over DISTINCT names, ties by token). K=2 keeps union blocking
# exact for ≤2-token names while capping dense-block membership on Zipfian
# vocabularies (a frequent token blocks only names whose OTHER tokens are
# even more frequent).
FUZZY_BLOCK_K = 2
# the keyed distinct-name relation broadcasts only below this row count
# (~2e6 short rows ≈ low hundreds of MB); above it the self-join falls back
# to a shuffle hash join on blk so a huge name vocabulary can never satur-
# ate driver/executor memory silently.
FUZZY_BROADCAST_MAX_KEY_ROWS = 2_000_000


def _fuzzy_broadcast_ok(key_rows: int) -> bool:
    """THE broadcast gate for the fuzzy-match path — both consumers (the
    freq side in :func:`_fuzzy_blocked_keyed`, the keyed self-join side in
    :func:`_fuzzy_match_pairs`) call this one predicate, so the two
    decisions can never silently diverge (r16 self-review: the pipeline
    split had duplicated the comparison in both halves)."""
    return key_rows <= FUZZY_BROADCAST_MAX_KEY_ROWS


def _name_token_relation(parts: DataFrame) -> DataFrame:
    """(p_name, n_parts, tok) over DISTINCT names — the dedup-first half
    of the ER design, split out so the recall test can build the same
    relation over a synthetic vocabulary (VERDICT r15 task #4)."""
    return (
        parts.groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
        .select(
            "p_name",
            "n_parts",
            F.explode(
                F.array_distinct(F.split(F.col("p_name"), " "))
            ).alias("tok"),
        )
    )


def _fuzzy_toks(spark: SparkSession, sf_dir: str):
    """The (p_name, n_parts, tok) distinct-name token relation and its
    measured row count, built once per (app, sf_dir)."""

    def build():
        toks = _name_token_relation(_t(spark, sf_dir, "part")).persist()
        # one action does double duty: materializes the persisted two-pass
        # relation AND measures the key-row upper bound (rarest-K keeps a
        # subset of these rows; distinct tokens are a further subset) that
        # gates BOTH broadcasts below
        return toks, toks.count()

    return cached(spark, "fuzzy_toks", build, sf_dir)


def _bag_lb_sql(a: str, b: str) -> str:
    """Bag (character-multiset) distance — a PROVABLE lower bound on
    Levenshtein (each edit moves at most one char in/out of the multiset:
    Bartolini/Ciaccia/Patella 2002): max over both directions of the
    multiset excess. Pure codegen HOFs, O(|a|·|Σ_pair|) per pair on
    ~10-char names; no UDF."""

    def excess(x: str, y: str) -> str:
        return (
            f"aggregate(array_distinct(split({x}, '')), 0, (acc, ch) -> acc"
            f" + greatest(0, size(filter(split({x}, ''), c -> c = ch))"
            f"              - size(filter(split({y}, ''), c -> c = ch))))"
        )

    return f"greatest({excess(a, b)}, {excess(b, a)})"


# positional q-gram filter parameters (r17 — VERDICT r16 task #2): q=2
# (bigrams) balances per-edit slack (an edit excuses at most q grams) and
# gram selectivity on ~10-30 char names.
FUZZY_POS_QGRAM_Q = 2


def _pos_qgram_unmatched_sql(a: str, b: str) -> str:
    """Count of positional bigrams of ``a`` with NO equal bigram in ``b``
    within position offset ±``FUZZY_MAX_DIST`` — the classic positional
    q-gram filter (Gravano et al., VLDB 2001 'Approximate String Joins in
    a Database (Almost) for Free'; count+position filters). PROVABLE:
    take an optimal script of e ≤ d edits turning a into b; a bigram of a
    untouched by every edit survives verbatim in b, displaced by at most
    the net insertions/deletions before it (≤ e ≤ d), and each edit
    touches at most q=2 bigrams of a — so at most d·q bigrams of a lack a
    band-d match in b, and symmetrically for b. The pair filter
    ``unmatched(a,b) ≤ d·q AND unmatched(b,a) ≤ d·q`` is therefore sound
    (never drops a true ≤d pair) and, unlike the character-BAG bound, it
    SEES ORDER: a permuted multi-char token is displaced by ≥ its length
    > d, so every bigram inside it goes unmatched — exactly the anagram
    regime where the bag bound collapses (VERDICT r16 what's-wrong #1).

    The inner band probe is ONE ``locate`` call per gram, not an
    exists-over-sequence: ``locate(gram, b, i−d)`` returns the FIRST
    occurrence at-or-after i−d, and occurrences are ordered, so
    first ≤ i+d ⟺ some occurrence lies in [i−d, i+d] — exactly the
    banded exists, without allocating a positions array per gram
    (measured on the 341k-pair closed-vocab survivor set: 0.26 s vs
    0.78 s for the exists/sequence/substring form). ``locate`` also
    makes the count exact at ANY length combination (not found → 0 →
    unmatched; a 2-char match needs j ≤ |b|−1 by construction), so
    unlike the banded-sequence form there is no length-precondition
    caveat. O(|a|·(2d+1)) char comparisons per direction; no UDF.

    EVALUATION ORDER (r17, measured): Catalyst folds every both-side
    predicate into the blocked join's condition regardless of where the
    chain applies it — so what matters is the CONJUNCT ORDER there.
    This bound is both the cheapest (25 locates) and, in the dense
    anagram regime, the most selective of the three, so it must
    evaluate FIRST, shielding the far costlier bag aggregate behind
    short-circuit: pos-first runs the 6400-name closed-vocab leg in
    ~8 s vs ~60 s bag-first, identical output (see the ordering note on
    :func:`_apply_pos_qgram_filter` for how the order is pinned)."""
    d = FUZZY_MAX_DIST
    return (
        f"IF(length({a}) < 2, 0, aggregate("
        f"  sequence(1, length({a}) - 1), 0,"
        f"  (acc, i) -> acc + IF("
        f"    locate(substring({a}, i, 2), {b}, greatest(1, i - {d}))"
        f"      BETWEEN 1 AND i + {d},"
        f"    0, 1)))"
    )


def _apply_lev_lb_filters(df: DataFrame, a: str = "name_a",
                          b: str = "name_b") -> DataFrame:
    """Apply THE provable Levenshtein lower-bound filter chain to a
    candidate-pair relation — single source of truth shared by the
    shipped pipeline (:func:`_fuzzy_match_pairs`) and the closed-vocab
    scaling probe (tools/scaling_probe.py), so the probe's pinned ratios
    can never silently decouple from the shipped filters.

    All three bounds are sound (can NEVER drop a true ≤d pair), so the
    operator OUTPUT is provably unchanged by this chain; only the
    candidate set entering the DP edit distance shrinks. Ordering = cost
    ordering:
      1. length:    ||a|−|b|| ≤ d            (one subtraction)
      2. char bag:  bag excess ≤ d           (order-blind, kills
                    vocabulary-spread non-pairs on real names)
      3. positional bigrams: unmatched ≤ d·q both directions (order-
                    aware, kills the permutation-dense anagram survivors
                    the bag bound passes — VERDICT r16 task #2).
    The shipped pipeline applies the same two halves AROUND its
    pair-DISTINCT shuffle (generation-time halves in the join,
    positional after the shuffle — see the placement note on
    :func:`_pos_qgram_unmatched_sql`); the composition here is the
    per-pair predicate both placements compute."""
    return _apply_pos_qgram_filter(_apply_pregen_lb_filters(df, a, b), a, b)


def _apply_pregen_lb_filters(df: DataFrame, a: str = "name_a",
                             b: str = "name_b") -> DataFrame:
    """The generation-time half of the chain (length + bag): cheap
    enough to live in the blocked join's condition, where it prunes
    pairs before the DISTINCT shuffle."""
    d = FUZZY_MAX_DIST
    return (
        df.filter(F.abs(F.length(a) - F.length(b)) <= d)
        .filter(F.expr(_bag_lb_sql(a, b)) <= d)
    )


def _apply_pos_qgram_filter(df: DataFrame, a: str = "name_a",
                            b: str = "name_b") -> DataFrame:
    """The positional half of the chain: the order-aware bigram bound,
    both directions (see :func:`_pos_qgram_unmatched_sql`).

    The ``rand(0) < -1`` disjunct is an EVALUATION-ORDER pin, not logic:
    it is always false (outcome unchanged; fixed seed so task retries
    replay identically) and is constant-folded out of the final plan —
    its job is done EARLIER, during the main operator-optimization
    fixpoint, where its nondeterminism keeps this predicate from being
    pushed with the others; when a later batch folds it away and the
    remaining deterministic conjunction is pushed into the blocked
    join's condition, it lands deepest-left, i.e. SHORT-CIRCUIT-FIRST,
    ahead of the expensive character-bag aggregate. Measured on the
    6400-name closed-vocab leg: pos-first ~8 s, bag-first ~60 s,
    identical 5,083-row output. This is deliberately a pinned
    plan-shape, not an assumption — tests/test_entity_resolution.py::
    test_pos_bound_evaluates_before_bag_in_join_condition reads the
    optimized join condition and fails if a Spark upgrade reorders it
    (the fallback is correct, just slower, and the probe's wall pins
    would flag it too)."""
    dq = FUZZY_MAX_DIST * FUZZY_POS_QGRAM_Q
    bound = (F.expr(_pos_qgram_unmatched_sql(a, b)) <= dq) & (
        F.expr(_pos_qgram_unmatched_sql(b, a)) <= dq
    )
    return df.filter(bound | (F.rand(0) < F.lit(-1.0)))


def q_part_name_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage over part names (r14-born — the
    entity-resolution operator family): candidate near-duplicate name
    pairs under Levenshtein distance ≤ ``FUZZY_MAX_DIST``, with each
    name's part count carried for reviewer triage. The classic ER
    design: never compare all pairs — dedupe to the distinct-name
    relation first, then self-join only within blocks.

    Blocking contract (frequency-aware rarest-K blocking, r15 — VERDICT
    r14 what's-wrong #1): each name's blocking keys are its
    ``FUZZY_BLOCK_K`` globally-RAREST distinct tokens (token frequency =
    #distinct names containing the token, ties broken by token string —
    deterministic and engine-independent). A pair is generated iff it
    shares a token that is in BOTH names' rarest-K sets. For names with
    ≤K distinct tokens this is exactly union blocking (every token a
    key); for longer names on Zipfian vocabularies it caps block density
    — a frequent token stops being a key unless a name has nothing
    rarer. A ≤3-edit pair whose shared tokens all fall outside one
    side's rarest-K is missed — the standard recall/cost tradeoff,
    stated AND measured (VERDICT r15 task #4). GUARANTEE (r17,
    proved + fuzzed in tests/test_entity_resolution.py::
    test_rarest_k_blocking_guarantee_small_unshared_sides): a pair in
    which EACH name has at most K−1 tokens outside the intersection is
    ALWAYS generated, for any frequency distribution — the
    (freq, token)-minimal shared token is necessarily in both rarest-K
    sets, since only unshared tokens can precede it. In particular
    every pair whose difference is confined to edits WITHIN one token
    (the real-data mass: one typo'd token in a multi-token name) is
    caught; a miss requires ≥ K unshared tokens rarer than every
    shared token on some side — the disjoint-rarest-K condition below
    is the exact boundary, not just an observed pattern. Measured on a
    synthetic Zipfian
    vocabulary of 3-token names where the loss branch actually executes,
    K=2 recall vs the unblocked DP all-pairs truth is 31/34 ≈ 0.912,
    with every miss satisfying the disjoint-rarest-K condition (pinned
    in tests/test_entity_resolution.py). On the driver fixture (2-token
    names, so K=2 ≡ union blocking) the measured recall is 1.0 at every
    SF (same test file, independent DP Levenshtein truth).

    CLOSED-VOCABULARY DEGENERACY (stated contract): when names are
    combinations of a small closed word set with near-UNIFORM token
    frequencies — this fixture is the worst case: 16 tokens, each in
    exactly 8 of 64 names — frequency carries no signal and the blocked
    self-join still GENERATES Θ(Σ_b m_b²) candidate rows in distinct
    names m (measured here: 448 of 2,016 all-pairs = 22%). THREE
    PROVABLE Levenshtein lower-bound filters therefore stand between
    generation and the DP edit distance (:func:`_apply_lev_lb_filters`):
    the length filter (|len(a)−len(b)| ≤ d), the character-bag filter
    (:func:`_bag_lb_sql` ≤ d), and — r17, VERDICT r16 task #2 — the
    order-aware POSITIONAL BIGRAM filter
    (:func:`_pos_qgram_unmatched_sql` ≤ d·q both directions; Gravano et
    al., VLDB 2001). All three are sound — they can NEVER drop a true
    ≤d pair — so the OUTPUT is provably unchanged while the candidate
    set entering the DP shrinks. The positional bound exists for
    exactly this regime: the r16 probe measured that on a FIXED uniform
    vocabulary at ×10/×100 names the candidates are permutation-dense —
    near-identical character bags — so the bag bound alone passed
    52-153× the true pairs into the DP; a permuted multi-char token is
    displaced by ≥ its length > d, so its bigrams all miss the ±d band
    and the positional bound kills those survivors. Re-measured r17
    (tools/scaling_probe.py closed-vocab leg): DP input = 1.12× true
    pairs at 640 names, 2.24× at 6400 (pinned ≤ 5× — the r16 verdict's
    target was ≤ 20×), the filters cut ≥99.8% of blocked generation
    (pinned), blocking recall 0.8125/0.9815 with EVERY miss verified
    disjoint-rarest-K (floor 0.78 pinned), and the 6400-name leg runs
    3.7× FASTER than the r16 two-filter chain (26.7 s → 7.3 s) because
    the cheap positional bound also shields the costly bag aggregate
    behind short-circuit in the join condition (evaluation order
    pinned — see :func:`_apply_pos_qgram_filter`). The residual
    dense-block row GENERATION is irreducible for any exact-recall
    method on a uniform closed vocabulary and is the documented cost of
    the recall contract.

    Scale: the name dedup is one hash agg (distinct names ≪ rows — a
    vocabulary-sized relation, persisted once per (app, sf_dir) in the
    session cache, so repeated calls reuse one relation and one stats
    job); the rarest-K rank is
    one window over the tiny keyed relation. BOTH broadcasts — the
    token-frequency relation feeding the rank AND the keyed self-join
    side — ride the same measured gate: they broadcast ONLY when the
    counted key rows are ≤ ``FUZZY_BROADCAST_MAX_KEY_ROWS`` (distinct
    tokens are a subset of key rows, so the bound covers freq a
    fortiori); above it both degrade to shuffle joins instead of capping
    the vocabulary at driver memory (VERDICT r14: no unconditional
    broadcast remains on this path).
    The pair DISTINCT (a pair agreeing on two keys arrives twice) runs
    AFTER the provable filters and BEFORE the edit distance, so
    Levenshtein is computed once per surviving candidate. Levenshtein,
    lengths and bag excesses are integers — no float hazard. Per-token
    explode keeps key derivation total: a single-token name simply
    carries one key (no NULL-vs-empty-string divergence)."""
    return _fuzzy_match_pairs(*_fuzzy_toks(spark, sf_dir))


def _fuzzy_blocked_keyed(toks: DataFrame, key_rows: int) -> DataFrame:
    """(p_name, n_parts, blk): each distinct name under its FUZZY_BLOCK_K
    globally-rarest tokens — the blocking-key half of the pipeline, split
    out so the closed-vocabulary scaling leg (tools/scaling_probe.py,
    VERDICT r15 task #5) counts candidate-stage rows against the SAME key
    derivation the operator ships. BOTH broadcasts ride the same measured
    gate: distinct tokens are a subset of the key rows, so an open
    vocabulary that overflows the bound demotes the freq side to a
    shuffle join too (r15 self-review: an unconditionally-broadcast freq
    would re-open the very memory-ceiling hole the keyed-side gate
    closes)."""
    in_bounds = _fuzzy_broadcast_ok(key_rows)
    freq = toks.groupBy("tok").agg(F.count("*").alias("tok_freq"))
    return (
        toks.join(F.broadcast(freq) if in_bounds else freq, "tok")
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("p_name").orderBy("tok_freq", "tok")
            ),
        )
        .filter(F.col("_rk") <= FUZZY_BLOCK_K)
        .select("p_name", "n_parts", F.col("tok").alias("blk"))
    )


def _fuzzy_match_pairs(toks: DataFrame, key_rows: int) -> DataFrame:
    """The rarest-K blocking + provable-filter + DP pipeline over a
    (p_name, n_parts, tok) token relation — split from the query wrapper
    so the recall contract is MEASURABLE on synthetic vocabularies
    (VERDICT r15 task #4: the driver fixture's 2-token names degenerate
    K=2 to union blocking, so the recall-loss branch never executed under
    test; tests/test_entity_resolution.py runs THIS code on Zipfian
    3-token names — measured recall 31/34 ≈ 0.912, every miss explained
    by the stated condition: the pair's rarest-K key sets are
    disjoint)."""
    in_bounds = _fuzzy_broadcast_ok(key_rows)
    keyed = _fuzzy_blocked_keyed(toks, key_rows)
    a = keyed.select(
        F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_a"), "blk"
    )
    b = keyed.select(
        F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_b"), "blk"
    )
    if in_bounds:
        b = F.broadcast(b)
    # provable lower-bound filters: output-invariant (the final
    # lev_dist ≤ d filter subsumes them), candidate-set shrinking —
    # the shared chain (length → bag → positional bigrams) whose two
    # halves the scaling probe consumes composed as
    # _apply_lev_lb_filters. Catalyst folds all of them into the
    # blocked join's condition; the positional half's rand-pin makes
    # its cheap selective bound evaluate FIRST there (see
    # _apply_pos_qgram_filter — measured 7x on the closed-vocab leg).
    pregen = _apply_pregen_lb_filters(
        a.join(b, "blk").filter(F.col("name_a") < F.col("name_b"))
    )
    return (
        _apply_pos_qgram_filter(
            pregen.select("name_a", "name_b", "n_a", "n_b").distinct()
        )
        # threshold-banded DP (r17): O(d·n) per pair instead of O(n²) —
        # exact for every distance ≤ d, and >d returns -1, which the
        # contract filter drops anyway (output-invariant)
        .withColumn(
            "lev_dist",
            F.levenshtein("name_a", "name_b", FUZZY_MAX_DIST).cast("long"),
        )
        .filter(
            (F.col("lev_dist") >= 0) & (F.col("lev_dist") <= FUZZY_MAX_DIST)
        )
        .select("name_a", "name_b", "lev_dist", "n_a", "n_b")
    )


QUERIES = {
    "tpch_pricing_summary": q_pricing_summary,
    "late_shipment_q4": q_late_shipment_q4,
    "top_supplier_q15": q_top_supplier_q15,
    "idle_rich_customers_q22": q_idle_rich_customers_q22,
    "promo_revenue_q14": q_promo_revenue_q14,
    "revenue_concentration_q11": q_revenue_concentration_q11,
    "nation_volume_q7": q_nation_volume_q7,
    "custdist_q13": q_custdist_q13,
    "small_qty_revenue_q17": q_small_qty_revenue_q17,
    "large_volume_q18": q_large_volume_q18,
    "waiting_supplier_q21": q_waiting_supplier_q21,
    "market_share_q8": q_market_share_q8,
    "product_profit_q9": q_product_profit_q9,
    "customer_rfm_segments": q_customer_rfm,
    "events_retention_plan": q_events_retention_plan,
    "events_compaction_plan": q_events_compaction_plan,
    "events_orphan_files": q_events_orphan_files,
    "events_zorder_stats": q_events_zorder_stats,
    "returned_item_q10": q_returned_item_q10,
    "events_snapshot_diff": q_events_snapshot_diff,
    "dim_scd2_history": q_scd2_user_value_history,
    "dim_scd2_merge_apply": q_scd2_merge_apply,
    "events_value_histogram": q_value_histogram,
    "events_value_winsorize": q_events_value_winsorize,
    "orders_table_profile": q_orders_table_profile,
    "candle_unpivot": q_candle_unpivot,
    "event_type_copairs": q_event_type_copairs,
    "shipping_priority_q3": q_shipping_priority,
    "priority_shipmonth_q12": q_priority_shipmonth,
    "disjunctive_revenue_q19": q_disjunctive_revenue,
    "user_funnel_conversion": q_user_funnel,
    "user_cohort_retention": q_cohort_retention,
    "approx_distinct_users": q_approx_distinct_users,
    "approx_value_quantiles": q_approx_value_quantiles,
    "event_props_json_agg": q_event_props_json,
    "daily_active_users": q_daily_active_users,
    "star_join_revenue": q_star_revenue,
    "local_supplier_volume": q_local_supplier_volume,
    "top_customers_by_open_value": q_top_customers,
    "returned_order_priority_semi": q_late_order_priority,
    "customers_no_open_orders_anti": q_customers_no_open_orders,
    "urgent_not_finished_setops": q_urgent_not_finished,
    "top_customers_page2_offset": q_top_customers_page2,
    "forecast_revenue_q6": q_forecast_revenue_q6,
    "min_cost_supplier_q2": q_min_cost_supplier_q2,
    "parts_supplier_q16": q_parts_supplier_q16,
    "excess_share_supplier_q20": q_excess_share_supplier_q20,
    "part_name_fuzzy_match": q_part_name_fuzzy_match,
}

# unrolled Morton interleave (16 bits/dim), mirroring layout.interleave_bits;
# + is | here because the shifted terms never overlap
_MORTON_SQL = " + ".join(
    f"(((an >> {i}) & 1) << {2 * i}) + (((bn >> {i}) & 1) << {2 * i + 1})"
    for i in range(16)
)

ORACLES = {
    "events_retention_plan": f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS partition_value,
       count(*) AS n_rows, min(ts) AS min_ts, max(ts) AS max_ts,
       CASE WHEN strftime(date_trunc('day', ts), '%Y-%m-%d') < '{RETENTION_CUTOFF}'
            THEN 'drop' ELSE 'keep' END AS action
FROM events GROUP BY 1
""".strip(),
    # thresholds from one exact-percentile agg (quantile_cont matches
    # F.percentile, the spread_quantiles convention); scoring is a map-side
    # CASE against the broadcast thresholds; recency inverted (recent=best)
    "customer_rfm_segments": f"""
WITH per AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate::DATE), DATE '{RFM_ANCHOR}')::INT AS recency_days,
         count(*) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
), th AS (
  SELECT round(quantile_cont(recency_days, 0.25), 6) AS r25,
         round(quantile_cont(recency_days, 0.50), 6) AS r50,
         round(quantile_cont(recency_days, 0.75), 6) AS r75,
         round(quantile_cont(frequency, 0.25), 6) AS f25,
         round(quantile_cont(frequency, 0.50), 6) AS f50,
         round(quantile_cont(frequency, 0.75), 6) AS f75,
         round(quantile_cont(monetary, 0.25), 6) AS m25,
         round(quantile_cont(monetary, 0.50), 6) AS m50,
         round(quantile_cont(monetary, 0.75), 6) AS m75
  FROM per
), scored AS (
  SELECT p.o_custkey, p.recency_days, p.frequency, p.monetary,
         5 - (CASE WHEN recency_days <= r25 THEN 1 WHEN recency_days <= r50 THEN 2
                   WHEN recency_days <= r75 THEN 3 ELSE 4 END) AS r_score,
         CASE WHEN frequency <= f25 THEN 1 WHEN frequency <= f50 THEN 2
              WHEN frequency <= f75 THEN 3 ELSE 4 END AS f_score,
         CASE WHEN monetary <= m25 THEN 1 WHEN monetary <= m50 THEN 2
              WHEN monetary <= m75 THEN 3 ELSE 4 END AS m_score
  FROM per p, th
)
SELECT o_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       (r_score * 100 + f_score * 10 + m_score)::INT AS rfm_cell
FROM scored
""".strip(),
    # files_before == ceil(rows/50) BY CONSTRUCTION of the fixture
    # (single-task write, maxRecordsPerFile=50); the Spark side reads the
    # REAL listing, the oracle the model — divergence anywhere goes red
    "events_compaction_plan": f"""
SELECT strftime(ts::DATE, '%Y-%m-%d') AS dt,
       count(*) AS n_rows,
       ceil(count(*) / {COMPACT_FIXTURE_ROWS_PER_FILE}.0)::INT AS files_before,
       greatest(ceil(count(*) / {COMPACT_TARGET_ROWS_PER_FILE}.0), 1)::INT AS target_files,
       CASE WHEN greatest(ceil(count(*) / {COMPACT_TARGET_ROWS_PER_FILE}.0), 1)
                 < ceil(count(*) / {COMPACT_FIXTURE_ROWS_PER_FILE}.0)
            THEN 'compact' ELSE 'skip' END AS action
FROM events GROUP BY 1
""".strip(),
    "late_shipment_q4": f"""
SELECT o.o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{Q4_DATE_LO}'
  AND o.o_orderdate < TIMESTAMP '{Q4_DATE_HI}'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_LATE_DAYS} DAYS
  )
GROUP BY 1
""".strip(),
    "promo_revenue_q14": f"""
SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1.0 - l.l_discount)
                              ELSE 0.0 END AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '{Q14_DATE_LO}'
  AND l.l_shipdate < TIMESTAMP '{Q14_DATE_HI}'
""".strip(),
    "top_supplier_q15": f"""
WITH revenue AS (
  SELECT l_suppkey, CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_DATE_LO}'
    AND l_shipdate < TIMESTAMP '{Q15_DATE_HI}'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM revenue r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""".strip(),
    "idle_rich_customers_q22": f"""
WITH avg_pos AS (
  SELECT ((20000 * sum(bfp) + count(bfp)) // (2 * nullif(count(bfp), 0)))
         / 1000000.0 AS a
  FROM (SELECT CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bfp
        FROM customer WHERE c_acctbal > 0.0)
)
SELECT c.c_nationkey, count(*)::BIGINT AS numcust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS totacctbal
FROM customer c, avg_pos
WHERE round(c.c_acctbal, 6) > avg_pos.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{Q22_DORMANT_CUTOFF}')
GROUP BY 1
""".strip(),
    "revenue_concentration_q11": f"""
WITH per_part AS (
  SELECT l_partkey, CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY 1
), totals AS (
  SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS t,
         count(DISTINCT l_partkey) AS n FROM lineitem
)
SELECT p.l_partkey, p.revenue
FROM per_part p, totals
WHERE p.revenue > round({Q11_FACTOR} * totals.t / totals.n, 6)
""".strip(),
    # committed == ceil(rows/50) by fixture construction; orphans follow
    # the deterministic day%5 planting rule — both reproducible from events
    "events_orphan_files": f"""
SELECT strftime(ts::DATE, '%Y-%m-%d') AS dt,
       ceil(count(*) / {COMPACT_FIXTURE_ROWS_PER_FILE}.0)::INT AS files_committed,
       (CASE WHEN day(ts::DATE) % {ORPHAN_DAY_MOD} = 0
             THEN {ORPHAN_PER_PART} ELSE 0 END)::INT AS files_orphan,
       CASE WHEN day(ts::DATE) % {ORPHAN_DAY_MOD} = 0
            THEN 'vacuum' ELSE 'clean' END AS action
FROM events GROUP BY ts::DATE
""".strip(),
    "returned_item_q10": f"""
SELECT c.c_custkey, c.c_name, r.revenue, c.c_acctbal, n.n_name
FROM (
  SELECT o.o_custkey,
         CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '{Q10_DATE_LO}'
    AND o.o_orderdate < TIMESTAMP '{Q10_DATE_HI}'
  GROUP BY 1
) r
JOIN customer c ON r.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY r.revenue DESC, c.c_custkey
LIMIT 20
""".strip(),
    "events_zorder_stats": f"""
WITH m AS (
  SELECT user_id, epoch_ms(ts) // 60000 AS minute FROM events
),
-- greatest(..., 1) mirrors the Spark-side max(a_max, 1) clamp in
-- layout.zorder_key: degenerate bounds (single-minute table, max id 0)
-- must divide by 1, not produce NaN/inf keys (ADVICE r8)
bounds AS (
  SELECT greatest(max(user_id), 1)::DOUBLE AS amax,
         min(minute) AS bmin,
         greatest(max(minute) - min(minute), 1)::DOUBLE AS bspan
  FROM m
),
-- minute dimension is the OFFSET from the min (straight value/max would
-- collapse the month into the top of the key space), mirroring the query
scaled AS (
  SELECT least(greatest(floor(user_id::DOUBLE / amax * 65535)::BIGINT, 0), 65535) AS an,
         least(greatest(floor((minute - bmin)::DOUBLE / bspan * 65535)::BIGINT, 0), 65535) AS bn,
         user_id, minute - bmin AS minute_off
  FROM m, bounds
),
keyed AS (
  SELECT ({_MORTON_SQL}) AS zkey, user_id, minute_off FROM scaled
)
SELECT (zkey >> 29)::INT AS bucket, count(*) AS n_rows,
       min(user_id) AS min_user, max(user_id) AS max_user,
       min(minute_off) AS min_minute, max(minute_off) AS max_minute
FROM keyed GROUP BY 1
""".strip(),
    "local_supplier_volume": """
SELECT n.n_name AS nation_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
GROUP BY 1
""".strip(),
    # full-outer keyed diff; IS NOT DISTINCT FROM = Spark's eqNullSafe
    "events_snapshot_diff": """
WITH old AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 7 <> 0
),
new AS (
  SELECT event_id, event_type,
         value + CASE WHEN event_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS value
  FROM events WHERE event_id % 5 <> 0
)
SELECT * FROM (
  SELECT coalesce(o.event_id, n.event_id) AS event_id,
         CASE WHEN o.event_id IS NULL THEN 'added'
              WHEN n.event_id IS NULL THEN 'removed'
              WHEN NOT (o.event_type IS NOT DISTINCT FROM n.event_type
                        AND o.value IS NOT DISTINCT FROM n.value) THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
) WHERE change_type <> 'unchanged'
""".strip(),
    "user_funnel_conversion": """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS tv
  FROM events
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= tv THEN ts END)
              OVER (PARTITION BY user_id) AS tc
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= tc THEN ts END)
              OVER (PARTITION BY user_id) AS tp
  FROM s2
),
u AS (
  SELECT user_id, max(tv) AS tv, max(tc) AS tc, max(tp) AS tp
  FROM s3 GROUP BY 1
)
SELECT count(*) AS n_users,
       count(tv) AS n_viewed,
       count(tc) AS n_clicked_after_view,
       count(tp) AS n_purchased_after_click,
       ((2000000 * (count(tc)) + (count(tv))) // (2 * (count(tv)))) / 1000000.0 AS view_to_click,
       ((2000000 * (count(tp)) + (count(tc))) // (2 * (count(tc)))) / 1000000.0 AS click_to_purchase,
       ((2000000 * (count(tp)) + (count(tv))) // (2 * (count(tv)))) / 1000000.0 AS view_to_purchase
FROM u
""".strip(),
    "user_cohort_retention": """
WITH c AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY 1
),
sz AS (SELECT cohort_day, count(DISTINCT user_id) AS cohort_size FROM c GROUP BY 1),
a AS (
  SELECT c.cohort_day,
         date_diff('day', c.cohort_day, CAST(e.ts AS DATE))::INT AS day_offset,
         count(DISTINCT e.user_id) AS n_active
  FROM events e JOIN c ON e.user_id = c.user_id
  GROUP BY 1, 2
)
SELECT CAST(a.cohort_day AS TIMESTAMP) AS cohort_day, a.day_offset, a.n_active,
       sz.cohort_size,
       ((2000000 * a.n_active + sz.cohort_size) // (2 * sz.cohort_size)) / 1000000.0 AS retention
FROM a JOIN sz ON a.cohort_day = sz.cohort_day
""".strip(),
    "events_value_histogram": """
WITH b AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
binned AS (
  SELECT e.event_type,
         CASE WHEN b.mx = b.mn THEN 0
              ELSE least(floor(round((e.value - b.mn) / ((b.mx - b.mn) / 10.0), 6)), 9)::INT
         END AS bucket,
         b.mn, b.mx
  FROM events e JOIN b ON e.event_type = b.event_type
  WHERE e.value IS NOT NULL
)
SELECT event_type, bucket,
       count(*) AS n_values,
       round(min(mn), 6) AS type_min,
       round(max(mx), 6) AS type_max
FROM binned GROUP BY 1, 2
""".strip(),
    "dim_scd2_history": """
WITH d AS (
  SELECT user_id, ts, event_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
  WHERE value IS NOT NULL
),
c AS (SELECT user_id, ts, event_id, value FROM d WHERE prev IS NULL OR value <> prev)
SELECT user_id,
       value AS dim_value,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
FROM c
""".strip(),
    "approx_distinct_users": """
SELECT event_type,
       count(DISTINCT user_id) AS n_users_exact,
       TRUE AS within_3rsd
FROM events
GROUP BY 1
""".strip(),
    "approx_value_quantiles": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50_exact,
       TRUE AS within_rank_tolerance
FROM events
GROUP BY 1
""".strip(),
    "event_props_json_agg": """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
       max(json_extract_string(props, '$.k')::BIGINT) AS max_k,
       ((20000 * sum(vfp) + count(vfp)) // (2 * nullif(count(vfp), 0)))
         / 1000000.0 AS avg_value
FROM (SELECT *, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vfp FROM events)
GROUP BY 1
""".strip(),
    "daily_active_users": """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""".strip(),
    "tpch_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
       ((2000000 * sum(qfp) + count(qfp)) // (2 * nullif(count(qfp), 0))) / 1000000.0 AS avg_qty,
       count(*) AS count_order
FROM (SELECT *, CAST(floor(l_quantity + 0.5) AS BIGINT) AS qfp FROM lineitem)
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
""".strip(),
    "star_join_revenue": """
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""".strip(),
    "top_customers_by_open_value": """
SELECT c.c_custkey AS custkey, c.c_name,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS open_value,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'O'
GROUP BY 1, 2
ORDER BY open_value DESC, custkey
LIMIT 10
""".strip(),
    "returned_order_priority_semi": """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY 1
""".strip(),
    "customers_no_open_orders_anti": """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
GROUP BY 1
""".strip(),
    "urgent_not_finished_setops": """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""".strip(),
    "top_customers_page2_offset": """
SELECT c.c_custkey AS custkey, c.c_name,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS open_value,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'O'
GROUP BY 1, 2
ORDER BY open_value DESC, custkey
LIMIT 10 OFFSET 10
""".strip(),
}


# incremental merge-apply is certified against the FULL rebuild
ORACLES["dim_scd2_merge_apply"] = ORACLES["dim_scd2_history"]

from .trading import _TO_1H as _TR_TO_1H
from .trading import _with as _tr_with

ORACLES["event_type_copairs"] = """
WITH baskets AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT count(DISTINCT user_id) AS n_users FROM baskets)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*) AS n_users_both,
       round(count(*) / (SELECT n_users FROM n), 6) AS support
FROM baskets a JOIN baskets b USING (user_id)
WHERE a.event_type < b.event_type
GROUP BY 1, 2
""".strip()

ORACLES["candle_unpivot"] = _tr_with(*_TR_TO_1H) + """
SELECT currency_pair_code, time, field, round(v, 6) AS value FROM (
  SELECT currency_pair_code, time, 'open' AS field, "open" AS v FROM ohlc_1h
  UNION ALL
  SELECT currency_pair_code, time, 'high', high FROM ohlc_1h
  UNION ALL
  SELECT currency_pair_code, time, 'low', low FROM ohlc_1h
  UNION ALL
  SELECT currency_pair_code, time, 'close', "close" FROM ohlc_1h
)"""

ORACLES["shipping_priority_q3"] = f"""
SELECT l_orderkey, revenue, o_orderdate FROM (
  SELECT l.l_orderkey,
         CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
         o.o_orderdate
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = '{Q3_SEGMENT}'
    AND o.o_orderdate < TIMESTAMP '{Q3_DATE}'
    AND l.l_shipdate > TIMESTAMP '{Q3_DATE}'
  GROUP BY l.l_orderkey, o.o_orderdate
)
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""".strip()

ORACLES["priority_shipmonth_q12"] = f"""
SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '{Q12_DATE_LO}'
  AND l.l_shipdate < TIMESTAMP '{Q12_DATE_HI}'
GROUP BY 1
""".strip()

ORACLES["disjunctive_revenue_q19"] = f"""
SELECT CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE {" OR ".join(
    f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi}"
    f" AND l.l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in Q19_ARMS
)}
""".strip()

ORACLES["orders_table_profile"] = """
SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
       sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT o_orderkey) AS n_distinct,
       round(min(o_orderkey)::DOUBLE, 6) AS min_num, round(max(o_orderkey)::DOUBLE, 6) AS max_num
FROM orders
UNION ALL
SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT o_custkey) AS n_distinct,
       round(min(o_custkey)::DOUBLE, 6) AS min_num, round(max(o_custkey)::DOUBLE, 6) AS max_num
FROM orders
UNION ALL
SELECT 'o_orderstatus' AS column_name, count(*) AS n_rows,
       sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT o_orderstatus) AS n_distinct,
       NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num
FROM orders
UNION ALL
SELECT 'o_totalprice' AS column_name, count(*) AS n_rows,
       sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT o_totalprice) AS n_distinct,
       round(min(o_totalprice)::DOUBLE, 6) AS min_num, round(max(o_totalprice)::DOUBLE, 6) AS max_num
FROM orders
UNION ALL
SELECT 'o_orderdate' AS column_name, count(*) AS n_rows,
       sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT o_orderdate) AS n_distinct,
       NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num
FROM orders
UNION ALL
SELECT 'o_orderpriority' AS column_name, count(*) AS n_rows,
       sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT o_orderpriority) AS n_distinct,
       NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num
FROM orders
""".strip()

ORACLES["events_value_winsorize"] = """
WITH b AS (
  SELECT event_type,
         round(quantile_cont(value, 0.01), 6) AS lo,
         round(quantile_cont(value, 0.99), 6) AS hi
  FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       round(least(greatest(e.value, b.lo), b.hi), 6) AS value_w,
       (e.value < b.lo OR e.value > b.hi) AS clipped
FROM events e JOIN b USING (event_type)
WHERE e.value IS NOT NULL
""".strip()

ORACLES["nation_volume_q7"] = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l.l_shipdate)::BIGINT AS l_year,
       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '{Q7_DATE_LO}'
  AND l.l_shipdate < TIMESTAMP '{Q7_DATE_HI}'
  AND ((sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
       OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}'))
GROUP BY 1, 2, 3
""".strip()

ORACLES["custdist_q13"] = f"""
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_custkey)::BIGINT AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
  GROUP BY 1
)
SELECT c_count, count(*)::BIGINT AS custdist
FROM per_cust GROUP BY 1
""".strip()

ORACLES["small_qty_revenue_q17"] = f"""
WITH pl AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = '{Q17_BRAND}'
), th AS (
  SELECT l_partkey,
         ((400000 * sum(qfp) + count(qfp)) // (2 * nullif(count(qfp), 0)))
         / 1000000.0 AS qty_threshold
  FROM (SELECT *, CAST(floor(l_quantity + 0.5) AS BIGINT) AS qfp FROM pl)
  GROUP BY 1
)
SELECT ((2 * CAST(sum(CAST(pl.l_extendedprice AS DECIMAL(27,6))) * 1000000 AS BIGINT) + 7)
        // 14) / 1000000.0 AS avg_yearly
FROM pl JOIN th USING (l_partkey)
WHERE pl.l_quantity < th.qty_threshold
""".strip()

ORACLES["large_volume_q18"] = f"""
WITH oq AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) > {Q18_QTY_THRESHOLD}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 6) AS o_totalprice, oq.sum_qty
FROM oq
JOIN orders o ON oq.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
""".strip()

# the classic double-EXISTS Q21 form — certifies the Spark side's
# one-aggregate rewrite (distinct-supplier / distinct-late-supplier counts)
ORACLES["waiting_supplier_q21"] = f"""
WITH lo AS MATERIALIZED (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAYS AS late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
), waiting AS (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM lo l1
  WHERE l1.late
    AND EXISTS (SELECT 1 FROM lo l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lo l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.late)
)
SELECT s.s_suppkey, s.s_name, count(*)::BIGINT AS numwait
FROM waiting w JOIN supplier s ON w.l_suppkey = s.s_suppkey
GROUP BY 1, 2
""".strip()

ORACLES["market_share_q8"] = f"""
WITH flat AS (
  SELECT year(o.o_orderdate)::BIGINT AS o_year,
         l.l_extendedprice * (1.0 - l.l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = '{Q8_PART_TYPE}'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = '{Q8_REGION}'
)
SELECT o_year,
       round(CAST(sum(CAST(CASE WHEN supp_nation = '{Q8_SUPP_NATION}' THEN volume
                      ELSE 0.0 END AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(sum(CAST(volume AS DECIMAL(27,6))) AS DOUBLE), 6) AS mkt_share
FROM flat GROUP BY 1
""".strip()

ORACLES["product_profit_q9"] = f"""
SELECT n.n_name AS nation, year(o.o_orderdate)::BIGINT AS o_year,
       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                 - {Q9_COST_FACTOR!r} * p.p_retailprice * l.l_quantity
                 AS DECIMAL(27,6))) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%{Q9_PART_TOKEN}%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""".strip()

ORACLES["forecast_revenue_q6"] = f"""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,6))) AS DOUBLE)
       AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_DATE_LO}'
  AND l_shipdate < TIMESTAMP '{Q6_DATE_HI}'
  AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
  AND l_quantity < {Q6_QTY_MAX}
""".strip()

# the classic correlated-MIN Q2 form — certifies the Spark side's window-MIN
# rewrite over the per-(part, supplier) fixed-point unit-cost aggregate
ORACLES["min_cost_supplier_q2"] = f"""
WITH ps AS MATERIALIZED (
  SELECT l.l_partkey, l.l_suppkey, p.p_name,
         {half_away_div(
             "CAST(sum(CAST(l.l_extendedprice AS DECIMAL(27,6))) * 1000000 AS BIGINT)",
             "sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT))",
             "//",
         )} AS cost_fp
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size = {Q2_SIZE} AND p.p_type = '{Q2_TYPE}'
  GROUP BY 1, 2, 3
), eu AS MATERIALIZED (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{Q2_REGION}'
)
SELECT round(eu.s_acctbal, 6) AS s_acctbal, eu.s_name, eu.n_name,
       ps.l_partkey AS p_partkey, ps.p_name,
       ps.cost_fp / 1000000.0 AS supply_cost
FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey
WHERE ps.cost_fp = (
  SELECT min(ps2.cost_fp)
  FROM ps ps2 JOIN eu eu2 ON ps2.l_suppkey = eu2.s_suppkey
  WHERE ps2.l_partkey = ps.l_partkey
)
""".strip()

ORACLES["parts_supplier_q16"] = f"""
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> '{Q16_BRAND_EXCL}'
  AND p.p_type NOT LIKE '{Q16_TYPE_EXCL_PREFIX}%'
  AND p.p_size IN ({", ".join(str(s) for s in Q16_SIZES)})
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2, 3
""".strip()

# the literal nested-IN Q20 form — certifies the Spark side's
# broadcast-join + left-semi rewrite
ORACLES["excess_share_supplier_q20"] = f"""
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  WHERE l.l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE '{Q20_NAME_PREFIX}%'
        )
    AND l.l_shipdate >= TIMESTAMP '{Q20_DATE_LO}'
    AND l.l_shipdate < TIMESTAMP '{Q20_DATE_HI}'
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) > {Q20_QTY_THRESHOLD}
)
""".strip()

# rarest-K blocking twin (r15): the oracle mirrors the Spark side's
# RECALL-DEFINING contract exactly — token frequency over distinct names,
# per-name rank by (freq, token), keys = rank ≤ K, candidate pairs dedupe
# BEFORE the edit distance. It deliberately does NOT mirror the Spark
# plan's length/bag/positional filters: all three are provable
# Levenshtein lower bounds, so the final lev ≤ d predicate subsumes them
# and the OUTPUT is identical with or without them (they exist only to
# shrink the Spark side's candidate set; mirroring them would test
# nothing and double the places the bound constants live).
ORACLES["part_name_fuzzy_match"] = f"""
WITH names AS MATERIALIZED (
  SELECT p_name, count(*)::BIGINT AS n_parts FROM part GROUP BY 1
), toks AS MATERIALIZED (
  SELECT p_name, n_parts,
         unnest(list_distinct(string_split(p_name, ' '))) AS tok
  FROM names
), freq AS (
  SELECT tok, count(*)::BIGINT AS tok_freq FROM toks GROUP BY 1
), keyed AS MATERIALIZED (
  SELECT p_name, n_parts, tok AS blk FROM (
    SELECT t.p_name, t.n_parts, t.tok,
           row_number() OVER (PARTITION BY t.p_name
                              ORDER BY f.tok_freq, t.tok) AS rk
    FROM toks t JOIN freq f USING (tok)
  ) WHERE rk <= {FUZZY_BLOCK_K}
), cand AS (
  SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b,
         a.n_parts AS n_a, b.n_parts AS n_b
  FROM keyed a
  JOIN keyed b ON a.blk = b.blk AND a.p_name < b.p_name
)
SELECT name_a, name_b,
       levenshtein(name_a, name_b)::BIGINT AS lev_dist, n_a, n_b
FROM cand
WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DIST}
""".strip()
