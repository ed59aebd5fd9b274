"""SMA golden/dead-cross signal events (SURVEY.md §2.4 J1, §2.5 W0, §2.2 P5).

Reference: ``insert_sma_golden_cross`` / ``insert_sma_dead_cross``
(``src/etl/flows/transform_services.py:380-447,450-508``) — a self equi-join
of fact_sma on (time, currency, timeframe, calc_version) with per-side period
filters, a LAG window for previous values, and the cross predicate:

- golden (BUY):  ``prev_short <= prev_long AND short > long``
- dead (SELL):   ``prev_short >= prev_long AND short < long``

We scope the join and the LAG per timeframe — the *declared* semantics; the
reference's query mixes timeframes, a known TODO
(``transform_services.py:387-388``, ``docs/commonize-tasks.md:79``).

Scale notes: both sides of the self-join come from the same fact relation
filtered by period — Catalyst pushes the period predicates to the scan, and
the join + LAG share the (pair, timeframe) shuffle. Warm-up (NaN) rows are
excluded before the join so NaN never satisfies the cross predicate spuriously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

JOIN_KEYS = ["currency_pair_code", "timeframe_code", "calc_version", "time"]


def _paired_sma(fact_sma: DataFrame, short_period: int, long_period: int) -> DataFrame:
    valid = fact_sma.filter(F.col("value").isNotNull() & ~F.isnan("value"))
    short = valid.filter(F.col("period") == short_period).select(
        *JOIN_KEYS, F.col("value").alias("short_value")
    )
    long = valid.filter(F.col("period") == long_period).select(
        *JOIN_KEYS, F.col("value").alias("long_value")
    )
    w = Window.partitionBy(
        "currency_pair_code", "timeframe_code", "calc_version"
    ).orderBy("time")
    return (
        short.join(long, JOIN_KEYS, "inner")
        .withColumn("prev_short", F.lag("short_value").over(w))
        .withColumn("prev_long", F.lag("long_value").over(w))
    )


def _events(paired: DataFrame, cross_pred, event_type: str, short_period: int) -> DataFrame:
    return paired.filter(cross_pred).select(
        F.col("time").alias("event_datetime"),
        "currency_pair_code",
        F.col("short_value").alias("price"),
        F.lit(0).cast("int").alias("quantity"),
        F.lit(event_type).alias("event_type"),
        F.lit("SMA").alias("trigger_indicator_name"),
        F.col("short_value").alias("trigger_indicator_value"),
        F.col("timeframe_code").alias("trigger_indicator_timeframe"),
        F.lit(short_period).cast("int").alias("trigger_indicator_period"),
    )


def golden_cross(fact_sma: DataFrame, short_period: int = 14, long_period: int = 28) -> DataFrame:
    """BUY events where the short SMA crosses above the long SMA."""
    paired = _paired_sma(fact_sma, short_period, long_period)
    pred = (
        F.col("prev_short").isNotNull()
        & (F.col("prev_short") <= F.col("prev_long"))
        & (F.col("short_value") > F.col("long_value"))
    )
    return _events(paired, pred, "BUY", short_period)


def dead_cross(fact_sma: DataFrame, short_period: int = 14, long_period: int = 28) -> DataFrame:
    """SELL events where the short SMA crosses below the long SMA."""
    paired = _paired_sma(fact_sma, short_period, long_period)
    pred = (
        F.col("prev_short").isNotNull()
        & (F.col("prev_short") >= F.col("prev_long"))
        & (F.col("short_value") < F.col("long_value"))
    )
    return _events(paired, pred, "SELL", short_period)


def buysell_events(
    fact_sma: DataFrame, short_period: int = 14, long_period: int = 28
) -> DataFrame:
    """Union of BUY and SELL events — the fact_buysell_events relation."""
    return golden_cross(fact_sma, short_period, long_period).unionByName(
        dead_cross(fact_sma, short_period, long_period)
    )
