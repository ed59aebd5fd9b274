"""OHLC candle aggregation (SURVEY.md §2.3 A1/A2).

Reference semantics:
- A1 base 1-minute OHLC from ticks: bucket ``date_trunc('minute', time)``;
  open = first bid by time, high = MAX, low = MIN, close = last bid by time
  (``src/etl/flows/transform_services.py:56-90``). The reference's
  ``(array_agg(bid ORDER BY time))[1]`` is exactly ``min_by``/``max_by`` —
  ties are impossible after the 1-second dedup.
- A2 derived timeframes re-aggregated from the 1m table with epoch-floor
  buckets ``to_timestamp(floor(epoch/duration)*duration)``
  (``transform_services.py:92-124``).

Scale notes: the reference loops pair×timeframe issuing one INSERT..SELECT
each (``transform.py:46-76``); here each is ONE shuffle over the natural
grouping key. Derived timeframes aggregate from the (much smaller) 1m relation
— not from raw ticks — and all five timeframes are produced in a single pass
by cross-joining the 6-row timeframe dim (broadcast, no shuffle) so the fact
data is shuffled once, not five times. Partial (map-side) aggregation applies
to MAX/MIN/min_by/max_by automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import epoch_bucket
from ..sources.ticks import first_tick_per_second

OHLC_COLS = ["currency_pair_code", "timeframe_code", "time", "open", "high", "low", "close"]


def ohlc_base(ticks: DataFrame, *carry: str) -> DataFrame:
    """A1: ticks → 1-minute candles, grouped on and keeping ``carry``."""
    return (
        ticks.groupBy(
            "currency_pair_code", *carry, F.date_trunc("minute", "time").alias("time")
        )
        .agg(
            F.min_by("bid", "time").alias("open"),
            F.max("bid").alias("high"),
            F.min("bid").alias("low"),
            F.max_by("bid", "time").alias("close"),
        )
        .select(
            "currency_pair_code",
            *carry,
            F.lit("1m").alias("timeframe_code"),
            "time",
            "open",
            "high",
            "low",
            "close",
        )
    )


def ohlc_derived(ohlc_1m: DataFrame, timeframes: DataFrame, *carry: str) -> DataFrame:
    """A2: 1m candles → all non-1m timeframes in one shuffle, grouped on
    and keeping ``carry``.

    ``timeframes``: dim_timeframe rows to produce (timeframe_code,
    duration_seconds). Epoch-floor bucketing matches the reference formula
    bit-for-bit (transform_services.py:108-110).
    """
    tfs = timeframes.filter(F.col("duration_seconds") != 60).select(
        F.col("timeframe_code").alias("_tf"), "duration_seconds"
    )
    bucket = epoch_bucket("time", "duration_seconds")
    return (
        ohlc_1m.crossJoin(F.broadcast(tfs))
        .groupBy(
            "currency_pair_code",
            *carry,
            F.col("_tf").alias("timeframe_code"),
            bucket.alias("time"),
        )
        .agg(
            F.min_by("open", "time").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "time").alias("close"),
        )
    )


COARSE_SECONDS = 14400  # seed default: 4h — every other seed timeframe divides it


def chain_bucket_seconds(
    timeframes: DataFrame, durations: list[int] | None = None
) -> int:
    """Chain-partitioning granule: the LCM of the dim's durations, so EVERY
    configured timeframe's epoch bucket nests inside one chain bucket.

    The dim is a handful of literal rows (never a data table), so the
    driver-side collect is a constant; with the seed set this returns 14400
    (= 4h). A config-added 2h/8h/1d keeps correctness automatically — the
    granule coarsens to whatever still nests everything.

    ``durations``: callers that already hold the duration list (the config
    source behind ``dims.dim_timeframe`` — ``dims.timeframe_durations()``)
    pass it to skip the collect: even on the 6-row literal dim that collect
    is a full analyze+schedule round trip, measured 0.32 s of every cold
    chain build at sf0.1 — the driver should do almost no data work.
    Semantics are identical: same list, same LCM.
    """
    import math

    if durations is None:
        durations = [
            r["duration_seconds"]
            for r in timeframes.select("duration_seconds").collect()
        ]
    return math.lcm(*durations) if durations else COARSE_SECONDS


def ohlc_chain_single_shuffle(
    raw_ticks: DataFrame,
    timeframes: DataFrame,
    durations: list[int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(deduped-1m, derived) computed with ONE exchange for the whole chain.

    Every aggregation key in the tick→dedup→1m→derived chain nests inside the
    coarsest (LCM-of-durations) epoch bucket, so pre-partitioning on
    (pair, chain-bucket) and carrying that bucket in each groupBy makes
    dedup, the 1m agg, and the derived agg all partition-local: Catalyst sees
    the grouping keys as a superset of the hash-partitioning keys and inserts
    no further exchange. (The dependency is only *functional* — bucket =
    f(time) — which Spark's syntactic `satisfies` check can't infer, hence
    the explicit column.)

    Parallelism scales as pairs × time-range/bucket — unlike repartitioning
    on pair alone, which caps at the pair count. ``raw_ticks`` needs columns
    (currency_pair_code, time, bid, ask, ts, event_id). ``durations`` is the
    optional driver-local duration list (see ``chain_bucket_seconds``).
    """
    coarse = chain_bucket_seconds(timeframes, durations)
    b = F.floor(F.unix_timestamp("time") / coarse)
    keyed = raw_ticks.withColumn("_b", b).repartition("currency_pair_code", "_b")
    base = ohlc_base(first_tick_per_second(keyed, "_b"), "_b")
    derived = ohlc_derived(base, timeframes, "_b").select(*OHLC_COLS)
    return base.select(*OHLC_COLS), derived


# --- DuckDB oracle twins -----------------------------------------------------

OHLC_1M_SQL = """
ohlc_1m AS (
  SELECT currency_pair_code,
         '1m' AS timeframe_code,
         CAST(date_trunc('minute', time) AS TIMESTAMP) AS time,
         arg_min(bid, time) AS "open",
         max(bid) AS high,
         min(bid) AS low,
         arg_max(bid, time) AS "close"
  FROM ticks
  GROUP BY 1, 3
)
""".strip()


def ohlc_derived_sql(timeframe_values: str) -> str:
    """Derived-timeframe oracle; ``timeframe_values`` is the dim CTE name."""
    return f"""
ohlc_derived AS (
  SELECT o.currency_pair_code,
         t.timeframe_code,
         CAST(TIMESTAMP '1970-01-01 00:00:00'
              + to_seconds(CAST(floor(epoch(o.time) / t.duration_seconds) * t.duration_seconds AS BIGINT)) AS TIMESTAMP) AS time,
         arg_min(o."open", o.time) AS "open",
         max(o.high) AS high,
         min(o.low) AS low,
         arg_max(o."close", o.time) AS "close"
  FROM ohlc_1m o
  CROSS JOIN (SELECT * FROM {timeframe_values} WHERE duration_seconds <> 60) t
  GROUP BY 1, 2, 3
)
""".strip()
