"""Batch ETL pipelines — the reference's Prefect flows as DataFrame lineage
(SURVEY.md §3.2/§3.3).

Reference orchestration (``src/etl/flows/transform.py``):
- ``ohlc_pipeline``      :23-76  — create OHLC tables, base 1m agg per pair,
                                   derived timeframes per pair×tf (wait_for DAG)
- indicator flow         :79-121 — SMA/EMA/RSI per tf×period (task fan-out)
- strategy flow          :123-129 — golden/dead cross inserts

Here each flow is a function: the Prefect ``wait_for`` DAG becomes plain
DataFrame dependency, per-pair task fan-out becomes partition parallelism,
and every write is the W1 first-wins idempotent append (io.first_wins_append)
— re-running any pipeline adds zero rows, the reference's ON CONFLICT
DO NOTHING contract. The base→derived ``wait_for`` edge applies to an
existing candle table; a new one is written in one append (see
:func:`ohlc_pipeline`).

A fresh-session backfill starts no Python worker: the dims are Arrow-backed
and the EMA/RSI kernels run on the driver below their row bound
(``indicators.DRIVER_SERIES_MAX_ROWS``).

Warehouse layout (parquet, UTC):
- ``{wh}/ohlc``                 partitioned by timeframe_code, currency_pair_code
- ``{wh}/fact_{sma,ema,rsi}``   partitioned by timeframe_code
- ``{wh}/fact_buysell_events``

Scale notes: partition columns mirror the reference's table-per-(pair, tf)
sharding (SURVEY.md §1.1) so per-(pair, tf) reads prune to one directory;
appends prune the anti-join's existing side to the incoming time range
and partition values (io.py). Dims are 6-row broadcasts.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import fs
from ..config import DEFAULT_INDICATOR_PERIODS, EngineConfig
from ..io import first_wins_append
from ..operators import indicators, ohlc, signals
from ..sources import dims, ticks

OHLC_KEYS = ["currency_pair_code", "timeframe_code", "time"]
IND_KEYS = ["currency_pair_code", "timeframe_code", "period", "calc_version", "time"]
# reference PK: (event_datetime, currency_id, event_type, trigger_indicator_name)
# e2444ebd2a06:76 — plus the timeframe/period scoping we fix per SURVEY §3.3
EVENT_KEYS = [
    "event_datetime",
    "currency_pair_code",
    "event_type",
    "trigger_indicator_name",
    "trigger_indicator_timeframe",
    "trigger_indicator_period",
]


def ohlc_pipeline(spark: SparkSession, sf_dir: str, warehouse: str) -> dict[str, int]:
    """Ticks → 1m candles → derived timeframes, idempotently appended.

    On an existing table this mirrors transform.py:23-76: the 1m candles
    are appended, and derived aggregation reads the *written* 1m relation
    (the reference's base→derived wait_for edge), so incremental runs
    re-derive only from the materialized base table.

    A new table has no written 1m candles but the batch's own, so the
    read-back is skipped: :func:`ohlc.ohlc_chain_single_shuffle` builds
    both kinds over one keyed exchange, which the two union branches
    share, and one append writes them: at most 5 jobs (the two dim
    broadcasts, the keyed exchange, the append's key dedup and the
    write) instead of 14. The append
    repeats the existence check under its writer lock, so a table created
    in between is still appended first-wins. The row counts of each kind
    are observed on that write.
    """
    path = f"{warehouse}/ohlc"
    partition_by = ["timeframe_code", "currency_pair_code"]
    if not fs.exists(spark, path):
        cfg = EngineConfig.from_env()
        base, derived = ohlc.ohlc_chain_single_shuffle(
            ticks.raw_ticks(spark, sf_dir),
            dims.dim_timeframe(spark, cfg),
            durations=dims.timeframe_durations(cfg),
        )
        obs = Observation()
        n = first_wins_append(
            spark, path, base.unionByName(derived), OHLC_KEYS,
            partition_by=partition_by,
            observe=(obs, [F.count_if(F.col("timeframe_code") == "1m").alias("n_1m")]),
        )
        n_base = obs.get["n_1m"] if n else 0
        return {"ohlc_base_rows": n_base, "ohlc_derived_rows": n - n_base}
    base = ohlc.ohlc_base(ticks.load_ticks(spark, sf_dir))
    n_base = first_wins_append(spark, path, base, OHLC_KEYS, partition_by=partition_by)
    written_1m = spark.read.parquet(path).filter("timeframe_code = '1m'")
    derived = ohlc.ohlc_derived(written_1m, dims.dim_timeframe(spark)).select(
        *ohlc.OHLC_COLS
    )
    n_derived = first_wins_append(
        spark, path, derived, OHLC_KEYS, partition_by=partition_by
    )
    return {"ohlc_base_rows": n_base, "ohlc_derived_rows": n_derived}


LOOKBACK_PERIODS = 4  # warm-up window = 4×period buckets (reference uses 2×:
# transform_services.py:161-175; doubled because EMA's exponential tail is
# still ~6e-4 of full weight at 2×period — W1 keeps old rows either way)


def _candles_after_cursor(
    candles: DataFrame, fact: DataFrame, periods: list[int]
) -> DataFrame:
    """W2: the candles a refresh of ``fact`` needs, marked per period.

    One aggregate takes every period's MAX(time) cursor per (pair, tf), and
    one ``row_number`` ranks each series by time descending. Period ``p``
    keeps the rows ranked ≤ ``n_new_p + LOOKBACK_PERIODS × p``, where
    ``n_new_p`` counts the rows after ``p``'s cursor: its new rows plus a
    warm-up of ``LOOKBACK_PERIODS × p`` rows, a suffix of the series. A
    group with no cursor for ``p`` (first run) keeps its whole history.
    The lookback is counted in rows, like the reference (``OFFSET 2×period
    ROWS``, transform_services.py:161-175): candle streams have gaps, so a
    time-based lookback, or a time prefilter ahead of the ranking, could
    under-fill the warm-up window. Each period's rule is one boolean
    :func:`indicators.keep_col` column; rows no period keeps are dropped.
    """
    cursors = (
        fact.groupBy(*indicators.GROUP_KEYS)
        .pivot("period", periods)
        .agg(F.max("time"))
        .select(*indicators.GROUP_KEYS, *[F.col(str(p)).alias(f"_cursor_{p}") for p in periods])
    )
    by_time = Window.partitionBy(*indicators.GROUP_KEYS).orderBy(F.desc("time"))
    series = by_time.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    keeps = []
    for p in periods:
        cursor = F.col(f"_cursor_{p}")
        n_new = F.sum(F.when(F.col("time") > cursor, 1).otherwise(0)).over(series)
        keeps.append(
            (cursor.isNull() | (F.col("_rank") <= n_new + LOOKBACK_PERIODS * p))
            .alias(indicators.keep_col(p))
        )
    return (
        candles.join(F.broadcast(cursors), indicators.GROUP_KEYS, "left")
        .withColumn("_rank", F.row_number().over(by_time))
        .select(*candles.columns, *keeps)
        .filter(reduce(operator.or_, [F.col(indicators.keep_col(p)) for p in periods]))
    )


def indicator_pipeline(
    spark: SparkSession,
    warehouse: str,
    periods: list[int] | None = None,
    calc_version: str = "0",
    incremental: bool = True,
) -> dict[str, int]:
    """SMA/EMA/RSI facts over every (pair, timeframe, period): one relation
    and one append per fact table (transform.py:79-121 without the nested
    Python loops).

    With ``incremental`` and an existing fact table, each (pair, tf, period)
    group recomputes only from its W2 cursor-minus-lookback onward; the W1
    first-wins append drops the overlap — the reference's exact incremental
    contract (recomputed warm-up rows never overwrite history).
    """
    periods = periods or DEFAULT_INDICATOR_PERIODS
    candles = spark.read.parquet(f"{warehouse}/ohlc")
    out: dict[str, int] = {}
    for name, kernel in (
        ("sma", indicators.sma_periods),
        ("ema", indicators.ema_periods),
        ("rsi", indicators.rsi_periods),
    ):
        path = f"{warehouse}/fact_{name}"
        todo = candles
        if incremental and fs.exists(spark, path):
            todo = _candles_after_cursor(candles, spark.read.parquet(path), periods)
        out[f"fact_{name}_rows"] = first_wins_append(
            spark, path, kernel(todo, periods, calc_version), IND_KEYS,
            partition_by=["timeframe_code"],
        )
    return out


def strategy_pipeline(
    spark: SparkSession,
    warehouse: str,
    short_period: int = 14,
    long_period: int = 28,
) -> dict[str, int]:
    """Golden/dead-cross events from the written fact_sma relation
    (transform.py:123-129), scoped per timeframe (the declared semantics)."""
    fact_sma = spark.read.parquet(f"{warehouse}/fact_sma")
    events = signals.buysell_events(fact_sma, short_period, long_period)
    n = first_wins_append(
        spark, f"{warehouse}/fact_buysell_events", events, EVENT_KEYS,
        prune_on="event_datetime",
    )
    return {"fact_buysell_events_rows": n}


def run_etl(spark: SparkSession, sf_dir: str, warehouse: str) -> dict[str, int]:
    """The full flow chain: OHLC → indicators → strategy (transform.py:23-26
    orchestration collapsed into one lineage-ordered run)."""
    stats = ohlc_pipeline(spark, sf_dir, warehouse)
    stats |= indicator_pipeline(spark, warehouse)
    stats |= strategy_pipeline(spark, warehouse)
    return stats
