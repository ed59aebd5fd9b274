"""Dimension tables (seed rows are part of the reference's schema).

dim_currency seed: alembic e2444ebd2a06_baseline_current_schema.py:125-133.
dim_timeframe seed: e2444ebd2a06:135-141 + 0a3601d18004_add_timeframe.py:23-27.

Dims are tiny — always broadcast-joined (replacing the reference's driver-side
scalar code→id lookups, ``src/etl/flows/transform_helpers.py:18-42``). At
100 TB the fact side scales; the dim side stays 6 rows, so these joins never
shuffle. Both dims are Arrow-backed :func:`local.local_relation` relations:
a row-list ``createDataFrame`` would start the Python workers on its first
job, which in a fresh session cost more than the dim's whole use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..schemas import DIM_CURRENCY_SCHEMA, DIM_TIMEFRAME_SCHEMA
from .local import local_relation

CURRENCY_SEED: list[tuple] = [
    (1, "USD", "JPY", "USD/JPY", "USD_JPY"),
    (2, "EUR", "JPY", "EUR/JPY", "EUR_JPY"),
    (3, "GBP", "JPY", "GBP/JPY", "GBP_JPY"),
    (4, "AUD", "JPY", "AUD/JPY", "AUD_JPY"),
    (5, "CAD", "JPY", "CAD/JPY", "CAD_JPY"),
    (6, "CHF", "JPY", "CHF/JPY", "CHF_JPY"),
]

TIMEFRAME_SEED: list[tuple] = [
    (1, "1m", "1min", 60),
    (2, "5m", "5min", 300),
    (3, "15m", "15min", 900),
    (4, "30m", "30min", 1800),
    (5, "1h", "1hour", 3600),
    (6, "4h", "4hour", 14400),
]

# display names for the seed codes; config-added codes use the code itself
_TIMEFRAME_NAMES = {code: name for _, code, name, _ in TIMEFRAME_SEED}


def timeframe_rows(cfg: EngineConfig | None = None) -> list[tuple]:
    """dim_timeframe rows from config (seed by default). Adding a timeframe
    is configuration (ETL_TIMEFRAMES / ETL_EXTRA_TIMEFRAMES), not a code
    edit — the Spark twin of the reference's add-a-row migration
    (alembic 0a3601d18004:21-27). IDs are assigned by ascending duration so
    the seed set keeps its historical ids."""
    cfg = cfg or EngineConfig.from_env()
    ordered = sorted(cfg.timeframes.items(), key=lambda kv: (kv[1], kv[0]))
    return [
        (i + 1, code, _TIMEFRAME_NAMES.get(code, code), seconds)
        for i, (code, seconds) in enumerate(ordered)
    ]


def timeframe_durations(cfg: EngineConfig | None = None) -> list[int]:
    """The configured timeframe durations (seconds) WITHOUT a Spark job —
    the driver-side twin of ``dim_timeframe`` for consumers that only need
    the duration list (the chain-bucket LCM). Built from the same
    ``timeframe_rows`` config source, so it can never diverge from the dim
    relation; collecting the 6-row literal dim instead costs a full
    analyze+schedule round trip (~0.3 s) per cold chain build."""
    return [seconds for _, _, _, seconds in timeframe_rows(cfg)]


def dim_currency(spark: SparkSession) -> DataFrame:
    return local_relation(spark, CURRENCY_SEED, DIM_CURRENCY_SCHEMA)


def dim_timeframe(spark: SparkSession, cfg: EngineConfig | None = None) -> DataFrame:
    return local_relation(spark, timeframe_rows(cfg), DIM_TIMEFRAME_SCHEMA)


def currency_values_sql() -> str:
    """dim_currency as an inline VALUES clause for the DuckDB oracle."""
    rows = ", ".join(
        f"({i}, '{b}', '{q}', '{c}', '{s}')" for i, b, q, c, s in CURRENCY_SEED
    )
    return (
        "dim_currency(id, base_currency, quote_currency, currency_pair_code,"
        f" currency_pair_symbol) AS (VALUES {rows})"
    )


def timeframe_values_sql(cfg: EngineConfig | None = None) -> str:
    """Oracle CTE built from the SAME config as dim_timeframe, so an env
    override changes the Spark query and its oracle in lockstep."""
    rows = ", ".join(f"({i}, '{c}', '{n}', {d})" for i, c, n, d in timeframe_rows(cfg))
    return (
        "dim_timeframe(id, timeframe_code, timeframe_name, duration_seconds)"
        f" AS (VALUES {rows})"
    )
