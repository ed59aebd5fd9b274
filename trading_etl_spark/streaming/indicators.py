"""Custom stateful streaming operators: incremental EMA and RSI per symbol
on the shared per-symbol state scaffold (``streaming.per_symbol_state``;
SURVEY.md §2.9 — the streaming twin of the batch grouped-UDF indicators).

The batch engine recomputes EMA over the whole series per run (the
reference's incremental path re-reads a 2×period lookback window,
``src/etl/flows/transform_services.py:161-175``). Streaming needs neither:
the Wilder/TA-Lib recursion is a one-value state machine, so per-symbol
state is just (seed-count, seed-sum, current EMA) — O(1) per symbol, carried
across micro-batches AND restarts by the state store/checkpoint.

Semantics (TA-Lib EMA, matching operators/indicators._ema_series):
- first ``period`` observations accumulate into an SMA seed (no output);
- from the seed row on, ``ema += k·(x − ema)`` with ``k = 2/(period+1)``,
  one output row per observation.

Each kernel keeps its own step arithmetic and its own sequential SMA seed
instead of calling the batch ``_ema_series``/``_rsi_series``: a sequential
sum and ``np.mean`` differ in the last bits on some seeds (3,418 of 20,000
random 14-close seeds), so sharing the batch kernels would move the
stream's values. Ordering: rows are processed in event-time order *within*
each micro-batch; cross-batch order is arrival order (a late tick inside
the watermark reorders only its own batch). Scale notes: state is a few doubles per symbol; the stateful
exchange hash-partitions on symbol, the same key the dedup upstream already
partitioned on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from . import per_symbol_state

EMA_OUT_SCHEMA = StructType(
    [
        StructField("currency_pair_symbol", StringType()),
        StructField("time", TimestampType()),
        StructField("price", DoubleType()),
        StructField("ema", DoubleType()),
    ]
)

EMA_STATE_SCHEMA = StructType(
    [
        StructField("n_seen", IntegerType()),
        StructField("seed_sum", DoubleType()),
        StructField("ema", DoubleType()),
    ]
)


RSI_OUT_SCHEMA = StructType(
    [
        StructField("currency_pair_symbol", StringType()),
        StructField("time", TimestampType()),
        StructField("price", DoubleType()),
        StructField("rsi", DoubleType()),
    ]
)

RSI_STATE_SCHEMA = StructType(
    [
        StructField("prev_price", DoubleType()),
        StructField("n_diffs", IntegerType()),
        StructField("gain_sum", DoubleType()),
        StructField("loss_sum", DoubleType()),
        StructField("avg_gain", DoubleType()),
        StructField("avg_loss", DoubleType()),
    ]
)


def stream_rsi(ticks: DataFrame, period: int = 14, price_col: str = "mid") -> DataFrame:
    """Per-symbol incremental RSI (Wilder smoothing, matching
    operators/indicators._rsi_series): the recursion is a two-accumulator
    state machine — (avg_gain, avg_loss) plus the previous price — so state
    stays O(1) per symbol across micro-batches and restarts.

    Warm-up: the first ``period`` price diffs accumulate into the seed means
    (no output); the seed row emits 100·g/(g+l); every later diff applies
    ``avg = (avg·(period−1) + x)/period`` and emits.
    """

    def step(s: tuple, x: float) -> tuple[tuple, tuple | None]:
        prev, n_diffs, gain_sum, loss_sum, avg_gain, avg_loss = s
        if prev is None:
            return (x, n_diffs, gain_sum, loss_sum, avg_gain, avg_loss), None
        diff = x - prev
        gain, loss = max(diff, 0.0), max(-diff, 0.0)
        if n_diffs < period:
            n_diffs += 1
            gain_sum += gain
            loss_sum += loss
            if n_diffs < period:
                return (x, n_diffs, gain_sum, loss_sum, avg_gain, avg_loss), None
            avg_gain = gain_sum / period
            avg_loss = loss_sum / period
        else:
            avg_gain = (avg_gain * (period - 1) + gain) / period
            avg_loss = (avg_loss * (period - 1) + loss) / period
        denom = avg_gain + avg_loss
        rsi = 100.0 * avg_gain / denom if denom != 0.0 else 0.0
        return (x, n_diffs, gain_sum, loss_sum, avg_gain, avg_loss), (x, rsi)

    nan = float("nan")
    return per_symbol_state(
        ticks, step, (None, 0, 0.0, 0.0, nan, nan), RSI_OUT_SCHEMA, RSI_STATE_SCHEMA,
        value_col=price_col,
    )


def stream_ema(ticks: DataFrame, period: int = 14, price_col: str = "mid") -> DataFrame:
    """Per-symbol incremental EMA over a streaming tick DataFrame.

    ``ticks`` must carry (currency_pair_symbol, time, <price_col>) — e.g. the
    output of streaming.ticks.dedup_ticks.
    """
    k = 2.0 / (period + 1.0)

    def step(s: tuple, x: float) -> tuple[tuple, tuple | None]:
        n_seen, seed_sum, ema = s
        if n_seen < period:
            n_seen += 1
            seed_sum += x
            if n_seen < period:
                return (n_seen, seed_sum, ema), None
            ema = seed_sum / period
        else:
            ema = ema + k * (x - ema)
        return (n_seen, seed_sum, ema), (x, ema)

    return per_symbol_state(
        ticks, step, (0, 0.0, float("nan")), EMA_OUT_SCHEMA, EMA_STATE_SCHEMA,
        value_col=price_col,
    )
