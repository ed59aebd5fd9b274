"""Streaming golden/dead-cross detection — the strategy path (SURVEY §3.3)
as a custom stateful operator.

Batch detects crosses with a self-join + LAG over the full fact_sma relation
(operators/signals.py). Streaming needs only a rolling tail: per symbol, the
last ``long_period`` closes plus the previous (short, long) SMA pair. That
state is a fixed-size array — O(long_period) doubles per symbol — carried by
the per-symbol state scaffold (``streaming.per_symbol_state``) across
micro-batches and restarts, replacing the unbounded-history join with an
online recurrence.

Emits one row per detected cross: BUY when the short SMA crosses strictly
above the long SMA (prev_short ≤ prev_long ∧ short > long), SELL mirrored —
the same predicate as the batch path, so batch and stream agree event-for-
event on identical input (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from . import per_symbol_state

CROSS_OUT_SCHEMA = StructType(
    [
        StructField("currency_pair_symbol", StringType()),
        StructField("time", TimestampType()),
        StructField("event_type", StringType()),
        StructField("short_value", DoubleType()),
        StructField("long_value", DoubleType()),
    ]
)

CROSS_STATE_SCHEMA = StructType(
    [
        StructField("closes", ArrayType(DoubleType())),
        StructField("prev_short", DoubleType()),
        StructField("prev_long", DoubleType()),
    ]
)


def stream_sma_cross(
    candles: DataFrame,
    short_period: int = 14,
    long_period: int = 28,
    time_col: str = "time",
    close_col: str = "close",
    round_dp: int | None = None,
) -> DataFrame:
    """Detect SMA(short/long) crosses on a streaming candle DataFrame keyed
    by ``currency_pair_symbol``; emits BUY/SELL rows as they occur.

    ``round_dp`` rounds both SMAs half-away-from-zero to that many decimals
    BEFORE the cross compare (and emits the rounded values) — the batch
    path's convention (operators/signals.py rounds fact_sma to 6dp so the
    cross predicate decides identically in Spark and the SQL oracle); pass
    6 to make the stream replay the batch decision stream exactly."""
    if short_period >= long_period:
        raise ValueError("short_period must be < long_period")

    if round_dp is None:
        _r = lambda x: x
    else:
        import math

        scale = 10.0 ** round_dp
        # + 0.0 normalizes IEEE -0.0 (copysign preserves it for tiny
        # negatives; F.round and the normalized oracles emit +0.0)
        _r = lambda x: math.copysign(
            math.floor(abs(x) * scale + 0.5) / scale, x
        ) + 0.0

    def step(s: tuple, c: float) -> tuple[tuple, tuple | None]:
        closes, prev_short, prev_long = s
        closes = [*closes, c][-long_period:]
        if len(closes) < long_period:
            return (closes, prev_short, prev_long), None
        short_v = _r(sum(closes[-short_period:]) / short_period)
        long_v = _r(sum(closes) / long_period)
        out = None
        if prev_short is not None:
            if prev_short <= prev_long and short_v > long_v:
                out = ("BUY", short_v, long_v)
            elif prev_short >= prev_long and short_v < long_v:
                out = ("SELL", short_v, long_v)
        return (closes, short_v, long_v), out

    return per_symbol_state(
        candles, step, ([], None, None), CROSS_OUT_SCHEMA, CROSS_STATE_SCHEMA,
        time_col=time_col, value_col=close_col,
    )
