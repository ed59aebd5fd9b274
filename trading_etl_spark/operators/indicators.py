"""Technical indicators with TA-Lib-faithful semantics (SURVEY.md §2.5).

The reference pulls time-ordered closes out of Postgres into NumPy and calls
``talib.SMA/EMA/RSI`` driver-side (``src/etl/flows/transform_services.py:
186-188,268-270,347-349``) — a per-run DB→Python boundary crossing. Here:

- SMA is a native frame window (JVM-side, whole-stage codegen) — no UDF.
- EMA and RSI are order-sensitive recursions, not expressible as Spark frame
  windows → a grouped NumPy kernel per (pair, timeframe) series, run by
  :func:`_grouped`: on the driver up to ``DRIVER_SERIES_MAX_ROWS`` input
  rows (Arrow in, Arrow out, no Python worker), above it as
  ``applyInPandas``, where each group's series lands in one task.
- A fact table's periods share one pass: :func:`sma_periods` is one sort and
  one ``WindowExec`` with a frame per period, and :func:`ema_periods` /
  :func:`rsi_periods` are one grouped pass that runs every period on each
  sorted series, so the per-pass cost is paid once, not once per period.
- The other recursive indicators (MACD, ATR, ADX, Holt, Keltner, TRIX) are
  one :func:`_per_series` call each: one grouped pass that runs a
  ``_*_series`` NumPy kernel over each time-sorted series.

TA-Lib semantics reproduced exactly (FIXTURES.md §8 golden vectors), with one
representation choice: TA-Lib's warm-up NaN is stored as NULL — the
Spark-idiomatic value for a nullable DoubleType column (and what NaN becomes
across the Arrow pandas→Spark boundary anyway):
- SMA: NULL for the first period−1 rows, then plain rolling mean.
- EMA: seed = SMA of the first ``period`` closes; then
  ``ema = prev + k·(close − prev)`` with ``k = 2/(period+1)``; NaN before.
- RSI: Wilder smoothing — seed = simple mean of the first ``period``
  gains/losses, then ``avg = (prev·(period−1) + cur)/period``;
  ``rsi = 100·avgGain/(avgGain+avgLoss)`` (0 when the denominator is 0,
  matching TA-Lib's guard); NaN for the first ``period`` rows.

Scale notes: groups are (pair, timeframe) — thousands of independent series,
each modest in length. Above the driver bound ``applyInPandas`` shuffles
once on the group key and the recursion is O(n) NumPy per group; below it
the whole input is one bounded collect, which is cheaper than starting the
executors' Python workers for a few thousand candles. Skew across pairs is
bounded by the time-bucket grain. The indicator output is written with W1 first-wins append
+ the W2 MAX(time) cursor, so incremental runs recompute only trailing rows.
"""

from __future__ import annotations

import math as _math
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import bounded_arrow, local_relation

GROUP_KEYS = ["currency_pair_code", "timeframe_code"]

INDICATOR_OUT_SCHEMA = (
    "currency_pair_code string, timeframe_code string, period int, "
    "calc_version string, time timestamp, value double"
)


def keep_col(period: int) -> str:
    """Name of the optional boolean input column that restricts ``period``
    to a subset of each series: the rows where it is true, which must be a
    suffix of the series in time order (an incremental refresh's new rows
    plus their warm-up). Without the column every row is computed."""
    return f"_keep_{period}"


def sma_periods(
    ohlc: DataFrame, periods: Iterable[int], calc_version: str = "0"
) -> DataFrame:
    """Simple moving average for every period in one window pass — one sort
    and one ``WindowExec`` with a rows frame per period; warm-up rows are
    NULL. Emits ``INDICATOR_OUT_SCHEMA`` rows, one per (row, period) kept.

    With a :func:`keep_col` mask the warm-up of period ``p`` counts from the
    start of ``p``'s own suffix, not from the start of the input: the row
    number in that suffix is ``rn − (n_rows − n_kept_p)``. A row at least
    ``p`` deep in its suffix has its whole frame inside the suffix, so its
    value is the average of the same rows, in the same order, as a call on
    the suffix alone.
    """
    periods = list(periods)
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    # the whole series, on the same ordering so it shares the WindowExec
    series = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rn = F.row_number().over(w)
    staged = []
    for p in periods:
        keep, rn_p = F.lit(True), rn
        if keep_col(p) in ohlc.columns:
            keep = F.col(keep_col(p))
            n_rows = F.count(F.lit(1)).over(series)
            rn_p = rn - (n_rows - F.sum(keep.cast("int")).over(series))
        value = F.when(rn_p >= p, F.avg("close").over(w.rowsBetween(-(p - 1), 0)))
        staged += [value.alias(f"_v{p}"), keep.alias(f"_k{p}")]
    # a window expression inside a generator fails analysis: compute the window
    # columns first, then stack them into rows
    stacked = F.array(
        *[
            F.struct(
                F.lit(p).cast("int").alias("period"),
                F.col(f"_v{p}").alias("value"),
                F.col(f"_k{p}").alias("keep"),
            )
            for p in periods
        ]
    )
    return (
        ohlc.select(*GROUP_KEYS, "time", *staged)
        .select(*GROUP_KEYS, "time", F.inline(stacked))
        .filter("keep")
        .select(
            *GROUP_KEYS,
            "period",
            F.lit(calc_version).alias("calc_version"),
            "time",
            "value",
        )
    )


def sma(ohlc: DataFrame, period: int, calc_version: str = "0") -> DataFrame:
    """Simple moving average as a native window — warm-up rows are NULL.

    Not a one-period :func:`sma_periods`: here ``period`` is a literal
    projection, so a filter on ``period`` over a union of these calls (the
    cross signals' self-join) prunes the other branches. Behind the stacked
    form's ``Generate`` every branch stays, and Spark 4.1 then fails to plan
    the join over the union (a ``PartitioningCollection`` numPartitions
    mismatch)."""
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    frame = w.rowsBetween(-(period - 1), 0)
    rn = F.row_number().over(w)
    return (
        ohlc.withColumn("_rn", rn)
        .withColumn(
            "value",
            F.when(F.col("_rn") >= period, F.avg("close").over(frame)),
        )
        .select(
            *GROUP_KEYS,
            F.lit(period).cast("int").alias("period"),
            F.lit(calc_version).alias("calc_version"),
            "time",
            "value",
        )
    )


def _ema_series(closes: np.ndarray, period: int) -> np.ndarray:
    out = np.full(len(closes), np.nan)
    if len(closes) < period:
        return out
    k = 2.0 / (period + 1.0)
    ema = float(np.mean(closes[:period]))
    out[period - 1] = ema
    for i in range(period, len(closes)):
        ema = ema + k * (closes[i] - ema)
        out[i] = ema
    return out


def _rsi_series(closes: np.ndarray, period: int) -> np.ndarray:
    out = np.full(len(closes), np.nan)
    if len(closes) <= period:
        return out
    diff = np.diff(closes)
    gains = np.where(diff > 0, diff, 0.0)
    losses = np.where(diff < 0, -diff, 0.0)
    avg_gain = float(np.mean(gains[:period]))
    avg_loss = float(np.mean(losses[:period]))
    denom = avg_gain + avg_loss
    out[period] = 100.0 * avg_gain / denom if denom != 0.0 else 0.0
    # Wilder recursion for rows after the seed
    for i in range(period + 1, len(closes)):
        avg_gain = (avg_gain * (period - 1) + gains[i - 1]) / period
        avg_loss = (avg_loss * (period - 1) + losses[i - 1]) / period
        denom = avg_gain + avg_loss
        out[i] = 100.0 * avg_gain / denom if denom != 0.0 else 0.0
    return out


# Measured by tools/driver_bound_probe.py (see _grouped).
DRIVER_SERIES_MAX_ROWS = 100_000


def _grouped(inputs: DataFrame, compute, schema: str) -> DataFrame:
    """``compute`` over each (pair, timeframe) group of ``inputs``: one
    pandas frame in, one out, with NaN leaving as NULL. Up to
    ``DRIVER_SERIES_MAX_ROWS`` input rows it runs on the driver, Arrow in
    and Arrow out; above the bound, as ``groupBy(pair, tf).applyInPandas``
    on the executors. The size test is one bounded collect
    (:func:`~trading_etl_spark.sources.local.bounded_arrow`), whose rows
    are the driver branch's input.

    Either branch hands ``compute`` the same frame: timestamps as
    naive wall times in the session time zone, which is how
    ``applyInPandas`` delivers them and how ``createDataFrame`` reads
    them back. The driver branch starts no Python worker: in a fresh
    session the workers and their pandas/pyarrow import cost more than
    the kernels themselves.

    The bound is measured (``tools/driver_bound_probe.py series``: EMA
    over every default period on 36 series of 1h candles with random
    closes, a fresh
    ``local[4]`` session per run on a 4-core host, build plus one
    aggregate over the output, median of 3):

    ======== ========== ========== ===========================
    rows     driver     executors  driver Python peak RSS
    ======== ========== ========== ===========================
    10k      5.5 s      7.3 s      150 MB
    100k     7.7 s      8.5 s      188 MB
    300k     11.3 s     9.0 s      258 MB
    1M       11.2 s     10.1 s     527 MB (141 MB on executors)
    ======== ========== ========== ===========================

    The driver wins up to 100k rows, where the executors' fixed cost
    (the Python workers, their imports, one shuffle) outweighs a
    single-threaded kernel; from 300k on, four executor cores win and
    the driver's memory grows with the input (~0.4 KB per row). The
    bound is the largest measured size at which the driver wins. A
    backfill's EMA input is ~2k candles, and a sf0.1 indicator query's
    4,320 1h candles.
    """
    head = bounded_arrow(inputs, DRIVER_SERIES_MAX_ROWS)
    if head is None:
        return inputs.groupBy(*GROUP_KEYS).applyInPandas(compute, schema)
    pdf = head.to_pandas()
    for c in pdf.select_dtypes("datetimetz"):
        pdf[c] = pdf[c].dt.tz_localize(None)
    groups = pdf.groupby(GROUP_KEYS, sort=False, dropna=False)
    spark = inputs.sparkSession
    if not groups.ngroups:
        return local_relation(spark, [], schema)
    out = pd.concat([compute(g) for _, g in groups], ignore_index=True)
    return spark.createDataFrame(
        pa.Table.from_pandas(out, preserve_index=False), schema
    )


def _grouped_periods(
    ohlc: DataFrame, periods: Iterable[int], calc_version: str, fn
) -> DataFrame:
    """One :func:`_grouped` pass for every period: each group is sorted
    once and ``fn`` runs per period over the rows its :func:`keep_col`
    mask keeps (all rows without one)."""
    periods = list(periods)
    masks = {p: keep_col(p) for p in periods if keep_col(p) in ohlc.columns}

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")
        closes = pdf["close"].to_numpy(dtype=np.float64)
        keys = {c: pdf[c].to_numpy() for c in (*GROUP_KEYS, "time")}
        parts = []
        for p in periods:
            rows = pdf[masks[p]].to_numpy(dtype=bool) if p in masks else slice(None)
            parts.append(
                pd.DataFrame(
                    {
                        "currency_pair_code": keys["currency_pair_code"][rows],
                        "timeframe_code": keys["timeframe_code"][rows],
                        "period": np.int32(p),
                        "calc_version": calc_version,
                        "time": keys["time"][rows],
                        "value": fn(closes[rows], p),
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    return _grouped(
        ohlc.select(*GROUP_KEYS, "time", "close", *masks.values()),
        compute,
        INDICATOR_OUT_SCHEMA,
    )


def ema_periods(
    ohlc: DataFrame, periods: Iterable[int], calc_version: str = "0"
) -> DataFrame:
    """Exponential moving average for every period in one grouped pass."""
    return _grouped_periods(ohlc, periods, calc_version, _ema_series)


def rsi_periods(
    ohlc: DataFrame, periods: Iterable[int], calc_version: str = "0"
) -> DataFrame:
    """Relative Strength Index for every period in one grouped pass."""
    return _grouped_periods(ohlc, periods, calc_version, _rsi_series)


def ema(ohlc: DataFrame, period: int, calc_version: str = "0") -> DataFrame:
    """Exponential moving average, TA-Lib seeding (recursive → grouped kernel)."""
    return ema_periods(ohlc, [period], calc_version)


def rsi(ohlc: DataFrame, period: int, calc_version: str = "0") -> DataFrame:
    """Relative Strength Index, Wilder smoothing (recursive → grouped kernel)."""
    return rsi_periods(ohlc, [period], calc_version)


def _per_series(
    ohlc: DataFrame, inputs: list[str], outputs: list[str], fn
) -> DataFrame:
    """One :func:`_grouped` pass that sorts each series by ``time`` once
    and runs ``fn`` over it: ``fn`` takes one float64 array
    per ``inputs`` column and returns one array per ``outputs`` column (a
    bare array for one output). Each output row carries the pair, timeframe
    and time of its input row; NaN leaves the kernel as NULL."""
    schema = ", ".join(
        [f"{k} string" for k in GROUP_KEYS]
        + ["time timestamp"]
        + [f"{c} double" for c in outputs]
    )

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")
        values = fn(*(pdf[c].to_numpy(dtype=np.float64) for c in inputs))
        if len(outputs) == 1:
            values = (values,)
        return pd.DataFrame(
            {
                **{c: pdf[c].to_numpy() for c in (*GROUP_KEYS, "time")},
                **dict(zip(outputs, values)),
            }
        )

    return _grouped(ohlc.select(*GROUP_KEYS, "time", *inputs), compute, schema)


def _macd_series(
    closes: np.ndarray, fast: int, slow: int, signal: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """MACD line, signal line, histogram — each EMA TA-Lib-seeded.

    The MACD line is defined where BOTH component EMAs are (index ≥ slow−1,
    since slow > fast); the signal line is an EMA over the *valid* MACD
    values, itself seeded with the SMA of the first ``signal`` of them, so it
    is defined from index slow+signal−2. Histogram = macd − signal.
    """
    n = len(closes)
    sig = np.full(n, np.nan)
    ef, es = _ema_series(closes, fast), _ema_series(closes, slow)
    macd = ef - es  # NaN wherever either side is NaN (index < slow−1)
    valid = macd[slow - 1 :]
    sig[slow - 1 :] = _ema_series(valid, signal)
    return macd, sig, macd - sig


def _atr_series(
    high: np.ndarray, low: np.ndarray, close: np.ndarray, period: int
) -> np.ndarray:
    """Average True Range, Wilder smoothing (TA-Lib semantics): true range
    uses the previous close from index 1 on; seed = mean of the first
    ``period`` true ranges (indices 1..period); output defined from index
    ``period``; recursion ``atr = (prev·(period−1) + tr)/period``."""
    n = len(close)
    out = np.full(n, np.nan)
    if n <= period:
        return out
    prev_close = close[:-1]
    tr = np.maximum(
        high[1:] - low[1:],
        np.maximum(np.abs(high[1:] - prev_close), np.abs(low[1:] - prev_close)),
    )
    atr = float(np.mean(tr[:period]))
    out[period] = atr
    for i in range(period + 1, n):
        atr = (atr * (period - 1) + tr[i - 1]) / period
        out[i] = atr
    return out


def _adx_series(
    high: np.ndarray, low: np.ndarray, close: np.ndarray, period: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Wilder DMI/ADX (TA-Lib semantics): directional movements and true
    range from index 1; sum-seeded Wilder smoothing ``s = s − s/period +
    x`` from index ``period``; ±DI = 100·sDM/sTR (0 on a zero sTR);
    DX = 100·|+DI − −DI|/(+DI + −DI) (0 on a zero sum); ADX seeds at
    index ``2·period − 1`` as the mean of the first ``period`` DX values
    and recurses ``(prev·(period−1) + dx)/period``. Returns (+DI, −DI,
    ADX) arrays; NaN before each stream's first defined index."""
    n = len(close)
    pdi = np.full(n, np.nan)
    mdi = np.full(n, np.nan)
    adx = np.full(n, np.nan)
    if n <= period:
        return pdi, mdi, adx
    up = high[1:] - high[:-1]
    dn = low[:-1] - low[1:]
    plus_dm = np.where((up > dn) & (up > 0), up, 0.0)
    minus_dm = np.where((dn > up) & (dn > 0), dn, 0.0)
    pc = close[:-1]
    tr = np.maximum(
        high[1:] - low[1:], np.maximum(np.abs(high[1:] - pc), np.abs(low[1:] - pc))
    )
    sp = float(np.sum(plus_dm[:period]))
    sm = float(np.sum(minus_dm[:period]))
    st = float(np.sum(tr[:period]))
    dx = np.full(n, np.nan)

    def di_dx(i: int) -> None:
        p = 100.0 * sp / st if st != 0 else 0.0
        m = 100.0 * sm / st if st != 0 else 0.0
        pdi[i] = p
        mdi[i] = m
        dx[i] = 100.0 * abs(p - m) / (p + m) if (p + m) != 0 else 0.0

    di_dx(period)
    for i in range(period + 1, n):
        sp = sp - sp / period + plus_dm[i - 1]
        sm = sm - sm / period + minus_dm[i - 1]
        st = st - st / period + tr[i - 1]
        di_dx(i)
    if n <= 2 * period - 1:
        return pdi, mdi, adx
    a = float(np.mean(dx[period : 2 * period]))
    adx[2 * period - 1] = a
    for i in range(2 * period, n):
        a = (a * (period - 1) + dx[i]) / period
        adx[i] = a
    return pdi, mdi, adx


def adx(ohlc: DataFrame, period: int = 14) -> DataFrame:
    """ADX(period) with ±DI per (pair, timeframe) — THREE
    coupled Wilder smoothings (+DM, −DM, TR) feeding a fourth (DX→ADX),
    the deepest member of the grouped Arrow-kernel recursion family
    (same shuffle shape as :func:`rsi`/:func:`atr`). The DuckDB twin
    replays the identical trajectory as chained recursive CTEs with the
    DX relation MATERIALIZED (the MACD lesson — the ADX recursion
    re-reads it every iteration)."""
    return _per_series(
        ohlc,
        ["high", "low", "close"],
        ["plus_di", "minus_di", "adx"],
        lambda h, lo, c: _adx_series(h, lo, c, period),
    )


def macd(
    ohlc: DataFrame, fast: int = 12, slow: int = 26, signal: int = 9
) -> DataFrame:
    """MACD(fast, slow, signal) per (pair, timeframe) — order-sensitive EMA
    recursions → one grouped kernel like :func:`ema`. Warm-up rows
    carry NaN (→ NULL across the Arrow boundary). Reference computes single
    EMAs driver-side (``src/etl/flows/transform_services.py:268-270``); MACD
    extends that family with the same seeding discipline."""
    return _per_series(
        ohlc,
        ["close"],
        ["macd", "macd_signal", "macd_hist"],
        lambda c: _macd_series(c, fast, slow, signal),
    )


def atr(ohlc: DataFrame, period: int = 14) -> DataFrame:
    """ATR(period), Wilder smoothing (recursive → one grouped kernel, the
    same shape as :func:`rsi` but over (high, low, close))."""
    return _per_series(
        ohlc,
        ["high", "low", "close"],
        ["value"],
        lambda h, lo, c: _atr_series(h, lo, c, period),
    )


def bollinger(ohlc: DataFrame, period: int = 20, num_std: float = 2.0) -> DataFrame:
    """Bollinger Bands as native frame windows (JVM-side, zero Python):
    mid = SMA(period), upper/lower = mid ± num_std·σ with POPULATION stddev
    (TA-Lib's choice). Warm-up rows (first period−1 per series) are NULL.
    Same single (pair, timeframe) shuffle as :func:`sma`.

    The warm-up gate is COUNT over the same rows frame as the aggregates,
    not row_number: count-over-frame equals row_number clamped at
    ``period`` (identical ``>= period`` decision), and sharing the frame
    lets WindowExec run one frame processor instead of adding an
    unbounded-preceding frame for the row number alone."""
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    frame = w.rowsBetween(-(period - 1), 0)
    warm = F.col("_n") >= period
    mid = F.avg("close").over(frame)
    sd = F.stddev_pop("close").over(frame)
    return (
        ohlc.withColumn("_n", F.count(F.lit(1)).over(frame))
        .select(
            *GROUP_KEYS,
            "time",
            F.when(warm, mid).alias("mid"),
            F.when(warm, mid + num_std * sd).alias("upper"),
            F.when(warm, mid - num_std * sd).alias("lower"),
        )
    )


def volatility(ohlc: DataFrame, period: int = 20) -> DataFrame:
    """Rolling volatility estimators as native frame windows (zero Python),
    the risk-measurement members of the indicator family:

    - ``realized_vol``: sample stddev of log close-to-close returns over
      the trailing ``period`` returns (the classic realized-volatility
      estimator);
    - ``parkinson_vol``: Parkinson (1980) high-low range estimator,
      ``sqrt(mean(ln(high/low)²) / (4·ln 2))`` over the same window —
      ~5× more statistically efficient per candle than close-to-close
      because it uses the intrabar range.

    Both defined from row ``period + 1`` per series (one row consumed by
    the first return); earlier rows NULL. Same single (pair, timeframe)
    shuffle as :func:`sma`; ln/stddev/avg all whole-stage codegen.
    """
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    frame = w.rowsBetween(-(period - 1), 0)
    rn = F.row_number().over(w)
    warm = F.col("_rn") >= period + 1
    lr = F.log(F.col("close") / F.lag("close").over(w))
    # constant embedded once via Python float so the oracle can inline the
    # exact same double (the bm25_sql constant-hygiene convention)
    parkinson_denom = 4 * _math.log(2)
    return (
        ohlc.withColumn("_rn", rn)
        .withColumn("_lr", lr)
        .withColumn("_hl2", F.pow(F.log(F.col("high") / F.col("low")), F.lit(2.0)))
        .select(
            *GROUP_KEYS,
            "time",
            F.when(warm, F.stddev_samp("_lr").over(frame)).alias("realized_vol"),
            F.when(
                warm,
                F.sqrt(F.avg("_hl2").over(frame) / F.lit(parkinson_denom)),
            ).alias("parkinson_vol"),
        )
    )


def stochastic(ohlc: DataFrame, k_period: int = 14, d_period: int = 3) -> DataFrame:
    """Fast stochastic oscillator as native frame windows (zero Python):
    %K = 100·(close − LL)/(HH − LL) over the trailing ``k_period`` rows
    (0 when the range is flat — TA-Lib's zero-denominator guard),
    %D = SMA(d_period) of %K. %K defined from row k_period, %D from row
    k_period+d_period−1; earlier rows are NULL. One shuffle on the group
    key; both window passes reuse the same ordering."""
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    k_frame = w.rowsBetween(-(k_period - 1), 0)
    d_frame = w.rowsBetween(-(d_period - 1), 0)
    rn = F.row_number().over(w)
    hh = F.max("high").over(k_frame)
    ll = F.min("low").over(k_frame)
    rng = hh - ll
    raw_k = F.when(rng == 0, F.lit(0.0)).otherwise(
        100.0 * (F.col("close") - ll) / rng
    )
    return (
        ohlc.withColumn("_rn", rn)
        .withColumn("pct_k", F.when(F.col("_rn") >= k_period, raw_k))
        .withColumn(
            "pct_d",
            F.when(
                F.col("_rn") >= k_period + d_period - 1, F.avg("pct_k").over(d_frame)
            ),
        )
        .select(*GROUP_KEYS, "time", "pct_k", "pct_d")
    )


HOLT_ALPHA, HOLT_BETA = 0.2, 0.1


def _holt_series(
    closes: np.ndarray, alpha: float = HOLT_ALPHA, beta: float = HOLT_BETA
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Holt's linear-trend double exponential smoothing (causal init:
    level_1 = y_1, trend_1 = 0 — no lookahead): one-step-ahead forecast
    f_t = l_{t-1} + b_{t-1}; l_t = α·y_t + (1−α)(l_{t-1}+b_{t-1});
    b_t = β(l_t − l_{t-1}) + (1−β)·b_{t-1}. forecast[0] is NaN. The
    arithmetic uses PRECOMPUTED (1−α)/(1−β) constants and the exact
    association order the recursive-CTE oracle replays, so both engines
    walk bit-identical double trajectories."""
    n = len(closes)
    f = np.full(n, np.nan)
    ls = np.full(n, np.nan)
    bs = np.full(n, np.nan)
    if n == 0:
        return f, ls, bs
    oma, omb = 1.0 - alpha, 1.0 - beta
    level, trend = float(closes[0]), 0.0
    ls[0], bs[0] = level, trend
    for i in range(1, n):
        f[i] = level + trend
        new_level = alpha * float(closes[i]) + oma * (level + trend)
        trend = beta * (new_level - level) + omb * trend
        level = new_level
        ls[i], bs[i] = level, trend
    return f, ls, bs


def holt_forecast(
    ohlc: DataFrame, alpha: float = HOLT_ALPHA, beta: float = HOLT_BETA
) -> DataFrame:
    """Holt linear-trend forecast per (pair, timeframe) — the forecasting
    member of the recursive-indicator family (same grouped Arrow kernel
    shape as EMA/RSI/MACD; reference computes single EMAs driver-side,
    ``src/etl/flows/transform_services.py:268-270``). Emits the one-step-
    ahead forecast alongside the smoothed level and trend states; the
    first row of each group carries a NULL forecast (nothing to predict
    it from)."""
    return _per_series(
        ohlc,
        ["close"],
        ["forecast", "level", "trend"],
        lambda c: _holt_series(c, alpha, beta),
    )


def donchian(ohlc: DataFrame, period: int = 20) -> DataFrame:
    """Donchian channels as native frame windows (zero Python): upper =
    highest high, lower = lowest low over the trailing ``period`` rows,
    mid = their mean — the breakout-channel indicator. All three NULL
    until a full window is available (the same count-over-frame warm-up
    gate as :func:`bollinger`); one (pair, timeframe) shuffle."""
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    frame = w.rowsBetween(-(period - 1), 0)
    warm = F.col("_n") >= period
    hi = F.max("high").over(frame)
    lo = F.min("low").over(frame)
    return (
        ohlc.withColumn("_n", F.count(F.lit(1)).over(frame))
        .select(
            *GROUP_KEYS,
            "time",
            F.when(warm, hi).alias("upper"),
            F.when(warm, lo).alias("lower"),
            F.when(warm, (hi + lo) / 2).alias("mid"),
        )
    )


def williams_r(ohlc: DataFrame, period: int = 14) -> DataFrame:
    """Williams %R as native frame windows (zero Python):
    %R = −100·(HH − close)/(HH − LL) over the trailing ``period`` rows —
    the inverted-scale cousin of the fast stochastic (%R = %K − 100).
    NULL until a full window exists; a zero-range window (HH = LL) maps
    to 0.0, mirroring :func:`stochastic`'s convention in both engines.
    One (pair, timeframe) shuffle shared with the rest of the family."""
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    frame = w.rowsBetween(-(period - 1), 0)
    hh = F.max("high").over(frame)
    ll = F.min("low").over(frame)
    val = F.when(hh - ll == 0, F.lit(0.0)).otherwise(
        -100.0 * (hh - F.col("close")) / (hh - ll)
    )
    return ohlc.select(
        *GROUP_KEYS,
        "time",
        F.when(F.count(F.lit(1)).over(frame) >= period, val).alias("pct_r"),
    )


def cci(ohlc: DataFrame, period: int = 20) -> DataFrame:
    """Commodity Channel Index (Lambert) as native windows + one JVM
    higher-order fold (zero Python):

        tp  = (high + low + close) / 3
        cci = (tp − SMA(tp)) / (0.015 · MD)

    where MD is the mean ABSOLUTE deviation of the frame's tp values
    around the CURRENT row's SMA — not expressible as a plain window
    aggregate (the deviation anchor changes per row), so the frame is
    gathered with ``collect_list`` over the ordered window and folded
    with ``F.aggregate`` (codegen lambda, no Python). Frame lists are
    ``period``-sized — memory is bounded by the frame, not the
    partition. NULL until warm; a zero-MD frame (all tp equal) is NULL
    (the index is undefined, not infinite) in both engines."""
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    frame = w.rowsBetween(-(period - 1), 0)
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3
    base = ohlc.select(
        *GROUP_KEYS,
        "time",
        tp.alias("_tp"),
        F.count(F.lit(1)).over(frame).alias("_n"),
    ).select(
        *GROUP_KEYS,
        "time",
        "_tp",
        "_n",
        F.avg("_tp").over(frame).alias("_sma"),
        F.collect_list("_tp").over(frame).alias("_frame"),
    )
    md = F.aggregate(
        "_frame",
        F.lit(0.0),
        lambda acc, x: acc + F.abs(x - F.col("_sma")),
    ) / F.lit(float(period))
    return base.select(
        *GROUP_KEYS,
        "time",
        F.when(
            (F.col("_n") >= period) & (md != 0),
            (F.col("_tp") - F.col("_sma")) / (0.015 * md),
        ).alias("cci"),
    )


ICHIMOKU_TENKAN = 9
ICHIMOKU_KIJUN = 26
ICHIMOKU_SENKOU_B = 52


def ichimoku(
    ohlc: DataFrame,
    tenkan: int = ICHIMOKU_TENKAN,
    kijun: int = ICHIMOKU_KIJUN,
    senkou_b: int = ICHIMOKU_SENKOU_B,
) -> DataFrame:
    """Ichimoku Kinko Hyo as native windows + row offsets (zero Python).
    Midpoint lines over trailing highs/lows:

    - ``tenkan_sen``  = (HH(tenkan) + LL(tenkan)) / 2
    - ``kijun_sen``   = (HH(kijun) + LL(kijun)) / 2
    - ``senkou_a``    = lag((tenkan_sen + kijun_sen)/2, kijun) — the cloud
      edge PLOTTED kijun periods ahead, expressed as data at row t from
      inputs at t−kijun (no future leak);
    - ``senkou_b_ln`` = lag((HH(senkou_b) + LL(senkou_b))/2, kijun)
    - ``chikou``      = lead(close, kijun) — the lagging span (close
      plotted kijun periods BACK, so at row t it is the future close;
      NULL for the last kijun rows).

    Every component is NULL until its full input window exists (the
    count-over-frame warm-up contract). All expressions share ONE
    (pair, timeframe) shuffle and stay in whole-stage codegen.
    """
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")

    def mid(p: int) -> Column:
        fr = w.rowsBetween(-(p - 1), 0)
        return F.when(
            F.count(F.lit(1)).over(fr) >= p,
            (F.max("high").over(fr) + F.min("low").over(fr)) / 2,
        )

    tk, kj = mid(tenkan), mid(kijun)
    return ohlc.select(
        *GROUP_KEYS,
        "time",
        tk.alias("tenkan_sen"),
        kj.alias("kijun_sen"),
        F.lag((tk + kj) / 2, kijun).over(w).alias("senkou_a"),
        F.lag(mid(senkou_b), kijun).over(w).alias("senkou_b_ln"),
        F.lead("close", kijun).over(w).alias("chikou"),
    )


def keltner(
    ohlc: DataFrame,
    ema_period: int = 20,
    atr_period: int = 10,
    mult: float = 2.0,
) -> DataFrame:
    """Keltner Channels: mid = EMA(close, ema_period), bands =
    mid ± mult·ATR(atr_period) — the volatility-channel sibling of
    Bollinger that swaps the stddev band for Wilder's ATR. Both inputs are
    order-sensitive recursions, so the ONE grouped Arrow kernel computes
    them in a single pass per (pair, timeframe) series — the same single
    group-key shuffle as :func:`ema`/:func:`atr`, not two. Rows are NaN
    (→ NULL) until BOTH recursions are seeded. Reference computes single
    EMAs driver-side (src/etl/flows/transform_services.py:268-270); the
    channel composition follows the published Keltner/Chester formulation."""

    def fn(high, low, close):
        e = _ema_series(close, ema_period)
        a = _atr_series(high, low, close, atr_period)
        return e, e + mult * a, e - mult * a

    return _per_series(
        ohlc, ["high", "low", "close"], ["mid", "upper", "lower"], fn
    )


def _trix_series(closes: np.ndarray, period: int) -> np.ndarray:
    """TRIX: 1-period rate of change of a triple-smoothed EMA. Each EMA
    stage seeds from the first ``period`` valid values of its input (the
    TA-Lib cascade — stage k's output starts at index k·(period−1)), so
    the first defined TRIX value is at index 3·(period−1)+1."""
    n = len(closes)
    e1 = _ema_series(closes, period)
    e2 = np.full(n, np.nan)
    e2[period - 1 :] = _ema_series(e1[period - 1 :], period)
    e3 = np.full(n, np.nan)
    e3[2 * (period - 1) :] = _ema_series(e2[2 * (period - 1) :], period)
    out = np.full(n, np.nan)
    with np.errstate(invalid="ignore", divide="ignore"):
        out[1:] = 100.0 * (e3[1:] - e3[:-1]) / e3[:-1]
    return out


def trix(ohlc: DataFrame, period: int = 15) -> DataFrame:
    """TRIX(period): 100·ROC₁ of a TRIPLE EMA of close — the
    momentum oscillator whose triple smoothing filters sub-period noise.
    Three chained order-sensitive recursions → one grouped Arrow kernel,
    single (pair, timeframe) shuffle like :func:`macd` (which chains two).
    NaN (→ NULL) until the third cascade stage and its 1-row lag exist."""
    return _per_series(
        ohlc, ["close"], ["value"], lambda c: _trix_series(c, period)
    )


def obv(candles: DataFrame, volume_col: str = "volume") -> DataFrame:
    """On-Balance Volume as a native cumulative window (zero
    Python): OBV = running Σ of volume signed by the close-to-close
    direction (+vol on up-close, −vol on down, 0 on flat; the first row
    contributes 0 — Granville's convention). One (pair, timeframe)
    shuffle; sign + running sum are whole-stage codegen. ``volume_col``
    is the caller's volume proxy (tick count for FX candles — the
    reference feed carries no traded volume, src/gmo/ws-connection.py)."""
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    d = F.col("close") - F.lag("close").over(w)
    signed = (
        F.when(d > 0, F.col(volume_col))
        .when(d < 0, -F.col(volume_col))
        .otherwise(F.lit(0).cast("long"))
    )
    return (
        candles.withColumn("_sv", F.coalesce(signed, F.lit(0).cast("long")))
        .withColumn("obv", F.sum("_sv").over(run))
        .drop("_sv")
    )


def vwap_anchored(
    candles: DataFrame, volume_col: str = "volume", round_dp: int | None = None
) -> DataFrame:
    """Session-anchored VWAP as native cumulative windows (zero Python):
    within each (pair, timeframe, UTC day) the running
    Σ(typical·vol)/Σ(vol), typical = (high+low+close)/3 — the intraday
    fair-value anchor that resets at the session boundary, the standard
    execution-quality benchmark. Two running sums share ONE (pair,
    timeframe, day) window; partitioning by day also bounds any series'
    window state at 100 TB (no unbounded-preceding over years of
    history — the anchor IS the partition key).

    Reduction-order independence: the running numerator accumulates in INTEGER
    fixed-point — per-row typical·vol is quantized to 1e-6 units
    (floor(x·1e6 + 0.5), one deterministic per-row double expression,
    bit-identical on any IEEE engine given the same parenthesization) and
    summed as BIGINT, so the cumulative sum is exact and identical under
    ANY reduction order — sequential running frames (Spark) and
    pairwise/segment-tree window reductions (DuckDB) agree bit-for-bit,
    so ulp-level drift cannot flip a 6dp round-half tie. The denominator
    (volume) is already integral.
    Overflow headroom: per-row tpv·1e6 at price 1e5 × hourly volume 1e6 is
    ~1e17 and a day partition holds ≤24 rows → worst-case day sum ~2.4e18
    < int64 max 9.2e18 (the ``round_dp`` path doubles it: 4.8e18, still
    inside). The division back to double happens once per row on exact
    integers — deterministic.

    ``round_dp=6``: engines disagree on ROUNDING the identical raw double too — Spark's F.round
    half-ups the double's SHORTEST decimal repr (BigDecimal.valueOf:
    "32.5666665" → .566667) while DuckDB rounds the scaled double's exact
    binary expansion (32.56666649999…966 → .566666). So the 6dp rounding
    itself is done in exact integer arithmetic: with the numerator in
    1e-6 units, round_half_up(sfp/(1e-6·sv)·1e6)/1e6 = ((2·sfp + sv) div
    (2·sv))/1e6 — the exact half-up rounding of the TRUE RATIONAL value,
    engine-independent by construction (all positive, so trunc-div ==
    floor-div). Only dp=6 is supported — it is the repo-wide oracle
    precision and matches the 1e6 fixed-point scale exactly."""
    w = (
        Window.partitionBy(*GROUP_KEYS, "anchor_date")
        .orderBy("time")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3.0
    tpv_fp = F.floor(tp * F.col(volume_col) * 1000000.0 + 0.5)
    out = (
        candles.withColumn("anchor_date", F.to_date("time"))
        .withColumn("_tpv_fp", tpv_fp)
        .withColumn("_sfp", F.sum("_tpv_fp").over(w))
        .withColumn("_sv", F.sum(volume_col).over(w))
    )
    if round_dp is None:
        vwap = (F.col("_sfp") / 1000000.0) / F.col("_sv")
    elif round_dp == 6:
        vwap = F.expr("(2 * _sfp + _sv) div (2 * _sv)") / 1000000.0
    else:
        raise ValueError("vwap_anchored: only round_dp=6 is supported")
    return out.withColumn("vwap", vwap).drop("_tpv_fp", "_sfp", "_sv")


def candle_patterns(ohlc: DataFrame) -> DataFrame:
    """Single/two-candle pattern flags as pure codegen
    comparisons + one LAG (zero Python):

    - ``doji``: body ≤ 10% of the high-low range (open ≈ close);
    - ``hammer``: lower shadow ≥ 2·body, upper shadow ≤ body, in the
      candlestick convention body = |close−open|;
    - ``bull_engulf`` / ``bear_engulf``: this candle's body strictly
      contains the previous candle's body, with opposite direction.

    Zero-range candles (high = low) are not doji/hammer (no range to
    classify against). One (pair, timeframe) shuffle for the LAG; every
    predicate is whole-stage codegen — pattern mining at scan speed."""
    w = Window.partitionBy(*GROUP_KEYS).orderBy("time")
    body = F.abs(F.col("close") - F.col("open"))
    rng = F.col("high") - F.col("low")
    upper_shadow = F.col("high") - F.greatest("open", "close")
    lower_shadow = F.least("open", "close") - F.col("low")
    po, pc = F.lag("open").over(w), F.lag("close").over(w)
    return ohlc.select(
        *GROUP_KEYS,
        "time",
        ((rng > 0) & (body <= 0.1 * rng)).alias("doji"),
        (
            (rng > 0) & (lower_shadow >= 2 * body) & (upper_shadow <= body)
        ).alias("hammer"),
        (
            po.isNotNull()
            & (pc < po)  # previous bearish
            & (F.col("close") > F.col("open"))  # current bullish
            & (F.col("open") < pc)
            & (F.col("close") > po)
        ).alias("bull_engulf"),
        (
            po.isNotNull()
            & (pc > po)
            & (F.col("close") < F.col("open"))
            & (F.col("open") > pc)
            & (F.col("close") < po)
        ).alias("bear_engulf"),
    )
