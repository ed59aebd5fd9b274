"""Trading-engine query surface: one (queries, oracle) pair per operator from
SURVEY.md §2, run against the shared parquet corpus.

Conventions shared with the DuckDB oracles:
- all float aggregates that involve arithmetic (averages, EMA/RSI values,
  PnL sums) are rounded to 6 decimals on BOTH sides so summation-order
  differences between engines cannot flip the value hash;
- indicator warm-up (NaN) rows are excluded from query outputs (NaN vs NULL
  cannot hash-compare) — warm-up semantics are unit-tested in pytest instead;
- every computed column is aliased identically on both sides.

The indicator queries apply the first two rules through :func:`_round6`.
"""

from __future__ import annotations

import math as _math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .. import cache
from ..cache import materialize
from ..io import first_wins
from ..operators import indicators, ohlc, signals
from ..operators.asof import asof_join_backward_bucketed, asof_join_forward_bucketed
from ..operators.rangejoin import interval_join
from ..operators.backtest import backtest_pnl, backtest_trades, equity_curve
from ..sources import dims, ticks

CURSOR = "2024-01-15 00:00:00"  # literal incremental-scan cursor (S11)
LOOKBACK = "2024-01-14 20:00:00"  # W2 recompute-window start (cursor − lookback)


# --- Spark-side builders -----------------------------------------------------


def _round6(out: DataFrame, warm: str | None, **renamed: str) -> DataFrame:
    """The indicator queries' output convention: keep the rows where
    ``warm`` is not NULL (all rows for ``None``), round every double column
    to 6dp and rename columns per ``renamed``."""
    if warm is not None:
        out = out.filter(F.col(warm).isNotNull())
    return out.select(
        *(
            F.round(f.name, 6).alias(renamed.get(f.name, f.name))
            if isinstance(f.dataType, DoubleType)
            else F.col(f.name).alias(renamed[f.name])
            if f.name in renamed
            else f.name
            for f in out.schema.fields
        )
    )


# Session relations read by the consumer queries below, one cache kind each;
# the in-session analog of the reference's materialized tables
# (transform.py flow ordering: ticks → OHLC → fact_sma → signal events).
CANDLE_KINDS = ("chain", "ticks", "ohlc_1h", "ohlc_1h_vol", "sma", "events_1h")


def clear_candle_caches(spark: SparkSession | None = None) -> int:
    """Unpersist and drop every cached candle relation (only ``spark``'s
    when given). Returns the number of entries evicted."""
    return cache.clear(spark, *CANDLE_KINDS)


def candle_chain(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(1m, derived) candles via the single-shuffle chain (ohlc.py): dedup,
    base agg, and derived agg share one (pair, 4h-bucket) partitioning.

    Public API: the SQL catalog (catalog.register_views) builds its ohlc_1m /
    ohlc_all_tf views from this, and every in-module consumer query reads
    through it so the chain runs once per (app, sf_dir, timeframe set): the
    configured timeframe rows are part of the key, so a timeframe config
    change within a session builds a new chain.
    """
    # ONE config read feeds the key, the dim relation and the driver-local
    # duration list: the durations MUST come from the same config as the
    # timeframes or the LCM buckets on the wrong grid
    cfg = dims.EngineConfig.from_env()

    def build():
        base, derived = ohlc.ohlc_chain_single_shuffle(
            ticks.raw_ticks(spark, sf_dir),
            dims.dim_timeframe(spark, cfg),
            # driver-local: skips a per-build collect of the 6-row dim
            durations=dims.timeframe_durations(cfg),
        )
        # The chain pair stays a plain .cache(): one consumer action
        # materializes base AND derived in a single fused job (derived's
        # plan reads base's InMemoryRelation), which an eager checkpoint
        # pair would split into two jobs + a double store — measured
        # +1.3 s on the candle_chain_cold build at sf0.1. The deep
        # consumer stacks are truncated one level down instead
        # (_ohlc_1h/_fact_sma/_buysell_events go through materialize),
        # so chain consumers' plans stay shallow anyway.
        return base.cache(), derived.cache()

    return cache.cached(
        spark, "chain", build, sf_dir, tuple(dims.timeframe_rows(cfg))
    )


def _ohlc_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return candle_chain(spark, sf_dir)[0]


def _ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cache.cached(
        spark, "ticks", lambda: materialize(ticks.load_ticks(spark, sf_dir)), sf_dir
    )


def _ohlc_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        tf_1h = dims.dim_timeframe(spark).filter(F.col("timeframe_code") == "1h")
        return materialize(ohlc.ohlc_derived(_ohlc_1m(spark, sf_dir), tf_1h))

    return cache.cached(spark, "ohlc_1h", build, sf_dir)


def _ohlc_1h_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly candles WITH a volume column (tick count — the FX feed
    carries no traded volume), aggregated straight off the cached deduped
    ticks: the volume-weighted indicator family (OBV, VWAP) needs volume,
    which the shared volume-less candle chain deliberately drops. One
    (pair, hour) hash-agg with map-side partials."""

    def build():
        return materialize(
            _ticks(spark, sf_dir)
            .groupBy(
                "currency_pair_code",
                F.date_trunc("hour", "time").alias("time"),
            )
            .agg(
                F.min_by("bid", "time").alias("open"),
                F.max("bid").alias("high"),
                F.min("bid").alias("low"),
                F.max_by("bid", "time").alias("close"),
                F.count(F.lit(1)).alias("volume"),
            )
            .withColumn("timeframe_code", F.lit("1h"))
        )

    return cache.cached(spark, "ohlc_1h_vol", build, sf_dir)


def _fact_sma_1h(spark: SparkSession, sf_dir: str, periods: list[int]) -> DataFrame:
    """SMA facts on 1h candles, values rounded to 6dp so the cross predicate
    decides identically in both engines."""

    def build():
        candles = _ohlc_1h(spark, sf_dir)
        parts = [_round6(indicators.sma(candles, p), None) for p in periods]
        return materialize(reduce(DataFrame.unionByName, parts))

    return cache.cached(spark, "sma", build, sf_dir, tuple(periods))


def _buysell_events_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The events are read TWICE per as-of plan (the probe union side and
    # the 1-row min/max bounds aggregate); materialized, the bounds pass is
    # a sub-ms scan instead of a re-derivation of the signal window chain.
    return cache.cached(
        spark,
        "events_1h",
        lambda: materialize(
            signals.buysell_events(_fact_sma_1h(spark, sf_dir, [14, 28]), 14, 28)
        ),
        sf_dir,
    )


def materialize_trading_relations(spark: SparkSession, sf_dir: str) -> None:
    """Build every session-materialized trading relation, overlapping the
    two INDEPENDENT build chains (guide §2.6: submit independent jobs from
    a small thread pool so the second chain's tasks back-fill executors
    freed by the first chain's stragglers):

    - deduped ticks (raw scan → 1-second dedup agg);
    - signal events (warm chain → 1h candles → SMA facts → buy/sell events).

    Both roots share only the already-warm chain/parquet footers; their
    jobs touch disjoint caches. Eager materialization (``materialize``)
    computes every row, so no separate action is needed. Used by the
    bench's candle_cache_cold line and by any session warm-up; measured at
    sf0.1 the overlap takes the cold build from ~2.9 s (serial) to the
    longer chain alone (~2 s)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        ev = pool.submit(_buysell_events_1h, spark, sf_dir)
        tk = pool.submit(_ticks, spark, sf_dir)
        ev.result()
        tk.result()


def q_ticks_parse_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+P6-P9: parsed/validated ticks with mid price, pre-dedup."""
    return ticks.raw_ticks(spark, sf_dir).select(
        "currency_pair_code",
        "time",
        "bid",
        "ask",
        ((F.col("bid") + F.col("ask")) / 2).alias("mid"),
    )


def q_ticks_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: 1-second dedup, first tick wins."""
    return _ticks(spark, sf_dir)


def q_ohlc_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: base 1-minute OHLC (the flagship query)."""
    return _ohlc_1m(spark, sf_dir)


def q_ohlc_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: all derived timeframes (5m..4h) in one pass, single-shuffle chain."""
    return candle_chain(spark, sf_dir)[1]


def q_latest_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/O2: top-1 by time desc per pair (relay bootstrap lookup) —
    max_by hash-agg (partial-aggregable) instead of a row_number window."""
    latest = F.max_by(F.struct("time", "bid", "ask"), "time").alias("r")
    return (
        _ticks(spark, sf_dir)
        .groupBy("currency_pair_code")
        .agg(latest)
        .select("currency_pair_code", F.col("r.time"), F.col("r.bid"), F.col("r.ask"))
    )


def q_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/P3: poll-based CDC — ticks strictly after the cursor."""
    return _ticks(spark, sf_dir).filter(F.col("time") > F.lit(CURSOR))


def q_watermark_max_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-group MAX(time) incremental-recompute cursor."""
    return (
        _ohlc_1m(spark, sf_dir)
        .groupBy("currency_pair_code", "timeframe_code")
        .agg(F.max("time").alias("max_time"))
    )


def q_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: broadcast dim join — candle counts enriched with dim attributes."""
    d = dims.dim_currency(spark)
    return (
        _ohlc_1m(spark, sf_dir)
        .join(F.broadcast(d), "currency_pair_code", "inner")
        .groupBy("currency_pair_code", "base_currency", "quote_currency")
        .agg(F.count("*").alias("n_candles"))
    )


def q_sma_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full indicator workload shape — every timeframe ×
    every period (14/28/56) — as ONE set-based pass over the unified candle
    relation (the loop elimination of SURVEY §7.1; reference loops in
    transform.py:85-119). Warm-up rows excluded."""
    base, derived = candle_chain(spark, sf_dir)
    candles = base.unionByName(derived)
    parts = [_round6(indicators.sma(candles, p), "value") for p in (14, 28, 56)]
    return reduce(DataFrame.unionByName, parts)


def q_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA(14) on 1h candles, warm-up rows excluded."""
    return _round6(indicators.sma(_ohlc_1h(spark, sf_dir), 14), "value")


def q_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA(14) on 1h candles via grouped pandas UDF (TA-Lib seeding)."""
    return _round6(indicators.ema(_ohlc_1h(spark, sf_dir), 14), "value")


def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI(14), Wilder smoothing, via grouped pandas UDF."""
    return _round6(indicators.rsi(_ohlc_1h(spark, sf_dir), 14), "value")


def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) on 1h candles — three coupled EMA recursions in one
    grouped pandas kernel (extends the reference's single-EMA
    family, transform_services.py:268-270). Rows where all three outputs
    are defined (signal warm-up complete)."""
    return _round6(indicators.macd(_ohlc_1h(spark, sf_dir), 12, 26, 9), "macd_signal")


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend one-step-ahead forecast on 1h closes:
    coupled level+trend exponential recursion in the grouped Arrow kernel
    shape of EMA/RSI/MACD — the forecasting member of the indicator
    family. Causal init (trend_1 = 0, no lookahead); first row of each
    pair has nothing to predict from and is excluded; outputs round to
    6dp against a recursive-CTE oracle replaying the identical
    double-precision trajectory."""
    return _round6(indicators.holt_forecast(_ohlc_1h(spark, sf_dir)), "forecast")


def q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATR(14) on 1h candles, Wilder smoothing over true range."""
    return _round6(indicators.atr(_ohlc_1h(spark, sf_dir), 14), "value")


def q_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADX(14) + ±DI on 1h candles — the four-recursion Wilder kernel.
    Rows kept from the first defined ADX (±DI are defined there too)."""
    return _round6(indicators.adx(_ohlc_1h(spark, sf_dir), 14), "adx")


def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger(20, 2σ_pop) bands on 1h candles — pure native windows,
    zero Python. Warm-up rows excluded."""
    out = indicators.bollinger(_ohlc_1h(spark, sf_dir), 20, 2.0)
    return _round6(out, "mid", upper="upper_band", lower="lower_band")


def q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian(20) channels on 1h candles — native min/max windows, zero
    Python. Warm-up rows excluded."""
    out = indicators.donchian(_ohlc_1h(spark, sf_dir), 20)
    return _round6(
        out, "mid", upper="upper_channel", lower="lower_channel", mid="mid_channel"
    )


def q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku(9, 26, 52) on 1h candles — midpoint windows + row offsets,
    zero Python. ALL rows kept: each component is NULL exactly
    until its input window exists (senkou lines additionally lag 26), and
    the oracle reproduces the same NULL pattern natively — nothing to
    filter (the NaN→NULL exclusion convention applies only to pandas-UDF
    outputs)."""
    return _round6(indicators.ichimoku(_ohlc_1h(spark, sf_dir)), None)


def q_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R(14) on 1h candles — native min/max windows, zero
    Python. Warm-up rows excluded."""
    return _round6(indicators.williams_r(_ohlc_1h(spark, sf_dir), 14), "pct_r")


def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCI(20) on 1h candles — native windows + a codegen list fold for the
    per-row-anchored mean deviation, zero Python. Warm-up and
    zero-deviation rows excluded (NULL in both engines)."""
    return _round6(indicators.cci(_ohlc_1h(spark, sf_dir), 20), "cci")


def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast stochastic %K(14)/%D(3) on 1h candles — native min/max/avg
    windows, zero Python. Rows with both outputs defined."""
    return _round6(indicators.stochastic(_ohlc_1h(spark, sf_dir), 14, 3), "pct_d")


def q_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling volatility pair on 1h candles: realized
    (stddev_samp of 20 log returns) + Parkinson high-low range estimator —
    pure native windows, zero Python (operators/indicators.volatility).
    Warm-up rows excluded."""
    out = indicators.volatility(_ohlc_1h(spark, sf_dir), 20)
    return _round6(out, "realized_vol")


def q_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner Channels EMA(20) ± 2·ATR(10) on 1h candles — the two Wilder
    recursions composed in ONE grouped Arrow kernel pass. Rows
    where the slower recursion (EMA 20) is seeded; both engines define the
    channel on the same rows."""
    out = indicators.keltner(_ohlc_1h(spark, sf_dir), 20, 10, 2.0)
    return _round6(
        out, "mid", mid="mid_line", upper="upper_channel", lower="lower_channel"
    )


def q_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX(15) on 1h candles — triple-EMA cascade + 1-row ROC in one
    grouped Arrow kernel. Warm-up rows excluded."""
    return _round6(indicators.trix(_ohlc_1h(spark, sf_dir), 15), "value")


def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-Balance Volume on hourly tick-count candles — native signed
    cumulative window, zero Python. OBV is integer-exact (a
    sum of signed tick counts), so no rounding is needed anywhere."""
    out = indicators.obv(_ohlc_1h_vol(spark, sf_dir), volume_col="volume")
    return out.select(
        "currency_pair_code", "timeframe_code", "time", "volume", "obv"
    )


def q_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-anchored VWAP over hourly tick-count candles — two running sums
    on one (pair, day) window, zero Python. Integer fixed-point
    accumulation AND exact integer 6dp rounding inside the
    operator (round_dp=6) — reduction-order- and engine-independent; no
    F.round here (divergence classes 4+5, see vwap_anchored)."""
    out = indicators.vwap_anchored(
        _ohlc_1h_vol(spark, sf_dir), volume_col="volume", round_dp=6
    )
    return out.select(
        "currency_pair_code",
        "timeframe_code",
        F.col("anchor_date").cast("string").alias("anchor_date"),
        "time",
        "vwap",
    )


def q_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern mining on 1h candles: doji / hammer /
    engulfing flags from pure codegen comparisons + one LAG; only candles
    matching at least one pattern surface (the mining result, not the
    full per-candle flag matrix)."""
    out = indicators.candle_patterns(_ohlc_1h(spark, sf_dir))
    return out.filter(
        F.col("doji") | F.col("hammer") | F.col("bull_engulf") | F.col("bear_engulf")
    )


def q_golden_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+W0+P5: SMA(14/28) golden-cross BUY events on 1h candles."""
    return signals.golden_cross(_fact_sma_1h(spark, sf_dir, [14, 28]), 14, 28)


def q_dead_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELL events where SMA(14) crosses below SMA(28)."""
    return signals.dead_cross(_fact_sma_1h(spark, sf_dir, [14, 28]), 14, 28)


def q_event_reaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: for each signal event, the tick activity in the 5
    minutes that follow (bucketized range join — equi-join, no cross
    product), aggregated per event."""
    events = _buysell_events_1h(spark, sf_dir).select(
        "event_datetime", "currency_pair_code", "event_type"
    )
    quotes = _ticks(spark, sf_dir).select(
        "currency_pair_code", "time", "bid"
    )
    j = interval_join(
        events, quotes,
        left_on="event_datetime", right_on="time",
        by=["currency_pair_code"], lower_seconds=0, upper_seconds=300,
    )
    return j.groupBy("event_datetime", "currency_pair_code", "event_type").agg(
        F.count("*").alias("n_ticks"), F.round(F.avg("bid"), 6).alias("avg_bid")
    )


def q_candle_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP rollup over the full candle relation: counts and price extremes
    at (pair, timeframe), (pair), and grand-total levels in one pass
    (grouping sets — absent from the reference, §2.3)."""
    base, derived = candle_chain(spark, sf_dir)
    candles = base.unionByName(derived)
    return (
        candles.rollup("currency_pair_code", "timeframe_code")
        .agg(
            F.count("*").alias("n_candles"),
            F.round(F.max("high"), 6).alias("max_high"),
            F.round(F.min("low"), 6).alias("min_low"),
        )
        .select(
            F.coalesce("currency_pair_code", F.lit("ALL")).alias("currency_pair_code"),
            F.coalesce("timeframe_code", F.lit("ALL")).alias("timeframe_code"),
            "n_candles",
            "max_high",
            "min_low",
        )
    )


def q_candle_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the candle relation — all four grouping-set combinations
    (pair×tf, pair, tf, grand total) in one hash-agg pass; completes the
    grouping-sets family next to ``q_candle_rollup``."""
    base, derived = candle_chain(spark, sf_dir)
    # exact-integer 6dp rounding of the average (classes 4+5 — the same
    # sf0.001-caught half-tie as q_close_pivot; see its docstring)
    candles = base.unionByName(derived).withColumn(
        "_cfp", F.floor(F.col("close") * 100.0 + 0.5)
    )
    avg6 = F.expr(
        "((20000 * sum(_cfp) + count(_cfp)) div (2 * nullif(count(_cfp), 0)))"
        " / CAST(1000000.0 AS DOUBLE)"
    )
    return (
        candles.cube("currency_pair_code", "timeframe_code")
        .agg(
            F.count("*").alias("n_candles"),
            avg6.alias("avg_close"),
        )
        .select(
            F.coalesce("currency_pair_code", F.lit("ALL")).alias("currency_pair_code"),
            F.coalesce("timeframe_code", F.lit("ALL")).alias("timeframe_code"),
            "n_candles",
            "avg_close",
        )
    )


def q_candle_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly candles: generate the full per-pair hourly time
    spine (``sequence`` + explode — set-based, no driver loop), left-join
    the real candles, and carry the previous close into missing buckets as
    a flat candle (open=high=low=close=prev close, is_gap=true) — the
    resample/pad step every charting/backtest consumer needs.

    The carry-forward is the bucketed as-of join reused with the spine as
    the probe side, so the fill parallelizes on (pair, day-bucket) — the
    same low-key-cardinality fix as event_asof_tick, not a 6-partition
    window over the whole spine."""
    candles = _ohlc_1h(spark, sf_dir).select(
        "currency_pair_code", "time", "open", "high", "low", "close"
    )
    spans = candles.groupBy("currency_pair_code").agg(
        F.min("time").alias("lo"), F.max("time").alias("hi")
    )
    spine = spans.select(
        "currency_pair_code",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("time"),
    )
    filled = asof_join_backward_bucketed(
        spine,
        candles.select(
            "currency_pair_code", "time", F.col("close").alias("fill_close")
        ),
        on="time",
        by=["currency_pair_code"],
        value_cols=["fill_close"],
        bucket_seconds=86400,
    )
    return (
        filled.join(candles, ["currency_pair_code", "time"], "left")
        .select(
            "currency_pair_code",
            "time",
            F.coalesce("open", "fill_close").alias("open"),
            F.coalesce("high", "fill_close").alias("high"),
            F.coalesce("low", "fill_close").alias("low"),
            F.coalesce("close", "fill_close").alias("close"),
            F.col("close").isNull().alias("is_gap"),
        )
    )


def q_candle_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window family the reference lacks (§2.5 'absent'): lead for
    next-hour return, a 6-hour RANGE frame for rolling volatility, and ntile
    quartiles of returns — all on the cached 1h candle relation, one
    window-sort shuffle per distinct (partition, order) spec."""
    candles = _ohlc_1h(spark, sf_dir)
    w = Window.partitionBy("currency_pair_code").orderBy("time")
    wr = (
        Window.partitionBy("currency_pair_code")
        .orderBy(F.col("time").cast("long"))
        .rangeBetween(-6 * 3600, Window.currentRow)
    )
    df = (
        candles.select("currency_pair_code", "time", "close")
        .withColumn(
            "next_ret_pct",
            F.round(
                (F.lead("close", 1).over(w) - F.col("close")) / F.col("close") * 100, 6
            ),
        )
        .withColumn(
            # nanvl: Spark yields NaN for a 1-row sample stddev, SQL yields NULL
            "stddev_6h",
            F.round(
                F.nanvl(F.stddev_samp("close").over(wr), F.lit(None).cast("double")), 6
            ),
        )
        .filter(F.col("next_ret_pct").isNotNull())
    )
    wq = Window.partitionBy("currency_pair_code").orderBy("next_ret_pct", "time")
    return df.withColumn("ret_quartile", F.ntile(4).over(wq).cast("long"))


def q_spread_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregates (absent in reference §2.3): per-pair
    median / p90 / max of the bid-ask spread. F.percentile is the exact
    linear-interpolation aggregate — partial-aggregable JVM-side, matching
    DuckDB's quantile_cont bit-for-bit on 6dp-rounded inputs."""
    t = _ticks(spark, sf_dir).withColumn(
        "spread", F.round(F.col("ask") - F.col("bid"), 6)
    )
    return t.groupBy("currency_pair_code").agg(
        F.round(F.percentile("spread", F.lit(0.5)), 6).alias("median_spread"),
        F.round(F.percentile("spread", F.lit(0.9)), 6).alias("p90_spread"),
        F.round(F.max("spread"), 6).alias("max_spread"),
        F.count("*").alias("n_ticks"),
    )


def q_close_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (absent in reference): avg close per timeframe × pair, pairs as
    columns. Explicit pivot values keep the plan a single hash-agg pass —
    no extra distinct-values job, same one shuffle as a plain groupBy.

    The 6dp rounding of the average is EXACT-INTEGER (divergence
    classes 4+5, the vwap recipe): closes live on the 1e-2 tick grid, so
    with k = Σ floor(close·100 + 0.5) and n = count, the rounded average
    is ((2·k·10⁴ + n) div (2·n)) / 10⁶ — the true half-up rounding of the
    exact rational k/(100·n), reduction-order- and engine-independent.
    The native round(avg(close), 6) form was seen flipping on an exact
    7dp half-tie at sf0.001 (avg over 224 = 2⁵·7 candles with a
    7-divisible sum terminates at …5); int64-safe to ~8e9 rows per group
    at these price scales."""
    base, derived = candle_chain(spark, sf_dir)
    candles = base.unionByName(derived).withColumn(
        "_cfp", F.floor(F.col("close") * 100.0 + 0.5)
    )
    pairs = [code for _, _, _, code, _ in dims.CURRENCY_SEED]
    avg6 = F.expr(
        "((20000 * sum(_cfp) + count(_cfp)) div (2 * nullif(count(_cfp), 0)))"
        " / CAST(1000000.0 AS DOUBLE)"
    )
    piv = (
        candles.groupBy("timeframe_code")
        .pivot("currency_pair_code", pairs)
        .agg(avg6)
    )
    cols = [F.col("timeframe_code")] + [
        F.col(f"`{p}`").alias(p.replace("/", "_").lower()) for p in pairs
    ]
    return piv.select(*cols)


SESSION_GAP_MIN = 30


def q_tick_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: bursts of ticks separated by ≥30 min of
    silence become trading sessions (``session_window`` — merge-on-overlap
    state, a window class the reference lacks; R7 lists only tumbling)."""
    t = _ticks(spark, sf_dir)
    w = F.session_window("time", f"{SESSION_GAP_MIN} minutes")
    return (
        t.groupBy("currency_pair_code", w.alias("w"))
        .agg(F.count("*").alias("n_ticks"), F.round(F.avg("bid"), 6).alias("avg_bid"))
        .select(
            "currency_pair_code",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_ticks",
            "avg_bid",
        )
    )


ZSCORE_WINDOW = 120
ZSCORE_THRESHOLD = 3.0


def q_tick_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score surveillance: each deduped tick judged
    against the trailing ``ZSCORE_WINDOW``-tick mean/σ_pop of its pair with
    the current row EXCLUDED from the frame (the self-exclusion every
    anomaly detector needs — a spike must not inflate its own baseline);
    |z| > 3 rows flag as outliers. Pure native windows, zero Python, one
    (pair) shuffle; z rounds to 6dp before the threshold compare so both
    engines flag the identical row set."""
    t = _ticks(spark, sf_dir)
    w = Window.partitionBy("currency_pair_code").orderBy("time")
    frame = w.rowsBetween(-ZSCORE_WINDOW, -1)
    rn = F.row_number().over(w)
    mean = F.avg("bid").over(frame)
    sd = F.stddev_pop("bid").over(frame)
    z = F.when(
        (F.col("_rn") > ZSCORE_WINDOW) & (sd > 0),
        F.round((F.col("bid") - mean) / sd, 6),
    )
    return (
        t.withColumn("_rn", rn)
        .withColumn("z", z)
        .filter(F.col("z").isNotNull() & (F.abs("z") > ZSCORE_THRESHOLD))
        .select("currency_pair_code", "time", "bid", "z")
    )


CORR_WINDOW = 24  # trailing day of 1h candles


def q_pair_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling cross-pair correlation, keyed all-pairs form: trailing-24h
    sample correlation between the 1h closes of EVERY unordered pair of
    currency pairs — the
    pairs-trading / risk-regime matrix. The per-pair series align with ONE
    equi-join on the hour bucket (each hour fans out to ≤C(|pairs|,2) rows,
    |pairs| tiny), then a single corr window PARTITIONED BY the (pair_a,
    pair_b) key — every pair-pair series is its own window partition, so
    parallelism scales with the number of combinations and the plan is
    free of the unpartitioned-window warning the single-pair form emitted
    (as bm25 does). Warm-up rows excluded; corr rounds to 6dp.
    Zero Python."""
    candles = _ohlc_1h(spark, sf_dir)
    a = candles.select(
        F.col("currency_pair_code").alias("pair_a"),
        "time",
        F.col("close").alias("close_a"),
    )
    b = candles.select(
        F.col("currency_pair_code").alias("pair_b"),
        "time",
        F.col("close").alias("close_b"),
    )
    j = a.join(b, "time").filter(F.col("pair_a") < F.col("pair_b"))
    w = Window.partitionBy("pair_a", "pair_b").orderBy("time")
    frame = w.rowsBetween(-(CORR_WINDOW - 1), 0)
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "corr_ab",
            F.when(
                F.col("_rn") >= CORR_WINDOW,
                F.round(F.corr("close_a", "close_b").over(frame), 6),
            ),
        )
        .filter(F.col("corr_ab").isNotNull())
        .select("pair_a", "pair_b", "time", "corr_ab")
    )


FRESHNESS_AS_OF = "2024-01-31 00:00:00"  # orchestrator clock (literal, never wall-clock)
FRESHNESS_SLA_S = 3600


def q_ticks_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-SLA report over the tick feed (oracle-grade evidence for
    the maintenance layer): per currency pair, latest tick time, lag
    against the ORCHESTRATOR'S clock (a passed literal —
    plans/maintenance.freshness_report never reads wall-clock, so the
    report is deterministic and engine-comparable), and the stale flag
    against a 1-hour SLA. Scale shape: one MAX hash-agg per pair —
    partial-combinable, shuffle bounded by |pairs|."""
    from ..plans.maintenance import freshness_report

    return freshness_report(
        _ticks(spark, sf_dir), FRESHNESS_AS_OF, FRESHNESS_SLA_S
    )


def q_idempotent_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2: the rows an incremental recompute would actually append.

    existing = the materialized candle table up to the cursor; incoming = the
    recomputed window starting a lookback before the cursor (overlap is
    intentional — the reference recomputes 2×period rows back). The
    first-wins anti-join drops every overlap row, reproducing ON CONFLICT
    DO NOTHING exactly.
    """
    candles = _ohlc_1m(spark, sf_dir)
    existing = candles.filter(F.col("time") <= F.lit(CURSOR))
    incoming = candles.filter(F.col("time") >= F.lit(LOOKBACK))
    return first_wins(
        existing, incoming, ["currency_pair_code", "timeframe_code", "time"]
    )


def q_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest replay: realized PnL from alternating BUY/SELL events."""
    events = _buysell_events_1h(spark, sf_dir)
    return backtest_pnl(events)


def q_backtest_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trade round-trip listing (buy/sell time + prices + PnL)."""
    events = _buysell_events_1h(spark, sf_dir)
    return backtest_trades(events)


def q_equity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative PnL per (pair, timeframe, period) over trades."""
    events = _buysell_events_1h(spark, sf_dir)
    return equity_curve(events)


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak cumulative PnL + max drawdown per strategy — the
    running-max window over the equity curve, collapsed to one row per
    (pair, timeframe, period)."""
    from ..operators.backtest import max_drawdown

    return max_drawdown(_buysell_events_1h(spark, sf_dir))


def q_event_asof_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each signal event matched to the last tick bid at or
    before its event time. Bucketed two-level construction — the heavy
    window partitions on (pair, hour-bucket), not just the 6 pairs, so
    parallelism scales with the tick history length."""
    events = (
        _buysell_events_1h(spark, sf_dir)
        .select("event_datetime", "currency_pair_code", "event_type", "price")
        .withColumn("time", F.col("event_datetime"))
    )
    quotes = _ticks(spark, sf_dir).select(
        "currency_pair_code", "time", "bid"
    )
    out = asof_join_backward_bucketed(
        events, quotes, on="time", by=["currency_pair_code"], value_cols=["bid"]
    )
    return out.select(
        "event_datetime", "currency_pair_code", "event_type", "price", "bid"
    )


def q_event_asof_tick_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLAIN as-of twin: one window partitioned on the join key
    only — same oracle and identical rows as event_asof_tick. Registered
    so the plain/bucketed trade-off is MEASURED, not asserted: at sf0.1
    the plain form wins ~5x on fixed overhead (one shuffle, no
    finals/carry stages), but its per-key single-task window caps
    parallelism at |pairs| — the bucketed form stays the production path
    at scale (operators/asof.py docstring)."""
    from ..operators.asof import asof_join_backward

    events = (
        _buysell_events_1h(spark, sf_dir)
        .select("event_datetime", "currency_pair_code", "event_type", "price")
        .withColumn("time", F.col("event_datetime"))
    )
    quotes = _ticks(spark, sf_dir).select("currency_pair_code", "time", "bid")
    out = asof_join_backward(
        events, quotes, on="time", by=["currency_pair_code"], value_cols=["bid"]
    )
    return out.select(
        "event_datetime", "currency_pair_code", "event_type", "price", "bid"
    )


def q_event_asof_next_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each signal event matched to the first tick bid
    at or after its event time — the fill price a market order placed at
    the signal would actually get (the backward twin answers "price when
    the signal fired"; this answers "price you could trade at"). Same
    bucketed two-level construction, mirrored."""
    events = (
        _buysell_events_1h(spark, sf_dir)
        .select("event_datetime", "currency_pair_code", "event_type", "price")
        .withColumn("time", F.col("event_datetime"))
    )
    quotes = _ticks(spark, sf_dir).select("currency_pair_code", "time", "bid")
    out = asof_join_forward_bucketed(
        events,
        quotes.select("currency_pair_code", "time", F.col("bid").alias("next_bid")),
        on="time",
        by=["currency_pair_code"],
        value_cols=["next_bid"],
    )
    return out.select(
        "event_datetime", "currency_pair_code", "event_type", "price", "next_bid"
    )


def q_event_asof_nearest_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: each signal event matched to the tick closest in
    time on either side (ties → the earlier tick) with the signed lag —
    the timestamp-alignment member of the as-of family. Composition of the
    backward and forward bucketed passes (operators/asof.py)."""
    from ..operators.asof import asof_join_nearest_bucketed

    events = (
        _buysell_events_1h(spark, sf_dir)
        .select("event_datetime", "currency_pair_code", "event_type", "price")
        .withColumn("time", F.col("event_datetime"))
    )
    quotes = _ticks(spark, sf_dir).select("currency_pair_code", "time", "bid")
    out = asof_join_nearest_bucketed(
        events,
        quotes.select("currency_pair_code", "time", F.col("bid").alias("near_bid")),
        on="time",
        by=["currency_pair_code"],
        value_cols=["near_bid"],
    )
    return out.select(
        "event_datetime",
        "currency_pair_code",
        "event_type",
        "price",
        "near_bid",
        "asof_lag_seconds",
    )


QUERIES = {
    "ticks_parse_validate": q_ticks_parse_validate,
    "ticks_dedup_second": q_ticks_dedup,
    "ohlc_1m": q_ohlc_1m,
    "ohlc_derived_multi_tf": q_ohlc_derived,
    "latest_tick_per_pair": q_latest_tick,
    "incremental_cursor_scan": q_incremental_scan,
    "ticks_freshness_sla": q_ticks_freshness_sla,
    "watermark_max_time": q_watermark_max_time,
    "dim_broadcast_enrich": q_dim_enrich,
    "sma_14_1h": q_sma,
    "sma_fanout_all_tf": q_sma_fanout,
    "ema_14_1h": q_ema,
    "rsi_14_1h": q_rsi,
    "macd_12_26_9_1h": q_macd,
    "holt_forecast_1h": q_holt_forecast,
    "atr_14_1h": q_atr,
    "bollinger_20_2_1h": q_bollinger,
    "donchian_20_1h": q_donchian,
    "ichimoku_9_26_52_1h": q_ichimoku,
    "stochastic_14_3_1h": q_stochastic,
    "williams_r_14_1h": q_williams_r,
    "cci_20_1h": q_cci,
    "adx_14_1h": q_adx,
    "volatility_20_1h": q_volatility,
    "keltner_20_10_1h": q_keltner,
    "trix_15_1h": q_trix,
    "obv_1h": q_obv,
    "vwap_daily_1h": q_vwap_daily,
    "candle_patterns_1h": q_candle_patterns,
    "sma_golden_cross": q_golden_cross,
    "sma_dead_cross": q_dead_cross,
    "idempotent_append_fresh": q_idempotent_fresh,
    "tick_zscore_outliers": q_tick_zscore_outliers,
    "pair_rolling_correlation": q_pair_rolling_correlation,
    "tick_sessions": q_tick_sessions,
    "candle_returns_quartile": q_candle_returns,
    "spread_quantiles": q_spread_quantiles,
    "avg_close_pivot": q_close_pivot,
    "event_reaction_window": q_event_reaction,
    "candle_rollup": q_candle_rollup,
    "candle_gap_fill": q_candle_gap_fill,
    "candle_cube": q_candle_cube,
    "backtest_pnl": q_backtest,
    "backtest_trades": q_backtest_trades,
    "backtest_equity_curve": q_equity_curve,
    "backtest_max_drawdown": q_max_drawdown,
    "event_asof_tick": q_event_asof_tick,
    "event_asof_tick_plain": q_event_asof_tick_plain,
    "event_asof_next_tick": q_event_asof_next_tick,
    "event_asof_nearest_tick": q_event_asof_nearest_tick,
}


# --- DuckDB oracle twins -----------------------------------------------------

_OHLC_1H_SQL = """
ohlc_1h AS (
  SELECT currency_pair_code,
         '1h' AS timeframe_code,
         CAST(TIMESTAMP '1970-01-01 00:00:00'
              + to_seconds(CAST(floor(epoch(time) / 3600) * 3600 AS BIGINT)) AS TIMESTAMP) AS time,
         arg_min("open", time) AS "open",
         max(high) AS high,
         min(low) AS low,
         arg_max("close", time) AS "close"
  FROM ohlc_1m
  GROUP BY 1, 3
)
""".strip()

_CLOSES_1H_SQL = """
closes AS (
  SELECT currency_pair_code AS pair, time, "close",
         row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) AS rn
  FROM ohlc_1h
)
""".strip()


def _with(*parts: str, recursive: bool = False) -> str:
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"{kw} " + ",\n".join(parts)


_BASE = ticks.TICKS_SQL  # dim_currency + raw_ticks + ticks
_TO_1M = (_BASE, ohlc.OHLC_1M_SQL)
_TO_1H = (*_TO_1M, _OHLC_1H_SQL)

_SMA_PAIRED_SQL = """
sma_all AS (
  SELECT currency_pair_code, timeframe_code, time,
         round(avg("close") OVER (PARTITION BY currency_pair_code ORDER BY time
                                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6) AS short_value,
         round(avg("close") OVER (PARTITION BY currency_pair_code ORDER BY time
                                  ROWS BETWEEN 27 PRECEDING AND CURRENT ROW), 6) AS long_value,
         row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) AS rn
  FROM ohlc_1h
),
paired AS (
  SELECT currency_pair_code, timeframe_code, time, short_value, long_value,
         lag(short_value) OVER (PARTITION BY currency_pair_code ORDER BY time) AS prev_short,
         lag(long_value) OVER (PARTITION BY currency_pair_code ORDER BY time) AS prev_long
  FROM sma_all WHERE rn >= 28
)
""".strip()


def _cross_event_sql(pred: str, event_type: str) -> str:
    return f"""
SELECT time AS event_datetime,
       currency_pair_code,
       short_value AS price,
       0 AS quantity,
       '{event_type}' AS event_type,
       'SMA' AS trigger_indicator_name,
       short_value AS trigger_indicator_value,
       timeframe_code AS trigger_indicator_timeframe,
       14 AS trigger_indicator_period
FROM paired
WHERE prev_short IS NOT NULL AND {pred}
""".strip()


_GOLDEN_SQL = _cross_event_sql("prev_short <= prev_long AND short_value > long_value", "BUY")
_DEAD_SQL = _cross_event_sql("prev_short >= prev_long AND short_value < long_value", "SELL")

ORACLES = {
    "ticks_parse_validate": _with(_BASE)
    + "\nSELECT currency_pair_code, time, bid, ask, (bid + ask) / 2 AS mid FROM raw_ticks",
    "ticks_dedup_second": _with(_BASE) + "\nSELECT * FROM ticks",
    "ohlc_1m": _with(*_TO_1M) + "\nSELECT * FROM ohlc_1m",
    "ohlc_derived_multi_tf": _with(
        _BASE,
        dims.timeframe_values_sql(),
        ohlc.OHLC_1M_SQL,
        ohlc.ohlc_derived_sql("dim_timeframe"),
    )
    + "\nSELECT * FROM ohlc_derived",
    "latest_tick_per_pair": _with(_BASE)
    + """
SELECT currency_pair_code, time, bid, ask FROM ticks
QUALIFY row_number() OVER (PARTITION BY currency_pair_code ORDER BY time DESC) = 1""",
    "incremental_cursor_scan": _with(_BASE)
    + f"\nSELECT * FROM ticks WHERE time > TIMESTAMP '{CURSOR}'",
    "ticks_freshness_sla": _with(_BASE)
    + f"""
SELECT currency_pair_code,
       max(time) AS latest_time,
       date_diff('second', max(time), TIMESTAMP '{FRESHNESS_AS_OF}') AS lag_seconds,
       date_diff('second', max(time), TIMESTAMP '{FRESHNESS_AS_OF}') > {FRESHNESS_SLA_S} AS stale
FROM ticks GROUP BY 1""",
    "watermark_max_time": _with(*_TO_1M)
    + """
SELECT currency_pair_code, timeframe_code, max(time) AS max_time
FROM ohlc_1m GROUP BY 1, 2""",
    "dim_broadcast_enrich": _with(*_TO_1M)
    + """
SELECT o.currency_pair_code, d.base_currency, d.quote_currency, count(*) AS n_candles
FROM ohlc_1m o JOIN dim_currency d USING (currency_pair_code)
GROUP BY 1, 2, 3""",
    "sma_fanout_all_tf": _with(
        _BASE,
        dims.timeframe_values_sql(),
        ohlc.OHLC_1M_SQL,
        ohlc.ohlc_derived_sql("dim_timeframe"),
        "ohlc_all AS (SELECT * FROM ohlc_1m UNION ALL SELECT * FROM ohlc_derived)",
    )
    + "\n"
    + "\nUNION ALL\n".join(
        f"""
SELECT currency_pair_code, timeframe_code, {p} AS period, '0' AS calc_version, time,
       round(avg("close") OVER (PARTITION BY currency_pair_code, timeframe_code
                                ORDER BY time
                                ROWS BETWEEN {p - 1} PRECEDING AND CURRENT ROW), 6) AS value
FROM ohlc_all
QUALIFY row_number() OVER (PARTITION BY currency_pair_code, timeframe_code
                           ORDER BY time) >= {p}""".strip()
        for p in (14, 28, 56)
    ),
    "sma_14_1h": _with(*_TO_1H)
    + """
SELECT currency_pair_code, timeframe_code, 14 AS period, '0' AS calc_version, time,
       round(avg("close") OVER (PARTITION BY currency_pair_code ORDER BY time
                                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6) AS value
FROM ohlc_1h
QUALIFY row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) >= 14""",
    "ema_14_1h": _with(*_TO_1H, _CLOSES_1H_SQL, recursive=True)
    + """,
seed AS (
  SELECT pair, avg("close") AS ema FROM closes WHERE rn <= 14
  GROUP BY pair HAVING count(*) = 14
),
ema_rec(pair, rn, time, ema) AS (
  SELECT c.pair, c.rn, c.time, s.ema
  FROM seed s JOIN closes c ON c.pair = s.pair AND c.rn = 14
  UNION ALL
  SELECT c.pair, c.rn, c.time, e.ema + (2.0 / 15.0) * (c."close" - e.ema)
  FROM ema_rec e JOIN closes c ON c.pair = e.pair AND c.rn = e.rn + 1
)
SELECT pair AS currency_pair_code, '1h' AS timeframe_code, 14 AS period,
       '0' AS calc_version, time, round(ema, 6) AS value
FROM ema_rec""",
    "rsi_14_1h": _with(*_TO_1H, _CLOSES_1H_SQL, recursive=True)
    + """,
gl AS (
  SELECT pair, time, rn,
         CASE WHEN d > 0 THEN d ELSE 0.0 END AS gain,
         CASE WHEN d < 0 THEN -d ELSE 0.0 END AS loss
  FROM (SELECT pair, time, rn,
               "close" - lag("close") OVER (PARTITION BY pair ORDER BY rn) AS d
        FROM closes)
),
rsi_seed AS (
  SELECT pair, avg(gain) AS ag, avg(loss) AS al FROM gl
  WHERE rn BETWEEN 2 AND 15 GROUP BY pair HAVING count(*) = 14
),
rsi_rec(pair, rn, time, ag, al) AS (
  SELECT g.pair, g.rn, g.time, s.ag, s.al
  FROM rsi_seed s JOIN gl g ON g.pair = s.pair AND g.rn = 15
  UNION ALL
  SELECT g.pair, g.rn, g.time, (r.ag * 13 + g.gain) / 14.0, (r.al * 13 + g.loss) / 14.0
  FROM rsi_rec r JOIN gl g ON g.pair = r.pair AND g.rn = r.rn + 1
)
SELECT pair AS currency_pair_code, '1h' AS timeframe_code, 14 AS period,
       '0' AS calc_version, time,
       round(CASE WHEN ag + al = 0 THEN 0.0 ELSE 100.0 * ag / (ag + al) END, 6) AS value
FROM rsi_rec""",
    "macd_12_26_9_1h": _with(*_TO_1H, _CLOSES_1H_SQL, recursive=True)
    + """,
seed_f AS (
  SELECT pair, avg("close") AS ema FROM closes WHERE rn <= 12
  GROUP BY pair HAVING count(*) = 12
),
ema_f(pair, rn, ema) AS (
  SELECT c.pair, c.rn, s.ema
  FROM seed_f s JOIN closes c ON c.pair = s.pair AND c.rn = 12
  UNION ALL
  SELECT c.pair, c.rn, e.ema + (2.0 / 13.0) * (c."close" - e.ema)
  FROM ema_f e JOIN closes c ON c.pair = e.pair AND c.rn = e.rn + 1
),
seed_s AS (
  SELECT pair, avg("close") AS ema FROM closes WHERE rn <= 26
  GROUP BY pair HAVING count(*) = 26
),
ema_s(pair, rn, ema) AS (
  SELECT c.pair, c.rn, s.ema
  FROM seed_s s JOIN closes c ON c.pair = s.pair AND c.rn = 26
  UNION ALL
  SELECT c.pair, c.rn, e.ema + (2.0 / 27.0) * (c."close" - e.ema)
  FROM ema_s e JOIN closes c ON c.pair = e.pair AND c.rn = e.rn + 1
),
macd_line AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: sig_rec's recursion re-evaluates its
  -- join input per iteration, and without it each of the ~n iterations
  -- would replay BOTH component EMA recursions (cubic blowup → hang).
  SELECT f.pair, f.rn, f.rn - 25 AS mrn, c.time, f.ema - s.ema AS macd
  FROM ema_f f
  JOIN ema_s s ON s.pair = f.pair AND s.rn = f.rn
  JOIN closes c ON c.pair = f.pair AND c.rn = f.rn
),
seed_sig AS (
  SELECT pair, avg(macd) AS sig FROM macd_line WHERE mrn <= 9
  GROUP BY pair HAVING count(*) = 9
),
sig_rec(pair, mrn, sig) AS (
  SELECT m.pair, m.mrn, s.sig
  FROM seed_sig s JOIN macd_line m ON m.pair = s.pair AND m.mrn = 9
  UNION ALL
  SELECT m.pair, m.mrn, r.sig + (2.0 / 10.0) * (m.macd - r.sig)
  FROM sig_rec r JOIN macd_line m ON m.pair = r.pair AND m.mrn = r.mrn + 1
)
SELECT m.pair AS currency_pair_code, '1h' AS timeframe_code, m.time,
       round(m.macd, 6) AS macd, round(r.sig, 6) AS macd_signal,
       round(m.macd - r.sig, 6) AS macd_hist
FROM macd_line m JOIN sig_rec r ON r.pair = m.pair AND r.mrn = m.mrn""",
    "holt_forecast_1h": _with(*_TO_1H, _CLOSES_1H_SQL, recursive=True)
    + f""",
holt_rec(pair, rn, time, l, b, f) AS (
  -- anchor literals must be DOUBLE: an un-cast 0.0 types the trend column
  -- DECIMAL(2,1) and silently truncates every recursive value
  SELECT c.pair, c.rn, c.time, CAST(c."close" AS DOUBLE),
         CAST(0.0 AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM closes c WHERE c.rn = 1
  UNION ALL
  SELECT c.pair, c.rn, c.time,
         {indicators.HOLT_ALPHA!r} * c."close"
           + {1.0 - indicators.HOLT_ALPHA!r} * (r.l + r.b),
         {indicators.HOLT_BETA!r} * (({indicators.HOLT_ALPHA!r} * c."close"
           + {1.0 - indicators.HOLT_ALPHA!r} * (r.l + r.b)) - r.l)
           + {1.0 - indicators.HOLT_BETA!r} * r.b,
         r.l + r.b
  FROM holt_rec r JOIN closes c ON c.pair = r.pair AND c.rn = r.rn + 1
)
SELECT pair AS currency_pair_code, '1h' AS timeframe_code, time,
       round(f, 6) AS forecast, round(l, 6) AS level, round(b, 6) AS trend
FROM holt_rec WHERE f IS NOT NULL""",
    "atr_14_1h": _with(*_TO_1H, recursive=True)
    + """,
hlc AS (
  SELECT currency_pair_code AS pair, time, high, low, "close",
         row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) AS rn
  FROM ohlc_1h
),
tr AS (
  SELECT pair, time, rn,
         greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
  FROM (SELECT pair, time, rn, high, low,
               lag("close") OVER (PARTITION BY pair ORDER BY rn) AS pc
        FROM hlc)
  WHERE pc IS NOT NULL
),
atr_seed AS (
  SELECT pair, avg(tr) AS atr FROM tr WHERE rn BETWEEN 2 AND 15
  GROUP BY pair HAVING count(*) = 14
),
atr_rec(pair, rn, time, atr) AS (
  SELECT t.pair, t.rn, t.time, s.atr
  FROM atr_seed s JOIN tr t ON t.pair = s.pair AND t.rn = 15
  UNION ALL
  SELECT t.pair, t.rn, t.time, (r.atr * 13 + t.tr) / 14.0
  FROM atr_rec r JOIN tr t ON t.pair = r.pair AND t.rn = r.rn + 1
)
SELECT pair AS currency_pair_code, '1h' AS timeframe_code, time,
       round(atr, 6) AS value
FROM atr_rec""",
    # four chained recursions; dm/dx MATERIALIZED so the later recursions
    # read a table, not a re-evaluation (the MACD lesson)
    "adx_14_1h": _with(*_TO_1H, recursive=True)
    + """,
hlc AS MATERIALIZED (
  SELECT currency_pair_code AS pair, time, high, low, "close",
         row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) AS rn
  FROM ohlc_1h
),
dm AS MATERIALIZED (
  SELECT pair, time, rn,
         CASE WHEN up > dn AND up > 0 THEN up ELSE 0.0 END AS pdm,
         CASE WHEN dn > up AND dn > 0 THEN dn ELSE 0.0 END AS mdm,
         greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
  FROM (SELECT pair, time, rn, high, low,
               high - lag(high) OVER w AS up,
               lag(low) OVER w - low AS dn,
               lag("close") OVER w AS pc
        FROM hlc WINDOW w AS (PARTITION BY pair ORDER BY rn))
  WHERE pc IS NOT NULL
),
sm_seed AS (
  SELECT pair, sum(pdm) AS sp, sum(mdm) AS sm, sum(tr) AS st
  FROM dm WHERE rn BETWEEN 2 AND 15 GROUP BY pair HAVING count(*) = 14
),
sm_rec(pair, rn, sp, sm, st) AS (
  SELECT pair, 15, CAST(sp AS DOUBLE), CAST(sm AS DOUBLE), CAST(st AS DOUBLE)
  FROM sm_seed
  UNION ALL
  SELECT d.pair, d.rn,
         r.sp - r.sp / 14.0 + d.pdm,
         r.sm - r.sm / 14.0 + d.mdm,
         r.st - r.st / 14.0 + d.tr
  FROM sm_rec r JOIN dm d ON d.pair = r.pair AND d.rn = r.rn + 1
),
dx AS MATERIALIZED (
  SELECT pair, rn, pdi, mdi,
         CASE WHEN pdi + mdi <> 0 THEN 100.0 * abs(pdi - mdi) / (pdi + mdi)
              ELSE 0.0 END AS dx
  FROM (SELECT pair, rn,
               CASE WHEN st <> 0 THEN 100.0 * sp / st ELSE 0.0 END AS pdi,
               CASE WHEN st <> 0 THEN 100.0 * sm / st ELSE 0.0 END AS mdi
        FROM sm_rec)
),
adx_seed AS (
  SELECT pair, avg(dx) AS adx FROM dx WHERE rn BETWEEN 15 AND 28
  GROUP BY pair HAVING count(*) = 14
),
adx_rec(pair, rn, adx) AS (
  SELECT pair, 28, CAST(adx AS DOUBLE) FROM adx_seed
  UNION ALL
  SELECT d.pair, d.rn, (r.adx * 13.0 + d.dx) / 14.0
  FROM adx_rec r JOIN dx d ON d.pair = r.pair AND d.rn = r.rn + 1
)
SELECT a.pair AS currency_pair_code, '1h' AS timeframe_code, h.time,
       round(d.pdi, 6) AS plus_di, round(d.mdi, 6) AS minus_di,
       round(a.adx, 6) AS adx
FROM adx_rec a
JOIN dx d ON d.pair = a.pair AND d.rn = a.rn
JOIN hlc h ON h.pair = a.pair AND h.rn = a.rn""",
    "bollinger_20_2_1h": _with(*_TO_1H)
    + """
SELECT currency_pair_code, '1h' AS timeframe_code, time,
       round(avg("close") OVER w20, 6) AS mid,
       round(avg("close") OVER w20 + 2 * stddev_pop("close") OVER w20, 6) AS upper_band,
       round(avg("close") OVER w20 - 2 * stddev_pop("close") OVER w20, 6) AS lower_band
FROM ohlc_1h
WINDOW w20 AS (PARTITION BY currency_pair_code ORDER BY time
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
QUALIFY row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) >= 20""",
    "donchian_20_1h": _with(*_TO_1H)
    + """
SELECT currency_pair_code, '1h' AS timeframe_code, time,
       round(max(high) OVER w20, 6) AS upper_channel,
       round(min(low) OVER w20, 6) AS lower_channel,
       round((max(high) OVER w20 + min(low) OVER w20) / 2, 6) AS mid_channel
FROM ohlc_1h
WINDOW w20 AS (PARTITION BY currency_pair_code ORDER BY time
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
QUALIFY row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) >= 20""",
    "williams_r_14_1h": _with(*_TO_1H)
    + """,
k AS (
  SELECT currency_pair_code AS pair, time, "close",
         row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) AS rn,
         max(high) OVER wk AS hh, min(low) OVER wk AS ll
  FROM ohlc_1h
  WINDOW wk AS (PARTITION BY currency_pair_code ORDER BY time
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT pair AS currency_pair_code, '1h' AS timeframe_code, time,
       round(CASE WHEN hh - ll = 0 THEN 0.0
                  ELSE -100.0 * (hh - "close") / (hh - ll) END, 6) AS pct_r
FROM k WHERE rn >= 14""",
    # the mean deviation anchors on the CURRENT row's SMA, so the frame is
    # materialized as a list and folded — same gather-fold in both engines,
    # same element (time) order, so the float sums associate identically
    "cci_20_1h": _with(*_TO_1H)
    + """,
tpv AS (
  SELECT currency_pair_code AS pair, time,
         (high + low + "close") / 3 AS tp,
         row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) AS rn
  FROM ohlc_1h
),
fr AS (
  SELECT pair, time, rn, tp,
         avg(tp) OVER w20 AS sma,
         list(tp) OVER w20 AS frame
  FROM tpv
  WINDOW w20 AS (PARTITION BY pair ORDER BY time
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
mdv AS (
  SELECT pair, time, rn, tp, sma,
         list_sum(list_transform(frame, x -> abs(x - sma))) / 20.0 AS md
  FROM fr
)
SELECT pair AS currency_pair_code, '1h' AS timeframe_code, time,
       round((tp - sma) / (0.015 * md), 6) AS cci
FROM mdv WHERE rn >= 20 AND md <> 0""",
    # each component NULL until its window exists; senkou lines lag the
    # NULL-gated midpoints by 26 rows — same NULL propagation both engines
    "ichimoku_9_26_52_1h": _with(*_TO_1H)
    + """,
base AS (
  SELECT currency_pair_code, time, "close",
         row_number() OVER w0 AS rn,
         (max(high) OVER w9 + min(low) OVER w9) / 2 AS tk_raw,
         (max(high) OVER w26 + min(low) OVER w26) / 2 AS kj_raw,
         (max(high) OVER w52 + min(low) OVER w52) / 2 AS sb_raw,
         lead("close", 26) OVER w0 AS chikou
  FROM ohlc_1h
  WINDOW w0 AS (PARTITION BY currency_pair_code ORDER BY time),
         w9 AS (PARTITION BY currency_pair_code ORDER BY time
                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         w26 AS (PARTITION BY currency_pair_code ORDER BY time
                 ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         w52 AS (PARTITION BY currency_pair_code ORDER BY time
                 ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
),
gated AS (
  SELECT currency_pair_code, time, chikou,
         CASE WHEN rn >= 9 THEN tk_raw END AS tenkan,
         CASE WHEN rn >= 26 THEN kj_raw END AS kijun,
         CASE WHEN rn >= 52 THEN sb_raw END AS sb
  FROM base
)
SELECT currency_pair_code, '1h' AS timeframe_code, time,
       round(tenkan, 6) AS tenkan_sen,
       round(kijun, 6) AS kijun_sen,
       round(lag((tenkan + kijun) / 2, 26) OVER w0, 6) AS senkou_a,
       round(lag(sb, 26) OVER w0, 6) AS senkou_b_ln,
       round(chikou, 6) AS chikou
FROM gated
WINDOW w0 AS (PARTITION BY currency_pair_code ORDER BY time)""",
    "stochastic_14_3_1h": _with(*_TO_1H)
    + """,
k AS (
  SELECT currency_pair_code AS pair, time, "close",
         row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) AS rn,
         max(high) OVER wk AS hh, min(low) OVER wk AS ll
  FROM ohlc_1h
  WINDOW wk AS (PARTITION BY currency_pair_code ORDER BY time
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
kv AS (
  SELECT pair, time, rn,
         CASE WHEN rn < 14 THEN NULL
              WHEN hh - ll = 0 THEN 0.0
              ELSE 100.0 * ("close" - ll) / (hh - ll) END AS pct_k
  FROM k
)
SELECT pair AS currency_pair_code, '1h' AS timeframe_code, time,
       round(pct_k, 6) AS pct_k,
       round(avg(pct_k) OVER (PARTITION BY pair ORDER BY rn
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS pct_d
FROM kv
QUALIFY rn >= 16""",
    "volatility_20_1h": _with(*_TO_1H)
    + f""",
r AS (
  SELECT currency_pair_code, time, high, low,
         row_number() OVER w AS rn,
         ln("close" / lag("close") OVER w) AS lr,
         pow(ln(high / low), 2) AS hl2
  FROM ohlc_1h
  WINDOW w AS (PARTITION BY currency_pair_code ORDER BY time)
)
SELECT currency_pair_code, '1h' AS timeframe_code, time,
       round(stddev_samp(lr) OVER wp, 6) AS realized_vol,
       round(sqrt(avg(hl2) OVER wp / {4 * _math.log(2)!r}), 6) AS parkinson_vol
FROM r
WINDOW wp AS (PARTITION BY currency_pair_code ORDER BY time
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
QUALIFY rn >= 21""",
    "candle_gap_fill": _with(*_TO_1H)
    + """,
spans AS (
  SELECT currency_pair_code, min(time) AS lo, max(time) AS hi
  FROM ohlc_1h GROUP BY 1
),
spine AS (
  SELECT currency_pair_code,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS time
  FROM spans
),
grp AS (
  SELECT s.currency_pair_code, s.time,
         c."open", c.high, c.low, c."close",
         count(c."close") OVER (PARTITION BY s.currency_pair_code
                                ORDER BY s.time) AS g
  FROM spine s
  LEFT JOIN ohlc_1h c
    ON c.currency_pair_code = s.currency_pair_code AND c.time = s.time
),
filled AS (
  SELECT *, max("close") OVER (PARTITION BY currency_pair_code, g) AS fill_close
  FROM grp
)
SELECT currency_pair_code, time,
       coalesce("open", fill_close) AS "open",
       coalesce(high, fill_close) AS high,
       coalesce(low, fill_close) AS low,
       coalesce("close", fill_close) AS "close",
       ("close" IS NULL) AS is_gap
FROM filled
""".strip(),
    "candle_returns_quartile": _with(
        *_TO_1H,
        """
r AS (
  SELECT currency_pair_code, time, "close",
         round((lead("close") OVER (PARTITION BY currency_pair_code ORDER BY time)
                - "close") / "close" * 100, 6) AS next_ret_pct,
         round(stddev_samp("close") OVER (
               PARTITION BY currency_pair_code ORDER BY epoch(time)
               RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW), 6) AS stddev_6h
  FROM ohlc_1h
)
""".strip(),
    )
    + """
SELECT currency_pair_code, time, "close", next_ret_pct, stddev_6h,
       ntile(4) OVER (PARTITION BY currency_pair_code
                      ORDER BY next_ret_pct, time) AS ret_quartile
FROM r WHERE next_ret_pct IS NOT NULL""",
    "spread_quantiles": _with(_BASE)
    + """
SELECT currency_pair_code,
       round(quantile_cont(spread, 0.5), 6) AS median_spread,
       round(quantile_cont(spread, 0.9), 6) AS p90_spread,
       round(max(spread), 6) AS max_spread,
       count(*) AS n_ticks
FROM (SELECT currency_pair_code, round(ask - bid, 6) AS spread FROM ticks)
GROUP BY 1""",
    "avg_close_pivot": _with(
        _BASE,
        dims.timeframe_values_sql(),
        ohlc.OHLC_1M_SQL,
        ohlc.ohlc_derived_sql("dim_timeframe"),
        "ohlc_all AS (SELECT * FROM ohlc_1m UNION ALL SELECT * FROM ohlc_derived)",
    )
    + "\nSELECT timeframe_code,\n"
    # exact-integer 6dp average (classes 4+5): k in 1e-2 close units,
    # ((2·k·1e4 + n) // (2·n)) / 1e6; sums cast through BIGINT off
    # DuckDB's HUGEINT (class 1); nullif guards empty pivot cells
    + ",\n".join(
        f"""       (CAST((20000 * sum(CASE WHEN currency_pair_code = '{c}' THEN cfp END)"""
        f""" + count(CASE WHEN currency_pair_code = '{c}' THEN cfp END))"""
        f""" // (2 * nullif(count(CASE WHEN currency_pair_code = '{c}' THEN cfp END), 0)) AS BIGINT)"""
        f""" / 1000000.0) AS {c.replace("/", "_").lower()}"""
        for _, _, _, c, _ in dims.CURRENCY_SEED
    )
    + "\nFROM (SELECT *, CAST(floor(\"close\" * 100.0 + 0.5) AS BIGINT) AS cfp"
    + " FROM ohlc_all) GROUP BY timeframe_code",
    "sma_golden_cross": _with(*_TO_1H, _SMA_PAIRED_SQL) + "\n" + _GOLDEN_SQL,
    "sma_dead_cross": _with(*_TO_1H, _SMA_PAIRED_SQL) + "\n" + _DEAD_SQL,
    "idempotent_append_fresh": _with(*_TO_1M)
    + f"""
SELECT i.* FROM ohlc_1m i
WHERE i.time >= TIMESTAMP '{LOOKBACK}'
  AND NOT EXISTS (
    SELECT 1 FROM ohlc_1m e
    WHERE e.time <= TIMESTAMP '{CURSOR}'
      AND e.currency_pair_code = i.currency_pair_code
      AND e.timeframe_code = i.timeframe_code
      AND e.time = i.time)""",
    # gap-island construction: a session break is a gap STRICTLY greater
    # than the session gap (Spark merges exactly-touching windows);
    # session_window's end = last event + gap, mirrored with max(time)+gap.
    "pair_rolling_correlation": _with(*_TO_1H)
    + f"""
SELECT pair_a, pair_b, time, corr_ab FROM (
  SELECT a.currency_pair_code AS pair_a,
         b.currency_pair_code AS pair_b,
         a.time AS time,
         CASE WHEN row_number() OVER wb >= {CORR_WINDOW}
              THEN round(corr(a."close", b."close") OVER wf, 6)
         END AS corr_ab
  FROM ohlc_1h a
  JOIN ohlc_1h b
    ON a.time = b.time AND a.currency_pair_code < b.currency_pair_code
  WINDOW wb AS (PARTITION BY a.currency_pair_code, b.currency_pair_code
                ORDER BY a.time),
         wf AS (PARTITION BY a.currency_pair_code, b.currency_pair_code
                ORDER BY a.time
                ROWS BETWEEN {CORR_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
WHERE corr_ab IS NOT NULL""",
    "tick_zscore_outliers": _with(_BASE)
    + f"""
SELECT currency_pair_code, time, bid, z FROM (
  SELECT currency_pair_code, time, bid,
         CASE WHEN row_number() OVER wb > {ZSCORE_WINDOW}
               AND stddev_pop(bid) OVER wf > 0
              THEN round((bid - avg(bid) OVER wf) / stddev_pop(bid) OVER wf, 6)
         END AS z
  FROM ticks
  WINDOW wb AS (PARTITION BY currency_pair_code ORDER BY time),
         wf AS (PARTITION BY currency_pair_code ORDER BY time
                ROWS BETWEEN {ZSCORE_WINDOW} PRECEDING AND 1 PRECEDING)
)
WHERE z IS NOT NULL AND abs(z) > {ZSCORE_THRESHOLD}""",
    "tick_sessions": _with(_BASE)
    + f""",
marked AS (
  SELECT currency_pair_code, time, bid,
         CASE WHEN lag(time) OVER w IS NULL
                OR time - lag(time) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM ticks
  WINDOW w AS (PARTITION BY currency_pair_code ORDER BY time)
),
islands AS (
  SELECT *, sum(is_new) OVER (PARTITION BY currency_pair_code ORDER BY time
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT currency_pair_code,
       min(time) AS session_start,
       max(time) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       count(*) AS n_ticks,
       round(avg(bid), 6) AS avg_bid
FROM islands
GROUP BY currency_pair_code, sid""",
    "candle_rollup": _with(
        _BASE,
        dims.timeframe_values_sql(),
        ohlc.OHLC_1M_SQL,
        ohlc.ohlc_derived_sql("dim_timeframe"),
        "ohlc_all AS (SELECT * FROM ohlc_1m UNION ALL SELECT * FROM ohlc_derived)",
    )
    + """
SELECT coalesce(currency_pair_code, 'ALL') AS currency_pair_code,
       coalesce(timeframe_code, 'ALL') AS timeframe_code,
       count(*) AS n_candles,
       round(max(high), 6) AS max_high,
       round(min(low), 6) AS min_low
FROM ohlc_all
GROUP BY ROLLUP (currency_pair_code, timeframe_code)""",
    "candle_cube": _with(
        _BASE,
        dims.timeframe_values_sql(),
        ohlc.OHLC_1M_SQL,
        ohlc.ohlc_derived_sql("dim_timeframe"),
        "ohlc_all AS (SELECT * FROM ohlc_1m UNION ALL SELECT * FROM ohlc_derived)",
    )
    + """
SELECT coalesce(currency_pair_code, 'ALL') AS currency_pair_code,
       coalesce(timeframe_code, 'ALL') AS timeframe_code,
       count(*) AS n_candles,
       (CAST((20000 * sum(cfp) + count(cfp))
             // (2 * nullif(count(cfp), 0)) AS BIGINT) / 1000000.0) AS avg_close
FROM (SELECT *, CAST(floor("close" * 100.0 + 0.5) AS BIGINT) AS cfp
      FROM ohlc_all)
GROUP BY CUBE (currency_pair_code, timeframe_code)""",
    "backtest_pnl": _with(*_TO_1H, _SMA_PAIRED_SQL)
    + f""",
sig_events AS ({_GOLDEN_SQL} UNION ALL {_DEAD_SQL}),
trades AS (
  SELECT currency_pair_code, trigger_indicator_timeframe, trigger_indicator_period,
         event_type, price,
         lag(event_type) OVER w AS prev_type,
         lag(price) OVER w AS prev_price
  FROM sig_events
  WINDOW w AS (PARTITION BY currency_pair_code, trigger_indicator_timeframe,
               trigger_indicator_period ORDER BY event_datetime)
)
SELECT currency_pair_code,
       trigger_indicator_timeframe AS timeframe_code,
       trigger_indicator_period AS period,
       count(*) AS n_trades,
       CAST(sum(CAST(price - prev_price AS DECIMAL(27,6))) AS DOUBLE) AS total_pnl
FROM trades
WHERE event_type = 'SELL' AND prev_type = 'BUY'
GROUP BY 1, 2, 3""",
    "backtest_trades": _with(*_TO_1H, _SMA_PAIRED_SQL)
    + f""",
sig_events AS ({_GOLDEN_SQL} UNION ALL {_DEAD_SQL}),
trades AS (
  SELECT currency_pair_code, trigger_indicator_timeframe, trigger_indicator_period,
         event_datetime, event_type, price,
         lag(event_type) OVER w AS prev_type,
         lag(price) OVER w AS prev_price,
         lag(event_datetime) OVER w AS prev_time
  FROM sig_events
  WINDOW w AS (PARTITION BY currency_pair_code, trigger_indicator_timeframe,
               trigger_indicator_period ORDER BY event_datetime)
)
SELECT currency_pair_code,
       trigger_indicator_timeframe AS timeframe_code,
       trigger_indicator_period AS period,
       prev_time AS buy_time,
       event_datetime AS sell_time,
       prev_price AS buy_price,
       price AS sell_price,
       round(price - prev_price, 6) AS pnl
FROM trades
WHERE event_type = 'SELL' AND prev_type = 'BUY'""",
    "backtest_equity_curve": _with(*_TO_1H, _SMA_PAIRED_SQL)
    + f""",
sig_events AS ({_GOLDEN_SQL} UNION ALL {_DEAD_SQL}),
trades AS (
  SELECT currency_pair_code, trigger_indicator_timeframe, trigger_indicator_period,
         event_datetime, event_type, price,
         lag(event_type) OVER w AS prev_type,
         lag(price) OVER w AS prev_price
  FROM sig_events
  WINDOW w AS (PARTITION BY currency_pair_code, trigger_indicator_timeframe,
               trigger_indicator_period ORDER BY event_datetime)
),
closed AS (
  SELECT currency_pair_code,
         trigger_indicator_timeframe AS timeframe_code,
         trigger_indicator_period AS period,
         event_datetime AS sell_time,
         round(price - prev_price, 6) AS pnl
  FROM trades
  WHERE event_type = 'SELL' AND prev_type = 'BUY'
)
SELECT currency_pair_code, timeframe_code, period, sell_time, pnl,
       round(sum(pnl) OVER (PARTITION BY currency_pair_code, timeframe_code, period
                            ORDER BY sell_time
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_pnl
FROM closed""",
    "backtest_max_drawdown": _with(*_TO_1H, _SMA_PAIRED_SQL)
    + f""",
sig_events AS ({_GOLDEN_SQL} UNION ALL {_DEAD_SQL}),
trades AS (
  SELECT currency_pair_code, trigger_indicator_timeframe, trigger_indicator_period,
         event_datetime, event_type, price,
         lag(event_type) OVER w AS prev_type,
         lag(price) OVER w AS prev_price
  FROM sig_events
  WINDOW w AS (PARTITION BY currency_pair_code, trigger_indicator_timeframe,
               trigger_indicator_period ORDER BY event_datetime)
),
closed AS (
  SELECT currency_pair_code,
         trigger_indicator_timeframe AS timeframe_code,
         trigger_indicator_period AS period,
         event_datetime AS sell_time,
         round(price - prev_price, 6) AS pnl
  FROM trades
  WHERE event_type = 'SELL' AND prev_type = 'BUY'
),
curve AS (
  SELECT currency_pair_code, timeframe_code, period, sell_time,
         round(sum(pnl) OVER wc, 6) AS cum_pnl
  FROM closed
  WINDOW wc AS (PARTITION BY currency_pair_code, timeframe_code, period
                ORDER BY sell_time
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
peaked AS (
  SELECT *, round(max(cum_pnl) OVER wc - cum_pnl, 6) AS dd
  FROM curve
  WINDOW wc AS (PARTITION BY currency_pair_code, timeframe_code, period
                ORDER BY sell_time
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT currency_pair_code, timeframe_code, period,
       round(max(cum_pnl), 6) AS peak_cum_pnl,
       max(dd) AS max_drawdown
FROM peaked GROUP BY 1, 2, 3""",
    "event_asof_tick": _with(*_TO_1H, _SMA_PAIRED_SQL)
    + f""",
sig_events AS ({_GOLDEN_SQL} UNION ALL {_DEAD_SQL})
SELECT e.event_datetime, e.currency_pair_code, e.event_type, e.price, t.bid
FROM sig_events e
ASOF LEFT JOIN ticks t
  ON e.currency_pair_code = t.currency_pair_code
 AND t.time <= e.event_datetime""",
    "event_asof_next_tick": _with(*_TO_1H, _SMA_PAIRED_SQL)
    + f""",
sig_events AS ({_GOLDEN_SQL} UNION ALL {_DEAD_SQL})
SELECT e.event_datetime, e.currency_pair_code, e.event_type, e.price,
       t.bid AS next_bid
FROM sig_events e
ASOF LEFT JOIN ticks t
  ON e.currency_pair_code = t.currency_pair_code
 AND t.time >= e.event_datetime""",
    # nearest = chained backward+forward ASOF, integer-second chooser,
    # ties to the earlier tick — same CASE the Spark chooser evaluates
    "event_asof_nearest_tick": _with(*_TO_1H, _SMA_PAIRED_SQL)
    + f""",
sig_events AS ({_GOLDEN_SQL} UNION ALL {_DEAD_SQL})
SELECT e.event_datetime, e.currency_pair_code, e.event_type, e.price,
       CASE WHEN tf.time IS NULL THEN tb.bid
            WHEN tb.time IS NULL THEN tf.bid
            WHEN epoch(e.event_datetime)::BIGINT - epoch(tb.time)::BIGINT
                 <= epoch(tf.time)::BIGINT - epoch(e.event_datetime)::BIGINT
                 THEN tb.bid ELSE tf.bid END AS near_bid,
       CASE WHEN tf.time IS NULL AND tb.time IS NULL THEN NULL
            WHEN tf.time IS NULL THEN epoch(e.event_datetime)::BIGINT - epoch(tb.time)::BIGINT
            WHEN tb.time IS NULL THEN epoch(e.event_datetime)::BIGINT - epoch(tf.time)::BIGINT
            WHEN epoch(e.event_datetime)::BIGINT - epoch(tb.time)::BIGINT
                 <= epoch(tf.time)::BIGINT - epoch(e.event_datetime)::BIGINT
                 THEN epoch(e.event_datetime)::BIGINT - epoch(tb.time)::BIGINT
            ELSE epoch(e.event_datetime)::BIGINT - epoch(tf.time)::BIGINT
            END AS asof_lag_seconds
FROM sig_events e
ASOF LEFT JOIN ticks tb
  ON e.currency_pair_code = tb.currency_pair_code
 AND tb.time <= e.event_datetime
ASOF LEFT JOIN ticks tf
  ON e.currency_pair_code = tf.currency_pair_code
 AND tf.time >= e.event_datetime""",
    "event_reaction_window": _with(*_TO_1H, _SMA_PAIRED_SQL)
    + f""",
sig_events AS ({_GOLDEN_SQL} UNION ALL {_DEAD_SQL})
SELECT e.event_datetime, e.currency_pair_code, e.event_type,
       count(*) AS n_ticks, round(avg(t.bid), 6) AS avg_bid
FROM sig_events e
JOIN ticks t
  ON t.currency_pair_code = e.currency_pair_code
 AND t.time >= e.event_datetime
 AND t.time <= e.event_datetime + INTERVAL 300 SECOND
GROUP BY 1, 2, 3""",
}

# the plain as-of twin computes IDENTICAL rows to the bucketed form —
# one oracle serves both (the same-oracle convention ohlc_1m /
# streaming_ohlc_1m use)
ORACLES["event_asof_tick_plain"] = ORACLES["event_asof_tick"]


_VOL_1H_SQL = """
ohlc_1h_vol AS (
  SELECT currency_pair_code,
         '1h' AS timeframe_code,
         CAST(date_trunc('hour', time) AS TIMESTAMP) AS time,
         arg_min(bid, time) AS "open",
         max(bid) AS high,
         min(bid) AS low,
         arg_max(bid, time) AS "close",
         count(*)::BIGINT AS volume
  FROM ticks
  GROUP BY 1, 3
)
""".strip()

ORACLES["keltner_20_10_1h"] = _with(*_TO_1H, _CLOSES_1H_SQL, recursive=True) + """,
seed_e AS (
  SELECT pair, avg("close") AS ema FROM closes WHERE rn <= 20
  GROUP BY pair HAVING count(*) = 20
),
ema_rec(pair, rn, time, ema) AS (
  SELECT c.pair, c.rn, c.time, s.ema
  FROM seed_e s JOIN closes c ON c.pair = s.pair AND c.rn = 20
  UNION ALL
  SELECT c.pair, c.rn, c.time, e.ema + (2.0 / 21.0) * (c."close" - e.ema)
  FROM ema_rec e JOIN closes c ON c.pair = e.pair AND c.rn = e.rn + 1
),
hlc AS (
  SELECT currency_pair_code AS pair, time, high, low, "close",
         row_number() OVER (PARTITION BY currency_pair_code ORDER BY time) AS rn
  FROM ohlc_1h
),
tr AS MATERIALIZED (
  SELECT pair, time, rn,
         greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
  FROM (SELECT pair, time, rn, high, low,
               lag("close") OVER (PARTITION BY pair ORDER BY rn) AS pc
        FROM hlc)
  WHERE pc IS NOT NULL
),
atr_seed AS (
  SELECT pair, avg(tr) AS atr FROM tr WHERE rn BETWEEN 2 AND 11
  GROUP BY pair HAVING count(*) = 10
),
atr_rec(pair, rn, atr) AS (
  SELECT t.pair, t.rn, s.atr
  FROM atr_seed s JOIN tr t ON t.pair = s.pair AND t.rn = 11
  UNION ALL
  SELECT t.pair, t.rn, (r.atr * 9 + t.tr) / 10.0
  FROM atr_rec r JOIN tr t ON t.pair = r.pair AND t.rn = r.rn + 1
)
SELECT e.pair AS currency_pair_code, '1h' AS timeframe_code, e.time,
       round(e.ema, 6) AS mid_line,
       round(e.ema + 2.0 * a.atr, 6) AS upper_channel,
       round(e.ema - 2.0 * a.atr, 6) AS lower_channel
FROM ema_rec e JOIN atr_rec a ON a.pair = e.pair AND a.rn = e.rn"""

# triple-EMA cascade: each stage re-indexes its input (rn2 = rn − 14,
# rn3 = rn2 − 14) so its seed/anchor runs over the FIRST period rows its
# input actually defines — the TA-Lib cascade offsets. Stage outputs are
# MATERIALIZED before feeding the next recursion (the MACD lesson).
ORACLES["trix_15_1h"] = _with(*_TO_1H, _CLOSES_1H_SQL, recursive=True) + """,
seed1 AS (
  SELECT pair, avg("close") AS ema FROM closes WHERE rn <= 15
  GROUP BY pair HAVING count(*) = 15
),
e1(pair, rn, time, ema) AS (
  SELECT c.pair, c.rn, c.time, s.ema
  FROM seed1 s JOIN closes c ON c.pair = s.pair AND c.rn = 15
  UNION ALL
  SELECT c.pair, c.rn, c.time, e.ema + (2.0 / 16.0) * (c."close" - e.ema)
  FROM e1 e JOIN closes c ON c.pair = e.pair AND c.rn = e.rn + 1
),
e1m AS MATERIALIZED (
  SELECT pair, rn - 14 AS rn2, time, ema FROM e1
),
seed2 AS (
  SELECT pair, avg(ema) AS ema2 FROM e1m WHERE rn2 <= 15
  GROUP BY pair HAVING count(*) = 15
),
e2(pair, rn2, time, ema2) AS (
  SELECT m.pair, m.rn2, m.time, s.ema2
  FROM seed2 s JOIN e1m m ON m.pair = s.pair AND m.rn2 = 15
  UNION ALL
  SELECT m.pair, m.rn2, m.time, e.ema2 + (2.0 / 16.0) * (m.ema - e.ema2)
  FROM e2 e JOIN e1m m ON m.pair = e.pair AND m.rn2 = e.rn2 + 1
),
e2m AS MATERIALIZED (
  SELECT pair, rn2 - 14 AS rn3, time, ema2 FROM e2
),
seed3 AS (
  SELECT pair, avg(ema2) AS ema3 FROM e2m WHERE rn3 <= 15
  GROUP BY pair HAVING count(*) = 15
),
e3(pair, rn3, time, ema3) AS (
  SELECT m.pair, m.rn3, m.time, s.ema3
  FROM seed3 s JOIN e2m m ON m.pair = s.pair AND m.rn3 = 15
  UNION ALL
  SELECT m.pair, m.rn3, m.time, e.ema3 + (2.0 / 16.0) * (m.ema2 - e.ema3)
  FROM e3 e JOIN e2m m ON m.pair = e.pair AND m.rn3 = e.rn3 + 1
)
SELECT pair AS currency_pair_code, '1h' AS timeframe_code, time,
       round(100.0 * (ema3 - prev) / prev, 6) AS value
FROM (SELECT pair, time, ema3,
             lag(ema3) OVER (PARTITION BY pair ORDER BY rn3) AS prev
      FROM e3)
WHERE prev IS NOT NULL"""

ORACLES["obv_1h"] = _with(_BASE, _VOL_1H_SQL) + """
SELECT currency_pair_code, timeframe_code, time, volume,
       sum(CASE WHEN d > 0 THEN volume WHEN d < 0 THEN -volume ELSE 0 END)
         OVER (PARTITION BY currency_pair_code ORDER BY time
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS obv
FROM (SELECT *,
             "close" - lag("close") OVER (PARTITION BY currency_pair_code
                                          ORDER BY time) AS d
      FROM ohlc_1h_vol)"""

# Integer fixed-point accumulation + exact integer 6dp rounding (as
# vwap_anchored — divergence classes 4 AND 5): per-row
# tpv is quantized to 1e-6-unit BIGINTs and summed exactly, so DuckDB's
# pairwise window SUM and Spark's sequential running frame agree under any
# reduction order; then the 6dp half-up rounding is ALSO integer-exact —
# (2·sfp + sv) // (2·sv) is round_half_up(sfp/sv) for positive ints (DuckDB
# // is floor-div, Spark div is trunc-div: equal on positives) — because the
# engines' native round() disagree on the SAME double (Spark half-ups the
# shortest repr, DuckDB rounds the binary expansion). CAST window sums back
# to BIGINT: DuckDB types sum(BIGINT) as HUGEINT (class 1).
ORACLES["vwap_daily_1h"] = _with(_BASE, _VOL_1H_SQL) + """
SELECT currency_pair_code, timeframe_code, anchor_date, time,
       CAST((2 * sfp + sv) // (2 * sv) AS BIGINT) / 1000000.0 AS vwap
FROM (
  SELECT currency_pair_code, timeframe_code,
         (time::DATE)::VARCHAR AS anchor_date, time,
         CAST(sum(tpv_fp) OVER w AS BIGINT) AS sfp,
         CAST(sum(volume) OVER w AS BIGINT) AS sv
  FROM (SELECT *,
               CAST(floor(((high + low + "close") / 3.0) * volume * 1000000.0
                          + 0.5) AS BIGINT) AS tpv_fp
        FROM ohlc_1h_vol)
  WINDOW w AS (PARTITION BY currency_pair_code, time::DATE ORDER BY time
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)"""

ORACLES["candle_patterns_1h"] = _with(*_TO_1H) + """
SELECT * FROM (
  SELECT currency_pair_code, timeframe_code, time,
         (rng > 0 AND body <= 0.1 * rng) AS doji,
         (rng > 0 AND ls >= 2 * body AND us <= body) AS hammer,
         (po IS NOT NULL AND pc < po AND "close" > "open"
          AND "open" < pc AND "close" > po) AS bull_engulf,
         (po IS NOT NULL AND pc > po AND "close" < "open"
          AND "open" > pc AND "close" < po) AS bear_engulf
  FROM (SELECT *,
               abs("close" - "open") AS body,
               high - low AS rng,
               high - greatest("open", "close") AS us,
               least("open", "close") - low AS ls,
               lag("open") OVER w AS po,
               lag("close") OVER w AS pc
        FROM ohlc_1h
        WINDOW w AS (PARTITION BY currency_pair_code ORDER BY time))
)
WHERE doji OR hammer OR bull_engulf OR bear_engulf"""
