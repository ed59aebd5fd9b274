"""W2 incremental indicator recompute: after new candles arrive, only
cursor-forward rows are appended; SMA (finite window ≤ lookback) matches a
full recompute exactly; recursive indicators converge within the lookback;
and the one-pass refresh writes exactly what a per-period refresh writes."""

import os
from datetime import datetime, timedelta

import numpy as np
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from trading_etl_spark.io import first_wins_append
from trading_etl_spark.operators import indicators, ohlc
from trading_etl_spark.plans import pipelines
from trading_etl_spark.schemas import OHLC_SCHEMA
from trading_etl_spark.sources import dims, ticks

SF_DIR = "/root/testdata/sf0.001"
PERIODS = [3, 5]


def test_incremental_indicator_recompute(spark, tmp_path):
    wh = str(tmp_path / "wh")
    candles = ohlc.ohlc_base(ticks.load_ticks(spark, SF_DIR)).cache()
    t_max = candles.agg(F.max("time")).first()[0]
    cutoff = t_max - __import__("datetime").timedelta(hours=2)

    # initial state: history up to the cutoff, indicators computed in full
    first_wins_append(
        spark, f"{wh}/ohlc", candles.filter(F.col("time") <= cutoff),
        pipelines.OHLC_KEYS, partition_by=["timeframe_code", "currency_pair_code"],
    )
    stats1 = pipelines.indicator_pipeline(spark, wh, periods=PERIODS)
    assert stats1["fact_sma_rows"] > 0

    # new candles land; incremental run must append exactly the new times
    new = candles.filter(F.col("time") > cutoff)
    n_new = new.count()
    assert n_new > 0
    first_wins_append(
        spark, f"{wh}/ohlc", new, pipelines.OHLC_KEYS,
        partition_by=["timeframe_code", "currency_pair_code"],
    )
    stats2 = pipelines.indicator_pipeline(spark, wh, periods=PERIODS)
    assert stats2["fact_sma_rows"] == n_new * len(PERIODS)

    # SMA window (max 5) ≤ lookback (4×period) → incremental == full, exactly
    fact_sma = spark.read.parquet(f"{wh}/fact_sma")
    full = indicators.sma(candles, PERIODS[0]).unionByName(
        indicators.sma(candles, PERIODS[1])
    )
    got = {
        (r["currency_pair_code"], r["timeframe_code"], r["period"], r["time"]): r["value"]
        for r in fact_sma.collect()
    }
    want = {
        (r["currency_pair_code"], r["timeframe_code"], r["period"], r["time"]): r["value"]
        for r in full.collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        if v is None:
            assert got[k] is None
        else:
            assert got[k] == pytest.approx(v, abs=1e-9)

    # recursive EMA: appended tail rows converge to full recompute within
    # the exponential tail mass of the 4×period lookback
    fact_ema = spark.read.parquet(f"{wh}/fact_ema").filter(
        (F.col("time") > cutoff) & (F.col("period") == PERIODS[1])
    )
    full_ema = indicators.ema(candles, PERIODS[1]).filter(F.col("time") > cutoff)
    ge = {
        (r["currency_pair_code"], r["time"]): r["value"] for r in fact_ema.collect()
    }
    we = {
        (r["currency_pair_code"], r["time"]): r["value"] for r in full_ema.collect()
    }
    assert set(ge) == set(we)
    for k, v in we.items():
        if v is not None and ge[k] is not None:
            assert ge[k] == pytest.approx(v, rel=5e-2)

    # third run with nothing new: pure no-op
    stats3 = pipelines.indicator_pipeline(spark, wh, periods=PERIODS)
    assert all(v == 0 for v in stats3.values())
    candles.unpersist()


def _per_period_candles(candles, fact, period):
    """The per-period W2 rule the one-pass refresh must reproduce: keep each
    group's rows ranked ≤ new rows + LOOKBACK_PERIODS × period by time
    descending, after this period's own MAX(time) cursor."""
    cursors = (
        fact.filter(F.col("period") == period)
        .groupBy("currency_pair_code", "timeframe_code")
        .agg(F.max("time").alias("_max_time"))
    )
    grp = Window.partitionBy("currency_pair_code", "timeframe_code")
    rank_desc = F.row_number().over(grp.orderBy(F.desc("time")))
    n_new = F.sum(
        F.when(F.col("time") > F.col("_max_time"), 1).otherwise(0)
    ).over(grp)
    return (
        candles.join(
            F.broadcast(cursors), ["currency_pair_code", "timeframe_code"], "left"
        )
        .withColumn("_rank", rank_desc)
        .withColumn("_n_new", n_new)
        .filter(
            F.col("_max_time").isNull()
            | (F.col("_rank") <= F.col("_n_new") + pipelines.LOOKBACK_PERIODS * period)
        )
        .drop("_max_time", "_rank", "_n_new")
    )


def _per_period_refresh(spark, wh, periods):
    """indicator_pipeline as one plan per (fact table, period)."""
    candles = spark.read.parquet(f"{wh}/ohlc")
    for name, fn in (("sma", indicators.sma), ("ema", indicators.ema), ("rsi", indicators.rsi)):
        path = f"{wh}/fact_{name}"
        fact = spark.read.parquet(path) if os.path.exists(path) else None
        parts = [
            fn(candles if fact is None else _per_period_candles(candles, fact, p), p)
            for p in periods
        ]
        df = parts[0]
        for part in parts[1:]:
            df = df.unionByName(part)
        first_wins_append(
            spark, path, df, pipelines.IND_KEYS, partition_by=["timeframe_code"]
        )


def test_one_pass_refresh_matches_per_period_rule(spark, tmp_path):
    """A refresh that lands a late candle inside the lookback writes the
    same facts, bit for bit, as the per-period rule. The late minute sits
    exactly at the start of period 3's suffix (5 new rows + 4×3 lookback
    rows), so its period-3 SMA/EMA are warm-up NULLs, while the widest
    period's suffix covers the whole series: counting the warm-up from the
    start of the union instead of the period's suffix gives them values."""
    periods = [3, 5, 14]
    rng = np.random.default_rng(11)
    t0 = datetime(2024, 1, 1)
    late = 28  # 45 rows after the refresh; period 3 keeps ranks 1..17

    def candles(pair, minutes):
        closes = 100.0 + np.cumsum(rng.normal(size=45))
        return [
            (pair, "1m", t0 + timedelta(minutes=m), *(4 * [float(closes[m])]))
            for m in minutes
        ]

    usd = candles("USD/JPY", range(45))
    eur = candles("EUR/JPY", range(45))
    history = [r for r in usd[:40] if r[2] != t0 + timedelta(minutes=late)] + eur[:40]
    refresh = [usd[late]] + usd[40:] + eur[40:]
    whs = {"one_pass": str(tmp_path / "one"), "per_period": str(tmp_path / "per")}
    for rows in (history, refresh):
        batch = spark.createDataFrame(rows, OHLC_SCHEMA)
        for kind, wh in whs.items():
            first_wins_append(
                spark, f"{wh}/ohlc", batch, pipelines.OHLC_KEYS,
                partition_by=["timeframe_code", "currency_pair_code"],
            )
            if kind == "one_pass":
                pipelines.indicator_pipeline(spark, wh, periods=periods)
            else:
                _per_period_refresh(spark, wh, periods)

    def table(wh, name):
        df = spark.read.parquet(f"{wh}/fact_{name}")
        return sorted(df.select(*sorted(df.columns)).collect())

    for name in ("sma", "ema", "rsi"):
        got, want = table(whs["one_pass"], name), table(whs["per_period"], name)
        assert len(got) == 90 * len(periods)
        assert got == want, name
    late_sma = (
        spark.read.parquet(f"{whs['one_pass']}/fact_sma")
        .filter(
            (F.col("currency_pair_code") == "USD/JPY")
            & (F.col("time") == t0 + timedelta(minutes=late))
            & (F.col("period") == 3)
        )
        .collect()
    )
    assert [r["value"] for r in late_sma] == [None]
