"""OHLC aggregation semantics (SURVEY.md A1/A2) on hand-built tick frames."""

from datetime import datetime

from pyspark.sql import functions as F

from trading_etl_spark.operators.ohlc import ohlc_base, ohlc_derived
from trading_etl_spark.schemas import TICK_SCHEMA
from trading_etl_spark.sources.dims import dim_timeframe


def _ts(s):
    return datetime.fromisoformat(s)


def _ticks(spark):
    rows = [
        # USD/JPY, minute 10:00 — open=100 (first), high=103, low=99, close=101 (last)
        ("USD/JPY", _ts("2024-01-01 10:00:01"), 100.0, 100.1),
        ("USD/JPY", _ts("2024-01-01 10:00:20"), 103.0, 103.1),
        ("USD/JPY", _ts("2024-01-01 10:00:40"), 99.0, 99.1),
        ("USD/JPY", _ts("2024-01-01 10:00:59"), 101.0, 101.1),
        # USD/JPY, minute 10:01 — single tick
        ("USD/JPY", _ts("2024-01-01 10:01:30"), 102.0, 102.1),
        # EUR/JPY, same minutes — isolation across pairs
        ("EUR/JPY", _ts("2024-01-01 10:00:05"), 160.0, 160.1),
        ("EUR/JPY", _ts("2024-01-01 10:00:55"), 158.0, 158.1),
    ]
    return spark.createDataFrame(rows, TICK_SCHEMA)


def test_ohlc_base_first_last_semantics(spark):
    out = {
        (r["currency_pair_code"], r["time"]): r
        for r in ohlc_base(_ticks(spark)).collect()
    }
    usd = out[("USD/JPY", _ts("2024-01-01 10:00:00"))]
    assert (usd["open"], usd["high"], usd["low"], usd["close"]) == (100.0, 103.0, 99.0, 101.0)
    assert usd["timeframe_code"] == "1m"
    single = out[("USD/JPY", _ts("2024-01-01 10:01:00"))]
    assert (single["open"], single["high"], single["low"], single["close"]) == (102.0,) * 4
    eur = out[("EUR/JPY", _ts("2024-01-01 10:00:00"))]
    assert (eur["open"], eur["close"]) == (160.0, 158.0)


def test_ohlc_derived_buckets_and_first_last(spark):
    base = ohlc_base(_ticks(spark))
    tfs = dim_timeframe(spark)
    derived = ohlc_derived(base, tfs)
    by_tf = {
        (r["timeframe_code"], r["currency_pair_code"], r["time"]): r
        for r in derived.collect()
    }
    # 5m bucket 10:00 contains both USD minutes: open from 10:00, close from 10:01
    r = by_tf[("5m", "USD/JPY", _ts("2024-01-01 10:00:00"))]
    assert (r["open"], r["high"], r["low"], r["close"]) == (100.0, 103.0, 99.0, 102.0)
    # every non-1m timeframe present, no 1m rows
    tf_codes = {k[0] for k in by_tf}
    assert tf_codes == {"5m", "15m", "30m", "1h", "4h"}


def test_derived_equals_direct_aggregation(spark):
    """Re-aggregating 1m candles must equal aggregating raw ticks directly."""
    ticks = _ticks(spark)
    tfs = dim_timeframe(spark).filter(F.col("timeframe_code") == "1h")
    derived = ohlc_derived(ohlc_base(ticks), tfs)
    direct = (
        ticks.groupBy(
            "currency_pair_code",
            F.window("time", "1 hour")["start"].alias("time"),
        )
        .agg(
            F.min_by("bid", "time").alias("open"),
            F.max("bid").alias("high"),
            F.min("bid").alias("low"),
            F.max_by("bid", "time").alias("close"),
        )
    )
    d = {(r["currency_pair_code"], r["time"]): r for r in derived.collect()}
    for r in direct.collect():
        got = d[(r["currency_pair_code"], r["time"])]
        for c in ("open", "high", "low", "close"):
            assert got[c] == r[c]


def test_config_added_timeframe_flows_to_ohlc_and_indicators(spark):
    """VERDICT r1 #6: adding a '2h' timeframe via env produces derived 2h
    candles AND indicators for it — config, not a code edit. The chain's
    partitioning granule coarsens automatically (lcm of durations)."""
    from trading_etl_spark.config import EngineConfig
    from trading_etl_spark.operators import indicators as ind
    from trading_etl_spark.operators import ohlc as ohlc_ops
    from trading_etl_spark.sources import dims, ticks

    cfg = EngineConfig.from_env({"ETL_EXTRA_TIMEFRAMES": "2h:7200"})
    tf = dims.dim_timeframe(spark, cfg)
    assert [r["timeframe_code"] for r in tf.collect()] == [
        "1m", "5m", "15m", "30m", "1h", "2h", "4h",
    ]
    assert ohlc_ops.chain_bucket_seconds(tf) == 14400  # 2h nests in the 4h lcm

    raw = ticks.raw_ticks(spark, "/root/testdata/sf0.001")
    base, derived = ohlc_ops.ohlc_chain_single_shuffle(raw, tf)
    two_h = derived.filter(derived.timeframe_code == "2h")
    n_2h = two_h.count()
    assert n_2h > 0
    # 2h buckets must aggregate exactly the 1h pairs (sanity of bucketing)
    n_1h = derived.filter(derived.timeframe_code == "1h").count()
    assert n_2h <= n_1h

    sma_2h = ind.sma(two_h, period=3).filter("value is not null")
    assert sma_2h.count() > 0
    assert sma_2h.select("timeframe_code").distinct().collect()[0][0] == "2h"

    # the oracle CTE follows the same config
    assert "'2h'" in dims.timeframe_values_sql(cfg)


def test_candle_chain_matches_pipeline_composition(spark, monkeypatch):
    """The two candle producers agree row for row: the query surface's
    single-shuffle chain (trading.candle_chain) and the ETL pipeline's
    composition (ohlc_base over load_ticks, then ohlc_derived), under the
    default timeframes and a config-added 2h."""
    from trading_etl_spark.config import EngineConfig
    from trading_etl_spark.operators import ohlc as ohlc_ops
    from trading_etl_spark.queries import trading as tq
    from trading_etl_spark.sources import dims, ticks

    sf_dir = "/root/testdata/sf0.001"

    def rows(df):
        return sorted(tuple(r) for r in df.select(*ohlc_ops.OHLC_COLS).collect())

    for extra in (None, "2h:7200"):
        if extra is None:
            monkeypatch.delenv("ETL_EXTRA_TIMEFRAMES", raising=False)
        else:
            monkeypatch.setenv("ETL_EXTRA_TIMEFRAMES", extra)
        tq.clear_candle_caches(spark)
        try:
            chain_base, chain_derived = tq.candle_chain(spark, sf_dir)
            base = ohlc_ops.ohlc_base(ticks.load_ticks(spark, sf_dir))
            tf = dims.dim_timeframe(spark, EngineConfig.from_env())
            derived = ohlc_ops.ohlc_derived(base, tf)
            assert rows(chain_base) == rows(base), extra
            got, want = rows(chain_derived), rows(derived)
            assert got == want, extra
            assert ("2h" in {r[1] for r in got}) == (extra is not None)
        finally:
            tq.clear_candle_caches(spark)


def test_candle_chain_rekeys_on_timeframe_config(spark, monkeypatch):
    """The chain is cached per timeframe set: adding a timeframe within a
    session is served on the next call, with no cache clear in between."""
    from trading_etl_spark.queries import trading as tq

    sf_dir = "/root/testdata/sf0.001"

    def derived_codes():
        derived = tq.candle_chain(spark, sf_dir)[1]
        return {r[0] for r in derived.select("timeframe_code").distinct().collect()}

    monkeypatch.delenv("ETL_EXTRA_TIMEFRAMES", raising=False)
    tq.clear_candle_caches(spark)
    try:
        assert "2h" not in derived_codes()
        monkeypatch.setenv("ETL_EXTRA_TIMEFRAMES", "2h:7200")
        assert "2h" in derived_codes()
    finally:
        tq.clear_candle_caches(spark)


def test_clear_candle_caches_evicts_and_unpersists(spark):
    from trading_etl_spark.queries import trading as tq

    base = tq._ohlc_1m(spark, "/root/testdata/sf0.001")
    assert base.storageLevel.useMemory  # chain pair stays a plain cache
    # the DOWNSTREAM relations are materialized with truncated lineage
    # (r17): served from the checkpointed RDD, never re-derived
    hourly = tq._ohlc_1h(spark, "/root/testdata/sf0.001")
    plan = hourly._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    n = tq.clear_candle_caches(spark)
    assert n >= 2  # at least the chain pair and the 1h candles
    assert not base.storageLevel.useMemory
    assert tq.clear_candle_caches(spark) == 0  # nothing of them is left


def test_candle_gap_fill_flat_candles(spark, tmp_path, monkeypatch):
    """A missing hourly bucket becomes a flat candle carrying the previous
    close, flagged is_gap; real candles pass through untouched."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from trading_etl_spark.queries import trading

    candles = spark.createDataFrame(
        [
            ("USD/JPY", datetime(2024, 1, 1, 0), 100.0, 101.0, 99.0, 100.5),
            # hour 1 missing
            ("USD/JPY", datetime(2024, 1, 1, 2), 101.0, 102.0, 100.0, 101.5),
        ],
        "currency_pair_code string, time timestamp, open double, high double,"
        " low double, close double",
    )
    monkeypatch.setattr(trading, "_ohlc_1h", lambda spark, sf_dir: candles)
    out = {
        r["time"]: r
        for r in trading.q_candle_gap_fill(spark, "gap-test").collect()
    }
    assert len(out) == 3
    gap = out[datetime(2024, 1, 1, 1)]
    assert gap["is_gap"] is True
    assert (gap["open"], gap["high"], gap["low"], gap["close"]) == (100.5,) * 4
    real = out[datetime(2024, 1, 1, 2)]
    assert real["is_gap"] is False and real["open"] == 101.0


def test_driver_local_durations_match_the_dim_relation(spark):
    """r17: the chain's LCM granule is computed from the driver-local
    duration list (dims.timeframe_durations) instead of collecting the
    6-row literal dim — a ~0.3 s analyze+schedule round trip per cold
    chain build. Pin the two sources in lockstep: same durations, same
    LCM, including under a config-added timeframe."""
    from trading_etl_spark.config import EngineConfig
    from trading_etl_spark.operators import ohlc as ohlc_ops
    from trading_etl_spark.sources import dims

    for cfg in (None, EngineConfig.from_env({"ETL_EXTRA_TIMEFRAMES": "2h:7200"})):
        tf = dims.dim_timeframe(spark, cfg)
        local = dims.timeframe_durations(cfg)
        collected = [r["duration_seconds"] for r in tf.collect()]
        assert local == collected
        assert ohlc_ops.chain_bucket_seconds(tf, durations=local) == (
            ohlc_ops.chain_bucket_seconds(tf)
        )


def test_scan_splits_cache_matches_fresh_probe(spark):
    """r17: raw_ticks caches the under-split probe per (app, path) —
    driver-side metadata reuse, not result caching. The cached count must
    equal a fresh .rdd probe of the same scan (same files, same conf)."""
    import os

    import pytest

    from trading_etl_spark.sources import ticks

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata corpus not present")
    ev = ticks.load_events(spark, sf_dir)
    fresh = ev.rdd.getNumPartitions()
    cached = ticks._scan_splits(spark, f"{sf_dir}/events.parquet", ev)
    assert cached == fresh
    # second lookup hits the cache (no re-probe) and agrees
    assert ticks._scan_splits(
        spark, f"{sf_dir}/events.parquet", ticks.load_events(spark, sf_dir)
    ) == fresh
