"""End-to-end batch ETL pipelines (SURVEY.md §3.2/§3.3): ohlc → indicators →
strategy into a parquet warehouse, with the W1 first-wins idempotency
contract (re-run adds zero rows — the reference's ON CONFLICT DO NOTHING,
tested like tests/acceptance/_test_transform_idempotency.py:110-120)."""

import pytest

from pyspark.sql import functions as F

from trading_etl_spark.plans import pipelines

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    stats = pipelines.run_etl(spark, SF_DIR, wh)
    return wh, stats


def test_full_etl_populates_warehouse(spark, warehouse):
    wh, stats = warehouse
    assert stats["ohlc_base_rows"] > 0
    assert stats["ohlc_derived_rows"] > 0
    assert stats["fact_sma_rows"] > 0
    assert stats["fact_ema_rows"] > 0
    assert stats["fact_rsi_rows"] > 0

    ohlc = spark.read.parquet(f"{wh}/ohlc")
    tfs = {r["timeframe_code"] for r in ohlc.select("timeframe_code").distinct().collect()}
    assert tfs == {"1m", "5m", "15m", "30m", "1h", "4h"}

    sma = spark.read.parquet(f"{wh}/fact_sma")
    periods = {r["period"] for r in sma.select("period").distinct().collect()}
    assert periods == {14, 28, 56}


def test_rerun_is_idempotent(spark, warehouse):
    wh, _ = warehouse
    before = spark.read.parquet(f"{wh}/ohlc").count()
    stats2 = pipelines.run_etl(spark, SF_DIR, wh)
    assert all(v == 0 for v in stats2.values()), stats2
    assert spark.read.parquet(f"{wh}/ohlc").count() == before


def test_no_duplicate_primary_keys(spark, warehouse):
    wh, _ = warehouse
    for table, keys in [
        ("ohlc", pipelines.OHLC_KEYS),
        ("fact_sma", pipelines.IND_KEYS),
        ("fact_buysell_events", pipelines.EVENT_KEYS),
    ]:
        df = spark.read.parquet(f"{wh}/{table}")
        dups = df.groupBy(*keys).count().filter(F.col("count") > 1).count()
        assert dups == 0, f"{table} has duplicate PKs"


def test_events_scoped_per_timeframe(spark, warehouse):
    """Signals must be timeframe-scoped (the declared semantics the
    reference TODO'd — SURVEY.md §3.3)."""
    wh, _ = warehouse
    ev = spark.read.parquet(f"{wh}/fact_buysell_events")
    if ev.count() == 0:
        pytest.skip("no cross events at sf0.001")
    assert ev.filter(F.col("trigger_indicator_timeframe").isNull()).count() == 0
    assert {r["event_type"] for r in ev.select("event_type").distinct().collect()} <= {
        "BUY",
        "SELL",
    }


def test_partition_layout(spark, warehouse):
    """Warehouse parquet is partitioned so per-(tf, pair) reads prune."""
    import os

    wh, _ = warehouse
    top = set(os.listdir(f"{wh}/ohlc"))
    assert any(d.startswith("timeframe_code=") for d in top)
    tf_dir = next(d for d in top if d.startswith("timeframe_code="))
    sub = os.listdir(f"{wh}/ohlc/{tf_dir}")
    assert any(d.startswith("currency_pair_code=") for d in sub)


def test_candle_caches_fifo_bounded(spark):
    """The session caches must not grow unboundedly in a long-lived
    session — FIFO eviction at the per-kind bound, oldest
    first, and an evicted relation is unpersisted."""
    from trading_etl_spark import cache

    n = cache.MAX_PER_KIND + 3
    built = []

    def build():
        df = spark.range(len(built) + 1).cache()  # distinct plans, own blocks
        df.count()
        built.append(df)
        return df

    cache.clear(spark, "fifo-test", "fifo-other")
    other = cache.cached(spark, "fifo-other", build, 0)
    for i in range(n):
        cache.cached(spark, "fifo-test", build, i)
    # oldest keys evicted and unpersisted, the newest MAX_PER_KIND retained
    assert [df.storageLevel.useMemory for df in built[1:]] == (
        [False] * 3 + [True] * cache.MAX_PER_KIND
    )
    for i in range(n - cache.MAX_PER_KIND, n):
        assert cache.cached(spark, "fifo-test", build, i) is built[i + 1]
    assert len(built) == n + 1
    assert cache.cached(spark, "fifo-test", build, 0) is not built[1]
    # the bound is per kind: the other kind's entry survived
    assert other.storageLevel.useMemory
    assert cache.cached(spark, "fifo-other", build, 0) is other
    cache.clear(spark, "fifo-test", "fifo-other")
