"""Golden-cross detection fixture (FIXTURES.md §6, ported from the
reference's src/database/sql/test/test_insert_sma_golden_cross.sql)."""

from datetime import datetime

from trading_etl_spark.operators.backtest import backtest_pnl
from trading_etl_spark.operators.signals import buysell_events, dead_cross, golden_cross
from trading_etl_spark.schemas import EVENT_SCHEMA, INDICATOR_SCHEMA


def _fixture(spark):
    v = "test_v1"
    rows = [
        # (pair, tf, period, calc_version, time, value)
        ("USD/JPY", "1h", 14, v, datetime(2024, 1, 1, 10), 100.0),
        ("USD/JPY", "1h", 28, v, datetime(2024, 1, 1, 10), 105.0),  # pre-cross
        ("USD/JPY", "1h", 14, v, datetime(2024, 1, 1, 11), 110.0),
        ("USD/JPY", "1h", 28, v, datetime(2024, 1, 1, 11), 106.0),  # golden cross
        ("USD/JPY", "1h", 14, v, datetime(2024, 1, 2, 10), 110.0),
        ("USD/JPY", "1h", 28, v, datetime(2024, 1, 2, 10), 100.0),  # continuation
        ("USD/JPY", "1h", 14, v, datetime(2024, 1, 2, 11), 95.0),
        ("USD/JPY", "1h", 28, v, datetime(2024, 1, 2, 11), 101.0),  # dead cross
    ]
    return spark.createDataFrame(rows, INDICATOR_SCHEMA)


def test_golden_cross_fires_exactly_once(spark):
    events = golden_cross(_fixture(spark), 14, 28).collect()
    assert len(events) == 1
    e = events[0]
    assert e["event_datetime"] == datetime(2024, 1, 1, 11)
    assert e["event_type"] == "BUY"
    assert e["price"] == 110.0
    assert e["trigger_indicator_value"] == 110.0
    assert e["trigger_indicator_name"] == "SMA"
    assert e["trigger_indicator_timeframe"] == "1h"
    assert e["trigger_indicator_period"] == 14
    assert e["quantity"] == 0


def test_dead_cross_fires_exactly_once(spark):
    events = dead_cross(_fixture(spark), 14, 28).collect()
    assert len(events) == 1
    assert events[0]["event_datetime"] == datetime(2024, 1, 2, 11)
    assert events[0]["event_type"] == "SELL"


def test_buysell_events_have_event_schema(spark):
    """The signal relation is the declared event fact, field for field,
    nullability included."""
    assert buysell_events(_fixture(spark), 14, 28).schema == EVENT_SCHEMA


def test_timeframe_scoping(spark):
    """Signals must not mix timeframes (the reference's TODO, fixed here):
    a cross whose legs sit in different timeframes must not fire."""
    v = "0"
    rows = [
        ("USD/JPY", "1h", 14, v, datetime(2024, 1, 1, 10), 100.0),
        ("USD/JPY", "4h", 28, v, datetime(2024, 1, 1, 10), 105.0),
        ("USD/JPY", "1h", 14, v, datetime(2024, 1, 1, 11), 110.0),
        ("USD/JPY", "4h", 28, v, datetime(2024, 1, 1, 11), 106.0),
    ]
    fact = spark.createDataFrame(rows, INDICATOR_SCHEMA)
    assert golden_cross(fact, 14, 28).count() == 0


def test_backtest_pnl_buy_then_sell(spark):
    events = buysell_events(_fixture(spark), 14, 28)
    out = backtest_pnl(events).collect()
    assert len(out) == 1
    r = out[0]
    # BUY @110 (golden), SELL @95 (dead) → one trade, pnl −15
    assert r["n_trades"] == 1
    assert r["total_pnl"] == -15.0
