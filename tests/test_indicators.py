"""TA-Lib golden vectors (FIXTURES.md §8) for SMA/EMA/RSI.

Input closes [1..6], period 3:
- SMA: [NULL, NULL, 2, 3, 4, 5]
- EMA (seed=SMA(first 3)=2, k=2/4): [NULL, NULL, 2, 3, 4, 5]
- RSI (all gains): [NULL, NULL, NULL, 100, 100, 100]
"""

import math
from datetime import datetime, timedelta

import numpy as np
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from trading_etl_spark.operators.indicators import (
    GROUP_KEYS,
    _adx_series,
    _atr_series,
    _ema_series,
    _holt_series,
    _macd_series,
    _rsi_series,
    _trix_series,
    adx,
    atr,
    bollinger,
    ema,
    ema_periods,
    holt_forecast,
    keep_col,
    keltner,
    macd,
    rsi,
    rsi_periods,
    sma,
    sma_periods,
    stochastic,
    trix,
)
from trading_etl_spark.schemas import OHLC_SCHEMA


def _ohlc(spark, closes, pair="USD/JPY"):
    t0 = datetime(2024, 1, 1)
    rows = [
        (pair, "1h", t0 + timedelta(hours=i), c, c, c, c)
        for i, c in enumerate(closes)
    ]
    return spark.createDataFrame(rows, OHLC_SCHEMA)


def _values(df):
    rows = sorted(df.collect(), key=lambda r: r["time"])
    return [r["value"] for r in rows]


def test_sma_golden_vector(spark):
    vals = _values(sma(_ohlc(spark, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]), 3))
    assert vals[:2] == [None, None]
    assert vals[2:] == [2.0, 3.0, 4.0, 5.0]


def test_ema_golden_vector(spark):
    vals = _values(ema(_ohlc(spark, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]), 3))
    assert vals[:2] == [None, None]
    assert vals[2:] == pytest.approx([2.0, 3.0, 4.0, 5.0])


def test_rsi_golden_vector_all_gains(spark):
    vals = _values(rsi(_ohlc(spark, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]), 3))
    assert vals[:3] == [None, None, None]
    assert vals[3:] == pytest.approx([100.0, 100.0, 100.0])


def test_rsi_flat_series_is_zero():
    # TA-Lib guard: avgGain + avgLoss == 0 → 0
    out = _rsi_series(np.array([5.0] * 6), 3)
    assert np.isnan(out[:3]).all()
    assert (out[3:] == 0.0).all()


def test_rsi_mixed_wilder_smoothing():
    closes = np.array([10.0, 11.0, 10.5, 11.5, 12.0, 11.0])
    out = _rsi_series(closes, 3)
    # seed: gains [1, 0, 1], losses [0, .5, 0] → ag=2/3, al=1/6 → 80
    assert math.isclose(out[3], 100 * (2 / 3) / (2 / 3 + 1 / 6))
    # next: ag=(2/3*2+0.5)/3, al=(1/6*2)/3
    ag, al = (2 / 3 * 2 + 0.5) / 3, (1 / 6 * 2) / 3
    assert math.isclose(out[4], 100 * ag / (ag + al))


def test_ema_short_group_all_null():
    out = _ema_series(np.array([1.0, 2.0]), 3)
    assert np.isnan(out).all()


def test_groups_are_independent(spark):
    df = _ohlc(spark, [1.0, 2.0, 3.0, 4.0], "USD/JPY").unionByName(
        _ohlc(spark, [10.0, 20.0, 30.0, 40.0], "EUR/JPY")
    )
    out = ema(df, 3)
    usd = _values(out.filter(out.currency_pair_code == "USD/JPY"))
    eur = _values(out.filter(out.currency_pair_code == "EUR/JPY"))
    assert usd[2:] == pytest.approx([2.0, 3.0])
    assert eur[2:] == pytest.approx([20.0, 30.0])


# --- MACD / ATR / Bollinger / Stochastic -------------------------------------


def test_macd_series_golden():
    # closes 1..8, fast=2 slow=3 signal=2: both EMAs track the linear trend
    # with constant lag → macd constant 0.5 from idx 2, signal = 0.5 from
    # idx 3 (seed = SMA of first 2 valid macd values), hist = 0.
    m, s, h = _macd_series(np.arange(1.0, 9.0), 2, 3, 2)
    assert np.isnan(m[:2]).all() and np.isnan(s[:3]).all()
    assert m[2:] == pytest.approx([0.5] * 6)
    assert s[3:] == pytest.approx([0.5] * 5)
    assert h[3:] == pytest.approx([0.0] * 5)


def test_macd_dataframe_warmup_nulls(spark):
    df = _ohlc(spark, list(map(float, range(1, 9))))
    out = macd(df, 2, 3, 2)
    rows = sorted(out.collect(), key=lambda r: r["time"])
    assert [r["macd"] for r in rows[:2]] == [None, None]
    assert [r["macd_signal"] for r in rows[:3]] == [None, None, None]
    assert rows[-1]["macd"] == pytest.approx(0.5)
    assert rows[-1]["macd_hist"] == pytest.approx(0.0)


def test_atr_series_golden():
    # high = close+1, low = close−1, linear closes: every true range is 2
    # (range and gap-moves tie at 2) → seed and all smoothed values are 2.
    c = np.arange(1.0, 7.0)
    out = _atr_series(c + 1, c - 1, c, 3)
    assert np.isnan(out[:3]).all()
    assert out[3:] == pytest.approx([2.0, 2.0, 2.0])


def test_atr_true_range_uses_prev_close_gap():
    # A gap: close jumps 1→10 with high=low=close → tr at idx1 is |10−1|=9,
    # then flat at 10 → tr 0. period=2: seed = mean(9, 0) = 4.5 at idx 2,
    # next = (4.5·1 + 0)/2 = 2.25.
    c = np.array([1.0, 10.0, 10.0, 10.0])
    out = _atr_series(c, c, c, 2)
    assert np.isnan(out[:2]).all()
    assert out[2] == pytest.approx(4.5)
    assert out[3] == pytest.approx(2.25)


def test_bollinger_golden(spark):
    out = bollinger(_ohlc(spark, [1.0, 2.0, 3.0, 4.0, 5.0]), 3, 2.0)
    rows = sorted(out.collect(), key=lambda r: r["time"])
    assert [r["mid"] for r in rows[:2]] == [None, None]
    sd = math.sqrt(2.0 / 3.0)  # population stddev of 3 consecutive ints
    for r, mid in zip(rows[2:], [2.0, 3.0, 4.0]):
        assert r["mid"] == pytest.approx(mid)
        assert r["upper"] == pytest.approx(mid + 2 * sd)
        assert r["lower"] == pytest.approx(mid - 2 * sd)


def test_stochastic_golden_trend_and_flat(spark):
    # Rising series with high=low=close: %K pins at 100; flat series hits
    # the zero-range guard → 0.
    up = stochastic(_ohlc(spark, [1.0, 2.0, 3.0, 4.0, 5.0]), 3, 2)
    rows = sorted(up.collect(), key=lambda r: r["time"])
    assert [r["pct_k"] for r in rows[:2]] == [None, None]
    assert [r["pct_k"] for r in rows[2:]] == pytest.approx([100.0] * 3)
    assert [r["pct_d"] for r in rows[:3]] == [None, None, None]
    assert [r["pct_d"] for r in rows[3:]] == pytest.approx([100.0] * 2)

    flat = stochastic(_ohlc(spark, [5.0] * 5, "EUR/JPY"), 3, 2)
    vals = [r["pct_k"] for r in sorted(flat.collect(), key=lambda r: r["time"])]
    assert vals[2:] == pytest.approx([0.0] * 3)


def test_holt_forecast_reference_and_constant_series(spark):
    """Holt kernel: matches a hand-rolled scalar recursion, and on a
    constant series the forecast equals the constant from step 2 with
    trend exactly 0 (causal init, no lookahead)."""
    import numpy as np

    from trading_etl_spark.operators.indicators import (
        HOLT_ALPHA,
        HOLT_BETA,
        _holt_series,
    )

    ys = [1.0, 4.0, 2.0, 8.0, 5.0, 5.5]
    f, ls, bs = _holt_series(np.array(ys))
    level, trend = ys[0], 0.0
    assert np.isnan(f[0])
    for i in range(1, len(ys)):
        assert f[i] == level + trend
        nl = HOLT_ALPHA * ys[i] + (1.0 - HOLT_ALPHA) * (level + trend)
        trend = HOLT_BETA * (nl - level) + (1.0 - HOLT_BETA) * trend
        level = nl
        assert ls[i] == level and bs[i] == trend
    fc, lc, bc = _holt_series(np.full(50, 7.25))
    assert np.allclose(fc[1:], 7.25) and np.allclose(bc, 0.0)


def test_volatility_matches_numpy_reference(spark):
    """realized_vol == sample stddev of the trailing `period` log returns,
    parkinson_vol == sqrt(mean(ln(high/low)^2)/(4 ln 2)) over the same
    window; first `period` rows NULL (one consumed by the first return)."""
    from datetime import datetime, timedelta

    from trading_etl_spark.operators.indicators import volatility

    closes = [100.0, 101.0, 99.5, 102.0, 103.5, 102.5, 104.0]
    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), c, c * 1.01, c * 0.99, c)
        for i, c in enumerate(closes)
    ]
    out = volatility(spark.createDataFrame(rows, OHLC_SCHEMA), period=3)
    got = sorted(out.collect(), key=lambda r: r["time"])
    assert [r["realized_vol"] for r in got[:3]] == [None, None, None]

    lr = np.diff(np.log(closes))
    hl2 = math.log(1.01 / 0.99) ** 2  # constant across rows by construction
    for i in range(3, len(closes)):
        exp_rv = float(np.std(lr[i - 3 : i], ddof=1))
        assert got[i]["realized_vol"] == pytest.approx(exp_rv, rel=1e-9)
        assert got[i]["parkinson_vol"] == pytest.approx(
            math.sqrt(hl2 / (4 * math.log(2))), rel=1e-9
        )


def test_donchian_channels_reference(spark):
    """upper/lower = trailing max(high)/min(low), mid their mean; NULL
    until a full window exists."""
    from datetime import datetime, timedelta

    from trading_etl_spark.operators.indicators import donchian

    highs = [10.0, 12.0, 11.0, 15.0, 13.0, 9.0]
    lows = [8.0, 9.0, 7.0, 11.0, 10.0, 6.0]
    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), h, h, l, (h + l) / 2)
        for i, (h, l) in enumerate(zip(highs, lows))
    ]
    out = donchian(spark.createDataFrame(rows, OHLC_SCHEMA), period=3)
    got = sorted(out.collect(), key=lambda r: r["time"])
    assert [r["upper"] for r in got[:2]] == [None, None]
    for i in range(2, len(highs)):
        hh, ll = max(highs[i - 2 : i + 1]), min(lows[i - 2 : i + 1])
        assert (got[i]["upper"], got[i]["lower"], got[i]["mid"]) == (
            hh,
            ll,
            (hh + ll) / 2,
        )


def test_ichimoku_reference(spark):
    """Component-by-component against a hand-rolled NumPy reference on a
    short series with tenkan=2, kijun=3, senkou_b=4 (scaled-down periods;
    the production 9/26/52 shares the same expressions)."""
    from datetime import datetime, timedelta

    from trading_etl_spark.operators.indicators import ichimoku

    n = 12
    highs = [10.0 + (i * 7 % 5) for i in range(n)]
    lows = [h - 2.0 - (i % 3) for i, h in enumerate(highs)]
    closes = [(h + l) / 2 for h, l in zip(highs, lows)]
    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), h, h, l, c)
        for i, (h, l, c) in enumerate(zip(highs, lows, closes))
    ]
    out = ichimoku(
        spark.createDataFrame(rows, OHLC_SCHEMA), tenkan=2, kijun=3, senkou_b=4
    )
    got = sorted(out.collect(), key=lambda r: r["time"])

    def mid(p, i):
        if i + 1 < p:
            return None
        return (max(highs[i - p + 1 : i + 1]) + min(lows[i - p + 1 : i + 1])) / 2

    for i in range(n):
        tk, kj = mid(2, i), mid(3, i)
        assert got[i]["tenkan_sen"] == tk
        assert got[i]["kijun_sen"] == kj
        j = i - 3  # senkou lines lag kijun=3 rows
        if j >= 0 and mid(2, j) is not None and mid(3, j) is not None:
            assert got[i]["senkou_a"] == (mid(2, j) + mid(3, j)) / 2
        else:
            assert got[i]["senkou_a"] is None
        assert got[i]["senkou_b_ln"] == (mid(4, j) if j >= 0 else None)
        assert got[i]["chikou"] == (closes[i + 3] if i + 3 < n else None)


def test_adx_monotone_trend_is_100():
    """A strictly rising series has only +DM, so +DI = 100·sDM/sTR stays
    exactly 50 (sDM and sTR are both fixed points of the Wilder update
    here: 14−14/14+1 = 14, 28−28/14+2 = 28), −DI = 0, hence DX = 100 and
    ADX = 100 at and after its seed index 2·period−1."""
    import numpy as np

    from trading_etl_spark.operators.indicators import _adx_series

    n = 40
    close = np.arange(n, dtype=np.float64)
    high = close + 1.0
    low = close - 1.0
    pdi, mdi, adx = _adx_series(high, low, close, 14)
    assert np.isnan(adx[: 2 * 14 - 1]).all()
    assert np.allclose(pdi[14:], 50.0) and np.allclose(mdi[14:], 0.0)
    assert np.allclose(adx[2 * 14 - 1 :], 100.0)
    # warm-up: nothing defined before index `period`
    assert np.isnan(pdi[:14]).all()


def test_adx_flat_series_is_zero_not_nan():
    """A perfectly flat series has zero TR and zero DMs — the kernel's
    0-on-zero-denominator convention (shared with the oracle) must yield
    0, never inf/NaN."""
    import numpy as np

    from trading_etl_spark.operators.indicators import _adx_series

    n = 40
    close = np.full(n, 5.0)
    pdi, mdi, adx = _adx_series(close, close, close, 14)
    assert np.allclose(pdi[14:], 0.0) and np.allclose(mdi[14:], 0.0)
    assert np.allclose(adx[2 * 14 - 1 :], 0.0)


def test_williams_r_trend_and_flat(spark):
    """Rising unit-step series: HH−close = 1, HH−LL = period+1 ⇒ %R =
    −100/(period+1) on every warm row; a flat series hits the zero-range
    convention (0.0, matching stochastic's)."""
    from datetime import datetime, timedelta

    from trading_etl_spark.operators.indicators import williams_r

    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), float(i), i + 1.0, i - 1.0, float(i))
        for i in range(30)
    ] + [
        ("EUR/USD", "1h", t0 + timedelta(hours=i), 5.0, 5.0, 5.0, 5.0)
        for i in range(30)
    ]
    out = williams_r(spark.createDataFrame(rows, OHLC_SCHEMA), period=14)
    got = {
        (r["currency_pair_code"], r["time"]): r["pct_r"] for r in out.collect()
    }
    for i in range(30):
        t = t0 + timedelta(hours=i)
        if i < 13:
            assert got[("USD/JPY", t)] is None
        else:
            # HH = i+1, LL = (i-13)-1, close = i -> -100 * 1 / 15
            assert abs(got[("USD/JPY", t)] - (-100.0 / 15.0)) < 1e-9
            assert got[("EUR/USD", t)] == 0.0


def test_cci_linear_trend_constant_value(spark):
    """Linear tp ramp: tp − SMA = (period−1)/2 and the mean deviation is
    period/4, so CCI = ((p−1)/2)/(0.015·p/4) everywhere once warm; a
    constant series has zero deviation ⇒ NULL (undefined, not inf)."""
    from datetime import datetime, timedelta

    from trading_etl_spark.operators.indicators import cci

    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), float(i), float(i), float(i), float(i))
        for i in range(30)
    ] + [
        ("EUR/USD", "1h", t0 + timedelta(hours=i), 5.0, 5.0, 5.0, 5.0)
        for i in range(30)
    ]
    out = cci(spark.createDataFrame(rows, OHLC_SCHEMA), period=20)
    got = {
        (r["currency_pair_code"], r["time"]): r["cci"] for r in out.collect()
    }
    expected = (19.0 / 2.0) / (0.015 * 20.0 / 4.0)  # 9.5 / 0.075
    for i in range(30):
        t = t0 + timedelta(hours=i)
        if i < 19:
            assert got[("USD/JPY", t)] is None
        else:
            assert abs(got[("USD/JPY", t)] - expected) < 1e-9
        assert got[("EUR/USD", t)] is None


def test_keltner_composes_ema_and_atr(spark):
    """Keltner mid/upper/lower must equal EMA(close) ± mult·ATR computed by
    the standalone kernels — the one-pass composition cannot drift from its
    parts."""
    closes = [float(c) for c in (10, 11, 13, 12, 14, 15, 13, 16, 17, 18)]
    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), c, c + 0.5, c - 0.5, c)
        for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(rows, OHLC_SCHEMA)
    out = sorted(keltner(df, 5, 3, 2.0).collect(), key=lambda r: r["time"])
    e = _ema_series(np.array(closes), 5)
    a = _atr_series(
        np.array([c + 0.5 for c in closes]),
        np.array([c - 0.5 for c in closes]),
        np.array(closes),
        3,
    )
    for i, r in enumerate(out):
        if np.isnan(e[i]) or np.isnan(a[i]):
            continue  # NULL until both recursions seeded; Arrow NaN→NULL
        assert r["mid"] == pytest.approx(e[i])
        assert r["upper"] == pytest.approx(e[i] + 2.0 * a[i])
        assert r["lower"] == pytest.approx(e[i] - 2.0 * a[i])
    # warm-up: EMA (period 5) is the slower recursion here
    assert all(out[i]["mid"] is None for i in range(4))


def _keltner_series(high, low, close):
    e, a = _ema_series(close, 3), _atr_series(high, low, close, 2)
    return e, e + 2.0 * a, e - 2.0 * a


# name -> (the DataFrame call, its output columns, the same indicator as
# ``_*_series`` arrays over one series' high, low and close in time order)
_KERNELS = {
    "adx": (
        lambda df: adx(df, 3),
        ("plus_di", "minus_di", "adx"),
        lambda h, lo, c: _adx_series(h, lo, c, 3),
    ),
    "macd": (
        lambda df: macd(df, 2, 3, 2),
        ("macd", "macd_signal", "macd_hist"),
        lambda h, lo, c: _macd_series(c, 2, 3, 2),
    ),
    "atr": (
        lambda df: atr(df, 3),
        ("value",),
        lambda h, lo, c: (_atr_series(h, lo, c, 3),),
    ),
    "holt_forecast": (
        holt_forecast,
        ("forecast", "level", "trend"),
        lambda h, lo, c: _holt_series(c),
    ),
    "keltner": (
        lambda df: keltner(df, 3, 2, 2.0),
        ("mid", "upper", "lower"),
        _keltner_series,
    ),
    "trix": (
        lambda df: trix(df, 2),
        ("value",),
        lambda h, lo, c: (_trix_series(c, 2),),
    ),
}


@pytest.mark.parametrize("name", sorted(_KERNELS))
def test_per_series_kernels_match_series_functions(spark, name):
    """Every grouped recursive indicator returns, per (pair, timeframe)
    series, its ``_*_series`` arrays over that series in time order, with
    NaN as NULL and the pair, timeframe and time carried on each row —
    whatever order the rows arrive in."""
    call, outputs, series_fn = _KERNELS[name]
    rng = np.random.default_rng(7)
    t0 = datetime(2024, 1, 1)
    series = {}
    rows = []
    for pair in ("USD/JPY", "EUR/USD"):
        for tf in ("1h", "4h"):
            close = 100.0 + np.cumsum(rng.normal(0, 1, 14))
            high = close + rng.uniform(0.1, 1.0, 14)
            low = close - rng.uniform(0.1, 1.0, 14)
            times = [t0 + timedelta(hours=i) for i in range(14)]
            series[(pair, tf)] = (times, series_fn(high, low, close))
            rows += [
                (pair, tf, t, float(c), float(h), float(lo), float(c))
                for t, h, lo, c in zip(times, high, low, close)
            ]
    order = rng.permutation(len(rows))
    df = spark.createDataFrame([rows[i] for i in order], OHLC_SCHEMA)
    out = call(df)
    assert out.columns == [*GROUP_KEYS, "time", *outputs]
    got = {(r[0], r[1], r[2]): r for r in out.collect()}
    assert len(got) == len(rows)
    for key, (times, arrays) in series.items():
        for i, t in enumerate(times):
            r = got[(*key, t)]
            for col, arr in zip(outputs, arrays):
                if np.isnan(arr[i]):
                    assert r[col] is None, (key, t, col)
                else:
                    assert r[col] == arr[i], (key, t, col)


def test_trix_cascade_offsets_and_constant_series():
    """Stage k of the triple-EMA cascade is defined from index k·(p−1);
    TRIX of a constant series is exactly 0 once defined."""
    p = 3
    const = _trix_series(np.full(12, 5.0), p)
    first = 3 * (p - 1) + 1  # lag consumes one more row
    assert np.isnan(const[:first]).all()
    assert const[first:] == pytest.approx(np.zeros(12 - first))
    # rising series: triple EMA rises, so TRIX > 0 everywhere defined
    rising = _trix_series(np.arange(1.0, 16.0), p)
    assert np.isnan(rising[:first]).all()
    assert (rising[first:] > 0).all()


def test_obv_golden_vector(spark):
    """OBV: +vol on up-close, −vol on down, 0 on flat, first row 0."""
    from trading_etl_spark.operators.indicators import obv

    t0 = datetime(2024, 1, 1)
    closes = [10.0, 11.0, 11.0, 10.0, 12.0]
    vols = [100, 200, 300, 400, 500]
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), c, c, c, c, v)
        for i, (c, v) in enumerate(zip(closes, vols))
    ]
    df = spark.createDataFrame(
        rows,
        "currency_pair_code string, timeframe_code string, time timestamp,"
        " open double, high double, low double, close double, volume long",
    )
    out = sorted(obv(df).collect(), key=lambda r: r["time"])
    assert [r["obv"] for r in out] == [0, 200, 200, -200, 300]


def test_vwap_resets_at_day_anchor(spark):
    """VWAP is the running typical-price mean weighted by volume and resets
    at the UTC day boundary."""
    from trading_etl_spark.operators.indicators import vwap_anchored

    t0 = datetime(2024, 1, 1, 22)
    rows = [
        # day 1: two candles
        ("USD/JPY", "1h", t0, 10.0, 12.0, 8.0, 10.0, 100),   # tp=10
        ("USD/JPY", "1h", t0 + timedelta(hours=1), 20.0, 21.0, 15.0, 18.0, 300),  # tp=18
        # day 2: fresh anchor
        ("USD/JPY", "1h", t0 + timedelta(hours=2), 30.0, 30.0, 30.0, 30.0, 100),  # tp=30
    ]
    df = spark.createDataFrame(
        rows,
        "currency_pair_code string, timeframe_code string, time timestamp,"
        " open double, high double, low double, close double, volume long",
    )
    out = sorted(vwap_anchored(df).collect(), key=lambda r: r["time"])
    assert out[0]["vwap"] == pytest.approx(10.0)
    assert out[1]["vwap"] == pytest.approx((10.0 * 100 + 18.0 * 300) / 400)
    assert out[2]["vwap"] == pytest.approx(30.0)  # new day restarts the sums
    assert str(out[2]["anchor_date"]) == "2024-01-02"


def test_candle_patterns_known_shapes(spark):
    """Doji, hammer, and engulfing classify hand-built candles."""
    from trading_etl_spark.operators.indicators import candle_patterns

    t0 = datetime(2024, 1, 1)
    rows = [
        # open, high, low, close
        ("P", "1h", t0, 10.0, 11.0, 9.0, 10.05),                      # doji (body .05 <= .2)
        ("P", "1h", t0 + timedelta(hours=1), 10.0, 10.1, 8.0, 9.5),   # hammer (ls 1.5 >= 2*.5)
        ("P", "1h", t0 + timedelta(hours=2), 9.4, 10.6, 9.3, 10.5),   # bull engulfs prev body
        ("P", "1h", t0 + timedelta(hours=3), 10.6, 10.7, 9.2, 9.3),   # bear engulfs prev body
        ("P", "1h", t0 + timedelta(hours=4), 10.0, 10.0, 10.0, 10.0), # zero range: nothing
    ]
    df = spark.createDataFrame(
        rows,
        "currency_pair_code string, timeframe_code string, time timestamp,"
        " open double, high double, low double, close double",
    )
    out = sorted(candle_patterns(df).collect(), key=lambda r: r["time"])
    assert [r["doji"] for r in out] == [True, False, False, False, False]
    # row 1: body .5, lower shadow 1.5 >= 1.0, upper shadow .1 <= .5
    assert [r["hammer"] for r in out] == [False, True, False, False, False]
    assert [r["bull_engulf"] for r in out] == [False, False, True, False, False]
    assert [r["bear_engulf"] for r in out] == [False, False, False, True, False]


ALL_PERIODS = [3, 5, 14]


def _walks(spark):
    """Two random-walk series; the second is shorter than the largest period,
    so all of its period-14 rows are warm-up NULLs."""
    rng = np.random.default_rng(7)
    t0 = datetime(2024, 1, 1)
    rows = []
    for pair, n in (("USD/JPY", 40), ("EUR/JPY", 10)):
        closes = 100.0 + np.cumsum(rng.normal(size=n))
        rows += [
            (pair, "1h", t0 + timedelta(hours=i), float(c), float(c), float(c), float(c))
            for i, c in enumerate(closes)
        ]
    return spark.createDataFrame(rows, OHLC_SCHEMA)


def _masked(ohlc):
    """``ohlc`` with a :func:`keep_col` mask per period of ``ALL_PERIODS``,
    keeping rows from the end of each series: period 3's suffix starts
    mid-series, so its warm-up must count from that suffix's start."""
    kept = {3: 8, 5: 25, 14: 40}
    newest_first = Window.partitionBy(*GROUP_KEYS).orderBy(F.desc("time"))
    return ohlc.withColumn("_r", F.row_number().over(newest_first)).select(
        *ohlc.columns, *[(F.col("_r") <= n).alias(keep_col(p)) for p, n in kept.items()]
    )


def _fact_rows(df):
    return sorted(
        df.collect(), key=lambda r: (r["currency_pair_code"], r["period"], r["time"])
    )


@pytest.mark.parametrize(
    "single, multi",
    [(sma, sma_periods), (ema, ema_periods), (rsi, rsi_periods)],
    ids=["sma", "ema", "rsi"],
)
def test_all_periods_kernel_equals_single_period_union(spark, single, multi):
    """The one-pass kernel equals the union of single-period calls, row for
    row and bit for bit — over whole series, and under a keep mask that
    gives each period its own suffix (the incremental refresh's input)."""
    ohlc = _walks(spark)
    want = [single(ohlc, p) for p in ALL_PERIODS]
    assert _fact_rows(multi(ohlc, ALL_PERIODS)) == _fact_rows(
        want[0].unionByName(want[1]).unionByName(want[2])
    )

    masked = _masked(ohlc)
    want = [
        single(masked.filter(keep_col(p)).select(*ohlc.columns), p) for p in ALL_PERIODS
    ]
    got = _fact_rows(multi(masked, ALL_PERIODS))
    assert got == _fact_rows(want[0].unionByName(want[1]).unionByName(want[2]))
    assert len(got) == 8 + 8 + 25 + 10 + 40 + 10


BRANCH_KERNELS = {
    "ema": lambda o: ema_periods(o, ALL_PERIODS),
    "ema_masked": lambda o: ema_periods(_masked(o), ALL_PERIODS),
    "rsi": lambda o: rsi_periods(o, ALL_PERIODS),
    "rsi_masked": lambda o: rsi_periods(_masked(o), ALL_PERIODS),
    "macd": macd,
    "atr": atr,
    "adx": adx,
    "holt_forecast": holt_forecast,
    "keltner": keltner,
    "trix": trix,
}


@pytest.mark.parametrize("name", list(BRANCH_KERNELS))
def test_driver_branch_equals_executor_branch(spark, monkeypatch, name):
    """Below ``DRIVER_SERIES_MAX_ROWS`` a grouped kernel runs on the
    driver; the same closure through ``applyInPandas`` (the bound forced
    below the input) must give the same rows bit for bit, each warm-up NaN
    arriving as NULL on both branches."""
    from trading_etl_spark.operators import indicators

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    kernel = BRANCH_KERNELS[name]
    ohlc = _walks(spark)
    driver = kernel(ohlc)  # the branch is chosen when the relation is built
    monkeypatch.setattr(indicators, "DRIVER_SERIES_MAX_ROWS", -1)
    executors = kernel(ohlc)
    assert "InPandas" not in plan(driver), plan(driver)
    assert "FlatMapGroupsInPandas" in plan(executors), plan(executors)
    got = sorted(map(repr, driver.collect()))
    assert got == sorted(map(repr, executors.collect()))
    assert any("None" in r for r in got) and not any("nan" in r for r in got)
