"""The session cache (trading_etl_spark.cache): entries follow the source
files they read, never cross applications, and the split probe re-keys on
its sizing conf."""

import datetime
import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_catalog import SF_DIR  # the shared fixture-corpus location


def _write_parts(table: pa.Table, path: str, n: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n)
    for i in range(n):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def test_append_under_source_dir_is_served_without_clearing(spark, tmp_path):
    """An append under a source directory mid-session must reach every
    cached relation built from it, with no clear_* call in between."""
    from trading_etl_spark.operators import text as tx
    from trading_etl_spark.queries import datapipe, trading

    if not os.path.isdir(SF_DIR):
        pytest.skip("testdata corpus not present")
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    src = str(tmp_path / "src")
    _write_parts(events, f"{src}/events.parquet", 2)
    _write_parts(docs, f"{src}/documents.parquet", 2)

    latest = trading.QUERIES["latest_tick_per_pair"]
    quality = datapipe.QUERIES["text_quality_score"]
    before = {r.currency_pair_code: r.time for r in latest(spark, src).collect()}
    minutes = trading.QUERIES["ohlc_1m"](spark, src).count()
    doc_ids = {r.doc_id for r in quality(spark, src).collect()}
    assert len(doc_ids) == docs.num_rows
    tx._shingles_cached(datapipe._docs(spark, src)).count()

    tick = events.slice(events.num_rows - 1).to_pylist()[0]
    tick.update(
        event_id=max(events.column("event_id").to_pylist()) + 1,
        ts=max(events.column("ts").to_pylist()) + datetime.timedelta(days=1),
    )
    pq.write_table(
        pa.Table.from_pylist([tick], schema=events.schema),
        f"{src}/events.parquet/part-9.parquet",
    )
    text = "a fresh document appended to the corpus in the middle of a session"
    doc = {
        "doc_id": max(doc_ids) + 1, "text": text, "lang": "en",
        "source": "web", "n_chars": len(text),
    }
    pq.write_table(
        pa.Table.from_pylist([doc], schema=docs.schema),
        f"{src}/documents.parquet/part-9.parquet",
    )

    after = {r.currency_pair_code: r.time for r in latest(spark, src).collect()}
    assert max(after.values()) - max(before.values()) == datetime.timedelta(days=1)
    # the candle chain is a plain .cache() pair: its rebuild over the same
    # path must be cached again and hold the new minute
    assert trading.QUERIES["ohlc_1m"](spark, src).count() == minutes + 1
    assert trading._ohlc_1m(spark, src).storageLevel.useMemory
    assert {r.doc_id for r in quality(spark, src).collect()} == doc_ids | {doc["doc_id"]}
    # a refreshed docs handle has byte-identical plan text: the relation
    # keyed on it must still rebuild from the grown file set
    shingled = tx._shingles_cached(datapipe._docs(spark, src))
    assert shingled.filter(shingled.doc_id == doc["doc_id"]).count() > 0


def test_append_reaches_streaming_candle_dump(spark, tmp_path):
    """The streaming candle gates replay a disk dump of the 1h candles, kept
    per (app, source dir). An append under the source directory must
    rebuild the dump, so the appended hour reaches the gate's output."""
    from pyspark.sql import functions as F

    from trading_etl_spark.queries import streamgate

    if not os.path.isdir(SF_DIR):
        pytest.skip("testdata corpus not present")
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    src = str(tmp_path / "src")
    _write_parts(events, f"{src}/events.parquet", 2)
    ema = streamgate.QUERIES["streaming_ema_14_1h"]

    def last_hour():
        return ema(spark, src).agg(F.max("time")).first()[0]

    before = last_hour()
    tick = events.slice(events.num_rows - 1).to_pylist()[0]
    tick.update(
        event_id=max(events.column("event_id").to_pylist()) + 1,
        ts=max(events.column("ts").to_pylist()) + datetime.timedelta(hours=1),
    )
    pq.write_table(
        pa.Table.from_pylist([tick], schema=events.schema),
        f"{src}/events.parquet/part-9.parquet",
    )
    assert last_hour() - before == datetime.timedelta(hours=1)


def test_second_application_never_sees_first_entry(spark):
    from trading_etl_spark import cache

    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-other"))
    cache.clear(None, "app-test")
    assert cache.cached(spark, "app-test", lambda: "first", 1) == "first"
    assert cache.cached(other, "app-test", lambda: "second", 1) == "second"
    assert cache.cached(spark, "app-test", lambda: "rebuilt", 1) == "first"
    # clearing one application leaves the other's entry in place
    assert cache.clear(other, "app-test") == 1
    assert cache.cached(spark, "app-test", lambda: "rebuilt", 1) == "first"
    assert cache.clear(spark, "app-test") == 1


def test_split_probe_rekeys_on_open_cost(spark, tmp_path):
    """The split count depends on openCostInBytes and minPartitionNum as
    well as maxPartitionBytes: changing one mid-session probes again."""
    from trading_etl_spark.sources import ticks

    (tmp_path / "part-0.parquet").write_bytes(b"x")
    probes = []
    scan = SimpleNamespace(
        rdd=SimpleNamespace(getNumPartitions=lambda: probes.append(1) or 3)
    )
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key, None)
    try:
        assert ticks._scan_splits(spark, str(tmp_path), scan) == 3
        assert ticks._scan_splits(spark, str(tmp_path), scan) == 3
        assert len(probes) == 1
        spark.conf.set(key, "1234567")
        assert ticks._scan_splits(spark, str(tmp_path), scan) == 3
        assert len(probes) == 2
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_concurrent_lookups_share_one_value_per_key():
    """Builds run from several threads (materialize_trading_relations): a
    key built concurrently must still hand every caller the same stored
    value, and the kind must stay within its bound."""
    import sys
    import threading

    from trading_etl_spark import cache

    app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-stress"))
    seen = [[] for _ in range(16)]

    def worker(out):
        for i in range(300):
            out.append((i % 4, cache.cached(app, "stress-test", object, i % 4)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(out,)) for out in seen]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    values = {}
    for out in seen:
        assert len(out) == 300
        for k, v in out:
            values.setdefault(k, set()).add(id(v))
    assert all(len(ids) == 1 for ids in values.values()), values
    assert cache.clear(app, "stress-test") == 4
