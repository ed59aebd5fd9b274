"""Structured Streaming tick path (SURVEY.md §2.8): parse → validate →
watermark dedup → append sink, plus the latest-value cache (R3)."""

import json
from pathlib import Path

from trading_etl_spark.streaming.ticks import (
    start_latest_value_cache,
    start_ohlc_stream,
    start_tick_ingest,
)


def _frame(symbol, ts, bid, ask, type_="ticker"):
    return json.dumps(
        {"type": type_, "symbol": symbol, "timestamp": ts, "bid": str(bid), "ask": str(ask)}
    )


FRAMES = [
    _frame("USD_JPY", "2024-01-01T10:00:00.100Z", 100.0, 100.2),
    _frame("USD_JPY", "2024-01-01T10:00:00.900Z", 101.0, 101.2),  # same second → dropped
    _frame("USD_JPY", "2024-01-01T10:00:01.000Z", 102.0, 102.2),
    _frame("EUR_JPY", "2024-01-01T10:00:00.500Z", 160.0, 160.2),  # other symbol kept
    _frame("USD_JPY", "2024-01-01T10:00:02.000Z", -1.0, 100.0),  # invalid: bid <= 0
    _frame("USD_JPY", "2024-01-01T10:00:03.000Z", 105.0, 104.0),  # invalid: bid > ask
    json.dumps({"type": "subscribe-ack"}),  # non-ticker frame → dropped
    "not json at all",  # unparseable → dropped
]


def _write_frames(dir_path, frames, name="frames-0.jsonl"):
    src = dir_path / "in"
    src.mkdir(exist_ok=True)
    (src / name).write_text("\n".join(frames) + "\n")
    return str(src)


def test_stream_ingest_parse_validate_dedup(spark, tmp_path):
    src = _write_frames(tmp_path, FRAMES)
    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    start_tick_ingest(spark, src, sink, ckpt).awaitTermination()

    rows = sorted(
        spark.read.parquet(sink).collect(),
        key=lambda r: (r["currency_pair_symbol"], r["time"]),
    )
    got = [(r["currency_pair_symbol"], r["time"].isoformat(), r["bid"], r["mid"]) for r in rows]
    assert got == [
        ("EUR_JPY", "2024-01-01T10:00:00", 160.0, 160.1),
        ("USD_JPY", "2024-01-01T10:00:00", 100.0, 100.1),  # first tick of second wins
        ("USD_JPY", "2024-01-01T10:00:01", 102.0, 102.1),
    ]


def test_stream_ingest_is_incremental(spark, tmp_path):
    """Restarting over the same checkpoint processes only new files (R1/R2)."""
    src = _write_frames(tmp_path, FRAMES[:1])
    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    start_tick_ingest(spark, src, sink, ckpt).awaitTermination()
    assert spark.read.parquet(sink).count() == 1

    _write_frames(tmp_path, [_frame("USD_JPY", "2024-01-01T10:00:05.000Z", 103.0, 103.2)],
                  name="frames-1.jsonl")
    start_tick_ingest(spark, src, sink, ckpt).awaitTermination()
    assert spark.read.parquet(sink).count() == 2


def test_stream_ohlc_window_agg(spark, tmp_path):
    """R7: dedup → tumbling 1-minute OHLC; append mode emits only windows the
    watermark has closed, with batch-identical first/last semantics."""
    frames = [
        _frame("USD_JPY", "2024-01-01T10:00:01Z", 100.0, 100.2),
        _frame("USD_JPY", "2024-01-01T10:00:30Z", 103.0, 103.2),
        _frame("USD_JPY", "2024-01-01T10:00:59Z", 101.0, 101.2),
        _frame("USD_JPY", "2024-01-01T10:01:10Z", 102.0, 102.2),
        _frame("USD_JPY", "2024-01-01T10:02:10Z", 104.0, 104.2),  # closes 10:01
    ]
    src = _write_frames(tmp_path, frames)
    sink, ckpt = str(tmp_path / "ohlc"), str(tmp_path / "ckpt-ohlc")
    start_ohlc_stream(spark, src, sink, ckpt).awaitTermination()

    rows = {
        r["time"].isoformat(): (r["open"], r["high"], r["low"], r["close"])
        for r in spark.read.parquet(sink).collect()
    }
    assert rows == {
        "2024-01-01T10:00:00": (100.0, 103.0, 100.0, 101.0),
        "2024-01-01T10:01:00": (102.0, 102.0, 102.0, 102.0),
        # 10:02 window still open (watermark hasn't passed it) — not emitted
    }


def test_custom_tick_datasource(spark, tmp_path):
    """S1: the gmo_ticks Python DataSource feeds the same parse→dedup
    pipeline as the file feed; deterministic synthetic frames, offset-based
    replay."""
    from trading_etl_spark.sources.tick_ws_source import GmoTickDataSource
    from trading_etl_spark.streaming.ticks import dedup_ticks, parse_ticks

    spark.dataSource.register(GmoTickDataSource)
    frames = (
        spark.readStream.format("gmo_ticks")
        .option("pairs", "USD_JPY,EUR_JPY")
        .option("frames_per_batch", "20")
        .option("max_frames", "40")
        .load()
    )
    ticks = dedup_ticks(parse_ticks(frames))
    q = (
        ticks.writeStream.format("memory")
        .queryName("t_ws_ticks")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from t_ws_ticks").collect()
    # 20 frames over 2 pairs → 10 distinct seconds each, all deduped-unique
    assert len(rows) == 20
    keys = {(r["currency_pair_symbol"], r["time"]) for r in rows}
    assert len(keys) == 20
    assert all(r["bid"] < r["ask"] for r in rows)


def test_latest_value_cache(spark, tmp_path):
    src = _write_frames(tmp_path, FRAMES)
    start_latest_value_cache(
        spark, src, str(tmp_path / "ckpt2"), view_name="t_latest"
    ).awaitTermination()

    latest = {
        r["currency_pair_symbol"]: (r["time"].isoformat(), r["bid"])
        for r in spark.table("global_temp.t_latest").collect()
    }
    assert latest["USD_JPY"] == ("2024-01-01T10:00:01", 102.0)  # newest valid tick
    assert latest["EUR_JPY"] == ("2024-01-01T10:00:00", 160.0)


def test_streaming_gate_matches_batch(spark):
    """The correctness-gate streaming query (availableNow drain of the events
    stream) must equal the identical batch aggregation over raw ticks."""
    from pyspark.sql import functions as F

    from trading_etl_spark.queries.streamgate import q_streaming_ohlc_1m
    from trading_etl_spark.sources.ticks import raw_ticks

    sf = "/root/testdata/sf0.001"
    streamed = {tuple(r) for r in q_streaming_ohlc_1m(spark, sf).collect()}
    batch = {
        tuple(r)
        for r in raw_ticks(spark, sf)
        .groupBy("currency_pair_code", F.window("time", "1 minute").alias("w"))
        .agg(
            F.round(F.min_by("bid", "ts"), 6).alias("open"),
            F.round(F.max("bid"), 6).alias("high"),
            F.round(F.min("bid"), 6).alias("low"),
            F.round(F.max_by("bid", "ts"), 6).alias("close"),
            F.count("*").alias("n_ticks"),
        )
        .select("currency_pair_code", F.col("w.start").alias("time"), "open", "high", "low", "close", "n_ticks")
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


class _FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_relay_hook_heartbeat_every_interval():
    """R4: a heartbeat frame is emitted once ≥30 s (here: fake seconds)
    have elapsed, and not before."""
    from trading_etl_spark.streaming.relay import RelayHook

    frames, clock = [], _FakeClock()
    hook = RelayHook(
        lambda df, bid: None,
        frames.append,
        heartbeat_interval=30.0,
        clock=clock,
        sleep=lambda s: None,
    )
    for step in [10.0, 10.0, 10.0, 10.0]:  # batches at t=10,20,30,40
        clock.t += step
        hook(None, 0)
    beats = [f for f in frames if f["type"] == "heartbeat"]
    assert len(beats) == 1  # fired at t=30, next due at t=60
    clock.t = 65.0
    hook(None, 1)
    assert len([f for f in frames if f["type"] == "heartbeat"]) == 2


def test_relay_hook_error_frame_then_retry():
    """R5: a failing batch emits the error frame, sleeps the retry delay,
    and reprocesses; a persistent failure propagates (stream restart)."""
    import pytest

    from trading_etl_spark.streaming.relay import RelayHook

    frames, sleeps, calls = [], [], []

    def flaky(df, bid):
        calls.append(bid)
        if len(calls) == 1:
            raise RuntimeError("boom")

    hook = RelayHook(
        flaky, frames.append, retry_seconds=3.0,
        clock=_FakeClock(), sleep=sleeps.append,
    )
    hook(None, 7)
    errors = [f for f in frames if f["type"] == "error"]
    assert len(errors) == 1
    assert errors[0]["code"] == "DB_POLLING_FAILED"
    assert "batch 7" in errors[0]["message"]
    assert sleeps == [3.0]
    assert calls == [7, 7]  # retried the same batch

    frames.clear()
    always = RelayHook(
        lambda df, bid: (_ for _ in ()).throw(RuntimeError("down")),
        frames.append, max_retries=1,
        clock=_FakeClock(), sleep=lambda s: None,
    )
    with pytest.raises(RuntimeError):
        always(None, 8)
    assert len([f for f in frames if f["type"] == "error"]) == 2


def test_latest_value_cache_with_relay_hook(spark, tmp_path):
    """Integration: the R3 cache stream wrapped in the relay hook emits a
    heartbeat (interval 0 → due immediately) and still builds the view."""
    src = _write_frames(tmp_path, FRAMES)
    frames = []
    start_latest_value_cache(
        spark,
        src,
        str(tmp_path / "ckpt3"),
        view_name="t_latest_hb",
        emit=frames.append,
        relay_hook_kwargs={"heartbeat_interval": 0.0},
    ).awaitTermination()
    assert spark.table("global_temp.t_latest_hb").count() > 0
    assert any(f["type"] == "heartbeat" for f in frames)
    assert all("timestamp" in f for f in frames)


def test_state_partitions_scope_restores_conf(spark):
    """The gate drains run under STATE_PARTITIONS and must restore the
    caller's shuffle-partition conf afterwards — including on error (a
    leaked value would silently resize every later batch shuffle)."""
    import pytest as _pytest

    from trading_etl_spark import streaming

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert int(prev) != streaming.STATE_PARTITIONS
    with streaming.state_partitions(spark, streaming.STATE_PARTITIONS):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            streaming.STATE_PARTITIONS
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    with _pytest.raises(RuntimeError):
        with streaming.state_partitions(spark, streaming.STATE_PARTITIONS):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_tick_ingest_processing_time_trigger_runs_until_stopped(spark, tmp_path):
    """``processing_time`` set: a micro-batch stream that keeps running
    after the backlog (``None`` drains and stops, as the tests above use)."""
    src = _write_frames(tmp_path, FRAMES)
    sink, ckpt = str(tmp_path / "out_pt"), str(tmp_path / "ckpt_pt")
    q = start_tick_ingest(spark, src, sink, ckpt, processing_time="100 milliseconds")
    try:
        q.processAllAvailable()
        assert q.isActive
        assert spark.read.parquet(sink).count() == 3
    finally:
        q.stop()


def test_gate_run_dirs_keep_current_and_previous(tmp_path, monkeypatch):
    """Each gate keeps its current run dir and the previous one (whose
    returned DataFrame the caller may still read lazily); older ones are
    removed, and each gate's dirs are counted on their own."""
    import os
    import tempfile

    from trading_etl_spark.queries import streamgate as sg

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(sg, "_RUN_DIRS", {})
    a1, a2 = sg._fresh_run_dir("gate_a_"), sg._fresh_run_dir("gate_a_")
    b1 = sg._fresh_run_dir("gate_b_")
    a3 = sg._fresh_run_dir("gate_a_")
    assert len({a1, a2, a3}) == 3
    assert not os.path.exists(a1)
    assert all(os.path.isdir(d) for d in (a2, a3, b1))


def test_starter_n_state_partitions_sizes_checkpoint_state(spark, tmp_path):
    """VERDICT r10 task #4: the library starters expose per-stream state
    sizing. Start the OHLC stream with a NON-default n_state_partitions and
    verify (a) the checkpointed state store was created with exactly that
    many partitions — the count a checkpoint freezes for the stream's
    lifetime — and (b) the caller's session conf is untouched afterwards."""
    frames = [
        _frame("USD_JPY", "2024-01-01T10:00:01Z", 100.0, 100.2),
        _frame("USD_JPY", "2024-01-01T10:01:10Z", 102.0, 102.2),
        _frame("USD_JPY", "2024-01-01T10:02:10Z", 104.0, 104.2),
    ]
    src = _write_frames(tmp_path, frames)
    sink, ckpt = str(tmp_path / "ohlc_sized"), str(tmp_path / "ckpt_sized")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "3"
    start_ohlc_stream(
        spark, src, sink, ckpt, n_state_partitions=3
    ).awaitTermination()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    state_op = Path(ckpt) / "state" / "0"
    parts = sorted(p.name for p in state_op.iterdir() if p.name.isdigit())
    assert parts == ["0", "1", "2"], parts


# --- incremental near-dedup ingest gate (r11, streaming/docs.py) ----------

_CORPUS_ROWS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "one two three four five six seven eight nine ten"),
    (3, "totally different corpus document with its own tokens entirely"),
    (4, "yet another unrelated document nothing shared with anything else"),
]


def _write_doc_batch(spark, dir_path, rows, name):
    src = dir_path / "docs_in"
    src.mkdir(exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(dir_path / "_stage" / name))
    import glob
    import shutil

    part = glob.glob(str(dir_path / "_stage" / name / "*.parquet"))[0]
    shutil.copy(part, str(src / f"{name}.parquet"))
    return str(src)


def test_incremental_dedup_stream_matches_batch_probe(spark, tmp_path):
    """Per-micro-batch LSH probe of the static corpus: the union of batch
    results must equal the all-at-once batch probe over every arrived doc
    (statelessness), and an arrival near-duplicating another ARRIVAL (not
    the corpus) must pass through unmatched."""
    from trading_etl_spark.operators.text import (
        band_keys,
        incremental_probe,
        shingles,
    )
    from trading_etl_spark.streaming.docs import start_incremental_dedup_stream

    corpus = spark.createDataFrame(_CORPUS_ROWS, "doc_id long, text string")
    batch1 = [
        (100, _CORPUS_ROWS[0][1] + " extra"),  # near-dup of corpus doc 1
        (101, "a fresh unique arrival sharing no shingles with the corpus at all"),
    ]
    batch2 = [
        (102, _CORPUS_ROWS[1][1]),             # exact dup of corpus doc 2
        (103, batch1[1][1] + " suffix"),       # near-dup of ARRIVAL 101 only
    ]
    src = _write_doc_batch(spark, tmp_path, batch1, "b0")
    _write_doc_batch(spark, tmp_path, batch2, "b1")
    sink, ckpt = str(tmp_path / "dedup_out"), str(tmp_path / "dedup_ckpt")

    start_incremental_dedup_stream(spark, src, corpus, sink, ckpt).awaitTermination()
    got = {
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in spark.read.parquet(sink).collect()
    }

    # ground truth: one batch probe over ALL arrivals vs the corpus
    arrivals = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    sh_a, sh_c = shingles(arrivals), shingles(corpus)
    want = {
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in incremental_probe(
            band_keys(sh_a),
            band_keys(sh_c),
            sh_a,
            sh_c,
        ).collect()
    }
    assert got == want
    assert {d for d, _, _ in got} == {100, 102}  # 101 unique, 103 arrival-arrival
    assert dict((d, c) for d, c, _ in got) == {100: 1, 102: 2}


def test_incremental_dedup_stream_restart_processes_only_new_files(spark, tmp_path):
    """Restart over the same checkpoint probes only unseen files — the
    stateless gate's bookkeeping is entirely the file-source log. Both
    runs share one caller-owned corpus index (the production posture)."""
    from trading_etl_spark.streaming.docs import (
        build_corpus_index,
        start_incremental_dedup_stream,
    )

    corpus = spark.createDataFrame(_CORPUS_ROWS, "doc_id long, text string")
    index = build_corpus_index(corpus)
    src = _write_doc_batch(
        spark, tmp_path, [(200, _CORPUS_ROWS[2][1] + " tail")], "c0"
    )
    sink, ckpt = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    start_incremental_dedup_stream(
        spark, src, corpus, sink, ckpt, corpus_index=index
    ).awaitTermination()
    assert spark.read.parquet(sink).count() == 1

    _write_doc_batch(spark, tmp_path, [(201, _CORPUS_ROWS[3][1])], "c1")
    start_incremental_dedup_stream(
        spark, src, corpus, sink, ckpt, corpus_index=index
    ).awaitTermination()
    rows = {r["doc_id"]: r["dup_of"] for r in spark.read.parquet(sink).collect()}
    assert rows == {200: 3, 201: 4}  # 200 not re-emitted, 201 appended once


def test_incremental_dedup_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the same files into the
    same sink (fresh checkpoint = maximal replay) must write nothing new —
    the keyed first-wins sink makes crash recovery duplicate-free."""
    from trading_etl_spark.streaming.docs import start_incremental_dedup_stream

    corpus = spark.createDataFrame(_CORPUS_ROWS, "doc_id long, text string")
    src = _write_doc_batch(
        spark, tmp_path, [(300, _CORPUS_ROWS[0][1] + " tail")], "d0"
    )
    sink = str(tmp_path / "out3")
    start_incremental_dedup_stream(
        spark, src, corpus, sink, str(tmp_path / "ckpt3a")
    ).awaitTermination()
    first = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert len(first) == 1

    start_incremental_dedup_stream(
        spark, src, corpus, sink, str(tmp_path / "ckpt3b")
    ).awaitTermination()
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == first
