"""Structured Streaming inside the correctness gate (SURVEY.md §2.8 R1/R7).

This module runs REAL streaming jobs whose bounded results hash-match batch
DuckDB oracles, so the driver's gate exercises the streaming engine too —
tumbling/sliding/session windows, a stream-stream join, watermarked dedup,
first-wins replay idempotence, live CMS state, and the stateful EMA / RSI /
SMA-cross recursions (which share the batch oracles). The canonical shape:

  file-stream events → stream-static broadcast dim join (tickify) →
  tumbling 1-minute OHLC agg → availableNow drain → memory sink → DataFrame.

Determinism: the feed has a unique ``ts`` per currency pair (verified over
the test data; the reference's second-dedup S3 guarantees the same upstream,
``src/gmo/ws-connection.py:47-57``), so ``min_by/max_by(bid, ts)`` is
order-insensitive regardless of micro-batch boundaries.

Scale notes: ``availableNow`` is the batch-catchup trigger — the identical
query under ``processingTime`` is the continuous production path
(streaming/ticks.py). Streaming state is bounded by distinct (pair, minute)
keys. Complete mode exists only for the memory sink here; durable sinks run
append + watermark so state is reclaimed at the horizon.
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import ticks
from ..sources.dims import currency_values_sql as _currency_sql
from ..sources.local import local_relation
from ..streaming import drain
from ._dumpcache import get_or_build_dump


_SINK = "gate_streaming_ohlc_1m"


def q_streaming_ohlc_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 streaming OHLC as a gate query: drain the event stream with
    availableNow and return the complete-mode aggregate (A1 semantics over
    raw validated ticks, pre-dedup)."""
    t = ticks.tickify(ticks.stream_events(spark, sf_dir))
    candles = (
        t.groupBy("currency_pair_code", F.window("time", "1 minute").alias("w"))
        .agg(
            F.round(F.min_by("bid", "ts"), 6).alias("open"),
            F.round(F.max("bid"), 6).alias("high"),
            F.round(F.min("bid"), 6).alias("low"),
            F.round(F.max_by("bid", "ts"), 6).alias("close"),
            F.count("*").alias("n_ticks"),
        )
        .select(
            "currency_pair_code",
            F.col("w.start").alias("time"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
        )
    )
    return drain(candles, _SINK, "complete")


_ENRICH_SINK = "gate_streaming_enrich"


def q_streaming_enrich_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC broadcast join as its own gate row: the dim join
    every tick pipeline runs internally, graded directly — the event stream
    parses/validates and joins the 6-row currency dim with an explicit
    broadcast (``ticks.enriched``, the same once-evaluated ``$.k`` parse,
    spread and second truncation as ``tickify``), and the output carries
    dim ATTRIBUTES (base/quote), so the oracle certifies the join itself,
    not just the derived key. The plan is entirely STATELESS streaming
    (map-side parse + broadcast hash join — no state store, no watermark,
    nothing to reclaim), which is exactly why the stream side never
    shuffles at any scale; drained availableNow in append mode."""
    ev = ticks.stream_events(spark, sf_dir)
    enriched = (
        ticks.enriched(ev.filter(F.col("value") > 0), "inner")
        .filter((F.col("ask") > 0) & (F.col("bid") <= F.col("ask")))
        .select(
            "event_id",
            "currency_pair_code",
            "base_currency",
            "quote_currency",
            "time",
            "bid",
            "ask",
        )
    )
    return drain(enriched, _ENRICH_SINK)


_SLIDING_SINK = "gate_streaming_sliding"


def q_streaming_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 SLIDING windows (the reference's relay knows only tumbling
    buckets): 2-minute windows sliding every 1 minute over the validated
    tick stream — each tick lands in exactly width/slide = 2 windows, the
    moving-average shape every monitoring dashboard runs. Count/avg/min/max
    are order-insensitive, so the drained complete-mode result hash-matches
    the batch oracle (each tick expanded to its 2 window starts).

    Scale notes: Spark implements the slide by EXPANDING each row into
    width/slide state updates — state is (pair × active windows), bounded
    by the watermark horizon in append-mode production; keep width/slide
    small-ratio (2 here) so the expansion is constant-factor.
    """
    t = ticks.tickify(ticks.stream_events(spark, sf_dir))
    stats = (
        t.groupBy(
            "currency_pair_code",
            F.window("time", "2 minutes", "1 minute").alias("w"),
        )
        .agg(
            F.count("*").alias("n_ticks"),
            F.round(F.avg("bid"), 6).alias("avg_bid"),
            F.min("bid").alias("min_bid"),
            F.max("bid").alias("max_bid"),
        )
        .select(
            "currency_pair_code",
            F.col("w.start").alias("win_start"),
            "n_ticks",
            "avg_bid",
            "min_bid",
            "max_bid",
        )
    )
    return drain(stats, _SLIDING_SINK, "complete")


_SSJOIN_SINK = "gate_streaming_ss_join"


def q_streaming_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join (the R-family capability the tumbling/
    sliding aggs don't exercise): the view-event stream joined to the
    click-event stream per user within a 30-minute reaction bound — the
    attribution join every event pipeline runs, here as two live streams.

    Inner stream-stream joins emit matches per micro-batch, so the drained
    result is the exact batch join and hash-matches a plain SQL oracle.
    Scale notes: in production both sides carry watermarks and the range
    condition bounds join state to (watermark + 30 min) per side; the join
    keys hash-partition both streams identically, so matching is
    co-located. The gate run drains availableNow without watermarks —
    inner joins are complete either way; only state reclamation differs.
    """
    base = ticks.stream_events(spark, sf_dir)
    views = base.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND click_ts >= view_ts"
            " AND click_ts <= view_ts + interval 30 minutes"
        ),
    ).select(F.col("v_user").alias("user_id"), "view_ts", "click_ts")
    return drain(joined, _SSJOIN_SINK)


_FIRSTWINS_PREFIX = "gate_streaming_firstwins_"


def q_streaming_firstwins_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 first-wins append UNDER STREAMING: the maintained-sink shape
    (streaming/ticks.py::start_tick_ingest_maintained) as an oracle-graded
    gate query. The validated tick stream drains through
    ``foreachBatch`` → ``io.first_wins_append`` into a plain parquet table,
    then the ENTIRE stream is drained AGAIN from a fresh checkpoint — a full
    replay, the worst-case duplicate delivery — and every replayed row
    anti-joins away against the (pair, second) PK. The read-back therefore
    equals the batch S3 dedup (the ``ticks`` oracle relation): replay
    idempotence is what the hash-match certifies.

    Determinism: within a micro-batch the winner is picked by the batch
    dedup itself (``ticks.first_tick_per_second``). Across batches
    first-append-wins; the file source batches at whole-file granularity
    and the fixture is one file, so the gate run is single-batch (in production the W1 contract is
    arrival-order first-wins, same as the reference's ON CONFLICT gate).
    Scale notes: identical to the maintained sink — the anti-join prunes
    the existing side to the batch's time range (partition pruning), the
    writer lock serializes appenders, no sink commit log accretes.
    """
    from .. import io as tio

    base = _fresh_run_dir(_FIRSTWINS_PREFIX)
    table = f"{base}/table"
    t = ticks.tickify(ticks.stream_events(spark, sf_dir))

    def append_first_wins(batch: DataFrame, _batch_id: int) -> None:
        tio.first_wins_append(
            batch.sparkSession,
            table,
            ticks.first_tick_per_second(batch),
            keys=["currency_pair_code", "time"],
            prune_on="time",
        )

    for run in ("initial", "replay"):
        drain(t, append_first_wins, checkpoint=f"{base}/ckpt_{run}")
    return spark.read.parquet(table).select(
        "currency_pair_code", "time", "bid", "ask"
    )


_DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

_DEDUP_SINK = "gate_streaming_dedup_exact"


def q_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus dedup as a STREAMING aggregation: documents arrive as a
    file stream (production: the crawler's landing zone), and the running
    (content_hash → keeper, count) state is the live dedup index a
    continuous ingestion pipeline maintains. min/count are order-insensitive
    so the result is micro-batch-boundary-independent and hash-matches the
    batch dedup_exact oracle.

    Scale notes: state is one row per DISTINCT content hash — the raw text
    never enters state (md5 projected before the agg). A durable deployment
    runs update mode into a keyed sink (the same shape as the latest-value
    tick cache, streaming/ticks.py); complete+memory is gate-only.
    """
    docs = (
        spark.readStream.schema(_DOCS_RAW_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    agg = (
        docs.select(F.col("doc_id"), F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )
    return drain(agg, _DEDUP_SINK, "complete").select(
        "keeper_doc_id", "n_copies", "content_hash"
    )


_CMS_SINK = "gate_streaming_cms"


def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch as a LIVE streaming aggregation: documents
    arrive as a file stream and the (row, cell) counter grid is the
    running state — the canonical streaming-sketch deployment (state is
    depth×width COUNTERS, constant regardless of stream length; cell-wise
    addition is exactly what the update-mode agg does). The drained grid
    is probed batch-side for the heavy hitters; counts are
    order-insensitive so the result hash-matches the batch CMS oracle.
    """
    from ..operators import text as tx

    docs = (
        spark.readStream.schema(_DOCS_RAW_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    ex = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    # the Spark-side one-md5 cell form + eval_once pin, exactly as the
    # batch operator (identical values, see _cms_cell_expr_spark)
    cells_arr = F.array(
        *[
            F.expr(tx._cms_cell_expr_spark("tok", i, tx.CMS_WIDTH))
            for i in range(tx.CMS_DEPTH)
        ]
    )
    sketch = (
        ex.select(tx.eval_once(cells_arr).alias("cells"))
        .select(F.posexplode("cells").alias("row", "cell"))
        .groupBy("row", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = drain(sketch, _CMS_SINK, "complete")
    # batch-side probe of the drained grid: distinct tokens → min over cells
    cand = (
        spark.read.schema(_DOCS_RAW_SCHEMA)
        .parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    return (
        cand.select("tok", F.posexplode(cells_arr).alias("row", "cell"))
        .join(F.broadcast(grid), ["row", "cell"])
        .groupBy("tok")
        .agg(F.min("n").alias("est_count"))
        .filter(F.col("est_count") >= tx.CMS_THRESHOLD)
        .select("tok", "est_count")
    )


# --- shared scaffold for the candle-fed stateful gates -----------------------

# one single-file 1h-candle dump per (app, sf_dir), reused across
# invocations — a fresh mkdtemp per call accreted /tmp copies in a
# long-lived gate/bench session. Each drain still replays from scratch
# (fresh implicit temp checkpoint per start()). FIFO-bounded with rmtree
# eviction via the shared _dumpcache helper.
_CANDLE_DUMPS: dict = {}
_CANDLE_DUMPS_MAX = 4


def _candle_symbol_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h candles as a file stream in the stateful kernels' input shape
    (currency_pair_symbol, time, mid/close). ONE parquet file → the
    availableNow drain is a single micro-batch whose rows each state
    update sorts by time per symbol — the exact batch order (the
    determinism contract all three stateful gates share)."""
    from .trading import _ohlc_1h

    root = get_or_build_dump(
        _CANDLE_DUMPS,
        _CANDLE_DUMPS_MAX,
        (spark.sparkContext.applicationId, sf_dir),
        lambda: tempfile.mkdtemp(prefix="gate_streaming_candles_"),
        lambda base: (
            _ohlc_1h(spark, sf_dir)
            .select("currency_pair_code", "time", "close")
            .coalesce(1)
            .write.parquet(f"{base}/candles_1h")
        ),
    )
    path = f"{root}/candles_1h"
    stream = spark.readStream.schema(
        "currency_pair_code string, time timestamp, close double"
    ).parquet(path)
    return stream.select(
        F.col("currency_pair_code").alias("currency_pair_symbol"),
        "time",
        F.col("close").alias("mid"),
        F.col("close"),
    )


def _indicator_shape(t: DataFrame, value_col: str) -> DataFrame:
    return t.select(
        F.col("currency_pair_symbol").alias("currency_pair_code"),
        F.lit("1h").alias("timeframe_code"),
        F.lit(14).cast("int").alias("period"),
        F.lit("0").alias("calc_version"),
        "time",
        F.round(value_col, 6).alias("value"),
    )


# per-gate run dirs, one dump cache per gate: bound 2 with a fresh key per
# call keeps the current dir and the previous one, whose returned DataFrame
# the caller may still read lazily. A caller that holds a lazily-read
# DataFrame across two further invocations of the same gate must
# materialize it first.
_RUN_DIRS: dict[str, dict] = {}
_RUN_SEQ = itertools.count()


def _fresh_run_dir(prefix: str) -> str:
    return get_or_build_dump(
        _RUN_DIRS.setdefault(prefix, {}),
        2,
        next(_RUN_SEQ),
        lambda: tempfile.mkdtemp(prefix=prefix),
        lambda _root: None,
    )


_EMA_SINK = "gate_streaming_ema_14_1h"


def q_streaming_ema_14_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL custom streaming operator with oracle-grade evidence:
    1h candles arrive as a file stream (production: the candle chain's
    landing zone) and ``streaming.indicators.stream_ema`` — the per-symbol
    state scaffold with O(1) state of (seed-count, seed-sum, ema) —
    maintains the TA-Lib EMA(14) live. The drained append-mode output is
    shaped to the batch indicator schema, so the oracle is the SAME
    recursive CTE that certifies batch ``ema_14_1h``: the streaming
    recursion must replay the batch
    trajectory step for step (identical seed = SMA-of-14, identical
    ``ema += k·(x − ema)`` update, identical 6dp rounding).

    Determinism: the candle relation is written as ONE parquet file, so
    the availableNow drain is a single micro-batch whose rows the state
    update sorts by time per symbol — the exact batch order. Across
    micro-batches the contract is arrival-order (a production stream
    feeds candles in time order per symbol anyway). Scale notes: state is
    three doubles per symbol; the stateful exchange hash-partitions on
    symbol — the same key the candle chain upstream already partitions
    on, so at 100 TB the stateful stage adds no new shuffle key.
    """
    from ..streaming.indicators import stream_ema

    out = stream_ema(_candle_symbol_stream(spark, sf_dir), period=14)
    return _indicator_shape(drain(out, _EMA_SINK), "ema")


_RSI_SINK = "gate_streaming_rsi_14_1h"


def q_streaming_rsi_14_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream_rsi twin of q_streaming_ema_14_1h: the Wilder RSI(14)
    recursion maintained live by the per-symbol state scaffold —
    per-symbol state is (prev price, seed accumulators, avg gain/loss),
    O(1) across micro-batches and restarts. Same single-file availableNow
    drain, so the stateful path must replay the batch ``rsi_14_1h``
    recursive-CTE trajectory step for step (shared oracle)."""
    from ..streaming.indicators import stream_rsi

    out = stream_rsi(_candle_symbol_stream(spark, sf_dir), period=14)
    return _indicator_shape(drain(out, _RSI_SINK), "rsi")


_SESSIONS_SINK = "gate_streaming_sessions"


def q_streaming_tick_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 SESSION windows under real streaming (the batch ``tick_sessions``
    twin): gap-merged trading sessions maintained live by the
    session-window state store over the validated tick stream,
    complete-mode drained. Like ``streaming_ohlc_1m`` this runs pre-dedup,
    so the oracle is the gaps-and-islands SQL over ``raw_ticks``.

    Determinism: a fully-drained complete-mode session aggregate equals
    the batch sessionization regardless of micro-batch boundaries (windows
    merge on overlap; count/avg are order-insensitive and rounding happens
    after the final merge). Scale notes: state = open sessions per pair,
    bounded by the watermark horizon in append-mode production; the
    session merge shuffles on the pair key the upstream dedup already
    partitions on."""
    from .trading import SESSION_GAP_MIN

    t = ticks.tickify(ticks.stream_events(spark, sf_dir))
    w = F.session_window("time", f"{SESSION_GAP_MIN} minutes")
    sess = (
        t.groupBy("currency_pair_code", w.alias("w"))
        .agg(
            F.count("*").alias("n_ticks"),
            F.round(F.avg("bid"), 6).alias("avg_bid"),
        )
        .select(
            "currency_pair_code",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_ticks",
            "avg_bid",
        )
    )
    return drain(sess, _SESSIONS_SINK, "complete")


_CROSS_SINK = "gate_streaming_sma_cross"


def q_streaming_sma_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden/dead SMA(14/28) cross detection live on the per-symbol state
    scaffold — per-symbol state is the rolling 28-close tail plus the
    previous (short, long) pair, O(long_period) doubles.
    ``round_dp=6`` makes the kernel share the batch path's half-up 6dp
    decision regime, so the drained BUY∪SELL stream hash-matches the
    batch golden+dead SQL (the same paired-SMA CTE, both predicates).
    Single-file availableNow drain = batch arrival order, as in the
    EMA/RSI gates."""
    from ..streaming.signals import stream_sma_cross

    out = stream_sma_cross(
        _candle_symbol_stream(spark, sf_dir).select(
            "currency_pair_symbol", "time", "close"
        ),
        short_period=14,
        long_period=28,
        round_dp=6,
    )
    return drain(out, _CROSS_SINK).select(
        F.col("time").alias("event_datetime"),
        F.col("currency_pair_symbol").alias("currency_pair_code"),
        F.col("short_value").alias("price"),
        F.lit(0).cast("int").alias("quantity"),
        "event_type",
        F.lit("SMA").alias("trigger_indicator_name"),
        F.col("short_value").alias("trigger_indicator_value"),
        F.lit("1h").alias("trigger_indicator_timeframe"),
        F.lit(14).cast("int").alias("trigger_indicator_period"),
    )


_SCD2_PREFIX = "gate_streaming_scd2_"


def q_streaming_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance UNDER STREAMING: the SCD2
    dimension history maintained live by ``foreachBatch`` →
    ``reconcile.scd2_apply``. The event log splits into three time slices
    written as separate files with ascending mtimes; ``maxFilesPerTrigger=1``
    under availableNow makes each slice its own ordered micro-batch, and
    every batch folds into the parquet history table (read → apply → write
    to a fresh dir → atomic swap, so a batch never overwrites the relation
    it is lazily reading). The final table hash-matches the FULL-rebuild
    oracle — the streaming statement of the same IVM equivalence the batch
    ``dim_scd2_merge_apply`` certifies:
    fold(fold(fold(∅, s1), s2), s3) ≡ rebuild(s1∪s2∪s3).

    Scale notes: this is exactly the production CDC-merge loop (Delta
    MERGE per micro-batch); per batch the windows run over the slice only
    and untouched keys stream through (scd2_apply's contract). The slice
    cursor ordering (every batch's ts after all history ts) is what a
    time-ordered CDC feed guarantees upstream.
    """
    import os
    import shutil

    from ..operators.reconcile import scd2_apply
    from ..sources.ticks import load_events

    base = _fresh_run_dir(_SCD2_PREFIX)
    feed = f"{base}/feed"
    os.makedirs(feed)
    hist_dir = f"{base}/history"

    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    cut1, cut2 = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    slices = [
        ev.filter(F.col("ts") <= cut1),
        ev.filter((F.col("ts") > cut1) & (F.col("ts") <= cut2)),
        ev.filter(F.col("ts") > cut2),
    ]
    t0 = 1_700_000_000
    for i, sl in enumerate(slices):
        stage = f"{base}/stage_{i}"
        sl.coalesce(1).write.parquet(stage)  # Spark-written µs timestamps
        part = next(
            f for f in os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        path = f"{feed}/slice{i}.parquet"
        os.rename(f"{stage}/{part}", path)
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))  # file-source batch order

    hist_schema = (
        "user_id long, dim_value double, valid_from timestamp,"
        " valid_to timestamp, is_current boolean"
    )

    def apply_batch(batch_df, batch_id):
        import glob as _glob

        # recover a crash between the two swap renames: hist_dir missing
        # but a parked copy present → the parked copy IS the history
        # (without this, a retry would silently rebuild from empty)
        if not os.path.isdir(hist_dir):
            parked_prev = sorted(_glob.glob(f"{base}/history_old_*"))
            if parked_prev:
                os.rename(parked_prev[-1], hist_dir)
        hist = (
            spark.read.parquet(hist_dir)
            if os.path.isdir(hist_dir)
            else local_relation(spark, [], hist_schema)
        )
        staged = f"{base}/history_next_{batch_id}"
        # overwrite: a failed/retried batch re-invokes foreachBatch with
        # the SAME batch_id, and errorifexists would wedge on the
        # half-written staged dir instead of recovering
        scd2_apply(hist, batch_df).write.mode("overwrite").parquet(staged)
        # crash-safe swap: park the old history, rename the new one in,
        # THEN delete the parked copy — at every intermediate point either
        # the old or the new table exists under some name (rmtree-then-
        # rename would lose BOTH on a crash between the two steps)
        parked = f"{base}/history_old_{batch_id}"
        if os.path.isdir(hist_dir):
            os.rename(hist_dir, parked)
        os.rename(staged, hist_dir)
        shutil.rmtree(parked, ignore_errors=True)

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    drain(stream, apply_batch, checkpoint=f"{base}/ckpt")
    return spark.read.parquet(hist_dir).select(
        "user_id", "dim_value", "valid_from", "valid_to", "is_current"
    )


_INGEST_DEDUP_PREFIX = "gate_streaming_ingest_dedup_"


def q_streaming_ingest_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming incremental near-dedup ingest gate as an oracle-graded
    query: newly crawled docs land as
    files, and ``streaming/docs.py`` probes each micro-batch against the
    STATIC corpus LSH band index — the gate a 100 TB corpus build runs on
    ingest, where the all-pairs pass ran once at bootstrap.

    The fixture split is the batch twin's (``dedup_incremental_minhash``):
    docs with ``doc_id % 10 == 7`` are the arriving batch, the rest the
    corpus — so the oracle is that query's EXACT SQL, and the hash-match
    certifies three things at once: (a) the per-micro-batch probe equals
    the batch probe, (b) the result is micro-batch-boundary-INVARIANT
    (``maxFilesPerTrigger=1`` over two landing files forces ≥2 batches;
    each batch probes only the static index, so boundaries cannot change
    the union), and (c) the keyed first-wins sink is replay-idempotent —
    after the drain, the WHOLE stream drains again from a fresh checkpoint
    (worst-case at-least-once duplicate delivery) and every replayed
    doc_id anti-joins away, appending nothing.

    Scale notes: stateless streaming (no watermark, no state store — the
    corpus index is a cached static relation standing in for the persisted
    bucketed band-index table); per batch the probe joins batch-bands ⋈
    index with the batch side broadcast-small. Reference parity:
    trading-etl's poll-cycle insert-skip append
    (src/etl/flows/transform_services.py save paths) is the exact-key
    version of this gate."""
    from ..operators import text as tx
    from ..streaming.docs import build_corpus_index, start_incremental_dedup_stream

    base = _fresh_run_dir(_INGEST_DEDUP_PREFIX)
    feed, sink = f"{base}/feed", f"{base}/matches"
    docs = tx.load_documents(spark, sf_dir).select("doc_id", "text")
    is_batch = (
        F.col("doc_id") % tx.INCREMENTAL_BATCH_MOD
    ) == tx.INCREMENTAL_BATCH_REM
    # two landing files → two micro-batches under maxFilesPerTrigger=1
    docs.filter(is_batch).repartition(2).write.parquet(feed)
    corpus = docs.filter(~is_batch)
    index = build_corpus_index(corpus)  # shared across drain + replay
    for run in ("initial", "replay"):
        q = start_incremental_dedup_stream(
            spark,
            feed,
            corpus,
            sink,
            f"{base}/ckpt_{run}",
            corpus_index=index,
            max_files_per_trigger=1,
        )
        q.awaitTermination()
    return (
        spark.read.schema("doc_id long, dup_of long, jaccard double")
        .option("pathGlobFilter", "*.parquet")
        .parquet(sink)
    )


QUERIES = {
    "streaming_ohlc_1m": q_streaming_ohlc_1m,
    "streaming_ingest_dedup_gate": q_streaming_ingest_dedup_gate,
    "streaming_enrich_dim_join": q_streaming_enrich_dim_join,
    "streaming_dedup_exact": q_streaming_dedup_exact,
    "streaming_sliding_stats": q_streaming_sliding_stats,
    "streaming_view_click_join": q_streaming_view_click_join,
    "streaming_firstwins_append": q_streaming_firstwins_append,
    "streaming_heavy_hitters": q_streaming_heavy_hitters,
    "streaming_ema_14_1h": q_streaming_ema_14_1h,
    "streaming_rsi_14_1h": q_streaming_rsi_14_1h,
    "streaming_tick_sessions": q_streaming_tick_sessions,
    "streaming_sma_cross": q_streaming_sma_cross,
    "streaming_scd2_apply": q_streaming_scd2_apply,
}

ORACLES = {
    "streaming_ohlc_1m": "WITH "
    + ticks.RAW_TICKS_SQL
    + """
SELECT currency_pair_code,
       CAST(date_trunc('minute', time) AS TIMESTAMP) AS time,
       round(arg_min(bid, _ts), 6) AS "open",
       round(max(bid), 6) AS high,
       round(min(bid), 6) AS low,
       round(arg_max(bid, _ts), 6) AS "close",
       count(*) AS n_ticks
FROM raw_ticks
GROUP BY 1, 2""",
    "streaming_dedup_exact": """
SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies, md5(text) AS content_hash
FROM documents GROUP BY md5(text)
""".strip(),
    # identical parse/validate arithmetic to RAW_TICKS_SQL, with the dim
    # attributes kept so the join itself is certified
    "streaming_enrich_dim_join": "WITH "
    + _currency_sql()
    + """
SELECT e.event_id,
       d.currency_pair_code, d.base_currency, d.quote_currency,
       CAST(date_trunc('second', e.ts) AS TIMESTAMP) AS time,
       e.value AS bid,
       e.value + ((CAST(json_extract_string(e.props, '$.k') AS INTEGER) % 10) + 1) * 0.001::DOUBLE AS ask
FROM events e
JOIN dim_currency d ON d.id = CAST(e.user_id % 6 AS INTEGER) + 1
WHERE e.value > 0
  AND e.value + ((CAST(json_extract_string(e.props, '$.k') AS INTEGER) % 10) + 1) * 0.001::DOUBLE > 0
  AND e.value <= e.value + ((CAST(json_extract_string(e.props, '$.k') AS INTEGER) % 10) + 1) * 0.001::DOUBLE
""".strip(),
    # sliding 2min/1min: every tick belongs to exactly two windows — the one
    # starting at its minute and the one starting a minute earlier
    "streaming_sliding_stats": "WITH "
    + ticks.RAW_TICKS_SQL
    + """,
sw AS (
  SELECT currency_pair_code,
         CAST(date_trunc('minute', time) - INTERVAL 1 MINUTE * g.i AS TIMESTAMP) AS win_start,
         bid
  FROM raw_ticks, unnest(generate_series(0, 1)) AS g(i)
)
SELECT currency_pair_code, win_start,
       count(*) AS n_ticks,
       round(avg(bid), 6) AS avg_bid,
       min(bid) AS min_bid,
       max(bid) AS max_bid
FROM sw GROUP BY 1, 2""",
    "streaming_view_click_join": """
SELECT v.user_id, v.ts AS view_ts, c.ts AS click_ts
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1800 SECOND
""".strip(),
    # replay-idempotent streaming first-wins append ≡ the batch S3 dedup
    "streaming_firstwins_append": "WITH "
    + ticks.TICKS_SQL
    + """
SELECT currency_pair_code, time, bid, ask FROM ticks""",
}

# the streaming CMS shares the batch sketch's oracle verbatim: counts are
# order-insensitive, so micro-batch boundaries cannot change the grid
from . import datapipe as _dp  # noqa: E402

ORACLES["streaming_heavy_hitters"] = _dp.ORACLES["text_heavy_hitters_cms"]
# the streaming ingest gate drains into the keyed first-wins sink and must
# equal the batch incremental probe exactly (same fixture split, same banded
# candidates, same verify + top-1 election) — the oracle is shared verbatim
ORACLES["streaming_ingest_dedup_gate"] = _dp.ORACLES["dedup_incremental_minhash"]

# the stateful streaming EMA shares the batch indicator's recursive-CTE
# oracle verbatim: the per-symbol state recursion must replay the
# batch trajectory (same seed, same update, same rounding) step for step
from . import trading as _tr  # noqa: E402

ORACLES["streaming_ema_14_1h"] = _tr.ORACLES["ema_14_1h"]
ORACLES["streaming_rsi_14_1h"] = _tr.ORACLES["rsi_14_1h"]
from . import analytics as _an  # noqa: E402

ORACLES["streaming_scd2_apply"] = _an.ORACLES["dim_scd2_history"]
# streaming cross emits BUY and SELL in one stream: batch golden ∪ dead
ORACLES["streaming_sma_cross"] = (
    _tr._with(*_tr._TO_1H, _tr._SMA_PAIRED_SQL)
    + "\n" + _tr._GOLDEN_SQL + "\nUNION ALL\n" + _tr._DEAD_SQL
)
# session windows under streaming: gaps-and-islands over the PRE-dedup raw
# validated ticks (the same relation streaming_ohlc_1m aggregates)
ORACLES["streaming_tick_sessions"] = (
    "WITH "
    + ticks.RAW_TICKS_SQL
    + f"""
,
marked AS (
  SELECT currency_pair_code, time, bid,
         CASE WHEN lag(time) OVER w IS NULL
                OR time - lag(time) OVER w > INTERVAL {_tr.SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM raw_ticks
  WINDOW w AS (PARTITION BY currency_pair_code ORDER BY time)
),
islands AS (
  SELECT *, sum(is_new) OVER (PARTITION BY currency_pair_code ORDER BY time
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT currency_pair_code,
       min(time) AS session_start,
       max(time) + INTERVAL {_tr.SESSION_GAP_MIN} MINUTE AS session_end,
       count(*) AS n_ticks,
       round(avg(bid), 6) AS avg_bid
FROM islands
GROUP BY currency_pair_code, sid"""
)
