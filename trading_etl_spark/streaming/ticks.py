"""Structured Streaming tick path (SURVEY.md §2.8 R1-R7).

The reference hand-rolls this with asyncio: a websocket client ingests JSON
tick frames (``src/gmo/ws-connection.py:131-160``), dedups to 1-second grain
with a count()==0 gate (``:47-57``), and a relay server polls the table on a
1 s cursor and pushes the latest value to subscribers
(``src/gmo/ws_ticker_server.py:192-243``). Here the same semantics are one
declarative streaming pipeline:

- R1 continuous ingest + restart   → readStream + checkpointing
- S2 JSON parse/validate           → from_json(TICK_MESSAGE_SCHEMA) + filters
- P6-P9 mid/UTC/trunc/validity     → same expressions as the batch path
- S3/R6 1-second dedup, late drop  → withWatermark + dropDuplicates
- R2 poll-based delivery           → trigger(processingTime=...) micro-batches
- R3 latest-value cache/replay-1   → foreachBatch upsert into a keyed view
- R4/R5 heartbeat / error retry    → sink-side concerns (foreachBatch hooks)

Scale notes: dropDuplicates keys on (pair, second) so streaming state is
bounded by watermark horizon × tick rate, not history; the stateful exchange
hash-partitions on the dedup key, which is the same key every downstream
OHLC window agg groups on.

Starting a stream (trigger, state-partition sizing) is ``streaming.start``.
The stateful starters take ``n_state_partitions``; the count binds at the
FIRST start of a checkpoint, so pass it on the run that creates the
checkpoint. ``None`` leaves the session conf to the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.scalars import mid_price, utc_second
from ..schemas import TICK_MESSAGE_SCHEMA
from . import start


def read_tick_frames(spark: SparkSession, path: str) -> DataFrame:
    """R1: file-source stream of raw JSON tick frames (one frame per line).

    In production this is the websocket connector's landing zone (or a Kafka
    topic with the same ``value`` column); the file source gives identical
    downstream semantics plus exactly-once replay via checkpointing.
    """
    return spark.readStream.format("text").load(path).withColumnRenamed("value", "frame")


def parse_ticks(frames: DataFrame) -> DataFrame:
    """S2+P6-P9: parse JSON frames → typed, validated ticks with mid price.

    Mirrors ``on_message`` (ws-connection.py:131-160): drop non-ticker frames,
    numeric-cast bid/ask (the feed sends numeric strings), ISO-8601→UTC
    timestamp, drop invalid quotes (docs/ws_ticker_spec.md:95).
    """
    t = F.col("tick")
    return (
        frames.withColumn("tick", F.from_json("frame", TICK_MESSAGE_SCHEMA))
        .filter(t["type"].isNull() | (t["type"] == "ticker"))
        .filter(t["symbol"].isNotNull())
        .select(
            t["symbol"].alias("currency_pair_symbol"),
            F.to_timestamp(t["timestamp"]).alias("ts"),
            t["bid"].cast("double").alias("bid"),
            t["ask"].cast("double").alias("ask"),
        )
        .filter(
            F.col("ts").isNotNull()
            & (F.col("bid") > 0)
            & (F.col("ask") > 0)
            & (F.col("bid") <= F.col("ask"))
        )
        .withColumn("mid", mid_price())
        .withColumn("time", utc_second())
    )


def dedup_ticks(parsed: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """S3/R6: keep one tick per (symbol, second); late arrivals for an
    already-emitted second are dropped once past the watermark — the explicit
    version of the reference's silent count()==0 insert gate."""
    return (
        parsed.withWatermark("time", watermark)
        .dropDuplicates(["currency_pair_symbol", "time"])
        .select("currency_pair_symbol", "time", "bid", "ask", "mid")
    )


def stream_ohlc_1m(ticks: DataFrame) -> DataFrame:
    """R7: streaming 1-minute OHLC — tumbling window over the deduped stream.

    Chained stateful operators (dedup → windowed agg) share the event-time
    watermark; a bucket is emitted once the watermark passes its end, so late
    ticks inside the horizon still update open/close correctly and ticks
    past it are dropped — the streaming twin of the batch A1 aggregation
    (operators/ohlc.ohlc_base), same min_by/max_by first/last semantics.
    """
    return (
        ticks.groupBy(
            "currency_pair_symbol", F.window("time", "1 minute").alias("w")
        )
        .agg(
            F.min_by("bid", "time").alias("open"),
            F.max("bid").alias("high"),
            F.min("bid").alias("low"),
            F.max_by("bid", "time").alias("close"),
        )
        .select(
            "currency_pair_symbol",
            F.col("w.start").alias("time"),
            "open",
            "high",
            "low",
            "close",
        )
    )


def start_ohlc_stream(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    *,
    n_state_partitions: int | None = None,
) -> StreamingQuery:
    """Frames → parse → dedup → 1-minute OHLC → parquet append."""
    candles = stream_ohlc_1m(dedup_ticks(parse_ticks(read_tick_frames(spark, source_path))))
    return start(
        candles, sink_path, checkpoint=checkpoint_path,
        n_state_partitions=n_state_partitions,
    )


def start_tick_ingest(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    *,
    processing_time: str | None = None,
    watermark: str = "10 seconds",
    n_state_partitions: int | None = None,
) -> StreamingQuery:
    """End-to-end ingest: frames → parse → validate → dedup → parquet append.

    ``processing_time=None`` drains the backlog and stops (test/batch-catchup
    mode); ``"1 second"`` micro-batches at the relay's 1 s poll cadence
    (ws_ticker_server.py:53).

    ``watermark`` is the late-arrival tolerance of the R6 dedup: events
    older than (max seen event time − watermark) are dropped and dedup
    state is bounded by horizon × tick rate. Widen it for backfills that
    replay history behind live data.

    This direct parquet sink keeps a ``_spark_metadata`` commit log and
    root reads resolve through it — retention/compaction must NOT touch
    its files (``maintenance.maintain_table`` refuses). For a long-lived
    maintained table use ``start_tick_ingest_maintained``.
    """
    ticks = dedup_ticks(
        parse_ticks(read_tick_frames(spark, source_path)), watermark=watermark
    )
    return start(
        ticks, sink_path, checkpoint=checkpoint_path,
        processing_time=processing_time, n_state_partitions=n_state_partitions,
    )


def start_tick_ingest_maintained(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    *,
    processing_time: str | None = None,
    watermark: str = "10 seconds",
    retention_cutoff: str | None = None,
    n_state_partitions: int | None = None,
) -> StreamingQuery:
    """Maintenance-friendly ingest into a ``dt=``-partitioned PLAIN parquet
    table: frames → parse → dedup → foreachBatch first-wins append.

    The direct parquet sink's ``_spark_metadata`` log pins exact file
    names, so the T11 retention/compaction sweep (which deletes and
    rewrites files) would corrupt root reads. Writing through
    ``io.first_wins_append`` inside foreachBatch leaves no sink log: the
    table is resolved by directory listing, every micro-batch appends one
    small file per touched date, and ``maintenance.maintain_table``
    (docs/devops-tasks/t11-retention-policy.md:1-9 realized) can prune
    and compact it freely. Exactly-once comes from the W1 key contract
    instead of the sink log: a replayed micro-batch's rows anti-join away
    against the (pair, second) PK — the same first-wins gate the batch
    pipeline uses.

    ``retention_cutoff`` (ISO date, the same value handed to
    ``maintenance.maintain_table``) closes the replay/retention race:
    after retention drops a ``dt`` partition, a checkpointed micro-batch
    REPLAYED from before the drop would sail through the first-wins gate
    (the existing side was deleted and range-pruned to the batch) and
    silently resurrect the expired partition. The foreachBatch
    therefore drops rows with ``dt < retention_cutoff`` before appending —
    expired data can never re-enter. Without a cutoff, run
    ``maintain_table`` only after the stream's checkpoint horizon has
    passed the retention cutoff.
    """
    from .. import io

    ticks = dedup_ticks(
        parse_ticks(read_tick_frames(spark, source_path)), watermark=watermark
    )

    def append_first_wins(batch: DataFrame, _batch_id: int) -> None:
        rows = batch.withColumn("dt", F.to_date("time"))
        if retention_cutoff is not None:
            rows = rows.filter(F.col("dt") >= F.lit(retention_cutoff).cast("date"))
        io.first_wins_append(
            batch.sparkSession,
            sink_path,
            rows,
            keys=["currency_pair_symbol", "time"],
            prune_on="time",
            partition_by=["dt"],
        )

    return start(
        ticks, append_first_wins, checkpoint=checkpoint_path,
        processing_time=processing_time, n_state_partitions=n_state_partitions,
    )


def start_latest_value_cache(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    view_name: str = "latest_ticks",
    *,
    processing_time: str | None = None,
    emit: "Callable[[dict], None] | None" = None,
    relay_hook_kwargs: dict | None = None,
) -> StreamingQuery:
    """R3: per-symbol latest-value cache for replay-1 to new subscribers.

    ``max_by(struct(...), time)`` per symbol inside foreachBatch, merged
    newest-wins into a keyed view — the websocket server's
    ``latest_row_store`` (ws_ticker_server.py:88-99) without the process-local
    mutable dict. When ``emit`` is given, the hook is wrapped in
    ``relay.RelayHook``, adding the reference relay's R4 heartbeat and R5
    error-frame/retry semantics around every micro-batch. The view is a
    GLOBAL temp view (read it as ``global_temp.<view_name>``): foreachBatch
    runs on a cloned micro-batch session, so a plain temp view would be
    invisible to the caller's session. ``processing_time`` is the trigger,
    as in :func:`start_tick_ingest`.
    """
    parsed = parse_ticks(read_tick_frames(spark, source_path))

    def upsert_latest(batch: DataFrame, _batch_id: int) -> None:
        latest = (
            batch.groupBy("currency_pair_symbol")
            .agg(F.max_by(F.struct("time", "bid", "ask", "mid"), "time").alias("r"))
            .select("currency_pair_symbol", "r.time", "r.bid", "r.ask", "r.mid")
        )
        s = batch.sparkSession
        if s.catalog.tableExists(f"global_temp.{view_name}"):
            prev = s.table(f"global_temp.{view_name}")
            merged = (
                prev.unionByName(latest)
                .groupBy("currency_pair_symbol")
                .agg(F.max_by(F.struct("time", "bid", "ask", "mid"), "time").alias("r"))
                .select("currency_pair_symbol", "r.time", "r.bid", "r.ask", "r.mid")
            )
        else:
            merged = latest
        merged.cache().count()  # materialize before replacing the view
        merged.createOrReplaceGlobalTempView(view_name)

    hook = upsert_latest
    if emit is not None:
        from .relay import RelayHook

        hook = RelayHook(upsert_latest, emit, **(relay_hook_kwargs or {}))

    return start(
        parsed, hook, checkpoint=checkpoint_path, processing_time=processing_time
    )
