"""Tick source: the driver's ``events`` table adapted into the reference's
tick-feed shape (FIXTURES.md: ts→time, value→bid, props JSON→spread key,
user_id→currency pair).

Reproduces the reference's ingest semantics end-to-end (SURVEY.md §2.1/§2.2):

- S2 JSON parse + casts            src/gmo/ws-connection.py:131-160
- P6 mid price                     src/gmo/ws_ticker_server.py:164
- P7/P8 UTC + second truncation    src/gmo/ws-connection.py:56-57,147
- P9 tick validity filter          docs/ws_ticker_spec.md:95
- S3 1-second dedup, first wins    src/gmo/ws-connection.py:47-57
- J2 dim lookup join (broadcast)   src/etl/flows/transform_helpers.py:18-42

Scale notes: the dedup is a window over (pair, second) — at 100 TB this
shuffles once on the natural key and every downstream OHLC agg reuses that
partitioning. The dim join is an explicit ``broadcast()``: 6 rows never
justify a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cache
from .dims import currency_values_sql, dim_currency

def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", ts_type, False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


def _events_ts_unit(path: str) -> str | None:
    """Inspect the parquet footer: ``None`` when ``ts`` is a proper
    TIMESTAMP(MICROS/MILLIS) the Spark reader handles natively; otherwise
    the epoch unit ("ns"/"us"/"ms"/"s") of the raw INT64 / TIMESTAMP(NANOS)
    column that needs an explicit conversion.

    The fixture corpus has shipped more than one encoding, so hardcoding a
    unit silently corrupts when the environment drifts — detect, don't
    assume. For UNANNOTATED int64 the footer alone can't name the unit, so
    it is inferred from magnitude (assuming nanos would corrupt a micros
    fixture 1000×): epoch-2024 is ~1.7e18 ns, ~1.7e15 µs, ~1.7e12 ms,
    ~1.7e9 s — regimes 1000× apart, unambiguous for any date within ±200
    years. The probe value is max(|min|, |max|) from the row-group column
    STATISTICS (no data read; stats ignore nulls), falling back to the max
    |v| over the first non-null data batch — never a single first value,
    so a leading NULL can't raise and a 0/sentinel epoch can't misclassify
    the whole table.
    """
    import glob
    import os

    import pyarrow.parquet as pq
    import pyarrow.types as pat

    if os.path.isdir(path):
        inner = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if inner:
            path = inner[0]
    t = pq.read_schema(path).field("ts").type
    if pat.is_timestamp(t):
        return "ns" if t.unit == "ns" else None
    if not pat.is_integer(t):
        return None
    pf = pq.ParquetFile(path)
    md = pf.metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    ci = names.index("ts")
    # Max over ALL row groups' stats, not the first one carrying stats: a
    # leading row group of zero-sentinels (min=max=0) must not decide the
    # unit for the whole table when later row groups hold real epochs.
    # Stats are cheap footer metadata — scanning every row group reads no
    # data.
    v = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is not None and st.has_min_max:
            rg_max = max(abs(int(st.min)), abs(int(st.max)))
            v = rg_max if v is None else max(v, rg_max)
    if v is None:  # stats absent: probe the first batch with non-null data
        for batch in pf.iter_batches(batch_size=1024, columns=["ts"]):
            vals = [x for x in batch.column(0).to_pylist() if x is not None]
            if vals:
                v = max(abs(x) for x in vals)
                break
    if not v:  # empty / all-null / all-zero: magnitude is undecidable;
        return "us"  # µs is Spark's native epoch unit, and 0 reads as 1970 either way
    for unit, floor in (("ns", 1e17), ("us", 1e14), ("ms", 1e11)):
        if v >= floor:
            return unit
    return "s"


_TS_FROM_INT64 = {
    # integer expressions throughout: double division would lose precision
    # above 2^53
    "ns": "timestamp_micros(ts DIV 1000)",
    "us": "timestamp_micros(ts)",
    "ms": "timestamp_millis(ts)",
    "s": "timestamp_seconds(ts)",
}


def _with_event_time(df: DataFrame, ts_unit: str | None) -> DataFrame:
    if ts_unit is not None:
        return df.withColumn("ts", F.expr(_TS_FROM_INT64[ts_unit]))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as a proper TimestampType (µs, UTC)."""
    path = f"{sf_dir}/events.parquet"
    unit = _events_ts_unit(path)
    schema = _events_raw_schema(T.TimestampType() if unit is None else T.LongType())
    return _with_event_time(spark.read.schema(schema).parquet(path), unit)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``load_events``: file-source stream over the same
    parquet with the same footer-driven unit handling. In production the path
    is a landing zone the websocket connector appends to (or a Kafka topic
    with this schema)."""
    unit = _events_ts_unit(f"{sf_dir}/events.parquet")
    schema = _events_raw_schema(T.TimestampType() if unit is None else T.LongType())
    stream = (
        spark.readStream.schema(schema)
        # the file stream source wants a directory; glob-filter to the events
        # table so sibling tables in the sf dir are not picked up
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _with_event_time(stream, unit)


def enriched(events: DataFrame, how: str) -> DataFrame:
    """The shared parse/enrich of :func:`tickify`, :func:`tickify_with_dlq`
    and the ``streaming_enrich_dim_join`` gate: pair = user_id mod 6 joined (``how``) against
    the broadcast dim_currency; bid = event value; ask = bid + spread from
    the props JSON key; time = ts truncated to the second.

    The props JSON is parsed ONCE per row: the ask spread and the validity
    predicates all derive from $.k, and with a plain deterministic
    projection the optimizer re-inlines the parse into every consumer — 4
    get_json_object calls in the executed plan, measured ~0.9 s of the
    1.4 s single-split streaming tickify at sf0.1. The always-true
    nondeterministic guard pins the projection (CollapseProject will not
    duplicate a multi-referenced nondeterministic expression), so the parse
    runs once; the VALUE is unchanged (partition ids are always >= 0; a
    rand() guard does NOT work — Spark 4 range-folds rand comparisons to a
    literal and re-inlines)."""
    dim = dim_currency(events.sparkSession)
    k = F.when(
        F.spark_partition_id() >= 0,
        F.get_json_object("props", "$.k").cast("int"),
    )
    return (
        events.withColumn("pair_id", (F.col("user_id") % 6 + 1).cast("int"))
        .join(F.broadcast(dim), F.col("pair_id") == dim.id, how)
        .withColumn("k", k)
        .withColumn("bid", F.col("value"))
        .withColumn("ask", F.col("value") + ((F.col("k") % 10) + 1) * F.lit(0.001))
        .withColumn("time", F.date_trunc("second", F.col("ts")))
    )


def tickify(events: DataFrame) -> DataFrame:
    """Parse/validate events into the tick shape (S2 + P6-P9 + J2).

    Works on batch AND streaming inputs — the dim join is stream-static
    broadcast. The pushable validity predicate (bid = value > 0, an exact
    alias) runs BELOW the parse guard so the events scan keeps its
    PushedFilters; the two k-derived predicates stay above, same
    conjunction, same NULL-drop semantics.
    """
    return (
        enriched(events.filter(F.col("value") > 0), "inner")
        .filter((F.col("ask") > 0) & (F.col("bid") <= F.col("ask")))
        .select("currency_pair_code", "time", "bid", "ask", "ts", "event_id")
    )


# The session conf a file scan's split count depends on (FilePartition's
# maxSplitBytes and partition-count cap).
SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism",
)


def clear_source_caches(spark: SparkSession | None = None) -> int:
    """Drop the scan-split probe cache (only ``spark``'s when given)."""
    return cache.clear(spark, "splits")


def _scan_splits(spark: SparkSession, key: str | DataFrame, df: DataFrame) -> int:
    """``df.rdd.getNumPartitions()``, which plans the scan to count its
    splits: ~0.15 s of driver work per fresh handle, re-paid by every cold
    chain build. Cached per ``key`` (the source path, or the scanned
    relation itself) and split-sizing conf."""
    conf = tuple(spark.conf.get(k, None) for k in SPLIT_CONFS)
    return cache.cached(
        spark, "splits", lambda: df.rdd.getNumPartitions(), key, conf
    )


def spread_if_underpartitioned(
    src: DataFrame, out: DataFrame, key: str | DataFrame
) -> DataFrame:
    """``out`` repartitioned to defaultParallelism when the scan behind
    ``src`` arrives under-split — a single small parquet file is ONE task
    for every stage above it. A real many-split source is left alone. The
    split count is :func:`_scan_splits`, probed once per ``key``."""
    par = src.sparkSession.sparkContext.defaultParallelism
    if _scan_splits(src.sparkSession, key, src) < par:
        return out.repartition(par)
    return out


def raw_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed, validated ticks before dedup — batch entry point.

    The events scan is SPREAD to defaultParallelism when it arrives
    under-split: the driver fixture is ONE small parquet file = one task,
    and the JSON parse + broadcast enrich in tickify are the chain's CPU
    cost — they would run single-threaded before every keyed shuffle. The
    round-robin spread of the raw rows is cheap and shows up as a
    roundrobinpartitioning exchange, distinct from the chain's single
    KEYED shuffle; a real 100 TB events table arrives as many splits and
    the guard no-ops. Batch-only — streaming sources manage their own
    partitioning."""
    ev = load_events(spark, sf_dir)
    return tickify(spread_if_underpartitioned(ev, ev, f"{sf_dir}/events.parquet"))


def first_tick_per_second(raw: DataFrame, *carry: str) -> DataFrame:
    """S3 dedup: the first tick per (pair, ``carry``…, second) wins, ordered
    by original event time then event_id for determinism. ``raw`` is
    :func:`tickify` output; ``carry`` columns (functions of the key, e.g.
    the candle chain's partition bucket) are grouped on and kept.

    Expressed as ``min_by(struct(values), struct(order))`` hash-agg rather
    than a row_number window: hash aggregation gets map-side partial combine
    (each input partition pre-reduces to one row per (pair, second) before
    the exchange), so shuffle volume is bounded by distinct keys — a window
    would shuffle and sort every raw tick.
    """
    first = F.min_by(F.struct("bid", "ask"), F.struct("ts", "event_id")).alias("f")
    return (
        raw.groupBy("currency_pair_code", *carry, "time")
        .agg(first)
        .select("currency_pair_code", *carry, "time", F.col("f.bid"), F.col("f.ask"))
    )


def load_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated tick table (S3) of the sf dir's events."""
    return first_tick_per_second(raw_ticks(spark, sf_dir))


# --- DuckDB oracle twins (same semantics, ANSI SQL over the driver's views) ---

RAW_TICKS_SQL = f"""
{currency_values_sql()},
raw_ticks AS (
  SELECT d.currency_pair_code,
         CAST(date_trunc('second', e.ts) AS TIMESTAMP) AS time,
         e.value AS bid,
         e.value + ((CAST(json_extract_string(e.props, '$.k') AS INTEGER) % 10) + 1) * 0.001::DOUBLE AS ask,
         e.ts AS _ts,
         e.event_id AS _event_id
  FROM events e
  JOIN dim_currency d ON d.id = CAST(e.user_id % 6 AS INTEGER) + 1
  WHERE e.value > 0
    AND e.value + ((CAST(json_extract_string(e.props, '$.k') AS INTEGER) % 10) + 1) * 0.001::DOUBLE > 0
    AND e.value <= e.value + ((CAST(json_extract_string(e.props, '$.k') AS INTEGER) % 10) + 1) * 0.001::DOUBLE
)
""".strip()

TICKS_SQL = f"""
{RAW_TICKS_SQL},
ticks AS (
  SELECT currency_pair_code, time, bid, ask
  FROM raw_ticks
  QUALIFY row_number() OVER (PARTITION BY currency_pair_code, time ORDER BY _ts, _event_id) = 1
)
""".strip()


def tickify_with_dlq(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """:func:`tickify` with a DEAD-LETTER side output instead of the
    silent drop: returns ``(ticks, dlq)`` where dlq carries every event
    the validation gate rejected, tagged with the machine-readable reason
    — the production upgrade over the reference's log-and-drop
    (``src/gmo/ws-connection.py`` drops malformed frames on the floor).
    Quarantined rows keep their FULL original payload so they can be
    replayed after an upstream fix.

    Scale shape: one shared parse/enrich subtree; the valid/invalid split
    is two map-side filters over it (Spark evaluates the common subtree
    per branch — at scale, persist the parsed relation or write both
    sides from one pass via ``foreachBatch``). Reasons are evaluated in
    priority order so each bad row gets exactly one verdict.
    """
    # No value pre-filter here — the DLQ must KEEP invalid rows.
    parsed = enriched(events, "left")
    reason = (
        F.when(F.col("currency_pair_code").isNull(), "unknown_pair")
        .when(F.col("bid").isNull(), "missing_value")
        .when(F.col("ask").isNull(), "bad_props_spread")
        .when(F.col("bid") <= 0, "nonpositive_bid")
        .when(F.col("ask") <= 0, "nonpositive_ask")
        .when(F.col("bid") > F.col("ask"), "crossed_market")
    )
    tagged = parsed.withColumn("dlq_reason", reason)
    ticks = tagged.filter(F.col("dlq_reason").isNull()).select(
        "currency_pair_code", "time", "bid", "ask", "ts", "event_id"
    )
    dlq = tagged.filter(F.col("dlq_reason").isNotNull()).select(
        "event_id", "user_id", "ts", "value", "props", "dlq_reason"
    )
    return ticks, dlq
