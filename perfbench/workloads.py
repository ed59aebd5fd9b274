"""The benchmark's workloads, each a closed loop with one client.

A workload has a set-up, an operation the loop repeats for the measured
seconds, and (traced runs only) a layer probe. Every call into the program
goes through ``Bench.call``, which is a plain call in untraced runs and a
job-group-tagged span in traced runs, so both kinds of run do the same work.
"""

from __future__ import annotations

import calendar
import math
import os
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

from trading_etl_spark.operators import asof, backtest, indicators, ohlc, signals
from trading_etl_spark.plans import pipelines
from trading_etl_spark.queries import datapipe, trading
from trading_etl_spark.session import get_spark
from trading_etl_spark.sources import dims, ticks
from trading_etl_spark import io as tio

import gen
from oracle import Oracle, canon
from statusstore import StatusStore, Tracer

SETUP_REPS = 2


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, q: float):
    """The nearest-rank q-quantile of ``samples``, or None unless at least
    ten samples lie beyond it: a percentile resting on fewer is not reported."""
    rank = math.ceil(round(q * len(samples), 9))
    if len(samples) - rank < 10:
        return None
    return sorted(samples)[rank - 1]


class Ops:
    """Operations attempted and failed. An operation fails when it raises
    or when its output check fails; an operation that raised is not checked."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn):
        """Run one operation; its exception is recorded, not raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failing operation is reported, and the run goes on
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, name: str, ok: bool, detail: str | None = None) -> None:
        """Record the output check of an operation already attempted."""
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: output differs from its check: {detail or ''}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# the reference job's own SQL settings, fixed so that a change to the
# program's session settings does not move it
def reference_conf() -> dict[str, str]:
    return {
        "spark.sql.shuffle.partitions": str(nproc()),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }


def reference_s(spark) -> float:
    """Seconds for a fixed Spark job that uses none of the program's code: a
    hash aggregation over a range and a shuffle join, on every core. It runs in the same JVM as the measured operations, so it
    moves with the host's speed at that moment, but in a session of its own
    with ``reference_conf``, so it does not move with the program's session
    settings."""
    ref = spark.newSession()
    for key, value in reference_conf().items():
        ref.conf.set(key, value)
    t = time.perf_counter()
    df = ref.range(0, 300_000, numPartitions=nproc()).select(
        (F.col("id") % 997).alias("k"), F.hash("id").alias("v")
    )
    agg = df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    df.join(agg, "k").groupBy((F.col("k") % 7).alias("g")).agg(F.max("s")).collect()
    return time.perf_counter() - t


class Bench:
    """One benchmark run: paths, session lifecycle and the optional tracer."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.spark = None
        self.tracer: Tracer | None = None
        self.ops = Ops()
        self.detail: dict[str, tuple[float, str]] = {}
        self.calls_s: dict[str, list[float]] = {}
        self.ref_s: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_session(self):
        """Stop the current session (if any) and start one with a new
        applicationId, so every session cache misses."""
        if self.spark is not None and self.tracer is not None:
            self.tracer.flush()
        t = time.time()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        if self.tracer is not None:
            self.tracer.bind(self.spark)
            self.tracer.own_s += time.time() - t
        return self.spark

    def call(self, layer: str, name: str, fn, action=lambda x: x, parent: str | None = None):
        """Run ``action(fn())``: a span when tracing, else a timed call."""
        if self.tracer is not None:
            return self.tracer.call(layer, name, fn, action, parent)
        t = time.perf_counter()
        try:
            return action(fn())
        finally:
            self.calls_s.setdefault(f"{layer}.{name}", []).append(time.perf_counter() - t)

    def reference(self, samples: int = 1) -> None:
        """Run the reference job ``samples`` times after a measured call, in
        untraced runs: spread over an operation, the reference samples the
        host's speed at the moments the operation runs."""
        if self.tracer is None:
            self.ref_s += [reference_s(self.spark) for _ in range(samples)]

    def own(self, fn):
        """Run the benchmark's own work (inputs, checks) and return its
        result; when tracing, it stays out of the ``spark`` totals."""
        return self.tracer.own(fn) if self.tracer is not None else fn()

    def start_trace(self, run: str) -> None:
        self.tracer = Tracer(run)
        self.tracer.bind(self.spark)

    def cached_mb(self) -> float:
        return StatusStore(self.spark).cached_mb()


def same(got, want) -> tuple[bool, str]:
    """Whether two canonical results are equal, and how they differ if not."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return False, f"columns {gcols} vs {wcols}"
    if grows != wrows:
        missing = len(set(wrows) - set(grows))
        return False, f"{len(grows)} rows vs {len(wrows)} expected, {missing} expected rows missing"
    return True, ""


def collect(df):
    return df.columns, df.collect()


def timed_setup(bench: Bench, make_inputs) -> float:
    """Generate the inputs and start a session, then do it again
    ``SETUP_REPS`` times with a fresh session each; returns the median of the
    repetitions: the run's ``setup_s``. The first set-up also launches the
    JVM, which is reported on its own as ``jvm_start_s``. The DuckDB answers
    the checks compare against are the benchmark's own work, and their cost
    follows the seed, not the program: they are timed apart as
    ``oracle_s``."""
    reps = []
    for _ in range(SETUP_REPS + 1):
        t = time.perf_counter()
        make_inputs()
        bench.fresh_session()
        reps.append(time.perf_counter() - t)
    setup_s = median(reps[1:])
    bench.detail["jvm_start_s"] = (reps[0] - setup_s, "s")
    return setup_s


class Workload:
    """A set-up, an operation the loop repeats, and, in traced runs, a probe.
    ``samples`` holds per-operation timings; their medians go to the record."""

    name = ""

    def __init__(self, bench: Bench):
        self.b = bench
        self.samples: dict[str, list[float]] = {}
        self.n_ops = 0

    def finish(self) -> None:
        for name, xs in self.samples.items():
            self.b.detail[name] = (median(xs), "s")

    def probe(self) -> dict[str, tuple[float, str]]:
        return {}

    def scanned_per_landed(self) -> float:
        return 0.0


# --------------------------------------------------------------------------
# backfill


class TickBackfill(Workload):
    """The reference's full flow: a fresh session and an empty warehouse
    through ``ohlc_pipeline``, ``indicator_pipeline`` and ``strategy_pipeline``
    over a seeded 1 Hz tick history. The traced run's probe adds one
    append-refresh cycle and each tick layer's function alone."""

    name = "backfill"
    # 1 Hz per pair, as FIXTURES.md specifies, over 4 hours: ~91k rows, so
    # that the 48 runs of a full measurement fit in an hour and a traced run
    # (a backfill, a refresh cycle and the probe) stays well inside its time
    # limit on a loaded 4-core host
    HISTORY_HOURS = 4
    HISTORY_PARTS = 16
    SLICE_MINUTES = 60
    LATE_SHARE = 0.1
    READ_SET = ("latest_tick_per_pair", "sma_golden_cross", "backtest_pnl", "event_asof_tick")

    def __init__(self, bench: Bench):
        super().__init__(bench)
        self.src = bench.path("src")
        self.wh = ""
        self.landed: dict[str, int] = {}
        pair_col = [f.name for f in dims.DIM_CURRENCY_SCHEMA.fields].index("currency_pair_code")
        self.pair_code = {row[0] - 1: row[pair_col] for row in dims.CURRENCY_SEED}

    def _make_inputs(self) -> None:
        shutil.rmtree(self.src, ignore_errors=True)
        self.history = gen.TickHistory(self.b.seed)
        self.rows = self.history.write_history(self.src, self.HISTORY_HOURS, self.HISTORY_PARTS)

    def setup(self) -> float:
        b = self.b
        setup_s = timed_setup(b, self._make_inputs)
        b.detail["input_rows"] = (self.rows, "count")
        t = time.perf_counter()
        oracle = Oracle(self.src, {"events": "events.parquet/*.parquet"})
        cols, rows = oracle.answer("ohlc_1m")
        self.want = (cols, sorted(rows + oracle.answer("ohlc_derived_multi_tf")[1]))
        oracle.close()
        b.detail["oracle_s"] = (time.perf_counter() - t, "s")
        return setup_s

    def op(self, i: int) -> float:
        b = self.b
        spark = b.fresh_session()
        self.wh = b.path(f"warehouse-{i}")
        label = f"backfill-{i}"
        t, n_ref = time.perf_counter(), len(b.ref_s)
        stats = b.ops.run("backfill", lambda: self._pipelines(label))
        elapsed = time.perf_counter() - t - sum(b.ref_s[n_ref:])
        if stats is not None:
            written = spark.read.parquet(f"{self.wh}/ohlc").select(*ohlc.OHLC_COLS)
            got = b.own(lambda: canon(written.columns, written.collect()))
            b.ops.check("backfill", *same(got, self.want))
        self.samples.setdefault("backfill_s", []).append(elapsed)
        return elapsed

    def refresh_cycle(self, label: str) -> None:
        """Land a slice, refresh the warehouse (``run_etl``'s three stages,
        one span each), apply the documented invalidations and read the
        fresh state back, checking W1, freshness and the reads' twins."""
        b, spark = self.b, self.b.spark
        landed = b.own(lambda: self.history.land_slice(self.src, self.SLICE_MINUTES, self.LATE_SHARE))
        self.landed[label] = landed.rows
        t = time.perf_counter()
        stats = b.ops.run("run_etl", lambda: self._pipelines(label))
        # W1: every new (pair, minute) gets one candle, and no landed key a
        # second one, late rows inside old seconds included
        if stats is not None:
            b.ops.check("run_etl", stats["ohlc_base_rows"] == landed.new_minutes,
                        f"{stats} vs {landed.new_minutes} new minutes")
        t_read = time.perf_counter()
        trading.clear_candle_caches(spark)
        ticks.clear_source_caches(spark)
        reads = {}
        for q in self.READ_SET:
            reads[q] = b.ops.run(q, lambda: b.call(
                "queries", q, lambda: trading.QUERIES[q](spark, self.src), collect, parent=label
            ))
        end = time.perf_counter()
        self.samples.setdefault("refresh_s", []).append(t_read - t)
        self.samples.setdefault("fresh_read_s", []).append(end - t_read)
        if reads["latest_tick_per_pair"] is not None:
            stale = self._stale(reads["latest_tick_per_pair"], landed.newest)
            b.ops.check("latest_tick_per_pair", not stale, stale)
        b.own(lambda: self._check_reads(reads))

    def _check_reads(self, reads) -> None:
        oracle = Oracle(self.src, {"events": "events.parquet/*.parquet"})
        for q, out in reads.items():
            if out is not None:
                self.b.ops.check(q, *same(canon(*out), oracle.answer(q)))
        oracle.close()

    def _pipelines(self, parent: str) -> dict[str, int]:
        """``run_etl``'s three stages on the current warehouse, one call (a
        span, when tracing) each; returns their merged row counts."""
        b, spark = self.b, self.b.spark
        stats: dict[str, int] = {}
        for name, fn in (
            ("ohlc_pipeline", lambda: pipelines.ohlc_pipeline(spark, self.src, self.wh)),
            ("indicator_pipeline", lambda: pipelines.indicator_pipeline(spark, self.wh)),
            ("strategy_pipeline", lambda: pipelines.strategy_pipeline(spark, self.wh)),
        ):
            stats |= b.call("pipelines", name, fn, parent=parent)
            b.reference(samples=2)  # six samples over the three calls
        return stats

    def _stale(self, out, newest: dict[int, int]) -> str:
        """Pairs whose latest tick is not the newest second of the slice."""
        _, rows = out
        seen = {r["currency_pair_code"]: calendar.timegm(r["time"].timetuple()) for r in rows}
        return ", ".join(
            f"{self.pair_code[p]} shows {seen.get(self.pair_code[p])} not {sec}"
            for p, sec in sorted(newest.items())
            if seen.get(self.pair_code[p]) != sec
        )

    def probe(self) -> dict[str, tuple[float, str]]:
        """One refresh cycle on the last backfilled warehouse, then each tick
        layer's public function alone on materialized upstream input.
        Returns the ratios the probe measures, and the program's cached
        relations after the refresh cycle, read before the probe's own
        checkpoints exist."""
        b, spark = self.b, self.b.spark
        self.refresh_cycle("refresh-0")
        cached = b.cached_mb()
        cfg = dims.EngineConfig.from_env()
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        raw, tick_rel, candles, fact_sma, events, incoming, offered = b.own(self._probe_inputs)
        scratch = b.path("probe_ohlc")

        b.call("sources", "load_ticks", lambda: ticks.load_ticks(spark, self.src), noop, "probe")
        b.call("ohlc", "ohlc_chain_single_shuffle", lambda: ohlc.ohlc_chain_single_shuffle(
            raw, dims.dim_timeframe(spark, cfg), durations=dims.timeframe_durations(cfg)
        ), lambda pair: [noop(df) for df in pair], "probe")
        for name, fn in (("sma", indicators.sma), ("ema", indicators.ema), ("rsi", indicators.rsi)):
            b.call("indicators", name, lambda: fn(candles, 14), noop, "probe")
        b.call("signals", "buysell_events", lambda: signals.buysell_events(fact_sma, 14, 28), noop, "probe")
        b.call("backtest", "backtest_pnl", lambda: backtest.backtest_pnl(events), noop, "probe")
        probe_events = events.select(
            "event_datetime", "currency_pair_code", "event_type", "price"
        ).withColumn("time", F.col("event_datetime"))
        b.call("asof", "asof_join_backward_bucketed", lambda: asof.asof_join_backward_bucketed(
            probe_events, tick_rel.select("currency_pair_code", "time", "bid"),
            on="time", by=["currency_pair_code"], value_cols=["bid"],
        ), noop, "probe")
        written = b.call("io", "first_wins_append", lambda: tio.first_wins_append(
            spark, scratch, incoming, pipelines.OHLC_KEYS,
            partition_by=["timeframe_code", "currency_pair_code"],
        ), parent="probe")
        return {
            "io.written_frac": (written / offered if offered else 0.0, "ratio"),
            "spark.cached_mb": (cached, "MB"),
        }

    def _probe_inputs(self):
        """The probe's materialized upstream relations. The io probe offers
        every candle of a source grown by one more slice, as
        ``ohlc_pipeline`` does on each refresh, to a scratch copy of the
        ``ohlc`` table."""
        b, spark = self.b, self.b.spark
        raw = ticks.raw_ticks(spark, self.src).localCheckpoint(eager=True)
        tick_rel = ticks.load_ticks(spark, self.src).localCheckpoint(eager=True)
        candles = spark.read.parquet(f"{self.wh}/ohlc").localCheckpoint(eager=True)
        fact_sma = spark.read.parquet(f"{self.wh}/fact_sma").localCheckpoint(eager=True)
        events = spark.read.parquet(f"{self.wh}/fact_buysell_events").localCheckpoint(eager=True)
        grown = b.path("probe_src")
        shutil.copytree(f"{self.wh}/ohlc", b.path("probe_ohlc"))
        shutil.copytree(self.src, grown)
        self.history.land_slice(grown, self.SLICE_MINUTES, self.LATE_SHARE)
        incoming = ohlc.ohlc_base(ticks.load_ticks(spark, grown)).localCheckpoint(eager=True)
        return raw, tick_rel, candles, fact_sma, events, incoming, incoming.count()

    def input_hash(self) -> str:
        return self.history.content_hash()

    def scanned_per_landed(self) -> float:
        """Input rows read by the refresh cycle's ``ohlc_pipeline`` over the
        ticks landed in that cycle."""
        tr = self.b.tracer
        spans = [
            (s, t) for s, t in zip(tr.spans, tr.span_totals)
            if s.name == "ohlc_pipeline" and s.parent in self.landed
        ]
        landed = sum(self.landed[s.parent] for s, _ in spans)
        return sum(t.input_rows for _, t in spans) / landed if landed else 0.0


# --------------------------------------------------------------------------
# corpus_build


class CorpusBuild(Workload):
    """The corpus query set on a fresh session over a seeded corpus."""

    name = "corpus_build"
    # the fixture's 5,000 documents and 2,000 vectors scaled to 500 and 200:
    # at this size dedup_cc_two_phase and text_ngram_diversity already take
    # the largest shares of corpus_s, and one run stays near a minute
    N_DOCS = 500
    N_VECS = 200
    # query -> the operator module that implements it
    QUERIES = {
        "text_quality_score": "text",
        "text_ngram_diversity": "text",
        "dedup_minhash_lsh": "text",
        "dedup_cc_two_phase": "graph",
        "decontaminate_bloom_prefilter": "text",
        "embedding_knn_ivf_kmeans": "similarity",
    }

    def __init__(self, bench: Bench):
        super().__init__(bench)
        self.src = bench.path("corpus")
        self.want: dict[str, tuple] = {}

    def _make_inputs(self) -> None:
        self.hash = gen.write_corpus(self.src, self.b.seed, self.N_DOCS, self.N_VECS)

    def setup(self) -> float:
        b = self.b
        setup_s = timed_setup(b, self._make_inputs)
        t = time.perf_counter()
        oracle = Oracle(self.src, {"documents": "documents.parquet", "embeddings": "embeddings.parquet"})
        self.want = {q: oracle.answer(q) for q in self.QUERIES}
        oracle.close()
        b.detail["oracle_s"] = (time.perf_counter() - t, "s")
        return setup_s

    def op(self, i: int) -> float:
        b = self.b
        spark = b.fresh_session()
        outs = {}
        elapsed = 0.0
        for q, layer in self.QUERIES.items():
            t = time.perf_counter()
            outs[q] = b.ops.run(q, lambda: b.call(
                layer, q, lambda: datapipe.QUERIES[q](spark, self.src), collect, f"set-{i}"
            ))
            elapsed += time.perf_counter() - t
            b.reference()
        for q, out in outs.items():
            if out is not None:
                b.ops.check(q, *same(b.own(lambda: canon(*out)), self.want[q]))
        self.samples.setdefault("corpus_s", []).append(elapsed)
        return elapsed

    def input_hash(self) -> str:
        return self.hash


WORKLOADS = {w.name: w for w in (TickBackfill, CorpusBuild)}
