"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line LAST: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: median_sec}, "min_total_sec": ..., "sf": ...}. The full
per-run series + methodology go to BENCH_DETAIL.json next to this file
(the driver tail-captures stdout; see summarize()).

Each query executes end-to-end into a noop sink (full plan, no driver
collect). Timings exclude session startup.

Methodology (VERDICT r3 task #2, r5 task #2, r6 task #7): single-run
timings on this box vary ±30-70%, and even median-of-3 is not robust to
SUSTAINED box load. Each headline query runs ``N_RUNS`` = 5 times, and the
runs are ROUND-INTERLEAVED: the whole headline set executes once per round
(over warm caches — steady state, as in prior rounds) and the rounds
repeat, so a query's 5 samples are spread across the full bench duration
instead of being consecutive — a multi-minute load burst poisons one round
of every query rather than all 5 runs of a few (the r6 creep that forced a
judge-side re-run even at min-of-5 was exactly consecutive runs under a
sustained burst). The COLD lines (candle_chain_cold, candle_cache_cold,
kmeans_train_cold, ivf_index_build_cold) stay consecutive: they must clear the relation caches
to be cold, and doing that inside the headline rounds would force every
warm query onto fresh cached-relation identities (new plans + codegen)
each round — a measured +1.5-2 s artifact. ``queries`` holds per-query
MEDIANS (``value`` = their sum, the series-comparable headline) and
``queries_min`` per-query MINIMA (``min_total_sec`` = their sum) — min is
the standard noise-robust estimator for a CPU-bound deterministic
workload, since external load only ever ADDS time. Compare rounds on the
min first; a real regression moves both statistics, box load moves only
the median. Raw per-run numbers persist in ``queries_runs`` (headline run
index = round index, so a burst shows up as a stripe across one column)
and the old single-(first-)run total in ``first_run_total_sec`` so the
series stays comparable with BENCH_r01..r06.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the operators that dominate real workloads. Trading core +
# (as implemented) LLM-pipeline ops. Keep in sync with registry keys.
HEADLINE = [
    "ohlc_1m",
    "ohlc_derived_multi_tf",
    "sma_14_1h",
    "ema_14_1h",
    "rsi_14_1h",
    "sma_golden_cross",
    "backtest_pnl",
    "event_asof_tick",
    "event_asof_tick_plain",  # plain twin: quantifies the bucketed form's
    # fixed small-scale overhead vs its scale win (see operators/asof.py)
    "event_reaction_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "embedding_knn_bruteforce",
    "embedding_knn_ivf_kmeans",
    # r6-born additions
    "macd_12_26_9_1h",
    "bollinger_20_2_1h",
    "dedup_semantic_kmeans",
    "decontaminate_bloom_prefilter",
    # r7-born additions
    "dedup_exact_substring",
    "pair_rolling_correlation",
    # r9 addition: the R1/R7 streaming path as a measured line — each run
    # executes a REAL availableNow streaming drain (ticks → watermark →
    # 1m windowed OHLC → memory sink) and times ingest-to-result; the
    # reference publishes no streaming throughput to compare against, so
    # this line IS the series baseline.
    "streaming_ohlc_1m",
    # r11 addition: the incremental ingest gate — the steady-state dedup
    # shape a production corpus build actually serves (batch probes the
    # banded index; the all-pairs dedup_minhash_lsh line above is the
    # one-time full pass). Scaling probe carries its 1x/10x/100x slopes.
    "dedup_incremental_minhash",
    # r14-born families: blocked-Levenshtein record linkage (vocabulary-sized
    # blocked self-join) and the all-integer two-job silhouette (centroid
    # agg + collect, then map-side scoring) — new lines, no prior series.
    "part_name_fuzzy_match",
    "embedding_cluster_silhouette",
]

# Warm-up query OUTSIDE the candle chain (JVM/codegen/parquet-footer warmup
# without pre-populating the chain cache the headline queries then reuse).
WARMUP = "text_lang_id"

# Repeats per query; per-query medians AND minima are reported (single-run
# noise on this box is ±30-70%, and sustained load defeats median-of-3 —
# see the r5 phantom-regression adjudication in VERDICT r5 #1).
N_RUNS = 5

# --- Page-cache canary (closes the r17 adjudication blind spot) ---------
# The CPU codegen canary cannot see IO/page-cache/memory pressure: the r17
# bench run started right after the scaling probe churned its 100x fixtures
# read two git-identical lines +22%/+24% REAL under DROPPED cpu brackets
# (tools/adjudicate.py docstring). This probe makes that pressure class
# observable: a fixed canary file, warmed once at bench start, re-read and
# timed at every burst. Memory pressure that evicts page cache evicts this
# file too, and the FIRST re-read of the next burst pays the disk cold
# read. Calibrated on this host: warm re-read 6-11 ms (max/min jitter
# <= 2x), cold read after eviction 0.26 s — a 43x step, so the
# adjudicator's 3x-relative + 0.05 s-absolute excusal thresholds sit an
# order of magnitude above jitter and an order below the signal.
PAGECACHE_CANARY_MB = 64


def _pagecache_read_sec(path: str) -> float:
    """Time one full sequential unbuffered-layer read of the canary file.
    Warm (cached) on this host: ~0.006-0.011 s for 64 MiB; cold: ~0.26 s."""
    t0 = time.time()
    with open(path, "rb", buffering=0) as f:
        while f.read(8 << 20):
            pass
    return round(time.time() - t0, 4)


def _evict_pagecache(path: str) -> bool:
    """Drop THIS file's pages from the page cache (no system-wide effect).
    Returns False where posix_fadvise is unavailable (non-POSIX)."""
    if not hasattr(os, "posix_fadvise"):
        return False
    fd = os.open(path, os.O_RDONLY)
    try:
        os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
    finally:
        os.close(fd)
    return True


def make_pagecache_canary(dirpath: str, mb: int = PAGECACHE_CANARY_MB):
    """Create + fsync the canary file, then self-calibrate: evict our own
    pages (posix_fadvise DONTNEED), time the cold read, time the warm
    re-read. Returns (path, cold_sec, warm_sec); cold_sec is None when
    eviction is unsupported. The calibration pair ships in host_canary so
    every record carries its own sensitivity proof — if cold/warm is small
    on some future host/filesystem, the io excusal rule is visibly weak
    there rather than silently miscalibrated."""
    path = os.path.join(dirpath, "pagecache_canary.bin")
    blk = bytes(range(256)) * 4096  # 1 MiB
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(blk)
        f.flush()
        os.fsync(f.fileno())  # dirty pages survive DONTNEED; flush first
    cold = _pagecache_read_sec(path) if _evict_pagecache(path) else None
    warm = _pagecache_read_sec(path)
    return path, cold, warm


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from trading_etl_spark.registry import build_queries
    from trading_etl_spark.session import get_spark

    spark = get_spark("bench")
    queries = build_queries()

    # Warm the JVM/codegen/parquet-footer caches so timings reflect
    # steady-state query execution, not first-query startup. The warm-up
    # query is deliberately OUTSIDE the candle chain so the chain build is
    # measured, not hidden (ADVICE r1).
    if WARMUP in queries:
        queries[WARMUP](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Warm the Python/Arrow worker pool too: the first pandas-UDF query would
    # otherwise pay worker fork + Arrow init — startup cost, not query cost.
    from pyspark.sql import functions as F

    tiny = spark.range(64).withColumn("g", F.col("id") % 4)
    tiny.groupBy("g").applyInPandas(lambda p: p, "id long, g long").write.format(
        "noop"
    ).mode("overwrite").save()

    # And the broadcast-join + struct-min_by codegen paths: the FIRST
    # broadcast join in a session pays ~5 s of one-time broadcast-exchange +
    # Janino compile cost regardless of data size (measured: identical on 264
    # rows and 100k rows). Warm it on 64 synthetic rows so candle_chain_cold
    # measures the chain, not JVM initialization.
    dim = spark.range(6).withColumnRenamed("id", "k")
    (
        tiny.join(F.broadcast(dim), tiny.id % 6 == dim.k)
        .groupBy("g")
        .agg(F.min_by(F.struct("id", "k"), F.struct("k", "id")).alias("m"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    def run_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    runs: dict[str, list[float]] = {}

    # --- Burst-local host canary (VERDICT r15 task #2) -------------------
    # The r15 adjudication gap: the driver's bench moved +16% across lines
    # whose code did not change while the END-of-run canary read flat — a
    # single canary placement cannot see load that arrives and leaves
    # mid-run. Fix: sample the same fixed-work codegen probe (pure
    # whole-stage-codegen JVM loop, no IO, no Python, no dependence on any
    # operator under test) BETWEEN query bursts and record the series in
    # BENCH_DETAIL. Each burst is 2 samples (~0.2 s quiet); labels follow
    # the bench's block structure so a loaded burst localizes the noise to
    # the exact lines it poisoned. Adjudication rule (mechanized in
    # tools/adjudicate.py, also in PLANS.md): a line's move is
    # attributable to host load iff A canary burst bracketing its block
    # moved >=15% in the same direction, POSITION-WISE vs the
    # same-labeled bursts of the prior round's record (the JVM matures
    # over the run, so early bursts sit structurally above the end-of-run
    # floor in every round — same-label comparison holds that constant).
    # ANY-bracket by design: load arriving mid-block moves only the
    # closing bracket, load draining mid-block only the opening one —
    # requiring both would misread either case as an engine move
    # (headline lines, whose mins interleave rounds, instead compare
    # against the LEAST-moved round burst); a line that moves under
    # flat brackets is real.
    bench_t0 = time.time()
    canary_bursts: list[dict] = []

    # Page-cache canary file on the same filesystem the bench writes to
    # (the warehouse dir). Self-calibrates at creation; see
    # make_pagecache_canary / the r17 blind-spot note at the top.
    _wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    os.makedirs(_wh, exist_ok=True)
    pc_path, pc_cold, pc_warm = make_pagecache_canary(_wh)
    import atexit

    # the happy path removes the file after the end burst; this covers
    # mid-bench exceptions/interrupts so a failed run cannot leak the
    # 64 MiB canary into the warehouse dir
    atexit.register(lambda: os.path.exists(pc_path) and os.remove(pc_path))

    # warm the canary plan itself before the first timed burst: the first
    # two samples of a cold canary pay Janino/JIT (measured 0.544/0.167 vs
    # the 0.09 steady state), which would poison the pre_cold bracket and
    # make every chain_cold adjudication read LOAD
    for _ in range(2):
        spark.range(200_000_000).groupBy().sum("id").collect()

    def canary_burst(label: str, n: int = 2) -> list[float]:
        samples = []
        for _ in range(n):
            t0 = time.time()
            spark.range(200_000_000).groupBy().sum("id").collect()
            samples.append(round(time.time() - t0, 3))
        # Page-cache probe AFTER the cpu samples. The adjudication
        # statistic is the FIRST read (io_first_sec): if memory pressure
        # evicted the canary since the previous burst, only that read pays
        # the disk (it re-warms the cache for the rest) — a min over the
        # burst would hide exactly the signal we want. The later reads
        # (io_rewarm_min_sec) are the re-warmed within-burst baseline:
        # first >> rewarm = eviction since the prior burst; all elevated =
        # ongoing IO contention at this bracket.
        io_samples = [_pagecache_read_sec(pc_path) for _ in range(2)]
        canary_bursts.append(
            {
                "at": label,
                "t_rel_sec": round(time.time() - bench_t0, 1),
                "samples": samples,
                "min_sec": min(samples),
                "io_samples": io_samples,
                "io_first_sec": io_samples[0],
                "io_rewarm_min_sec": min(io_samples[1:]),
            }
        )
        return samples

    canary_burst("pre_cold")

    # Cold lines: every cache the headline lines read warm keeps its build
    # cost measured. Each of the N_RUNS repeats clears the line's cache
    # kinds and times the build alone; the LAST build leaves the caches
    # warm for the headline rounds.
    # - candle_chain_cold: tick scan → dedup → 1m agg → derived agg, the
    #   analog of the reference's materialized OHLC tables;
    # - candle_cache_cold: the four relations the as-of/backtest/signal
    #   queries read (deduped ticks, 1h candles, SMA facts, signal events)
    #   over a WARM chain, built by the two-thread materializer and then
    #   scanned end to end;
    # - kmeans_train_cold, ivf_index_build_cold: the train-once codebook
    #   and the IVF inverted lists the ANN/SemDeDup lines serve from;
    # - lsh_bands_build_cold, exsub_positions_build_cold, bloom_build_cold:
    #   the persisted index/filter artifacts of a corpus rollout; the
    #   upstream shingle relation stays warm.
    # The cold lines stay CONSECUTIVE deliberately: interleaving them into
    # the headline rounds would clear the relation caches every round,
    # forcing every headline query onto fresh cached-relation identities
    # (new plans, fresh codegen) — measured +1.5-2 s of per-round re-warm
    # on the as-of query alone, an artifact, not query cost.
    from trading_etl_spark import cache
    from trading_etl_spark.operators import text as text_mod
    from trading_etl_spark.queries import datapipe
    from trading_etl_spark.queries import trading as trading_mod

    def scan(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def relations_cold() -> None:
        trading_mod.materialize_trading_relations(spark, sf_dir)
        scan(trading_mod._buysell_events_1h(spark, sf_dir))
        scan(trading_mod._ticks(spark, sf_dir))

    docs_rel = datapipe._docs(spark, sf_dir)
    # the exact test relation decontaminate_bloom caches on (same
    # _split_shingles handle → same plan identity)
    test_rel = (
        datapipe._split_shingles(spark, sf_dir)
        .filter(F.col("split") == "test")
        .select(F.col("doc_id").alias("test_doc_id"), "shingle")
    )
    cold_lines = [
        ("candle_chain_cold", trading_mod.CANDLE_KINDS,
         lambda: scan(queries["ohlc_derived_multi_tf"](spark, sf_dir)),
         "post_chain_cold"),
        ("candle_cache_cold", ("ticks", "ohlc_1h", "sma", "events_1h"),
         relations_cold, "post_cache_cold"),
        ("kmeans_train_cold", ("codebook",),
         lambda: datapipe._trained_codebook(spark, sf_dir), "post_train_cold"),
        ("ivf_index_build_cold", ("ivf_index",),
         lambda: scan(datapipe._ivf_index(spark, sf_dir)), "post_index_cold"),
        ("lsh_bands_build_cold", ("bands",),
         lambda: text_mod._band_keys_cached(text_mod._shingles_cached(docs_rel)),
         None),
        ("exsub_positions_build_cold", ("positions",),
         lambda: text_mod._positions_cached(docs_rel, text_mod.EXSUB_K), None),
        ("bloom_build_cold", ("bloom",),
         lambda: text_mod._bloom_cached(test_rel), "post_text_index_cold"),
    ]
    for line, kinds, build, burst in cold_lines:
        samples: list[float] = []
        for _ in range(N_RUNS):
            cache.clear(spark, *kinds)
            t0 = time.time()
            build()
            samples.append(round(time.time() - t0, 3))
        runs[line] = samples
        if burst:
            canary_burst(burst)

    # Round-interleaved headline measurement (VERDICT r6 task #7): the
    # whole headline set runs once per round over the warm caches, and the
    # rounds repeat N_RUNS times — a query's samples are spread across the
    # full bench duration, so a sustained load burst poisons one round of
    # every query instead of all runs of a few. Round 1 additionally pays
    # the one-time SMA/signal cache materialization (the steady state the
    # per-query min then excludes, exactly as in prior rounds).
    for rnd in range(N_RUNS):
        for name in HEADLINE:
            fn = queries.get(name)
            if fn is None:
                continue
            runs.setdefault(name, []).append(run_once(fn))
        canary_burst(f"post_headline_round_{rnd + 1}")

    # --- Partition-pruning proof lines (VERDICT r8 task #8b) -------------
    # The day-partitioned many-small-files events twin (the compaction
    # gate's fixture — ~2000 files at sf0.1) scanned whole vs with a
    # 3-day dt predicate. The predicate lands in PartitionFilters
    # (CI-asserted in test_plan_regressions), so the pruned scan lists and
    # reads only 3 of ~30 partition directories — the effect PLANS.md
    # claims, now measured (~5× at sf0.1). Fixture build is one-time
    # setup, not a timed line.
    from trading_etl_spark.queries.analytics import _compaction_fixture

    fixture = _compaction_fixture(spark, sf_dir)
    # prune to the fixture's first three ACTUAL day-partitions (review r9:
    # hardcoded dates would silently time an empty scan if the events
    # fixture's date range ever drifts — it has before)
    prune_days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(fixture)
        if d.startswith("dt=")
    )[:3]
    if not prune_days:
        raise RuntimeError(f"compaction fixture at {fixture} has no dt= partitions")

    def _scan_full(spark_, _sf):
        return spark_.read.parquet(fixture).groupBy().agg(
            F.count(F.lit(1)).alias("n")
        )

    def _scan_pruned(spark_, _sf):
        return (
            spark_.read.parquet(fixture)
            .filter(F.col("dt").cast("string").isin(*prune_days))
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
        )

    import glob

    pruning_files = {
        "files_total": len(glob.glob(f"{fixture}/dt=*/*.parquet")),
        "files_in_pruned_partitions": sum(
            len(glob.glob(f"{fixture}/dt={d}/*.parquet")) for d in prune_days
        ),
    }
    if not pruning_files["files_in_pruned_partitions"]:
        raise RuntimeError(
            f"pruned partitions {prune_days} hold no files — the pruning "
            "lines would time an empty scan and report a bogus speedup"
        )
    for _ in range(N_RUNS):
        runs.setdefault("events_scan_full", []).append(run_once(_scan_full))
        runs.setdefault("events_scan_pruned_3d", []).append(run_once(_scan_pruned))
    canary_burst("post_pruning_lines")

    # --- Skew-stress lines (VERDICT r8 task #8a) -------------------------
    # Hot-key join fixture: 95% of the big side carries ONE key; the small
    # side is deliberately too wide to broadcast (thresholds pinned to -1
    # for these lines only) and the downstream per-key agg pins the join's
    # output partitioning, which blocks AQE's skew-split rewrite — the
    # documented niche of operators/skew.salted_join. The pair of lines
    # shows the salted path beating the naive shuffle join ~2x in exactly
    # that niche (when the small side CAN broadcast, AQE's runtime
    # broadcast conversion wins instead — measured r9, see skew.py).
    from trading_etl_spark.operators.skew import salted_join

    skew_big = spark.range(4_000_000).select(
        F.when(F.pmod("id", 100) < 95, 0)
        .otherwise(F.pmod("id", 200_000) + 1)
        .cast("long")
        .alias("k"),
        F.col("id").alias("v"),
    )
    skew_small = spark.range(200_001).select(
        F.col("id").alias("k"),
        F.concat(F.lit("x" * 120), F.col("id").cast("string")).alias("payload"),
    )

    def _skew_agg(joined):
        return joined.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.max("payload").alias("p")
        )

    def _skew_naive(spark_, _sf):
        return _skew_agg(skew_big.join(skew_small, "k"))

    def _skew_salted(spark_, _sf):
        return _skew_agg(
            salted_join(skew_big, skew_small, ["k"], salt_from="v", n_salts=32)
        )

    # --- Bucketed co-located join proof lines (completes the measured-
    # proof trilogy: skew, partition pruning, bucketing). lineitem and
    # orders are written once as 16-bucket tables on the join key; the
    # join + per-orderkey agg then run with ZERO exchanges (asserted
    # below — the CI claim in test_bucketing, now timed) while the plain
    # parquet twin shuffles. Setup is one-time, not a timed line.
    import re as _re
    import shutil as _shutil

    from trading_etl_spark.io import write_bucketed

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bench_li_bkt", "bench_od_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    plain_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    plain_od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(
        plain_li, "bench_li_bkt", ["l_orderkey"], n_buckets=16,
        sort_cols=["l_orderkey"],
    )
    write_bucketed(
        plain_od, "bench_od_bkt", ["o_orderkey"], n_buckets=16,
        sort_cols=["o_orderkey"],
    )

    def _order_rev(j):
        return j.groupBy("l_orderkey").agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )

    bkt_li, bkt_od = spark.table("bench_li_bkt"), spark.table("bench_od_bkt")

    def _join_bucketed(spark_, _sf):
        return _order_rev(bkt_li.join(bkt_od, bkt_li.l_orderkey == bkt_od.o_orderkey))

    def _join_shuffled(spark_, _sf):
        return _order_rev(
            plain_li.join(plain_od, plain_li.l_orderkey == plain_od.o_orderkey)
        )

    n_exchanges = len(
        _re.findall(
            "Exchange hashpartitioning",
            _join_bucketed(spark, sf_dir)._jdf.queryExecution().executedPlan().toString(),
        )
    )
    if n_exchanges:
        raise RuntimeError(
            f"bucketed join plan has {n_exchanges} exchanges — the co-located "
            "join proof line would be measuring a shuffle"
        )
    for _ in range(N_RUNS):
        runs.setdefault("join_orderkey_bucketed", []).append(run_once(_join_bucketed))
        runs.setdefault("join_orderkey_shuffled", []).append(run_once(_join_shuffled))
    canary_burst("post_bucket_lines")

    prev_bjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        for _ in range(N_RUNS):
            runs.setdefault("skew_join_agg_naive", []).append(run_once(_skew_naive))
            runs.setdefault("skew_join_agg_salted", []).append(run_once(_skew_salted))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bjt)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    canary_burst("post_skew_lines")

    # --- Host-noise canary (VERDICT r11 task #3) -------------------------
    # Two fixed-work probes with NO dependence on any operator under test,
    # recorded so round-over-round line drift can be attributed: if the
    # canaries move with the query mins, the HOST slowed down (ambient
    # load / shared infra), not the engine. cpu = pure whole-stage-codegen
    # JVM loop (no IO, no Python); fs = os-level listing of the ~2000-file
    # pruning fixture (the metadata path the small-file scan lines pay).
    # Detail-only — the driver-parsed stdout line must not grow.
    import glob as _glob

    # the end burst IS the probe — one helper, one workload definition
    # (r16 self-review: a hand-rolled copy here would quietly diverge from
    # canary_burst and break the cross-burst min comparison); 5 samples
    # keep cpu_codegen_runs series-comparable with r11..r15
    cpu_canary = canary_burst("end", n=5)
    fs_canary = []
    for _ in range(5):
        t0 = time.time()
        n_listed = len(_glob.glob(f"{fixture}/dt=*/*.parquet"))
        fs_canary.append(round(time.time() - t0, 4))
    host_canary = {
        # min of the END-of-run burst — ADVICE r16: the r16 record briefly
        # redefined this field as the min over ALL bursts (the run-wide
        # quietest, typically an earlier burst), silently breaking series
        # comparability with the r11-r15 records; the r11-r15 semantics
        # (min of the 5 end-of-run samples) are restored here and the
        # run-wide floor moved to its own NEW key below. The r16 record's
        # value for THIS key is the one semantic outlier in the series.
        "cpu_codegen_min_sec": min(cpu_canary),
        # min over EVERY sample in the run (bursts included) — the run's
        # quietest moment; new key (r17) so the series above stays clean
        "cpu_codegen_run_floor_sec": min(
            min(b["samples"]) for b in canary_bursts
        ),
        # the 5 consecutive end-of-run samples, series-comparable r11..r15
        "cpu_codegen_runs": cpu_canary,
        # burst-local series (VERDICT r15 task #2): one burst before the
        # cold block, one after each cold line's block, one after every
        # headline round, one after each proof-line block, one at end.
        # Adjudicate a line move as HOST LOAD iff A burst bracketing
        # its block moved >=15% in the same direction vs the same-labeled
        # bursts of the prior round (any-bracket — mid-block load moves
        # only one bracket; tools/adjudicate.py documents the full rule);
        # flat brackets = the move is real engine behavior.
        "cpu_codegen_bursts": canary_bursts,
        "fs_list_min_sec": min(fs_canary),
        "fs_list_runs": fs_canary,
        "fs_files_listed": n_listed,
        # page-cache canary self-calibration (r17 blind-spot closure):
        # cold = read after fadvise-evicting our own file, warm = cached
        # re-read. The io_first_sec series in the bursts above is
        # meaningful evidence of pressure only while cold >> warm — ship
        # both so each record proves its own sensitivity.
        "pagecache_file_mb": PAGECACHE_CANARY_MB,
        "pagecache_calib_cold_sec": pc_cold,
        "pagecache_calib_warm_sec": pc_warm,
    }
    try:
        os.remove(pc_path)
    except OSError:
        pass

    spark.stop()
    headline_json, detail = summarize(runs, sf)
    detail["partition_pruning"] = pruning_files
    detail["host_canary"] = host_canary
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    write_detail(detail, detail_path)
    # LAST stdout line, after spark.stop() so no shutdown logging can trail
    # it: the driver tail-captures output, so the headline JSON must be
    # compact and final (see summarize()).
    print(headline_json)


# Every proof block BENCH_DETAIL.json must carry round-over-round — the
# judge reads these as evidence, so a refactor that silently drops one is a
# contract break (tests/test_bench_contract.py pins this set against both
# write_detail() and the committed file).
DETAIL_REQUIRED_KEYS = (
    "methodology",
    "queries_min",
    "queries_runs",
    "partition_pruning",
    "scaling",
    # r16 (VERDICT r15 task #2): the burst-local host canary is the
    # round-over-round load-adjudication evidence — a refactor that drops
    # it silently re-opens the r15 "+16% under a flat canary" gap
    "host_canary",
)


def write_detail(detail: dict, detail_path: str) -> dict:
    """Write BENCH_DETAIL.json, carrying forward the ``scaling`` block.

    That block is produced by tools/scaling_probe.py (one-off multi-point
    big-fixture runs, VERDICT r9 task #5), not by the per-round harness —
    erase-on-rewrite would lose it. The probe stamps measured_commit /
    measured_at_utc into the block (ADVICE r10), so a block measured
    against old query implementations is visibly stale rather than reading
    as current; a corrupt prior BENCH_DETAIL.json is reported on stderr
    instead of silently dropping the block."""
    if "scaling" not in detail and os.path.exists(detail_path):
        try:
            with open(detail_path) as f:
                prev = json.load(f)
            if "scaling" in prev:
                detail["scaling"] = prev["scaling"]
        except (json.JSONDecodeError, OSError) as exc:
            print(f"bench: could not carry forward scaling block: {exc!r}",
                  file=sys.stderr)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    return detail


def summarize(runs: dict[str, list[float]], sf: float | None) -> tuple[str, dict]:
    """(compact headline JSON line, full-detail dict for BENCH_DETAIL.json).

    The stdout line stays COMPACT and LAST (VERDICT r8 task #2): the driver
    captures only the ~2000-char tail of output, and the raw queries_runs
    data added in r6 grew the single JSON line past that capture —
    BENCH_r06..r08 all recorded "parsed": null. The full series moves to
    BENCH_DETAIL.json (the judge reads it); tests/test_bench_contract.py
    pins the line-length budget and key set.
    """
    medians = {k: sorted(v)[len(v) // 2] for k, v in runs.items()}
    minima = {k: min(v) for k, v in runs.items()}
    first_run_total = round(sum(v[0] for v in runs.values()), 3)
    detail = {
        "queries_min": minima,
        "queries_runs": runs,
        "first_run_total_sec": first_run_total,
        "methodology": (
            "headline set round-interleaved over warm caches: the "
            "whole set runs once per round, rounds repeat N times, "
            "so a load burst hits one round of every query instead "
            "of all runs of a few; cold lines consecutive (they "
            "clear caches); queries=median-of-N, queries_min="
            "min-of-N; min is the load-noise-robust statistic "
            "(external load only adds time) — adjudicate "
            "regressions on min, not median"
        ),
    }
    headline_json = json.dumps(
        {
            "metric": "headline_queries_total_time",
            "value": round(sum(medians.values()), 3),
            "unit": "sec",
            "queries": medians,
            "min_total_sec": round(sum(minima.values()), 3),
            "first_run_total_sec": first_run_total,
            "sf": sf,
            "runs_per_query": N_RUNS,
            "detail": "BENCH_DETAIL.json",
        },
        separators=(",", ":"),
    )
    return headline_json, detail


if __name__ == "__main__":
    main()
