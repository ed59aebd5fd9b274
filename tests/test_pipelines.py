"""End-to-end batch ETL pipelines (SURVEY.md §3.2/§3.3): ohlc → indicators →
strategy into a parquet warehouse, with the W1 first-wins idempotency
contract (re-run adds zero rows — the reference's ON CONFLICT DO NOTHING,
tested like tests/acceptance/_test_transform_idempotency.py:110-120)."""

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from trading_etl_spark.operators import ohlc as ohlc_ops
from trading_etl_spark.plans import pipelines
from trading_etl_spark.sources import dims, ticks

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def _rows(df):
    return sorted(map(repr, df.select(*ohlc_ops.OHLC_COLS).collect()))


def _by_kind(spark, path):
    """(1m rows, derived rows) in the candle table at ``path``."""
    n = dict(
        spark.read.parquet(path)
        .groupBy(F.col("timeframe_code") == "1m")
        .count()
        .collect()
    )
    return n.get(True, 0), n.get(False, 0)


@pytest.mark.parametrize("extra", ["", "2h:7200"], ids=["seed_tfs", "extra_2h"])
def test_new_table_ohlc_equals_base_then_derived(spark, tmp_path, monkeypatch, extra):
    """A new candle table is written in one append of the chain pair; its
    rows must equal the reference's base → derived composition over the
    deduplicated ticks, under the seed timeframes and with a config-added
    2h (which the chain's LCM bucket must still nest)."""
    monkeypatch.setenv("ETL_EXTRA_TIMEFRAMES", extra)
    wh = str(tmp_path)
    pipelines.ohlc_pipeline(spark, SF_DIR, wh)
    base = ohlc_ops.ohlc_base(ticks.load_ticks(spark, SF_DIR))
    want = base.unionByName(
        ohlc_ops.ohlc_derived(base, dims.dim_timeframe(spark)).select(*ohlc_ops.OHLC_COLS)
    )
    got = spark.read.parquet(f"{wh}/ohlc")
    assert _rows(got) == _rows(want)
    tfs = {r[0] for r in got.select("timeframe_code").distinct().collect()}
    assert ("2h" in tfs) == bool(extra)


def test_new_table_ohlc_pipeline_job_count(spark, tmp_path):
    """A new candle table costs at most 5 jobs (14 when the derived
    candles were appended from a read-back of the written 1m table): the
    two dim broadcasts, the chain's keyed exchange, the append's key
    dedup and the write. The source arrives as 4 files, so the scan is
    not respread (a single-file source adds that exchange's job)."""
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    parts = tmp_path / "src" / "events.parquet"
    parts.mkdir(parents=True)
    for i, batch in enumerate(events.to_batches(max_chunksize=events.num_rows // 4 + 1)):
        pq.write_table(pa.Table.from_batches([batch]), parts / f"part-{i}.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("new-table-ohlc", "new-table-ohlc")
    try:
        pipelines.ohlc_pipeline(spark, str(tmp_path / "src"), str(tmp_path / "wh"))
    finally:
        sc.setJobGroup("none", "none")
    jobs = sc.statusTracker().getJobIdsForGroup("new-table-ohlc")
    assert 0 < len(jobs) <= 5, jobs


def test_ohlc_row_counts_match_rows_written_by_kind(spark, tmp_path):
    """``ohlc_base_rows``/``ohlc_derived_rows`` are the rows written of
    each kind: on a new table (one observed append) and on a rerun over
    an existing table (two appends) whose source gained ticks."""
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    by_time = pc.sort_indices(events, [("ts", "ascending")])
    half = tmp_path / "half"
    half.mkdir()
    pq.write_table(events.take(by_time[: events.num_rows // 2]), half / "events.parquet")
    path = str(tmp_path / "wh" / "ohlc")

    stats = pipelines.ohlc_pipeline(spark, str(half), str(tmp_path / "wh"))
    first = _by_kind(spark, path)
    assert (stats["ohlc_base_rows"], stats["ohlc_derived_rows"]) == first
    assert min(first) > 0

    stats = pipelines.ohlc_pipeline(spark, SF_DIR, str(tmp_path / "wh"))
    after = _by_kind(spark, path)
    assert (stats["ohlc_base_rows"], stats["ohlc_derived_rows"]) == (
        after[0] - first[0], after[1] - first[1]
    )
    assert stats["ohlc_base_rows"] > 0


TRAP = "raise RuntimeError('a Python worker was started')\n"

ETL_UNDER_TRAP = f"""
import sys
from trading_etl_spark.plans import pipelines
from trading_etl_spark.session import get_spark
spark = get_spark("worker-trap", master="local[2]", shuffle_partitions=2)
print("STATS", pipelines.run_etl(spark, {SF_DIR!r}, sys.argv[1]))
try:
    spark.createDataFrame([(1,)], "a int").rdd.map(lambda r: r).collect()
except Exception:
    print("TRAP_FIRED")
"""

# the queries of the corpus_build benchmark workload
CORPUS_QUERIES = (
    "text_quality_score",
    "text_ngram_diversity",
    "dedup_minhash_lsh",
    "dedup_cc_two_phase",
    "decontaminate_bloom_prefilter",
    "embedding_knn_ivf_kmeans",
)

CORPUS_UNDER_TRAP = f"""
from pyspark.sql import functions as F
from trading_etl_spark.queries import datapipe
from trading_etl_spark.session import get_spark
spark = get_spark("worker-trap", master="local[2]", shuffle_partitions=2)
for q in {CORPUS_QUERIES!r}:
    print("ROWS", q, len(datapipe.QUERIES[q](spark, {SF_DIR!r}).collect()))
try:
    spark.range(1).select(F.udf(lambda x: x, "long")("id")).collect()
except Exception:
    print("TRAP_FIRED")
"""


def _run_under_trap(tmp_path, script: str, *args: str) -> subprocess.CompletedProcess:
    """Run ``script`` in a fresh session whose Python daemon and worker
    modules raise, so any worker start fails the job that started it."""
    (tmp_path / "python_worker_trap.py").write_text(TRAP)
    trap = " ".join(
        f"--conf spark.python.{kind}.module=python_worker_trap"
        for kind in ("daemon", "worker")
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([str(tmp_path), ROOT]),
        PYSPARK_SUBMIT_ARGS=f"{trap} pyspark-shell",
    )
    p = subprocess.run(
        [sys.executable, "-c", script, *args],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return p


def test_run_etl_starts_no_python_worker(tmp_path):
    """A fresh-session ``run_etl`` must start no Python worker: the session
    names a worker module that raises, so any worker start fails the run.
    The script then starts one on purpose to prove the trap is armed."""
    p = _run_under_trap(tmp_path, ETL_UNDER_TRAP, str(tmp_path / "wh"))
    assert "STATS" in p.stdout and "TRAP_FIRED" in p.stdout, p.stdout + p.stderr[-4000:]


def test_corpus_build_queries_start_no_python_worker(tmp_path):
    """The corpus_build queries in a fresh session start no Python worker
    (the Bloom prefilter and the k-means IVF search included), and a
    deliberate UDF afterwards still trips the trap."""
    p = _run_under_trap(tmp_path, CORPUS_UNDER_TRAP)
    ran = [line.split()[1] for line in p.stdout.splitlines() if line.startswith("ROWS ")]
    assert tuple(ran) == CORPUS_QUERIES, p.stdout + p.stderr[-4000:]
    assert "TRAP_FIRED" in p.stdout, p.stdout + p.stderr[-4000:]
