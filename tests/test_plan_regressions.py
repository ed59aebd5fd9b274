"""Plan-shape regression guards: the scale properties PLANS.md documents,
asserted so a refactor that silently reintroduces an exchange fails CI
instead of only showing up in the next bench.

These parse the optimized logical / physical plan of small synthetic inputs —
plan SHAPE is data-independent, so tiny frames prove the 100 TB property.
"""

import re
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from trading_etl_spark.operators import ohlc, text
from trading_etl_spark.sources import dims


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_shingles_have_no_shuffle(spark):
    """Per-doc dedup must stay map-side (array_distinct before explode):
    a global .distinct() here would shuffle the widest relation of the
    dedup pipeline."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c a b c a b c")], "doc_id long, text string"
    )
    plan = _physical(text.shingles(docs))
    assert "Exchange" not in plan, plan


def test_repetition_stats_have_no_shuffle(spark):
    docs = spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    plan = _physical(text.repetition_stats(docs))
    assert "Exchange" not in plan, plan


def test_candle_chain_single_exchange(spark):
    """dedup → 1m agg → derived agg must share ONE hash-partitioning on
    (pair, chain-bucket); extra `Exchange hashpartitioning` nodes mean the
    chain co-partitioning broke. (AQE shuffle-read nodes don't add
    exchanges; count the Exchange operators themselves.)"""
    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", t0 + timedelta(seconds=i), 100.0 + i, 100.1 + i, t0, i)
        for i in range(120)
    ]
    raw = spark.createDataFrame(
        rows,
        "currency_pair_code string, time timestamp, bid double, ask double,"
        " ts timestamp, event_id long",
    )
    base, derived = ohlc.ohlc_chain_single_shuffle(raw, dims.dim_timeframe(spark))
    plan = _physical(derived)
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges == 1, f"chain has {n_hash_exchanges} exchanges:\n{plan}"
    # and the broadcast of the timeframe dim must not have become a shuffle
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan or plan.count("Exchange") == 1


def test_candle_chain_union_reuses_the_keyed_exchange(spark):
    """A new candle table is written as the union of the chain's pair
    (``pipelines.ohlc_pipeline``): derived is built on base, so both union
    branches hold the keyed exchange, and the executed plan must run it
    once and reuse it in the other branch."""
    from trading_etl_spark.sources import ticks

    base, derived = ohlc.ohlc_chain_single_shuffle(
        ticks.raw_ticks(spark, "/root/testdata/sf0.001"),
        dims.dim_timeframe(spark),
        durations=dims.timeframe_durations(),
    )
    union = base.unionByName(derived)
    union.collect()  # the final adaptive plan shows reuse only once run
    plan = _physical(union).split("== Initial Plan ==")[0]
    keyed = [
        line for line in plan.splitlines()
        if re.search(r"Exchange hashpartitioning\(currency_pair_code#\d+, _b", line)
    ]
    assert ["ReusedExchange" in line for line in keyed] == [False, True], plan


def test_bigram_pmi_no_cartesian_no_token_self_join(spark):
    """Bigrams must come from the map-side transform over the token array —
    a naive SQL formulation self-joins the exploded token relation on
    (doc_id, pos+1), which at 100 TB shuffles the corpus twice. Only the
    two 1-row totals may broadcast-nest; nothing may cartesian."""
    docs = spark.createDataFrame(
        [(1, "a b a b a b a b a b a b"), (2, "b c b c b c b c b c b c")],
        "doc_id long, text string",
    )
    plan = _physical(text.bigram_pmi(docs, min_count=1))
    assert "CartesianProduct" not in plan, plan
    # the token relation must appear exactly twice (bigram + unigram scans),
    # not three+ times as a positional self-join would require
    assert plan.count("Scan ExistingRDD") <= 2 or "posexplode" not in plan.lower()


def test_quantize_has_no_shuffle_or_python(spark):
    from trading_etl_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(1, [0.5, -0.5])], "vec_id long, emb array<double>"
    )
    plan = _physical(sim.quantize_int8(emb))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan


def test_funnel_windows_share_one_user_shuffle(spark):
    """The three chained funnel windows and the per-user rollup must all
    reuse ONE hashpartitioning(user_id) — a second hash exchange means the
    chain broke and the events relation shuffles repeatedly at 100 TB."""
    import os

    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata corpus not present")
    from trading_etl_spark.queries.analytics import q_user_funnel

    plan = _physical(q_user_funnel(spark, sf_dir))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"funnel has {n} hash exchanges:\n{plan}"


def test_domain_mix_all_jvm_and_broadcast_rates(spark):
    """The corpus never shuffles for domain mixing: the only hash exchange
    is the tiny per-source agg; the rates come back via broadcast; no
    Python stage anywhere."""
    from pyspark.sql import functions as F

    from trading_etl_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "w " * 5) for i in range(30)],
        "doc_id long, source string, text string",
    ).withColumn("weight", F.lit(1.0))
    plan = _physical(tx.domain_mix_sample(docs))
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the per-source agg subtree appears twice statically (budget branch +
    # rates branch) — both exchanges carry |sources| rows, never the corpus;
    # the corpus reaches the output through the broadcast join only
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_q5_customer_not_force_broadcast(spark):
    """local_supplier_volume must not HINT customer to broadcast: customer
    scales linearly with the corpus, so a forced broadcast OOMs the driver
    at 100× (VERDICT r5 #2). Behavioral pin: with the auto-broadcast
    threshold disabled, a *hinted* side would still broadcast (hints
    override the threshold) — so exactly the 3 hinted dims
    (supplier/nation/region) may BroadcastHashJoin and the customer join
    must fall back to a shuffled join."""
    import os

    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata corpus not present")
    from trading_etl_spark.queries.analytics import q_local_supplier_volume

    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = _physical(q_local_supplier_volume(spark, sf_dir))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    n_bhj = plan.count("BroadcastHashJoin")
    assert n_bhj == 3, f"expected only the 3 hinted dims to broadcast, got {n_bhj}:\n{plan}"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_unigram_logprob_joins_per_doc_distinct_relation(spark):
    """The Zipf-skew guard (VERDICT r5 #4): the token-keyed vocab join's
    probe side must be the (doc_id, tok, cnt) pre-aggregate, never the raw
    exploded one-row-per-occurrence relation — i.e. a hash aggregate keyed
    on (doc_id, tok) must sit BELOW the join in the plan."""
    from trading_etl_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "the the the the cat"), (2, "the dog")], "doc_id long, text string"
    )
    df = tx.unigram_logprob(docs)
    plan = _physical(df)
    join_at = min(
        [i for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
         if (i := plan.find(j)) >= 0],
        default=-1,
    )
    assert join_at >= 0, plan
    below = plan[join_at:]
    assert "doc_id" in below and "HashAggregate" in below, plan
    # the composite pre-agg keys both doc_id and tok below the join
    import re

    assert re.search(r"HashAggregate\(keys=\[doc_id[^\]]*tok", below), plan


def test_cms_sketch_two_exchanges_no_python(spark):
    """CMS must build all depth hash rows in ONE scan (posexplode of the
    cell array, not a d-way union) — ≤2 hash exchanges (sketch agg +
    vocab distinct/estimate), broadcast probe, no Python stage."""
    from trading_etl_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "a d")], "doc_id long, text string"
    )
    plan = _physical(tx.cms_heavy_hitters(docs, depth=4, width=8, threshold=1))
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_bollinger_stochastic_single_window_shuffle_no_python(spark):
    """The r6 native-window indicators must stay pure JVM: exactly one hash
    exchange (the (pair, timeframe) window partitioning) and zero Python
    stages — a refactor that drops to a pandas kernel here trades a free
    codegen window for an Arrow round-trip."""
    from trading_etl_spark.operators import indicators

    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), float(i), float(i) + 1,
         float(i) - 1, float(i))
        for i in range(30)
    ]
    ohlc_df = spark.createDataFrame(
        rows,
        "currency_pair_code string, timeframe_code string, time timestamp,"
        " open double, high double, low double, close double",
    )
    for df in (
        indicators.bollinger(ohlc_df, 20, 2.0),
        indicators.stochastic(ohlc_df, 14, 3),
    ):
        plan = _physical(df)
        assert "EvalPython" not in plan and "InPandas" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_semantic_dedup_one_cell_shuffle(spark):
    """SemDeDup's pairwise compare must ride the ONE groupBy(cell)
    exchange; the cell assignment itself is the zero-shuffle broadcast-
    codebook NumPy matmul (on the driver below the vector bound, an
    ArrowEvalPython in the scan stage above it)."""
    from trading_etl_spark.operators import similarity as sim

    rows = [(i, [float(i == j) for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    plan = _physical(sim.semantic_dedup(emb, threshold=0.9, n_cells=2, iters=1))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bloom_probe_is_map_side(spark):
    """The Bloom prefilter must run in the scan stage: the bitmap words
    are broadcast and the probe is a JVM expression over them — no
    exchange below the probe filter but the words' broadcast and no
    Python stage; the confirm join is the first shuffle consumer."""
    from trading_etl_spark.operators import text as tx

    keys = spark.createDataFrame([(int(i),) for i in range(100)], "h long")
    bloom = tx.bloom_build(keys, "h", m_bits=1 << 12, k=5)
    train = spark.createDataFrame(
        [(1, "x"), (2, "y")], "doc_id long, shingle string"
    )
    probed = tx.bloom_probe(
        train.withColumn("h", F.xxhash64("shingle")), "h", bloom, 1 << 12, 5
    ).filter("bloom_hit")
    plan = _physical(probed)
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan
    assert "BroadcastExchange" in plan, plan
    assert "EvalPython" not in plan, plan


def test_decontaminate_bloom_runs_no_python(spark, monkeypatch):
    """Neither the Bloom build nor the probe of ``decontaminate_bloom``
    has a Python stage: the executed plans of the build's collect and of
    the query hold no ``MapInPandas``, ``ArrowEvalPython`` or
    ``BatchEvalPython``."""
    from trading_etl_spark import cache
    from trading_etl_spark.operators import text as tx
    from trading_etl_spark.sources.local import local_relation

    docs = local_relation(
        spark,
        [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(30)), "en")
         for i in range(40)],
        "doc_id long, text string, lang string",
    )
    plans = []
    to_arrow = type(docs).toArrow

    def spy(df):
        out = to_arrow(df)
        plans.append(_physical(df))
        return out

    monkeypatch.setattr(type(docs), "toArrow", spy)
    cache.clear(spark, "bloom")
    out = tx.decontaminate_bloom(docs)
    out.collect()
    plans.append(_physical(out))
    assert len(plans) == 2, plans  # the build's collect, then the query
    for plan in plans:
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan


def test_copairs_build_submits_no_job(spark):
    """VERDICT r6 'what's wrong' #1: event_type_copairs' user-universe
    denominator must be a lazy broadcast 1-row aggregate, not an eager
    .count() at query-build time — building the DataFrame may submit NO
    Spark job (the old form ran a full distinct-count pass before the
    caller ever executed anything)."""
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    from trading_etl_spark.queries.analytics import q_event_type_copairs

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # scoped job group, not global id diffs — immune to retainedJobs
    # eviction and to concurrent streaming jobs (r11 flake fix)
    try:
        sc.setJobGroup("copairs-build-probe", "probe")
        df = q_event_type_copairs(spark, sf_dir)
        built = tracker.getJobIdsForGroup("copairs-build-probe")
    finally:
        sc.setJobGroup("", "")
    assert not built, f"query build submitted jobs: {sorted(built)}"
    # the denominator reaches the support division via a broadcast join
    plan = _physical(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_pair_correlation_window_is_keyed(spark):
    """VERDICT r6 'what's wrong' #2: the rolling-correlation window must be
    PARTITIONED by the (pair_a, pair_b) key — the single-pair form funneled
    the series through Exchange SinglePartition and spammed the
    unpartitioned-WindowExec warning that masks real scale warnings."""
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    from trading_etl_spark.queries.trading import q_pair_rolling_correlation

    plan = _physical(q_pair_rolling_correlation(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning(pair_a" in plan, plan


def test_q19_part_disjunction_reaches_the_scan(spark):
    """The factored part-side predicate (brand IN (...) AND size <= max)
    must reach the parquet scan as pushed filters — the point of the
    OR-of-ANDs query shape: the build side shrinks BEFORE the join
    shuffle; only the mixed part×lineitem arm conditions stay above."""
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    from trading_etl_spark.queries.analytics import q_disjunctive_revenue

    df = q_disjunctive_revenue(spark, sf_dir)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", formatted))
    assert "p_brand" in pushed and "p_size" in pushed, formatted


def test_zscore_single_window_shuffle_no_python(spark):
    """The rolling z-score gate is a pure native-window pass: one pair
    exchange on top of the cached tick relation, zero Python — asserted
    on the REAL query so a refactor to a pandas kernel fails here."""
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    from trading_etl_spark.queries.trading import _ticks, q_tick_zscore_outliers

    import re

    _ticks(spark, sf_dir).count()  # materialize the shared tick relation
    plan = _physical(q_tick_zscore_outliers(spark, sf_dir))
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    # reads the MATERIALIZED tick relation (r17: localCheckpoint truncates
    # the lineage, so the marker is the checkpointed-RDD scan), never a
    # re-derivation from the raw events parquet
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    # exactly ONE exchange keyed on the pair alone (the window's); the
    # materialized relation scan-side needs none
    pair_only = re.findall(
        r"Exchange hashpartitioning\(currency_pair_code#\d+, \d+\)", plan
    )
    assert len(pair_only) == 1, plan
    assert plan.count("Window") == 1, plan


def test_partitioned_scan_prunes_day_partitions(spark, tmp_path):
    """Partition-pruning proof, plan + filesystem ground truth (VERDICT r8
    task #8b): a dt predicate over a Hive-partitioned table must land in
    the scan's PartitionFilters (so only matching partition directories
    are listed/read — the property the bench's events_scan_pruned_3d line
    measures in seconds), and the matching directories must hold fewer
    files than the table."""
    import os

    path = str(tmp_path / "part")
    spark.range(3000).select(
        F.concat(
            F.lit("2024-01-"), F.lpad((F.pmod("id", 30) + 1).cast("string"), 2, "0")
        ).alias("dt"),
        F.col("id").alias("v"),
    ).repartition(4).write.mode("overwrite").partitionBy("dt").parquet(path)

    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    pruned = spark.read.parquet(path).filter(F.col("dt").isin(*days))
    plan = _physical(pruned)
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters", 1)[1][:200], plan

    def files_under(dirs):
        return sum(
            sum(1 for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet"))
            for d in dirs
        )

    all_dirs = [d for d in os.listdir(path) if d.startswith("dt=")]
    pruned_dirs = [f"dt={d}" for d in days]
    assert files_under(pruned_dirs) < files_under(all_dirs)
    # and the pruned read returns exactly the pruned partitions' rows
    assert pruned.count() == 300


def test_dynamic_partition_pruning_fires_on_partitioned_star_join(spark, tmp_path):
    """At 100 TB the fact side is date-partitioned and a dimension filter
    must prune fact PARTITIONS at runtime, not just rows post-scan —
    Spark's dynamic partition pruning injects the filtered dim as a
    subquery into the fact scan's PartitionFilters. Pin that it fires for
    the star shape the analytics queries use (fact ⨝ filtered dim on the
    partition column), so a session-config regression (DPP disabled,
    non-broadcastable dim) fails CI instead of silently scanning every
    partition."""
    path = str(tmp_path / "fact")
    spark.range(10000).select(
        (F.col("id") % 20).cast("string").alias("dt"),
        F.col("id").alias("v"),
    ).write.mode("overwrite").partitionBy("dt").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.range(20).select(
        F.col("id").cast("string").alias("dt"), (F.col("id") < 3).alias("active")
    )
    j = (
        fact.join(dim, "dt")
        .filter(F.col("active"))
        .groupBy("dt")
        .agg(F.sum("v").alias("s"))
    )
    plan = _physical(j)
    assert "dynamicpruningexpression" in plan.lower(), plan
    # the pruning subquery must sit in the fact scan's PARTITION filters
    fact_scan = [
        l for l in plan.splitlines() if "dpp" not in l and "/fact" in l
    ]
    assert any("dynamicpruning" in l.lower() and "PartitionFilters" in l for l in fact_scan), plan


def test_r10_native_indicators_single_window_shuffle_no_python(spark):
    """Williams %R and CCI must stay pure JVM: one (pair, timeframe) hash
    exchange, zero Python stages — CCI's anchored mean deviation is a
    codegen collect_list + aggregate fold, NOT a pandas kernel."""
    from trading_etl_spark.operators import indicators

    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), float(i), float(i) + 1,
         float(i) - 1, float(i))
        for i in range(30)
    ]
    ohlc_df = spark.createDataFrame(
        rows,
        "currency_pair_code string, timeframe_code string, time timestamp,"
        " open double, high double, low double, close double",
    )
    for df in (
        indicators.williams_r(ohlc_df, 14),
        indicators.cci(ohlc_df, 20),
    ):
        plan = _physical(df)
        assert "EvalPython" not in plan and "InPandas" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


@pytest.mark.parametrize(
    "name", ["adx", "macd", "atr", "holt_forecast", "keltner", "trix"]
)
def test_recursive_indicator_one_group_shuffle(spark, monkeypatch, name):
    """Above the driver bound, each recursive indicator rides ONE
    groupBy(pair, timeframe) exchange into the grouped Arrow kernel
    (``indicators._per_series``) — the same shape as EMA/RSI. The bound
    is forced below the input so the executor branch is planned."""
    from trading_etl_spark.operators import indicators

    monkeypatch.setattr(indicators, "DRIVER_SERIES_MAX_ROWS", -1)
    t0 = datetime(2024, 1, 1)
    rows = [
        ("USD/JPY", "1h", t0 + timedelta(hours=i), float(i), float(i) + 1,
         float(i) - 1, float(i))
        for i in range(40)
    ]
    ohlc_df = spark.createDataFrame(
        rows,
        "currency_pair_code string, timeframe_code string, time timestamp,"
        " open double, high double, low double, close double",
    )
    plan = _physical(getattr(indicators, name)(ohlc_df))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ngram_diversity_no_shuffle_no_python(spark):
    """The distinct-n diagnostic is map-side and splits each document
    once: the token array is a projected attribute, not a ``split``
    re-inlined into every n-gram element of the ``transform`` lambdas."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a")], "doc_id long, text string"
    )
    plan = _physical(text.ngram_diversity(docs))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert plan.count("split(") == 1, plan


def test_star_round_is_collect_set_shape(spark):
    """One large-star + small-star round: a ``collect_set`` groupBy per
    star plus the final ``distinct`` — three hash exchanges (the
    optimizer drops the large-star ``distinct`` under the small star's
    duplicate-agnostic ``collect_set``), no join, no broadcast. The
    per-node minimum is projected BELOW each explode, so it is computed
    once per node instead of once per exploded neighbor."""
    from trading_etl_spark.operators import graph as gr

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "u long, v long")
    plan = _physical(gr._small_star(gr._large_star(e)))
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    lines = plan.splitlines()
    generates = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert len(generates) == 2, plan
    for i in generates:
        below = lines[i + 1 :]
        project = next(ln for ln in below if "Project [" in ln)
        assert "array_min(" in project, plan
        # the Project feeding the Generate, not one further down
        assert below.index(project) < next(
            j for j, ln in enumerate(below) if "ObjectHashAggregate" in ln
        ), plan


def test_knn_filtered_label_predicate_reaches_scan(spark):
    """The filtered-ANN metadata predicate must push to the parquet scan —
    the whole point of the pre-filter strategy: candidates shrink before
    any vector math."""
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    import re

    from trading_etl_spark.queries.datapipe import q_knn_filtered

    df = q_knn_filtered(spark, sf_dir)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", formatted))
    assert "EqualTo(label" in pushed, formatted


def test_q4_derived_shipdate_bound_reaches_lineitem_scan(spark):
    """late_shipment_q4's quarter-start + 60d lateness bound is a DERIVED
    constant that must appear in the lineitem scan's pushed filters, so
    the probe side never carries rows no quarter order can match."""
    import os

    import pytest as _pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata corpus not present")
    import re

    from trading_etl_spark.queries.analytics import q_late_shipment_q4

    df = q_late_shipment_q4(spark, sf_dir)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", formatted))
    assert "GreaterThan(l_shipdate" in pushed, formatted


def test_triangle_stats_truncates_edge_lineage(spark):
    """VERDICT r10 task #2: triangle_stats reads its edge relation from five
    places (degree agg, two orientation joins, edge count, 3-way wedge join),
    so an expensive upstream lineage (LSH pair finding at the call site) must
    be truncated ONCE, not recomputed per consumer. Feed edges through a
    marker pandas-UDF stage: with the localCheckpoint in place the executed
    plan contains ZERO Python stages (the marker ran once, eagerly, at
    checkpoint time); losing the checkpoint replays the marker into every
    consumer subtree and this count jumps to >=5."""
    import pandas as pd
    from pyspark.sql import functions as SF
    from pyspark.sql.functions import pandas_udf

    from trading_etl_spark.operators.graph import triangle_stats

    @pandas_udf("long")
    def _ident(s: pd.Series) -> pd.Series:
        return s

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_a long, doc_b long"
    ).select(_ident(SF.col("doc_a")).alias("doc_a"), "doc_b")
    df = triangle_stats(edges)
    plan = _physical(df)
    n_python = sum(plan.count(m) for m in ("ArrowEvalPython", "BatchEvalPython"))
    assert n_python == 0, f"edge lineage recomputed ({n_python} Python stages):\n{plan}"
    row = df.collect()[0]
    assert (row["n_triangles"], row["n_wedges"]) == (1, 5)


def test_market_share_q8_pushes_filters_and_broadcasts_dims(spark):
    """r11: the part-type predicate must reach the part SCAN and the
    region predicate the region scan (shrinking both fact inputs before
    the key shuffles), and no cartesian product may appear."""
    import os

    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata corpus not present")
    from trading_etl_spark.queries.analytics import q_market_share_q8

    plan = _physical(q_market_share_q8(spark, sf_dir))
    assert "EqualTo(p_type,PROMO)" in plan, plan
    assert "EqualTo(r_name,AMERICA)" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_product_profit_q9_pushes_name_predicate(spark):
    """r11: the part-name substring filter must reach the part SCAN
    (StringContains pushdown) so the broadcast side shrinks first."""
    import os

    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata corpus not present")
    from trading_etl_spark.queries.analytics import q_product_profit_q9

    plan = _physical(q_product_profit_q9(spark, sf_dir))
    assert "StringContains(p_name,red)" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_dedup_probe_is_one_sided(spark):
    """The incremental gate's candidate join must key on
    (band_idx, band_key) — an equi-join, never a cartesian — and the
    static exchange count stays bounded (the pinned nodes include the
    cached shingle subtree's repeats across the verify branches — which
    collapse to one materialization at runtime — plus, with the sided
    verify, the per-side size aggregates and the colliding-doc
    broadcast semi-join's candidate subtree; a repartition slipping into
    band_keys or the split filter would push it past the pin). The
    corpus side must carry the semi-join prune (LeftSemi + a broadcast
    of the distinct colliding doc ids) so no corpus-shingle shuffle can
    reappear upstream of the verify joins."""
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared common tail") for i in range(8)],
        "doc_id long, text string",
    )
    plan = _physical(text.dedup_incremental_minhash(docs))
    assert "CartesianProduct" not in plan, plan
    assert "band_key" in plan, plan
    assert "LeftSemi" in plan, plan  # colliding-doc corpus prune
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 21, f"exchange count regressed: {n_exchange}\n{plan}"


def test_streaming_probe_inner_plan_cached_index_broadcast_batch(spark):
    """The streaming ingest gate's per-micro-batch
    probe (the exact composition streaming/docs.py::probe builds —
    batch bands ⋈ persisted corpus band index, verify over batch∪corpus
    shingles) at plan-pin parity with its batch twin above. Two
    invariants the streaming path must never regress on:

    - the corpus index is read from CACHE (InMemoryTableScan), never
      re-derived per micro-batch — rebuilding shingles+signatures for the
      whole corpus on every batch is the one scale-killer this design
      must not grow;
    - the band join is an equi-join with the arriving batch side
      BROADCAST (batch ≪ corpus index), never a cartesian.
    """
    from trading_etl_spark.operators.text import (
        band_keys,
        incremental_probe,
        shingles,
    )
    from trading_etl_spark.streaming.docs import build_corpus_index

    corpus = spark.createDataFrame(
        [
            (i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared common tail")
            for i in range(8)
        ],
        "doc_id long, text string",
    )
    sh_corpus, corpus_bands = build_corpus_index(corpus)
    sh_corpus.count()  # materialize as the stream's first micro-batch would
    corpus_bands.count()
    batch = spark.createDataFrame(
        [(100, "tok1 tok2 tok3 tok4 shared common tail")],
        "doc_id long, text string",
    )
    sh_batch = shingles(batch)
    matches = incremental_probe(
        band_keys(sh_batch),
        corpus_bands,
        sh_batch,
        sh_corpus,
        0.5,
    )
    plan = _physical(matches)
    assert "InMemoryTableScan" in plan, plan  # cached index, not a rebuild
    assert "CartesianProduct" not in plan, plan
    assert "band_key" in plan, plan
    matches.collect()
    final = _physical(matches)  # AQE-final: the band join must broadcast
    assert "BroadcastHashJoin" in final, final
    assert "CartesianProduct" not in final, final


def _sf_dir_or_skip():
    import os

    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata corpus not present")
    return sf_dir


def test_q6_all_predicates_reach_the_scan(spark):
    """r14: Q6 is ONE partial-aggregable scan — every predicate (shipdate
    range, discount band, quantity cap) must push to the parquet reader
    (asserted on the FORMATTED explain: the physical toString truncates
    long PushedFilters lists), and the plan may contain no join and no
    hash exchange (only the single-partition final-agg exchange)."""
    sf_dir = _sf_dir_or_skip()
    from trading_etl_spark.queries.analytics import q_forecast_revenue_q6

    df = q_forecast_revenue_q6(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    formatted = df._jdf.queryExecution().explainString(mode)
    for frag in [
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24",
    ]:
        assert frag in formatted, (frag, formatted)
    plan = _physical(df)
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_q2_window_min_over_aggregate_all_dims_broadcast(spark):
    """r14: Q2's correlated-MIN rewrite — the window MIN must run over the
    per-(part, supplier) AGGREGATE (exactly two hash exchanges: the
    composite-key partial agg, then the partkey window repartition of the
    tiny aggregated relation), every dim join broadcast, part filters
    pushed to the part scan."""
    sf_dir = _sf_dir_or_skip()
    from trading_etl_spark.queries.analytics import q_min_cost_supplier_q2

    plan = _physical(q_min_cost_supplier_q2(spark, sf_dir))
    assert "EqualTo(p_size,15)" in plan, plan
    assert "EqualTo(p_type,STANDARD)" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q16_not_in_is_broadcast_anti_join(spark):
    """r14: Q16's NOT-IN subquery must compile to a broadcast LEFT ANTI
    join (never a shuffled one — the excluded set is tiny), with the
    part attribute filters pushed to the part scan."""
    sf_dir = _sf_dir_or_skip()
    from trading_etl_spark.queries.analytics import q_parts_supplier_q16

    plan = _physical(q_parts_supplier_q16(spark, sf_dir))
    assert "BuildRight, LeftAnti" in plan or "LeftAnti, BuildRight" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "LessThan(s_acctbal,0.0)" in plan, plan


def test_q20_nested_in_is_all_broadcast_one_exchange(spark):
    """r14: Q20's nested-IN chain — inner part-name IN as a broadcast
    join against the unique-key part dim, outer supplier IN as a
    broadcast LEFT SEMI against the aggregated qualifying set; the ONLY
    hash exchange is the (suppkey, partkey) partial agg, and the
    shipdate + name-prefix predicates reach their scans."""
    sf_dir = _sf_dir_or_skip()
    from trading_etl_spark.queries.analytics import q_excess_share_supplier_q20

    plan = _physical(q_excess_share_supplier_q20(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "StringStartsWith(p_name,red )" in plan, plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan


def test_fuzzy_match_blocked_join_never_cartesian(spark):
    """r14 (entity-resolution family): the candidate generator must be an
    EQUI join on the blocking key — a cartesian/nested-loop pair
    enumeration here is the classic ER scale failure — and the
    edit-distance must evaluate AFTER blocking (in the join condition/
    post-filter), never against the unblocked name square."""
    sf_dir = _sf_dir_or_skip()
    from trading_etl_spark.queries.analytics import q_part_name_fuzzy_match

    plan = _physical(q_part_name_fuzzy_match(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "levenshtein" in plan, plan


def test_silhouette_scoring_job_is_map_side(spark):
    """r14: the silhouette scorer must follow the two-job codebook
    pattern — after the centroid collect, the scoring plan carries NO
    join of any kind (a/b derive from broadcast literals map-side) and
    exactly one hash exchange (the k-row final label agg), keeping the
    per-point work embarrassingly parallel at corpus scale."""
    sf_dir = _sf_dir_or_skip()
    from trading_etl_spark.queries.datapipe import q_cluster_silhouette

    plan = _physical(q_cluster_silhouette(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "PythonUDF" not in plan, plan
