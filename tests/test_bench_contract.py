"""Driver-parseability contract for bench.py's stdout line.

The driver tail-captures ~2000 chars of bench output and json-parses the
last line. BENCH_r06..r08 all recorded "parsed": null because the raw
queries_runs series grew the single JSON line past the capture (VERDICT r8
"What's wrong" #1). These tests pin the fix: the headline line stays under
a hard budget with the driver-contract keys, and the full series lives in
the BENCH_DETAIL.json payload instead.
"""

import json

import bench

# Leave headroom under the driver's ~2000-char tail: Spark may still emit a
# few short lines before the final one inside the captured window.
LINE_BUDGET = 1800


def _fake_runs():
    # Worst realistic case: every headline + cold line present, N_RUNS
    # samples each, 3-decimal values with two-digit integer parts.
    names = bench.HEADLINE + [
        "candle_chain_cold",
        "candle_cache_cold",
        "kmeans_train_cold",
        "ivf_index_build_cold",
        "lsh_bands_build_cold",
        "exsub_positions_build_cold",
        "bloom_build_cold",
        "simhash_build_cold",
        "srp_bands_build_cold",
        "events_scan_full",
        "events_scan_pruned_3d",
        "skew_join_agg_naive",
        "skew_join_agg_salted",
        "join_orderkey_bucketed",
        "join_orderkey_shuffled",
    ]
    return {n: [round(10 + 0.001 * i, 3) for i in range(bench.N_RUNS)] for n in names}


def test_headline_line_fits_driver_tail_capture():
    line, _ = bench.summarize(_fake_runs(), sf=0.1)
    assert len(line) <= LINE_BUDGET, (
        f"headline JSON line is {len(line)} chars; the driver's ~2000-char "
        "tail capture truncated BENCH output for three rounds — move data "
        "to the detail dict, not the stdout line"
    )


def test_headline_line_has_driver_contract_keys():
    line, detail = bench.summarize(_fake_runs(), sf=0.1)
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, f"driver-contract key {key} missing"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    # headline value = sum of per-query medians, series-comparable r1..r8
    assert parsed["value"] == round(sum(q[2] for q in _fake_runs().values()), 3)
    # the full series lives in the detail payload, NOT the stdout line
    assert "queries_runs" not in parsed
    assert "queries_runs" in detail and "methodology" in detail
    assert set(detail["queries_runs"]) == set(parsed["queries"])


def test_medians_and_minima_agree_with_series():
    runs = {"q": [3.0, 1.0, 2.0, 9.0, 2.5]}
    line, detail = bench.summarize(runs, sf=0.01)
    parsed = json.loads(line)
    assert parsed["queries"]["q"] == 2.5  # median of 5 sorted [1,2,2.5,3,9]
    assert detail["queries_min"]["q"] == 1.0
    assert parsed["min_total_sec"] == 1.0
    assert parsed["first_run_total_sec"] == 3.0


def test_detail_payload_carries_required_proof_blocks(tmp_path):
    """VERDICT r10 task #7: BENCH_DETAIL.json is load-bearing evidence
    (methodology, scaling slopes, pruning proofs) — write_detail must carry
    the scaling block forward across rewrites, and a refactor that drops a
    required key must fail here, not silently in the next judge read."""
    path = str(tmp_path / "BENCH_DETAIL.json")
    scaling = {"queries": {"q": {"ratio_min": 1.0}}, "measured_commit": "abc1234"}
    json.dump({"scaling": scaling}, open(path, "w"))

    _, detail = bench.summarize(_fake_runs(), sf=0.1)
    detail["partition_pruning"] = {"full": 10, "pruned": 2}
    written = bench.write_detail(detail, path)
    assert written["scaling"] == scaling  # carried forward, stamp intact
    on_disk = json.load(open(path))
    for key in bench.DETAIL_REQUIRED_KEYS:
        assert key in on_disk, f"required proof block {key} missing"


def test_detail_corrupt_prior_is_loud_not_silent(tmp_path, capsys):
    path = str(tmp_path / "BENCH_DETAIL.json")
    open(path, "w").write("{not json")
    _, detail = bench.summarize(_fake_runs(), sf=0.1)
    bench.write_detail(detail, path)
    assert "could not carry forward" in capsys.readouterr().err
    assert "scaling" not in json.load(open(path))


def test_detail_path_env_redirects_the_write(tmp_path, monkeypatch):
    """$BENCH_DETAIL_PATH sends the detail record elsewhere, and the
    committed BENCH_DETAIL.json is left as it was."""
    import os

    committed = os.path.join(os.path.dirname(bench.__file__), "BENCH_DETAIL.json")
    before = open(committed, "rb").read()
    target = str(tmp_path / "smoke_detail.json")
    monkeypatch.setenv("BENCH_DETAIL_PATH", target)
    assert bench.bench_detail_path() == target
    _, detail = bench.summarize(_fake_runs(), sf=0.001)
    bench.write_detail(detail, bench.bench_detail_path())
    assert json.load(open(target))["queries_min"] == detail["queries_min"]
    assert open(committed, "rb").read() == before
    monkeypatch.delenv("BENCH_DETAIL_PATH")
    assert bench.bench_detail_path() == committed


def test_committed_detail_file_has_required_proof_blocks():
    import os

    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_DETAIL.json")
    on_disk = json.load(open(path))
    for key in bench.DETAIL_REQUIRED_KEYS:
        assert key in on_disk, f"committed BENCH_DETAIL.json lost {key}"
    # the scaling block must carry its provenance stamp (ADVICE r10)
    assert "measured_commit" in on_disk["scaling"]


def test_bench_names_only_registered_queries():
    from trading_etl_spark.registry import build_queries

    assert set(bench.HEADLINE) | {bench.WARMUP} <= set(build_queries())
