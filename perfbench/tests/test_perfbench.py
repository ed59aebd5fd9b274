"""Self-tests of the benchmark: inputs, metric names, percentile and failure
accounting. None of them starts Spark."""

import json
import os
import re

import pyarrow.parquet as pq
import pytest

import gen
import run
import workloads
from oracle import Oracle, canon
from statusstore import union_seconds

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def _ticks(tmp_path, seed, name):
    h = gen.TickHistory(seed)
    h.write_history(str(tmp_path / name), hours=1, n_parts=4)
    s = h.land_slice(str(tmp_path / name), minutes=10, late_share=0.1)
    return h.content_hash(), s


def test_tick_generator_is_deterministic(tmp_path):
    a, sa = _ticks(tmp_path, 7, "a")
    b, sb = _ticks(tmp_path, 7, "b")
    c, _ = _ticks(tmp_path, 8, "c")
    assert a == b and sa == sb
    assert a != c


def test_corpus_generator_is_deterministic(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), 3, 50, 40)
    assert a == gen.write_corpus(str(tmp_path / "b"), 3, 50, 40)
    assert a != gen.write_corpus(str(tmp_path / "c"), 4, 50, 40)


def test_ticks_carry_the_planted_noise(tmp_path):
    gen.TickHistory(1).write_history(str(tmp_path), hours=1, n_parts=6)
    parts = sorted((tmp_path / "events.parquet").iterdir())
    assert len(parts) == 6
    t = pq.read_table(str(tmp_path / "events.parquet")).to_pandas()
    assert (t.value <= 0).any()
    assert (~t.props.str.contains('"k"')).any()
    pair_second = (t.user_id % 6).astype(str) + t.ts.dt.floor("s").astype(str)
    assert pair_second.duplicated().any()
    in_order = [pq.read_table(str(p)).column("ts").to_pandas().is_monotonic_increasing for p in parts]
    assert not all(in_order)


def test_ticks_are_1hz_per_pair_and_move_within_the_minute(tmp_path):
    gen.TickHistory(3).write_history(str(tmp_path), hours=1, n_parts=2)
    t = pq.read_table(str(tmp_path / "events.parquet")).to_pandas()
    t = t[(t.value > 0) & t.props.str.contains('"k"')]
    t["pair"], t["sec"] = t.user_id % 6, t.ts.dt.floor("s")
    first = t.sort_values("ts").drop_duplicates(["pair", "sec"])
    assert first.groupby("pair").sec.nunique().min() >= 0.95 * 3600
    bars = first.groupby(["pair", first.sec.dt.floor("min")]).value
    assert (bars.max() > bars.min()).mean() > 0.99


def test_slice_counts_new_minutes_once(tmp_path):
    h = gen.TickHistory(2)
    h.write_history(str(tmp_path), hours=1, n_parts=2)
    before = set(h.keys)
    s = h.land_slice(str(tmp_path), minutes=10, late_share=0.5)
    assert s.new_minutes == len(h.keys - before) > 0
    assert set(s.newest) == set(range(6))


def test_metric_names_and_units():
    units = {**run.per_layer_units(), **run.END_TO_END_UNITS}
    assert len(run.per_layer_units()) <= 128
    for name, unit in units.items():
        assert NAME.match(name), name
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", unit), unit


def test_benchmark_json_matches_the_metrics_printed():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for w in spec["workloads"]:
        assert NAME.match(w["name"]) and len(w["why"]) <= 200


def test_percentile_needs_ten_samples_beyond_it():
    assert workloads.tail_percentile(list(range(99)), 0.9) is None
    assert workloads.tail_percentile(list(range(100)), 0.9) == 89
    assert workloads.tail_percentile(list(range(1000)), 0.99) == 989
    assert workloads.tail_percentile(list(range(999)), 0.99) is None


def test_failed_frac_counts_errors_and_mismatches():
    ops = workloads.Ops()
    assert ops.run("ok", lambda: 1) == 1
    ops.check("ok", True)
    assert ops.run("raises", lambda: 1 / 0) is None
    ops.run("wrong", lambda: 2)
    ops.check("wrong", False)
    ops.run("fine", lambda: 3)
    assert (ops.attempted, ops.failed) == (4, 2)
    assert ops.failed_frac == pytest.approx(0.5)
    assert [e.split(":")[0] for e in ops.errors] == ["raises", "wrong"]


def test_union_of_job_spans():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert union_seconds([], 0, 1) == 0


def test_components_from_the_twins_edges_match_the_recursive_twin(tmp_path):
    gen.write_corpus(str(tmp_path), 5, 150, 20)
    oracle = Oracle(str(tmp_path), {"documents": "documents.parquet"})
    res = oracle.con.execute(oracle.twins["dedup_cc_two_phase"])
    want = canon([d[0] for d in res.description], res.fetchall())
    assert oracle.answer("dedup_cc_two_phase") == want
    assert len({r.split("|")[0] for r in want[1]}) < 150  # some documents were merged
