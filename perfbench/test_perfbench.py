"""Tests for the benchmark's own arithmetic and its metric names.

    python3 -m pytest perfbench -q

None of these start Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics

import pandas as pd
import pytest

import layers
import run
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def _bench() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- intervals

def test_union_of_disjoint_intervals_is_their_sum():
    assert stats.union_length([(0, 1), (2, 4)]) == 3


def test_union_counts_overlap_once():
    assert stats.union_length([(0, 3), (2, 5)]) == 5


def test_union_counts_nested_interval_once():
    assert stats.union_length([(0, 10), (2, 3), (4, 9)]) == 10


def test_union_of_touching_intervals():
    assert stats.union_length([(0, 1), (1, 2)]) == 2


def test_union_is_order_independent():
    spans = [(5, 7), (0, 2), (1, 3), (6, 9)]
    assert stats.union_length(spans) == stats.union_length(list(reversed(spans))) == 7


def test_union_clips_to_window():
    assert stats.union_length([(-5, 2), (8, 20)], lo=0, hi=10) == 4


def test_union_ignores_empty_and_inverted_intervals():
    assert stats.union_length([(3, 3), (5, 4), (20, 30)], lo=0, hi=10) == 0


def test_union_matches_a_brute_force_grid():
    rng = random.Random(7)
    for _ in range(200):
        spans = []
        for _ in range(rng.randint(0, 6)):
            a, b = rng.randint(0, 40), rng.randint(0, 40)
            spans.append((min(a, b), max(a, b)))
        covered = sum(1 for t in range(40) if any(a <= t < b for a, b in spans))
        assert stats.union_length(spans) == covered


def test_gap_is_window_minus_busy_union():
    # jobs cover [1, 3) and [2, 6) of a 10 s window: 5 s busy, 5 s gap
    assert stats.gap_length((0, 10), [(1, 3), (2, 6)]) == 5
    assert stats.gap_length((0, 10), []) == 10
    # a job that outlives the window counts only inside it
    assert stats.gap_length((0, 10), [(8, 15)]) == 8


# ---------------------------------------------------------------- percentiles

def test_percentile_matches_statistics_inclusive_method():
    rng = random.Random(3)
    for n in (2, 3, 10, 37):
        xs = [rng.random() for _ in range(n)]
        qs = statistics.quantiles(xs, n=10, method="inclusive")
        assert stats.percentile(xs, 50) == pytest.approx(statistics.median(xs))
        assert stats.percentile(xs, 90) == pytest.approx(qs[8])
        assert stats.percentile(xs, 0) == min(xs)
        assert stats.percentile(xs, 100) == max(xs)


def test_percentile_of_one_sample_is_that_sample():
    assert stats.percentile([4.0], 90) == 4.0


def test_percentile_rejects_no_samples_and_bad_rank():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


@pytest.mark.parametrize("n, expected", [
    (19, None),     # 9.5 samples above the median
    (20, 50),
    (39, 50),       # 9.75 above p75
    (40, 75),
    (99, 75),       # 9.9 above p90
    (100, 90),
    (200, 95),
    (1000, 99),
    (10000, 99.9),
])
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.supported_percentile(n) == expected


def test_quartile_spread_uses_statistics_quartiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.8, 9.9, 11.5]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.quartile_spread([1.0, 1.0, 1.0]) == 0.0


# ---------------------------------------------------------------- metric names

def _fake_runner(workload: str, names: list[str]) -> run.Runner:
    r = run.Runner(argparse.Namespace(workload=workload, seed=1, seconds=1.0, trace=1))
    r.ops = [workloads.Op(n, None, None, None) for n in names]
    r.setup = {"get_spark_s": 5.0, "load_tables_s": 1.0, "input_s": 0.1,
               "warmup_s": 10.0, "setup_s": 16.1}
    r.cpu_s, r.peak_mem_bytes = 30.0, 2**30
    layer = dict.fromkeys(layers.EXECUTION_KEYS, 1.0)
    layer["session.cached_left"] = 0
    for traced in (True, False):
        for n in names:
            r.samples.append((n, traced, 0.5, 0.2, 0.3, layer if traced else None, 0.0))
    r.attempted = len(r.samples)
    r.measured = 2
    return r


@pytest.mark.parametrize("workload, names", [
    ("queries", list(workloads.QUERIES)),
    ("kvs_ops", list(workloads.KVS_STEP_METRICS)),
])
def test_printed_metrics_match_benchmark_json(workload, names):
    bench = _bench()
    r = _fake_runner(workload, names)
    e2e = r.end_to_end()
    layer = r.per_layer()
    assert sorted(e2e) == sorted(m["name"] for m in bench["end_to_end"])
    assert sorted(layer) == sorted(m["name"] for m in bench["per_layer"])
    for spec, printed in ((bench["end_to_end"], e2e), (bench["per_layer"], layer)):
        for m in spec:
            assert printed[m["name"]][1] == m["unit"], m["name"]


def test_benchmark_json_names_the_runner_workloads():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_measured_passes_follow_the_seconds_budget():
    assert run.measured_passes(20, trace=False) == 4
    assert run.measured_passes(21, trace=False) == 5
    assert run.measured_passes(1, trace=False) == 1
    assert run.measured_passes(1, trace=True) == 2


def test_pass_and_percentiles_use_per_operation_medians():
    r = _fake_runner("kvs_ops", ["a", "b", "c"])
    r.samples = [("a", False, 1.0, 0, 0, None, 0.0), ("a", False, 3.0, 0, 0, None, 0.0),
                 ("a", False, 2.0, 0, 0, None, 0.0), ("b", False, 4.0, 0, 0, None, 0.0),
                 ("c", False, 6.0, 0, 0, None, 0.0)]
    e2e = r.end_to_end()
    assert e2e["pass_s"][0] == 2.0 + 4.0 + 6.0
    assert e2e["query_p50_s"][0] == 4.0
    assert e2e["query_p90_s"][0] == pytest.approx(5.6)


def test_operation_time_skips_its_more_stolen_executions():
    r = _fake_runner("kvs_ops", ["a"])
    r.samples = [("a", False, w, 0, 0, None, steal) for w, steal in
                 [(1.0, 0.0), (9.0, 0.2), (2.0, 0.0), (8.0, 0.1), (3.0, 0.02)]]
    assert r.per_op(False, 2) == {"a": 2.0}
    assert r.per_op(False, 2, steal_filter=False) == {"a": 3.0}


@pytest.mark.parametrize("values, disturbance, expected", [
    ([5.0, 1.0, 3.0], [0.0, 0.0, 0.0], 3.0),               # undisturbed: plain median
    ([1.0, 9.0, 2.0, 8.0, 3.0], [0, 0.3, 0, 0.2, 0.1], 2.0),  # two of five stolen from
    ([1.0, 9.0, 2.0, 8.0], [0, 0.3, 0, 0.2], 1.5),         # even count: lower half
    ([4.0, 6.0], [0.5, 0.1], 6.0),                         # the less disturbed one
])
def test_median_least_disturbed(values, disturbance, expected):
    assert stats.median_least_disturbed(values, disturbance) == expected


def test_median_least_disturbed_keeps_samples_under_the_floor():
    values, steal = [1.0, 9.0, 2.0, 8.0], [0.0, 0.008, 0.0, 0.005]
    assert stats.median_least_disturbed(values, steal) == 1.5
    assert stats.median_least_disturbed(values, steal, floor=0.01) == 5.0
    assert stats.median_least_disturbed(values, [0.0, 0.3, 0.0, 0.2], floor=0.01) == 1.5


# ---------------------------------------------------------------- output checks

def test_canonical_rows_sort_columns_round_floats_and_map_nan():
    cols, rows = workloads.canonical_rows(
        ["b", "a"], [(None, 2.0000000004), (1, float("nan")), (0, 1.0)])
    assert cols == ["a", "b"]
    assert rows == [("NaN", 1), (1.0, 0), (2.0, None)]
    # a difference in the 7th place is a mismatch, as in the oracle tests
    _, near = workloads.canonical_rows(["a"], [(1.000001,)])
    assert near != workloads.canonical_rows(["a"], [(1.0,)])[1]


def test_make_pairs_is_determined_by_the_seed():
    a, b = workloads.make_pairs(3, n=1000), workloads.make_pairs(3, n=1000)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(workloads.make_pairs(4, n=1000))
    assert a["key"].between(0, workloads.KVS_KEYS - 1).all()
    assert a["value"].between(0, 999).all()


def test_kvs_fingerprints_match_a_python_reference():
    pairs = workloads.make_pairs(5, n=3000, n_keys=50)
    exp = workloads.kvs_expected(pairs)
    kv = list(zip(pairs["key"].tolist(), pairs["value"].tolist()))
    n = len(kv)

    def kv_print(items):
        return (len(items), sum(k for k, _ in items), sum(v for _, v in items),
                sum(k * v for k, v in items))

    assert exp["map"] == kv_print([(k // 2, v * 3 + 1) for k, v in kv])
    assert exp["shuffle"] == kv_print(kv)
    sums: dict[int, int] = {}
    for k, v in kv:
        sums[k] = sums.get(k, 0) + v
    assert exp["reduce"] == kv_print(list(sums.items()))
    ordered = sorted(kv)
    assert exp["ranking"] == (n, n * (n - 1) // 2,
                              sum(r * k for r, (k, _) in enumerate(ordered)))
    prefix, scan, run_max, scan_max = 0, [], None, []
    for k, v in ordered:
        scan.append((prefix, k))
        scan_max.append(run_max)
        prefix += v
        run_max = v if run_max is None else max(run_max, v)
    assert exp["scan"] == (n, sum(s for s, _ in scan), sum(s * (k % 7) for s, k in scan))
    assert exp["scan_max"] == (n, sum(-1 if m is None else m for m in scan_max),
                               sum(m is not None for m in scan_max))
    groups: dict[int, list[int]] = {}
    for k, v in kv:
        groups.setdefault(k % workloads.KVS_GROUPS, []).append(v)
    assert exp["ranking_per_group"] == (
        n, sum(r * v for vs in groups.values() for r, v in enumerate(sorted(vs))),
        sum(len(vs) ** 2 for vs in groups.values()))
