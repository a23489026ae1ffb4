"""Arithmetic of the benchmark A/B script (scripts/perfbench_ab.py) on
canned run outputs: pairing by seed, medians and parent quartiles, win
counts with ties for neither side, and the nine-in-ten plus
beyond-the-parent's-IQR rule for a gain."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import perfbench_ab as ab


def _stdout(p90, ok=1.0, ops=None):
    """The last two lines ``perfbench/run.py`` prints."""
    detail = {"workload": "queries", "op_wall_s": ops or {"q1": p90 / 2}}
    result = {"correct": ok == 1.0, "attempted": 8, "failed": 0,
              "metrics": {"query_p90_s": {"value": p90, "unit": "s"},
                          "ok_frac": {"value": ok, "unit": "frac"}}}
    return "log line\n" + json.dumps(detail) + "\n" + json.dumps(result) + "\n"


def test_parse_run_reads_result_and_detail_lines():
    run = ab.parse_run(_stdout(0.9, ops={"q1": 0.2, "q4": 0.3}))
    assert run == {"metrics": {"query_p90_s": 0.9, "ok_frac": 1.0},
                   "ops": {"q1": 0.2, "q4": 0.3}, "correct": True}


def test_compare_quartiles_wins_and_gain():
    parent = [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9]
    change = [v - 0.5 for v in parent]
    change[3] = parent[3]  # a tie counts for neither side
    c = ab.compare(parent, change)
    assert c["parent_median"] == pytest.approx(1.45)
    # statistics.quantiles(n=4), 'exclusive': positions 2.75 and 8.25
    assert c["parent_q1"] == pytest.approx(1.175)
    assert c["parent_q3"] == pytest.approx(1.725)
    assert c["parent_iqr"] == pytest.approx(0.55)
    assert (c["wins"], c["losses"], c["pairs"]) == (9, 0, 10)
    assert c["change_median"] == pytest.approx(1.05)  # the tie lifts it
    assert c["delta_frac"] == pytest.approx(-0.4 / 1.45)
    # 9/10 wins, but a median gap of 0.4 inside the parent's IQR of 0.55
    assert not c["gain"]
    assert ab.compare(parent, [v - 0.6 for v in parent])["gain"]
    # 8/10 wins with a wide gap: not a gain
    eight = [v - 0.6 for v in parent[:8]] + parent[8:]
    assert ab.compare(parent, eight)["wins"] == 8
    assert not ab.compare(parent, eight)["gain"]


def test_compare_higher_better_and_bad_input():
    c = ab.compare([0.9, 0.95, 1.0], [1.0, 1.0, 1.0], lower_better=False)
    assert (c["wins"], c["losses"]) == (2, 0)
    assert ab.compare([5.0], [4.0])["parent_iqr"] == 0
    # three wins in three pairs far beyond the IQR: too few pairs for a gain
    assert not ab.compare([1.0, 1.1, 1.2], [0.1, 0.1, 0.1])["gain"]
    with pytest.raises(ValueError):
        ab.compare([1.0, 2.0], [1.0])


def test_summarize_pairs_by_seed_and_counts_failed_checks():
    runs = []
    for seed, (p, c) in enumerate([(1.0, 0.8), (1.2, 0.9), (1.1, 1.3)]):
        runs.append(dict(ab.parse_run(_stdout(p, ops={"q1": p})),
                         side="parent", seed=seed))
        runs.append(dict(ab.parse_run(_stdout(c, ok=0.875 if seed == 2 else 1.0,
                                              ops={"q1": c})),
                         side="change", seed=seed))
    runs.append(dict(ab.parse_run(_stdout(0.1)), side="change", seed=99))  # unpaired
    s = ab.summarize(runs, {"ok_frac": False})
    assert s["pairs"] == 3
    assert s["incorrect"] == {"parent": 0, "change": 1}
    p90 = s["metrics"]["query_p90_s"]
    assert (p90["parent_median"], p90["change_median"]) == (1.1, 0.9)
    assert (p90["wins"], p90["losses"]) == (2, 1)
    ok = s["metrics"]["ok_frac"]
    assert (ok["wins"], ok["losses"]) == (0, 1)  # higher is better
    assert s["ops"]["q1"]["wins"] == 2
    report = ab.format_report(s)
    assert "3 pairs" in report and "query_p90_s" in report and "q1" in report


def test_run_side_runs_the_benchmark_command_for_its_run_seconds(tmp_path):
    """Both sides run BENCHMARK.json's ``command`` for its ``run_seconds``,
    from the checkout's directory (the relative script path resolves
    there)."""
    fake = tmp_path / "fake_run.py"
    fake.write_text(
        "import json, sys\n"
        "print(json.dumps({'op_wall_s': {}}))\n"
        "print(json.dumps({'correct': True, 'metrics': {'query_p90_s':"
        " {'value': float(sys.argv[sys.argv.index('--seconds') + 1])}}}))\n")
    (tmp_path / "BENCHMARK.json").write_text(json.dumps({
        "command": [sys.executable, "fake_run.py"], "run_seconds": 7,
        "end_to_end": [{"name": "ok_frac", "better": "higher"},
                       {"name": "query_p90_s", "better": "lower"}]}))
    bench = ab.load_benchmark(str(tmp_path))
    assert ab.lower_better(bench) == {"ok_frac": False, "query_p90_s": True}
    run = ab.run_side(bench, str(tmp_path), "queries", 5, trace=0)
    assert run["metrics"] == {"query_p90_s": 7.0}
    assert run["correct"]
