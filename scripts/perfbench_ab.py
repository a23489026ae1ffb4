#!/usr/bin/env python3
"""A/B the end-to-end benchmark between two checkouts of the repository.

    python3 scripts/perfbench_ab.py --parent DIR --change DIR \\
        --workload queries --seeds 21 22 23 24 25 26 27 28 29 30 \\
        [--trace 0]

For every seed it runs the benchmark's ``command`` with ``--workload W
--seed S --seconds <run_seconds> --trace T`` once in each checkout,
alternating which side runs first (parent first on the first seed).
``command`` and ``run_seconds`` come from ``BENCHMARK.json`` of the
parent checkout, so both sides run the same command for the same
length. It then prints, per metric of the result line, each side's
median, the parent's quartiles and inter-quartile range (IQR), the
change's win count over the pairs (ties count for neither side) and
whether the pairs support a gain: at least ten pairs, nine wins in ten
and a gap between the medians larger than the parent's IQR.
Per-operation medians (``op_wall_s`` of the detail line) follow in the
same form. Which direction is better comes from ``BENCHMARK.json`` of
the parent checkout; per-layer and per-operation times are lower-better
unless ``BENCHMARK.json`` says otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from collections.abc import Sequence

SIDES = ("parent", "change")


def parse_run(stdout: str) -> dict:
    """The result line (last) and detail line (second to last) of one
    ``perfbench/run.py`` run, as ``{"metrics": {...}, "ops": {...},
    "correct": bool}``."""
    lines = stdout.strip().splitlines()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    return {
        "metrics": {k: m["value"] for k, m in result["metrics"].items()},
        "ops": dict(detail.get("op_wall_s", {})),
        "correct": bool(result.get("correct")),
    }


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(n=4)`` gives them, the
    method ``perfbench/stats.py`` uses; one value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(parent: Sequence[float], change: Sequence[float],
            lower_better: bool = True) -> dict:
    """Pairwise comparison of one metric: ``parent[i]`` and ``change[i]``
    come from the same seed. A gain needs at least ten pairs, wins in
    at least nine tenths of them and medians further apart than the
    parent's IQR, in the better direction."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need one parent and one change value per pair")
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    sign = 1 if lower_better else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    return {
        "parent_median": pm, "parent_q1": p1, "parent_q3": p3,
        "parent_iqr": p3 - p1, "change_median": cm,
        "delta_frac": (cm - pm) / pm if pm else float("nan"),
        "wins": wins, "losses": losses, "pairs": len(parent),
        "gain": (len(parent) >= 10 and 10 * wins >= 9 * len(parent)
                 and sign * (pm - cm) > p3 - p1),
    }


def summarize(runs: Sequence[dict], lower_better: dict[str, bool]) -> dict:
    """Per-metric and per-operation :func:`compare` over runs paired by
    seed. ``runs`` holds ``{"side", "seed", ...parse_run fields}``; a
    seed without both sides is left out."""
    by_seed: dict[int, dict[str, dict]] = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [(s["parent"], s["change"]) for _, s in sorted(by_seed.items())
             if "parent" in s and "change" in s]
    out: dict[str, dict] = {"metrics": {}, "ops": {}}
    for kind in ("metrics", "ops"):
        names = list(pairs[0][0][kind]) if pairs else []
        for name in names:
            vals = [(p[kind].get(name), c[kind].get(name)) for p, c in pairs]
            vals = [(p, c) for p, c in vals if p is not None and c is not None]
            if vals:
                out[kind][name] = compare([p for p, _ in vals], [c for _, c in vals],
                                          lower_better.get(name, True))
    out["pairs"] = len(pairs)
    out["incorrect"] = {side: sum(not r["correct"] for r in runs if r["side"] == side)
                        for side in SIDES}
    return out


def format_report(summary: dict) -> str:
    rows = [f"{summary['pairs']} pairs; runs with a failed check: "
            f"parent {summary['incorrect']['parent']}, "
            f"change {summary['incorrect']['change']}"]
    for kind in ("metrics", "ops"):
        rows.append(f"{kind:34s} {'parent med':>11s} {'Q1':>9s} {'Q3':>9s} "
                    f"{'IQR':>9s} {'change med':>11s} {'delta':>8s} {'wins':>6s}")
        for name, c in summary[kind].items():
            rows.append(
                f"{name:34s} {c['parent_median']:11.5g} {c['parent_q1']:9.4g} "
                f"{c['parent_q3']:9.4g} {c['parent_iqr']:9.4g} "
                f"{c['change_median']:11.5g} {100 * c['delta_frac']:+7.1f}% "
                f"{c['wins']:>3d}/{c['pairs']:<2d}" + ("  GAIN" if c["gain"] else ""))
    return "\n".join(rows)


def load_benchmark(checkout: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def lower_better(bench: dict) -> dict[str, bool]:
    return {m["name"]: m.get("better", "lower") == "lower"
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def run_side(bench: dict, checkout: str, workload: str, seed: int,
             trace: int) -> dict:
    proc = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{checkout} seed {seed} exited {proc.returncode}:\n"
                           + proc.stderr[-3000:])
    return parse_run(proc.stdout)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    bench = load_benchmark(args.parent)
    runs = []
    for i, seed in enumerate(args.seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            t0 = time.perf_counter()
            run = run_side(bench, getattr(args, side), args.workload, seed,
                           args.trace)
            run.update(side=side, seed=seed)
            runs.append(run)
            print(f"seed {seed} {side}: {time.perf_counter() - t0:.0f} s "
                  f"correct={run['correct']} " + " ".join(
                      f"{k}={v:.4g}" for k, v in run["metrics"].items()
                      if k in ("pass_s", "query_p50_s", "query_p90_s")),
                  file=sys.stderr, flush=True)
    print(format_report(summarize(runs, lower_better(bench))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
