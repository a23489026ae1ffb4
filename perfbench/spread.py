#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median
and quartile spread, (Q3 - Q1) / median, against BENCHMARK.json's bounds.

    python3 perfbench/spread.py --workload queries --seeds 1 2 3 4 5 [--trace 0] [--dump FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--dump", help="append each run's detail line to this file")
    args = p.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        info = json.loads(proc.stdout.strip().splitlines()[-2])
        if args.dump:
            with open(args.dump, "a") as f:
                f.write(json.dumps(info) + "\n")
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} "
              f"other_busy={info['ambient']['other_busy_frac']:.3f} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    if len(args.seeds) >= 2:
        for k, vs in values.items():
            spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
            bound = bounds.get(k)
            flag = "" if bound is None else (" OK" if spread < bound / 3 else " WIDE")
            print(f"{k:32s} median={statistics.median(vs):.5g} spread={spread:.4f}"
                  f" bound={bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
