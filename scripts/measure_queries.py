#!/usr/bin/env python
"""Measure individual registry queries with the bench methodology
(warm JVM, cold cache, noop sink) and optionally dump their
``explain("formatted")`` plans.

Usage:
  python scripts/measure_queries.py [--plans OUTDIR] [--suffix SUF]
         [--reps N] QUERY [QUERY ...]

Timing mimics bench.py run_once exactly (clearCache + System.gc +
0.2s settle before each sample) so numbers are comparable to
bench_detail.json; each query gets one untimed warmup rep first.
Plans are captured from the same DataFrame the timed run executes.
Next to its times each query reports ``spawns``: the processes the
Spark JVM started per timed call, by executable, counted with
``jvm_spawns.process_spawns`` (a JFR recording of ``jdk.ProcessStart``).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans", default=None,
                    help="directory for explain('formatted') dumps")
    ap.add_argument("--suffix", default="before",
                    help="plan filename suffix (before/after)")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from kmr_spark.session import get_spark
    import __spark_entry__ as entrymod
    from jvm_spawns import process_spawns

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("kmr_spark_measure")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    def run_once(name: str) -> float:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    out = {}
    for name in args.queries:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"measure: {name}")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            # materialize_release stubbed to a pass-through so the
            # dump shows the PIPELINE's plan, not the checkpoint scan
            # (and building the frame doesn't execute the final
            # materialization; exscan and ranking queries still run
            # their sort and collect jobs) — ADVICE r11 #1; timed
            # runs below use the real function
            from plan_stub import passthrough_materialize
            with passthrough_materialize():
                df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(
                    args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
        run_once(name)  # warmup
        with process_spawns(spark) as spawns:
            times = [run_once(name) for _ in range(args.reps)]
        out[name] = {"times": times, "min": min(times),
                     "mean": round(sum(times) / len(times), 3),
                     "spawns": {cmd: round(n / args.reps, 1)
                                for cmd, n in spawns.most_common()}}
        print(json.dumps({name: out[name]}), flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": sf_dir, "queries": out}))


if __name__ == "__main__":
    main()
