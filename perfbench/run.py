#!/usr/bin/env python3
"""Layer-attributed benchmark of the kmr_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

One client on ``local[4]`` runs the workload's operations one at a time
(a closed loop), each pass in a seed-permuted order. Set-up builds the
session, loads the input and runs ``WARMUP_PASSES`` untimed passes; then
one whole pass is measured per ``PASS_BUDGET_S`` of ``--seconds``. An
operation's time is its median over the measured executions least
disturbed by hypervisor steal (see ``Runner.per_op``). Every output is checked outside the timed region (DuckDB oracle for
queries, DuckDB over the same generated pairs for ``kvs_ops``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

import layers
import procs
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
CORES = 4
WORKLOADS = ("queries", "kvs_ops")

#: Input loads per run; setup_s takes their median.
LOAD_REPEATS = 3
#: Untimed passes before measuring: the cold first pass and one more.
#: Passes keep getting a few per cent faster for ten or more passes
#: (JIT); the per-operation median over the measured passes takes the
#: middle of that trend, so a measured pass buys more steadiness than a
#: third warm-up pass.
WARMUP_PASSES = 2
#: A run measures whole passes, one per this many seconds of
#: ``--seconds``: the same work in every run. Cutting passes at a
#: deadline let fast runs reach later, faster passes (the JVM keeps
#: warming), which widened the spread between runs.
PASS_BUDGET_S = 5.0

#: Steal share at or below which an execution counts as undisturbed.
#: /proc/stat counts steal in 10 ms ticks: one tick in a 0.3 s
#: execution on 4 CPUs is already 0.8%, and filtering on such counting
#: noise would halve an operation's sample on a quiet machine.
STEAL_FLOOR = 0.01


def measured_passes(seconds: float, trace: bool) -> int:
    """Passes to measure; a traced run needs a traced and an untraced one."""
    return max(2 if trace else 1, math.ceil(seconds / PASS_BUDGET_S))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(root: str, work: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``work``."""
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # any engine default that names a table directory points at ours
    os.environ["SPARK_GRAFT_SF_DIR"] = DATA_DIR
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        f"-Dderby.system.home={os.path.join(work, 'tmp')}")
    if root not in sys.path:
        sys.path.insert(0, root)


class Runner:
    """One benchmark run: set-up, warm-up, the timed loop, the checks."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.rng = random.Random(args.seed)
        self.setup: dict[str, float] = {}
        # (op name, traced?, wall_s, call_s, force_s, layer metrics or None,
        #  share of the machine's CPU time the hypervisor stole meanwhile)
        self.samples: list[tuple] = []
        self.outputs: list[tuple] = []   # (op, output) awaiting checks
        self.failures: list[str] = []
        self.attempted = 0
        self.warmup: dict[str, float] = {}           # op name -> warm-up wall_s
        self.pass_walls: list[float] = []

    # ---- set-up ----------------------------------------------------------

    def build(self) -> None:
        from kmr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["get_spark_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        load = self.prepare_workload()
        self.setup["input_s"] = time.perf_counter() - t0
        loads = []
        for _ in range(LOAD_REPEATS):
            t0 = time.perf_counter()
            loaded = load()
            loads.append(time.perf_counter() - t0)
        self.setup["load_tables_s"] = statistics.median(loads)
        self.ops = self.make_ops(loaded)
        self.baseline_caches = layers.cached_entries(self.spark)

    def prepare_workload(self):
        """Generate or locate the workload's input; return the loader
        whose time is ``load_tables_s``."""
        if self.args.workload == "kvs_ops":
            pairs = workloads.make_pairs(self.args.seed)
            self.expected = workloads.kvs_expected(pairs)
            # a checkpoint, not a cache: clearing the session's Dataset
            # caches after each operation must keep the input
            return lambda: self.spark.createDataFrame(pairs).localCheckpoint()
        from kmr_spark.session import invalidate_table_cache, load_tables

        def load():
            invalidate_table_cache(self.spark)
            return load_tables(self.spark, DATA_DIR)

        return load

    def make_ops(self, loaded) -> list:
        if self.args.workload == "kvs_ops":
            return workloads.kvs_ops(self.spark, loaded, self.expected)
        import __spark_entry__

        names = workloads.QUERIES
        oracle_sql = __spark_entry__.oracle_sql()
        self.oracle = workloads.Oracle(DATA_DIR, {n: oracle_sql[n] for n in names})
        return workloads.query_ops(self.spark, names, DATA_DIR,
                                   __spark_entry__.queries(), self.oracle)

    # ---- one execution ---------------------------------------------------

    def execute(self, op, tracer=None, record: bool = True) -> None:
        self.attempted += 1
        if tracer is not None:
            tracer.begin(op.name)
        steal0 = procs.steal_jiffies()
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            handle = op.call()
            t1 = time.perf_counter()
            out = op.force(handle)
            t2 = time.perf_counter()
            steal1 = procs.steal_jiffies()
        except Exception as exc:  # a failing operation is counted, not fatal
            if tracer is not None:
                tracer.abandon()
            self.failures.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}")
            log(self.failures[-1])
            self.clear_caches()
            return
        layer = None
        if tracer is not None:
            layer = tracer.end((w0, w0 + (t2 - t0)))
            layer["session.cached_left"] = layers.cached_entries(self.spark) - self.baseline_caches
        self.clear_caches()
        self.outputs.append((op, out))
        if record:
            steal = (steal1[1] - steal0[1]) / max(steal1[0] - steal0[0], 1)
            self.samples.append((op.name, tracer is not None, t2 - t0, t1 - t0, t2 - t1,
                                 layer, steal))
        else:
            self.warmup[op.name] = t2 - t0

    def clear_caches(self) -> None:
        self.spark.catalog.clearCache()

    def run_pass(self, tracer=None, record: bool = True) -> None:
        """One pass, in a fresh seeded order."""
        order = list(self.ops)
        self.rng.shuffle(order)
        self.pass_walls.append(0.0)
        for op in order:
            t0 = time.perf_counter()
            self.execute(op, tracer, record)
            self.pass_walls[-1] += time.perf_counter() - t0

    # ---- the run ---------------------------------------------------------

    def run(self) -> None:
        t_setup = time.perf_counter()
        self.build()
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self.run_pass(record=False)
        self.setup["warmup_s"] = time.perf_counter() - t0
        self.setup["setup_s"] = (self.setup["get_spark_s"] + self.setup["load_tables_s"]
                                 + self.setup["input_s"] + self.setup["warmup_s"])
        log(f"set-up {time.perf_counter() - t_setup:.1f}s: "
            + ", ".join(f"{k}={v:.2f}" for k, v in self.setup.items()))

        import bench  # the repository's CPU and machine-load sampler

        tracer = layers.Tracer(self.spark) if self.args.trace else None
        load0, steal0 = bench._load_sample(), procs.steal_jiffies()
        memory = procs.PeakMemory().start()
        self.measured = measured_passes(self.args.seconds, self.args.trace)
        for n in range(self.measured):
            # a traced run alternates traced and untraced passes, so the
            # difference between them is the tracing overhead
            if tracer is not None and n % 2 == 0:
                tracer.attach()
                self.run_pass(tracer)
                tracer.detach()
            else:
                self.run_pass()
        self.peak_mem_bytes = memory.stop()
        load1, steal1 = bench._load_sample(), procs.steal_jiffies()
        self.cpu_s = load1["self_cpu_sec"] - load0["self_cpu_sec"]
        self.ambient = bench.machine_load_report(load0, load1)
        self.ambient["steal_frac"] = ((steal1[1] - steal0[1])
                                      / max(steal1[0] - steal0[0], 1))
        self.check_outputs()

    def check_outputs(self) -> None:
        for op, out in self.outputs:
            try:
                problem = op.check(out)
            except Exception as exc:  # a check that cannot run is a failure
                problem = f"check raised {type(exc).__name__}: {exc}"
            if problem:
                self.failures.append(f"{op.name}: {problem}")
                log(self.failures[-1])

    def close(self) -> None:
        oracle = getattr(self, "oracle", None)
        if oracle is not None:
            oracle.close()
        spark = getattr(self, "spark", None)
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=30)

    # ---- metrics ---------------------------------------------------------

    def per_op(self, traced: bool, field: int, steal_filter: bool = True) -> dict[str, float]:
        """Median of sample ``field`` per operation, over the executions
        with at most the operation's median steal or ``STEAL_FLOOR``
        (``steal_filter``), or over all of them."""
        by_op: dict[str, list[tuple]] = {}
        for s in self.samples:
            if s[1] == traced:
                by_op.setdefault(s[0], []).append(s)
        if not steal_filter:
            return {name: statistics.median(s[field] for s in ss) for name, ss in by_op.items()}
        return {name: stats.median_least_disturbed([s[field] for s in ss], [s[6] for s in ss],
                                                STEAL_FLOOR)
                for name, ss in by_op.items()}

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        op_medians = list(self.per_op(False, 2).values())
        return {
            "setup_s": (self.setup["setup_s"], "s"),
            "pass_s": (sum(op_medians), "s"),
            "query_p50_s": (stats.percentile(op_medians, 50), "s"),
            "query_p90_s": (stats.percentile(op_medians, 90), "s"),
            "cpu_s": (self.cpu_s / self.measured, "s"),
            "peak_rss_mb": (self.peak_mem_bytes / 2**20, "MB"),
            "ok_frac": (1 - len(self.failures) / max(self.attempted, 1), "frac"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        traced = [s for s in self.samples if s[1]]
        by_op: dict[str, list[dict]] = {}
        for s in traced:
            by_op.setdefault(s[0], []).append(s[5])
        names = sorted({k for s in traced for k in s[5]})
        # per pass: the sum over operations of each operation's median
        layer = {k: sum(statistics.median([d[k] for d in ds]) for ds in by_op.values())
                 for k in names}
        wall_t = sum(self.per_op(True, 2).values())
        wall_u = sum(self.per_op(False, 2).values())
        out = {
            "session.get_spark_s": (self.setup["get_spark_s"], "s"),
            "session.load_tables_s": (self.setup["load_tables_s"], "s"),
            "session.cached_left": (layer["session.cached_left"], "count"),
            "plans.call_s": (sum(self.per_op(True, 3).values()), "s"),
            "plans.force_s": (sum(self.per_op(True, 4).values()), "s"),
        }
        for k in layers.COUNT_KEYS:
            out[k] = (layer[k], "count")
        out["driver.gap_ms"] = (layer["driver.gap_ms"], "ms")
        for k in layers.EXEC_FIELDS:
            out[k] = (layer[k], "bytes" if k.endswith("_bytes") else "ms")
        out["exec.busy_frac"] = (layer["exec.task_ms"] / (CORES * wall_t * 1e3), "frac")
        for k in layers.STREAM_PHASES:
            out[k] = (layer[k], "ms")
        steps = self.per_op(True, 2)
        for step, metric in workloads.KVS_STEP_METRICS.items():
            out[metric] = (steps.get(step, 0.0), "s")
        out["trace.overhead_frac"] = (wall_t / wall_u - 1, "frac")
        return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in ("kmr_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing or not os.path.isdir(DATA_DIR):
        log(f"not a repository checkout ({root}): missing {missing or [DATA_DIR]}")
        return 2
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    prepare_environment(root, work)
    runner = Runner(args)
    try:
        runner.run()
    finally:
        try:
            runner.close()
        finally:
            stray = procs.stop_descendants()
            if stray:
                log(f"stopped {len(stray)} leftover processes")
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass   # another run is using it

    e2e = runner.end_to_end()
    metrics = runner.per_layer() if args.trace else e2e
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "operations": len(runner.ops), "executions": len(runner.samples),
        "passes": runner.measured,
        # query_p50_s/query_p90_s are taken over per-operation medians
        "percentile_samples": len(runner.ops),
        "supported_percentile": stats.supported_percentile(len(runner.ops)),
        "setup": runner.setup, "ambient": runner.ambient,
        "op_wall_s": {k: round(v, 4) for k, v in runner.per_op(False, 2).items()},
        "op_wall_all_s": {k: round(v, 4) for k, v in runner.per_op(False, 2, False).items()},
        "warmup_op_s": {k: round(v, 4) for k, v in runner.warmup.items()},
        "pass_walls_s": [round(v, 3) for v in runner.pass_walls],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "failures": runner.failures[:20],
    }
    print(json.dumps(info))
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
