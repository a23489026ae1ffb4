"""The benchmark's workloads: named operations, each split into the
call into the engine, the final action that forces it, and an output
check that runs outside the timed region."""

from __future__ import annotations

import glob
import math
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import duckdb
import numpy as np
import pandas as pd

#: The ``queries`` workload: registry queries whose cost is per-query
#: fixed overhead rather than executor compute.
#: - Six TPC-H queries (scan-aggregate, EXISTS, six-way join, outer
#:   join, anti-join, scalar subquery). Each is small (0.3-0.6 s, 4-13
#:   jobs at this scale): planning, codegen, small shuffles and driver
#:   gaps.
#: - Two bounded streaming replays with a stateful operator
#:   (flatMapGroupsWithState, watermarked window): micro-batch
#:   offset/commit/WAL writes and the state store. The other eleven
#:   replays, ``events_drop_audit_streamed`` (32 batches, about 12 s a
#:   call) among them, do not fit one run's time budget.
QUERIES = (
    "tpch_q1", "tpch_q4", "tpch_q7", "tpch_q13", "tpch_q16", "tpch_q22",
    "events_state_streamed",
    "events_tumbling_streamed",
)

#: kvs_ops input: skewed (key, value) pairs.
KVS_PAIRS = 100_000
KVS_KEYS = 500
KVS_GROUPS = 8

#: kvs_ops step name -> per-layer metric name.
KVS_STEP_METRICS = {
    "map_py": "kvs.map_py_s",
    "map_expr": "kvs.map_expr_s",
    "shuffle": "kvs.shuffle_s",
    "reduce_py": "kvs.reduce_py_s",
    "reduce_expr": "kvs.reduce_expr_s",
    "sort": "kvs.sort_s",
    "ranking": "kvs.ranking_s",
    "scan_distributed": "reduce.scan_distributed_s",
    "scan_max_distributed": "reduce.scan_max_distributed_s",
    "ranking_per_group": "sort.ranking_per_group_s",
}


@dataclass
class Op:
    name: str
    call: Callable[[], Any]          # builds the result, running any eager jobs
    force: Callable[[Any], Any]      # the final action; returns the output
    check: Callable[[Any], str | None]  # None when the output is right


# ---------------------------------------------------------------- queries

def _canon(value: Any) -> Any:
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else round(value, 9)
    return value


def canonical_rows(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, floats rounded to 9 places with NaN as
    ``"NaN"``, rows sorted by ``repr`` -- the order-insensitive comparison
    of the repository's oracle tests (``normalize_rows`` in tests/conftest.py)."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(_canon(r[i]) for i in idx) for r in rows), key=repr)
    return [columns[i] for i in idx], out


class Oracle:
    """DuckDB over the same parquet files; each expected result is
    computed once per run, on first use."""

    def __init__(self, data_dir: str, sql: dict[str, str]):
        self.con = duckdb.connect()
        for path in sorted(glob.glob(f"{data_dir}/*.parquet")):
            name = path.rsplit("/", 1)[1][: -len(".parquet")]
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.sql = sql
        self._expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._expected:
            rel = self.con.execute(self.sql[name])
            cols = [d[0] for d in rel.description]
            self._expected[name] = canonical_rows(cols, rel.fetchall())
        return self._expected[name]

    def close(self) -> None:
        self.con.close()


def query_ops(spark, names: tuple[str, ...], data_dir: str,
              queries: dict[str, Callable], oracle: Oracle) -> list[Op]:
    def make(name: str) -> Op:
        fn = queries[name]

        def check(out) -> str | None:
            cols, rows = canonical_rows(*out)
            exp_cols, exp_rows = oracle.expected(name)
            if cols != exp_cols:
                return f"columns {cols} != oracle {exp_cols}"
            if rows != exp_rows:
                return f"{len(rows)} rows differ from the oracle's {len(exp_rows)}"
            return None

        return Op(
            name=name,
            call=lambda: fn(spark, data_dir),
            force=lambda df: (df.columns, [tuple(r) for r in df.collect()]),
            check=check,
        )

    return [make(n) for n in names]


# ---------------------------------------------------------------- kvs_ops

def make_pairs(seed: int, n: int = KVS_PAIRS, n_keys: int = KVS_KEYS) -> pd.DataFrame:
    """Skewed (key, value) pairs: Zipf-like key ranks over ``n_keys``
    keys, uniform values in [0, 1000)."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    keys = rng.choice(n_keys, size=n, p=weights / weights.sum())
    # shuffle which key ids are hot, so the seed also moves the skew
    keys = rng.permutation(n_keys)[keys]
    values = rng.integers(0, 1000, size=n)
    return pd.DataFrame({"key": keys.astype("int64"), "value": values.astype("int64")})


#: Fingerprint of a (key, value) table: order-insensitive sums.
_KV_PRINT_SQL = ("SELECT count(*), sum(key), sum(value), sum(key * value) "
                 "FROM ({q})")

#: DuckDB statement per step, over the view ``pairs``.
_EXPECTED_SQL = {
    "map": _KV_PRINT_SQL.format(q="SELECT key // 2 AS key, value * 3 + 1 AS value FROM pairs"),
    "shuffle": _KV_PRINT_SQL.format(q="SELECT * FROM pairs"),
    "reduce": _KV_PRINT_SQL.format(q="SELECT key, sum(value) AS value FROM pairs GROUP BY key"),
    "sort": "SELECT count(*), sum(key), sum(value), min(key), max(key) FROM pairs",
    "ranking": ("SELECT count(*), sum(r), sum(r * key) FROM (SELECT key, "
                "row_number() OVER (ORDER BY key) - 1 AS r FROM pairs)"),
    "scan": ("SELECT count(*), sum(s), sum(s * (key % 7)) FROM (SELECT key, "
             "coalesce(sum(value) OVER (ORDER BY key, value ROWS BETWEEN "
             "UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s FROM pairs)"),
    "scan_max": ("SELECT count(*), sum(coalesce(m, -1)), count(m) FROM (SELECT "
                 "max(value) OVER (ORDER BY key, value ROWS BETWEEN UNBOUNDED "
                 "PRECEDING AND 1 PRECEDING) AS m FROM pairs)"),
    "ranking_per_group": (
        f"SELECT count(*), sum(r * value), sum(n) FROM (SELECT value, "
        f"row_number() OVER (PARTITION BY key % {KVS_GROUPS} ORDER BY value) - 1 AS r, "
        f"count(*) OVER (PARTITION BY key % {KVS_GROUPS}) AS n FROM pairs)"),
}


def kvs_expected(pairs: pd.DataFrame) -> dict[str, tuple]:
    con = duckdb.connect()
    try:
        con.register("pairs", pairs)
        return {k: tuple(int(x) for x in con.execute(q).fetchone())
                for k, q in _EXPECTED_SQL.items()}
    finally:
        con.close()


def kvs_ops(spark, pairs_df, expected: dict[str, tuple]) -> list[Op]:
    """The KMR primitives driven directly through ``KVS`` and the
    reduce/sort operators, each forced by a small fingerprint aggregate."""
    from pyspark.sql import functions as F

    from kmr_spark.kvs import KVS
    from kmr_spark.operators import reduce as red
    from kmr_spark.operators import sort as so

    kvs = KVS(pairs_df)

    def kv_print(df):
        return df.agg(F.count("*"), F.sum("key"), F.sum("value"),
                      F.sum(F.col("key") * F.col("value")))

    def first_row(df) -> tuple:
        return tuple(int(x) if x is not None else None for x in df.collect()[0])

    def equals(key: str) -> Callable[[tuple], str | None]:
        return lambda got: None if got == expected[key] else f"{got} != oracle {expected[key]}"

    # nested so cloudpickle ships them by value to the Python workers
    def mapfn(k, v):
        return [(k // 2, v * 3 + 1)]

    def redfn(k, vs):
        return [(k, sum(vs))]

    def sort_force(k):
        parts = (k.df.groupBy(F.spark_partition_id().alias("p"))
                 .agg(F.min("key"), F.max("key"), F.count("*"),
                      F.sum("key"), F.sum("value")).collect())
        return sorted(tuple(int(x) for x in r) for r in parts)

    def sort_check(parts) -> str | None:
        for a, b in zip(parts, parts[1:]):
            if a[2] > b[1]:
                return f"partition {a[0]} ends at {a[2]} after {b[0]} starts at {b[1]}"
        got = (sum(p[3] for p in parts), sum(p[4] for p in parts),
               sum(p[5] for p in parts), min(p[1] for p in parts),
               max(p[2] for p in parts))
        return equals("sort")(got)

    def shuffle_force(k):
        row = (k.df.withColumn("p", F.spark_partition_id())
               .agg(F.count("*"), F.sum("key"), F.sum("value"),
                    F.sum(F.col("key") * F.col("value")),
                    F.countDistinct("p", "key"), F.countDistinct("key"))
               .collect()[0])
        return tuple(int(x) for x in row)

    def shuffle_check(got) -> str | None:
        if got[4] != got[5]:
            return f"{got[5]} keys spread over {got[4]} (partition, key) pairs"
        return equals("shuffle")(got[:4])

    grouped = pairs_df.withColumn("g", F.col("key") % KVS_GROUPS)
    steps = [
        Op("map_py", lambda: kvs.map(mapfn, schema="key long, value long"),
           lambda k: first_row(kv_print(k.df)), equals("map")),
        Op("map_expr", lambda: kvs.map_expr(F.floor(F.col("key") / 2).cast("long"),
                                            F.col("value") * 3 + 1),
           lambda k: first_row(kv_print(k.df)), equals("map")),
        Op("shuffle", lambda: kvs.shuffle(), shuffle_force, shuffle_check),
        Op("reduce_py", lambda: kvs.reduce(redfn, schema="key long, value long"),
           lambda k: first_row(kv_print(k.df)), equals("reduce")),
        Op("reduce_expr", lambda: kvs.reduce_expr(F.sum("value").alias("value")),
           lambda k: first_row(kv_print(k.df)), equals("reduce")),
        Op("sort", lambda: kvs.sort(), sort_force, sort_check),
        Op("ranking", lambda: kvs.ranking(),
           lambda df: first_row(df.agg(F.count("*"), F.sum("rank"),
                                       F.sum(F.col("rank") * F.col("key")))),
           equals("ranking")),
        Op("scan_distributed",
           lambda: red.scan_distributed(pairs_df, "value", ["key", "value"]),
           lambda df: first_row(df.agg(F.count("*"), F.sum("scan"),
                                       F.sum(F.col("scan") * (F.col("key") % 7)))),
           equals("scan")),
        Op("scan_max_distributed",
           lambda: red.scan_max_distributed(pairs_df, "value", ["key", "value"]),
           lambda df: first_row(df.agg(F.count("*"),
                                       F.sum(F.coalesce("scan_max", F.lit(-1))),
                                       F.count("scan_max"))),
           equals("scan_max")),
        Op("ranking_per_group",
           lambda: so.ranking_per_group(grouped, ["g"], [F.col("value")]),
           lambda df: first_row(df.agg(F.count("*"),
                                       F.sum(F.col("rank") * F.col("value")),
                                       F.sum("n_group"))),
           equals("ranking_per_group")),
    ]
    return steps
