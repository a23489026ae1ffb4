"""Aggregation-family operators (reference: kmr_reduce and friends,
SURVEY.md §2.5).

KMR's redfn sees *all* values of a key at once (kmr_redfn_t, reference
src/kmr.h:740-748). KMR gets there by sorting each rank's pairs and
calling the redfn once per run of equal keys (kmr_reduce_nothreading,
src/kmrbase.c:2371-2676); :func:`reduce_pairs` does the same over one
hash exchange, a sort within partitions and one ``mapInPandas``
function per partition, so one key's values are in memory at a time.
But most real aggregations are expressible, and the expressible path
gets map-side partial aggregation for free (KMR's "reduce without
shuffle is a combiner" idiom, src/kmrbase.c:2590-2604, is automatic in
HashAggregateExec).

The distributed prefix scans (:func:`scan_distributed`,
:func:`scan_max_distributed`) are the sum and max cases of the one
exscan core in ``operators/sort.py`` (``_exscan``), which also ranks.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DataType, IntegralType

from kmr_spark.operators.pyworker import skip_unchanged_zip_rereads
from kmr_spark.operators.sort import _exscan


def _null_free(name: str, dtype: DataType) -> tuple[Column, str | None]:
    """(column with NULLs filled, pandas dtype of a run that had NULLs).

    pandas turns a nullable integral or boolean Arrow column into
    float64/object only when the column holds a NULL. Filling those
    NULLs before Arrow (the NULL flag travels beside) keeps a batch's
    dtype independent of its other keys, and values above 2**53 exact;
    each run gets back the dtype a one-group Arrow batch would have.
    """
    if isinstance(dtype, IntegralType):
        return F.coalesce(F.col(name), F.lit(0).cast(dtype)), "float64"
    if isinstance(dtype, BooleanType):
        return F.coalesce(F.col(name), F.lit(False)), "object"
    return F.col(name), None


def reduce_pairs(
    df: DataFrame,
    fn: Callable[[Any, list[Any]], list[tuple[Any, Any]]],
    schema: str = "key long, value long",
    key: str = "key",
    value: str = "value",
) -> DataFrame:
    """Arbitrary redfn over the full value array of each key
    (kmr_reduce, src/kmrbase.c:2607-2676).

    KMR's sorted-run algorithm (kmr_reduce_nothreading,
    src/kmrbase.c:2371-2676): one hash exchange on the key, a sort
    within partitions, then one ``mapInPandas`` function per partition
    that walks the sorted Arrow batches, detects runs of equal keys
    (also across batch boundaries) and calls ``fn(key, values)`` once
    per run. Same memory model as KMR: one key's values (plus the
    current batch) are in memory at a time. NULL keys form one group.
    The redfn gets a key and its values typed as pandas types a column
    holding only that key's rows: a NULL in a long column arrives as
    NaN and turns that key's values (only) into floats. The output
    pairs of all runs that end in one input batch leave as one frame.
    """
    names = [f.split()[0].strip() for f in schema.split(",")][:2]
    key_col, key_nulls = _null_free(key, df.schema[key].dataType)
    val_col, val_nulls = _null_free(value, df.schema[value].dataType)
    runs = df.repartition(key).sortWithinPartitions(key).select(
        key_col.alias("k"), F.col(key).isNull().alias("k_null"),
        val_col.alias("v"), F.col(value).isNull().alias("v_null"))

    def same_key(a: np.ndarray, a_null: np.ndarray,
                 b: np.ndarray, b_null: np.ndarray) -> np.ndarray:
        """Elementwise "a and b are one key", as Spark groups: NULL
        equals only NULL, and NaN equals NaN."""
        eq = a == b
        if a.dtype.kind == "f":
            eq |= np.isnan(a) & np.isnan(b)
        return np.where(a_null | b_null, a_null & b_null, eq)

    def as_group(col: pd.Series, nulls: np.ndarray, dtype: str | None) -> pd.Series:
        if dtype is None or not nulls.any():
            return col
        return col.astype(dtype).where(~nulls, None)

    def call(k: Any, pieces: list[tuple[pd.Series, np.ndarray]], out: list) -> None:
        vals, nulls = pieces[0]
        if len(pieces) > 1:
            vals = pd.concat([p for p, _ in pieces])
            nulls = np.concatenate([n for _, n in pieces])
        out.extend(fn(k, as_group(vals, nulls, val_nulls).tolist()))

    def reduce_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        # the open run: its key, and its values per batch it spans
        run_key, pieces, last = None, [], None
        for pdf in batches:
            if pdf.empty:
                continue
            kcol, v = pdf["k"], pdf["v"]
            k, kn, vn = kcol.to_numpy(), pdf["k_null"].to_numpy(), pdf["v_null"].to_numpy()
            starts = np.flatnonzero(~same_key(k[:-1], kn[:-1], k[1:], kn[1:])) + 1
            cuts = [0, *starts.tolist(), len(pdf)]
            out: list = []
            for lo, hi in zip(cuts, cuts[1:]):
                if lo or last is None or not same_key(*last, k[:1], kn[:1])[0]:
                    if pieces:
                        call(run_key, pieces, out)
                    run_key = as_group(kcol.iloc[lo:lo + 1], kn[lo:lo + 1],
                                       key_nulls).iloc[0]
                    pieces = []
                pieces.append((v.iloc[lo:hi], vn[lo:hi]))
            last = (k[-1:], kn[-1:])
            if out:
                yield pd.DataFrame(out, columns=names)
        out = []
        if pieces:
            call(run_key, pieces, out)
        if out:
            yield pd.DataFrame(out, columns=names)

    return runs.mapInPandas(reduce_runs, schema=schema)


def reduce_expr(df: DataFrame, aggs: list[Column], key: str = "key") -> DataFrame:
    """Expression-based reduce — the fast path (JVM partial aggregation)."""
    return df.groupBy(key).agg(*aggs)


def reduce_as_one(df: DataFrame, aggs: list[Column]) -> DataFrame:
    """Whole-input single group (kmr_reduce_as_one, src/kmrbase.c:2683)."""
    return df.agg(*aggs)


def count_keys(df: DataFrame, key: str = "key") -> DataFrame:
    """(key, count) — kmr_count_keys (src/kmrmoreops.c:1009-1024).
    Spark does the local-combine + final-sum split automatically."""
    return df.groupBy(key).agg(F.count("*").alias("count"))


def get_element_count(df: DataFrame) -> int:
    """Global COUNT(*) (kmr_get_element_count, src/kmrmoreops.c:114)."""
    return df.count()


def scan_locally(df: DataFrame, value: str = "value", partition_by: str | None = None,
                 order: list[str | Column] | None = None) -> DataFrame:
    """Non-inclusive running sum within a partition-group
    (kmr_scan_locally, src/kmrbase.c:2962-3021).

    KMR scans in local insertion order; Spark needs an explicit order.
    """
    w = Window.orderBy(*(order or [value]))
    if partition_by:
        w = Window.partitionBy(partition_by).orderBy(*(order or [value]))
    w = w.rowsBetween(Window.unboundedPreceding, -1)
    return df.withColumn("scan", F.coalesce(F.sum(value).over(w), F.lit(0)))


def scan_on_values(df: DataFrame, value: str = "value",
                   order: list[str | Column] | None = None) -> DataFrame:
    """Global non-inclusive prefix sum + grand total
    (kmr_scan_on_values, src/kmrmoreops.c:943-972).

    Scale note: a single global window is one partition; for the 100 TB
    path use the two-phase form KMR itself uses — per-partition totals,
    driver-side exclusive scan of the (tiny) totals, seed-carrying local
    scans. That is exactly ``ranking``'s implementation strategy; here
    the window form is kept because prefix scans in queries are almost
    always per-group (see scan_locally), and the global form is a
    parity/debug surface.
    """
    w = Window.orderBy(*(order or [value])).rowsBetween(Window.unboundedPreceding, -1)
    total = df.agg(F.sum(value).alias("total"))
    return (
        df.withColumn("scan", F.coalesce(F.sum(value).over(w), F.lit(0)))
        .crossJoin(F.broadcast(total))
    )


def scan_distributed(df: DataFrame, value: str | list[str],
                     order: list[str | Column]) -> DataFrame:
    """Global NON-INCLUSIVE prefix sum at scale: the sum case of the
    one exscan core, :func:`kmr_spark.operators.sort._exscan` (KMR's
    MPI_Exscan over per-rank totals, src/kmrmoreops.c:943) — range
    sort, per-partition sums, driver exscan, and the in-partition
    running sum from a window partitioned by the sort's partition id.

    No single-partition global window anywhere, so this is the form
    that survives 100 TB (scan_on_values stays as the windowed
    parity/debug surface). The measure columns must be integral —
    float prefix sums would be partition-order-dependent. One ``scan``
    column, or ``scan_<value>`` per column when ``value`` is a list.
    NULL measures are skipped, as SQL's ``SUM`` skips them: a NULL row
    adds 0 to the rows after it, and so does a partition whose
    measures are all NULL. The result is materialized before returning
    (the core's partition-id caveat), so callers can compose it freely.
    """
    values = [value] if isinstance(value, str) else list(value)
    names = [f"scan_{v}" if len(values) > 1 else "scan" for v in values]
    return _exscan(df, order, "sum", measures=values, names=names,
                   materialize=True)


def scan_max_distributed(df: DataFrame, value: str,
                         order: list[str | Column]) -> DataFrame:
    """Global NON-INCLUSIVE prefix MAX at scale: the max case of the
    exscan core (KMR's MPI_Exscan accepts any op; src/kmrmoreops.c:943).
    Powers watermark-lateness audits: "the largest timestamp seen
    BEFORE this row arrived".

    The measure must be integral; the result column is ``scan_max``
    (nullable long), materialized before returning. NULL measures are
    skipped, and a row with no non-NULL measure before it — the first
    row in the global order above all — gets NULL (max has no integer
    identity the data can't collide with).
    """
    return _exscan(df, order, "max", measures=[value], names=["scan_max"],
                   materialize=True)
