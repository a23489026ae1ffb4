"""Custom aggregate (UDAF) surface: Arrow-batched grouped-agg
pandas_udf — the KMR redfn shape (whole value array per key, reference
src/kmrbase.c:2607 kmr_reduce9) for aggregates Spark can't express as
a single built-in.

``trimmed_mean`` needs the group's sorted value array (drop the top and
bottom tails, average the middle) — a classic robust statistic that is
NOT a one-pass algebraic aggregate. Spark's native route would be two
window passes + a filtered avg; the UDAF form is one grouped Arrow
transfer per key, which is the right trade when the group fits memory
(per-key arrays are exactly what kmr_reduce hands its redfn).

Scale note: grouped-agg pandas_udf holds ONE group's column in memory
per call — safe for keyed groups with bounded cardinality per key
(events per user/type); for corpus-sized groups use the two-pass
window form instead. That boundary is documented here on purpose.

UDAFs are created LAZILY (first call) rather than at import:
``@pandas_udf`` parses its return-type DDL through the active
SparkContext, and this module gets imported on executor workers when a
query pickles any same-package function by reference — at import time
a worker has no session and would crash with
SESSION_OR_CONTEXT_NOT_EXISTS.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from kmr_spark.operators.pyworker import skip_unchanged_zip_rereads

TRIM_FRAC = 0.1

_cache: dict[str, object] = {}


def _trimmed_mean_impl(v: pd.Series) -> float:
    skip_unchanged_zip_rereads()
    s = v.dropna().sort_values().reset_index(drop=True)
    n = len(s)
    if n == 0:
        return float("nan")
    k = int(n * TRIM_FRAC)
    if 2 * k >= n:
        k = 0
    return float(s.iloc[k:n - k].mean())


def _trimmed_sum_impl(v: pd.Series) -> int:
    skip_unchanged_zip_rereads()
    s = v.dropna().sort_values().reset_index(drop=True)
    n = len(s)
    if n == 0:
        return 0
    k = int(n * TRIM_FRAC)
    if 2 * k >= n:
        k = 0
    return int(s.iloc[k:n - k].sum())


def _arrow_count_impl(v: pd.Series) -> int:
    skip_unchanged_zip_rereads()
    return len(v)


def _udaf(name: str, impl, ddl: str):
    if name not in _cache:
        _cache[name] = pandas_udf(ddl)(impl)
    return _cache[name]


def trimmed_mean(col: Column) -> Column:
    """Mean of the middle (1 - 2*TRIM_FRAC) of the group's values:
    sort, drop floor(n*TRIM_FRAC) from each end, average the rest.
    Falls back to the plain mean for groups too small to trim."""
    return _udaf("trimmed_mean", _trimmed_mean_impl, "double")(col)


def trimmed_mean_col(col: Column) -> Column:
    """Aggregate-position column: ``df.groupBy(...).agg(trimmed_mean_col(F.col('v')))``."""
    return trimmed_mean(col)


def trimmed_sum(col: Column) -> Column:
    """INTEGER-EXACT trimmed sum: sort the group's (integer) values,
    drop floor(n*TRIM_FRAC) from each end, sum the middle.

    The oracle-friendly twin of :func:`trimmed_mean`: returning the
    integer SUM (and deriving the mean outside the UDAF as
    sum/n_kept) keeps the whole statistic exact across engines, where
    a float mean computed inside pandas (pairwise summation) could
    never be reproduced by an ANSI-SQL oracle.
    """
    return _udaf("trimmed_sum", _trimmed_sum_impl, "long")(col)


def trimmed_sum_col(col: Column) -> Column:
    """Aggregate-position column for :func:`trimmed_sum`."""
    return trimmed_sum(col)


def arrow_count(col: Column) -> Column:
    """Row count as a pandas UDAF. Exists because Spark refuses to mix
    group-aggregate pandas UDFs with JVM aggregates in one .agg()
    (INVALID_PANDAS_UDF_PLACEMENT) — any query aggregating through
    :func:`trimmed_sum` must take its counts through Arrow too."""
    return _udaf("arrow_count", _arrow_count_impl, "long")(col)
