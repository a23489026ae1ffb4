"""Robust statistics through the Python UDF surface — the KMR
mapfn/redfn shape (reference src/kmr.h:740-748 kmr_redfn_t; SURVEY.md
§2.9) exercised inside oracle-gated queries, not just unit tests.

Both queries keep the Arrow-crossing part INTEGER-exact (cents), so
the DuckDB oracle reproduces them bit-for-bit; doubles are derived
after aggregation with an identical expression in both engines.

Scale notes: groups are (event_type, day) — bounded per key, the
memory model both grouped-agg pandas UDFs (one group per Arrow batch)
and KVS.reduce's sorted-run redfn (one key's values at a time) require;
KMR's redfn has the same caveat, it too sees a key's full value array
in memory. For unbounded groups the two-pass expression forms in
plans/analytics.py are the right tool.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmr_spark.functions import udafs as U
from kmr_spark.kvs import KVS
from kmr_spark.session import load_tables


def events_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) 10%-trimmed mean of the value column via
    the grouped-agg pandas UDAF (AggregateInPandas — Arrow batch per
    group): drop the lowest/highest floor(n/10) cents, average the
    middle. The UDAF returns the exact integer trimmed SUM; count and
    mean derive outside it.
    """
    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(
        "event_type", F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    g = base.groupBy("event_type", "day").agg(
        U.trimmed_sum_col(F.col("cents")).alias("trim_sum_cents"),
        # count must cross Arrow too: Spark can't mix grouped-agg
        # pandas UDFs with JVM aggregates in one .agg()
        U.arrow_count(F.col("cents")).alias("n_events"))
    n_kept = F.expr("n_events - 2 * (n_events DIV 10)")
    return g.select(
        "event_type", "day", "n_events", "trim_sum_cents",
        n_kept.alias("n_kept"),
        (F.col("trim_sum_cents") / n_kept / F.lit(100.0))
        .alias("trimmed_mean"))


TRIMMED_MEAN_SQL = """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
r AS (
  SELECT event_type, day, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type, day
                            ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type, day) AS n
  FROM c)
SELECT event_type, day, n AS n_events,
       CAST(SUM(CASE WHEN rn > CAST(floor(n / 10.0) AS BIGINT)
                      AND rn <= n - CAST(floor(n / 10.0) AS BIGINT)
                     THEN cents ELSE 0 END) AS BIGINT) AS trim_sum_cents,
       CAST(n - 2 * CAST(floor(n / 10.0) AS BIGINT) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn > CAST(floor(n / 10.0) AS BIGINT)
                      AND rn <= n - CAST(floor(n / 10.0) AS BIGINT)
                     THEN cents ELSE 0 END) AS DOUBLE)
         / (n - 2 * CAST(floor(n / 10.0) AS BIGINT)) / 100.0
         AS trimmed_mean
FROM r GROUP BY event_type, day, n
"""


def _median_redfn(key, values):
    """KMR-style redfn: full value array per key -> exact integer
    median of cents (floor of the midpoint average for even counts)."""
    vs = sorted(values)
    n = len(vs)
    if n % 2:
        m = vs[n // 2]
    else:
        m = (vs[n // 2 - 1] + vs[n // 2]) // 2
    return [(key, m)]


def events_median_kvs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) exact integer median of cents through the
    KVS.reduce Arrow path (the kmr_reduce surface, reference
    src/kmrbase.c:2607): hash exchange on the key, sort within
    partitions, one MapInPandas function per partition that calls the
    redfn once per run of equal keys — the redfn receives the key's
    full value array, exactly like KMR's redfn.
    """
    ev = load_tables(spark, sf_dir)["events"]
    kvs = KVS.from_columns(
        ev,
        key=F.concat_ws("|", "event_type",
                        F.date_format("ts", "yyyy-MM-dd")),
        value=F.floor(F.col("value") * 100).cast("long"))
    out = kvs.reduce(_median_redfn, schema="key string, value long")
    return out.df.select(F.col("key").alias("type_day"),
                         F.col("value").alias("median_cents"))


MEDIAN_KVS_SQL = """
WITH c AS (
  SELECT event_type || '|' || strftime(CAST(ts AS DATE), '%Y-%m-%d')
           AS type_day,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
r AS (
  SELECT type_day, cents,
         ROW_NUMBER() OVER (PARTITION BY type_day ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY type_day) AS n
  FROM c)
SELECT type_day,
       CAST(floor(SUM(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2
                           THEN cents END)
                  / (CASE WHEN n % 2 = 1 THEN 1.0 ELSE 2.0 END))
            AS BIGINT) AS median_cents
FROM r GROUP BY type_day, n
"""


QUERIES = {
    "events_trimmed_mean": events_trimmed_mean,
    "events_median_kvs": events_median_kvs,
}
ORACLE_SQL = {
    "events_trimmed_mean": TRIMMED_MEAN_SQL,
    "events_median_kvs": MEDIAN_KVS_SQL,
}


import math as _math

from kmr_spark.operators.sample import _P_MOD, hash_bucket, sql_bucket

#: bootstrap replicas (fixed, deterministic)
BOOT_B = 32
#: Poisson(1) inverse-CDF thresholds on the hash's [0, _P_MOD) range,
#: computed ONCE in Python and quoted as integer literals by BOTH
#: engines (math.exp never runs inside either engine)
_POIS_CDF = []
_acc = 0.0
for _k in range(7):
    _acc += _math.exp(-1.0) / _math.factorial(_k)
    _POIS_CDF.append(int(_acc * _P_MOD))


def _boot_weight_spark(b: int):
    u = hash_bucket(F.col("event_id"), salt=1000 + b)
    w = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[k], F.lit(k)).otherwise(w)
    return w


def _boot_weight_sql(b: int) -> str:
    u = sql_bucket("event_id", salt=1000 + b)
    whens = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF))
    return f"(CASE {whens} ELSE {len(_POIS_CDF)} END)"


def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean value per
    event_type: BOOT_B replicas where every row gets an independent
    deterministic Poisson(1) weight (hash-seeded per replica), replica
    mean = Σw·cents / Σw — the SCALE-CORRECT bootstrap (Chamandy et
    al., "Estimating uncertainty for massive data streams", Google
    2012): no resampling shuffle, no row duplication, ONE pass with
    2·B map-side-combinable integer aggregates. ci = the 2nd-smallest /
    2nd-largest replica means (~94% coverage at B=32).

    Exactness: weights are integer CASE lookups on the portable hash
    (the Poisson inverse-CDF thresholds are Python-computed literals),
    replica sums are exact integers, each mean is one division, and
    both engines sort the same 32 doubles.
    """
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    aggs = [F.count("*").alias("n_events"),
            F.sum("cents").alias("s_all")]
    for b in range(BOOT_B):
        w = _boot_weight_spark(b)
        aggs.append(F.sum(w * F.col("cents")).alias(f"s{b}"))
        aggs.append(F.sum(w).alias(f"n{b}"))
    per_type = ev.groupBy("event_type").agg(*aggs)
    means = F.array_sort(F.array(*[
        (F.col(f"s{b}").cast("double") / F.col(f"n{b}").cast("double"))
        for b in range(BOOT_B)]))
    return (
        per_type.select(
            "event_type", "n_events",
            (F.col("s_all").cast("double") / F.col("n_events"))
            .alias("mean_cents"),
            F.element_at(means, 2).alias("boot_lo"),
            F.element_at(means, BOOT_B - 1).alias("boot_hi"))
        .orderBy("event_type")
    )


def _bootstrap_ci_sql() -> str:
    cols = ", ".join(
        f"CAST(SUM({_boot_weight_sql(b)} * cents) AS BIGINT) AS s{b},"
        f" CAST(SUM({_boot_weight_sql(b)}) AS BIGINT) AS n{b}"
        for b in range(BOOT_B))
    lst = ", ".join(
        f"CAST(s{b} AS DOUBLE) / CAST(n{b} AS DOUBLE)"
        for b in range(BOOT_B))
    return f"""
WITH e AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
agg AS (
  SELECT event_type, COUNT(*) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS s_all, {cols}
  FROM e GROUP BY event_type),
srt AS (
  SELECT event_type, n_events, s_all,
         list_sort([{lst}]) AS means
  FROM agg)
SELECT event_type, n_events,
       CAST(s_all AS DOUBLE) / n_events AS mean_cents,
       means[2] AS boot_lo, means[{BOOT_B - 1}] AS boot_hi
FROM srt ORDER BY event_type
"""


BOOTSTRAP_CI_SQL = _bootstrap_ci_sql()

QUERIES["events_bootstrap_ci"] = events_bootstrap_ci
ORACLE_SQL["events_bootstrap_ci"] = BOOTSTRAP_CI_SQL
