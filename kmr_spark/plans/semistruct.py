"""Semi-structured (JSON) extraction and rank analytics.

The events table carries a JSON ``props`` column — the shape every
real event pipeline has. Parsing happens at the scan with built-in
JSON path extraction (JVM codegen, no Python), so Catalyst still
prunes columns and pushes filters; at 100 TB the alternative (a UDF
parse) would dominate the query.

Rank analytics (quartiles / percent_rank / cume_dist per event_type)
deliberately avoid ``Window.partitionBy("event_type")``: with ~5
event types the whole table would funnel through 5 tasks. Instead
ranks come from the distributed exscan
(:func:`kmr_spark.operators.sort.ranking_per_group` — range-partition
by (type, key), per-(partition, type) count exscan, JVM offset
projection; reference analog: KMR's sampling-sort splitters,
src/kmrmoreops.c:469-536,764-805), and NTILE is reconstructed exactly
from (rank, group size) via
:func:`kmr_spark.operators.sort.ntile_from_rank`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmr_spark.operators.sort import ntile_from_rank, ranking_per_group
from kmr_spark.session import load_tables


def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type stats over the JSON `k` property: count, sum, min/max,
    per exact NTILE(4) quartile of k within the type.

    All output columns are int64 in BOTH engines (the oracle CASTs its
    SUM and NTILE, which DuckDB would otherwise widen to HUGEINT /
    keep at window-default width — the round-3 hash-fail cause).
    """
    ev = load_tables(spark, sf_dir)["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    parsed = ev.select("event_id", "event_type", k.alias("k")).filter(
        F.col("k").isNotNull())
    caches: list[DataFrame] = []
    # persist_input: the range sampler would otherwise run the JSON
    # parse twice (sample pass + shuffle pass)
    ranked = ranking_per_group(
        parsed, ["event_type"], [F.col("k").asc(), F.col("event_id").asc()],
        cache_registry=caches, persist_input=True)
    rn = F.col("rank") + F.lit(1)
    quartile = ntile_from_rank(rn, F.col("n_group"), 4)
    out = (
        ranked.select("event_type", "k", quartile.alias("quartile"))
        .groupBy("event_type", "quartile")
        .agg(F.count("*").alias("n"),
             F.sum("k").alias("k_sum"),
             F.min("k").alias("k_min"),
             F.max("k").alias("k_max"))
        .orderBy("event_type", "quartile")
    )
    from kmr_spark.session import materialize_release

    return materialize_release(out, *caches)


EVENTS_PROPS_SQL = """
WITH parsed AS (
  SELECT event_id, event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
  WHERE json_extract(props, '$.k') IS NOT NULL),
ranked AS (
  SELECT event_type, k,
         CAST(NTILE(4) OVER (PARTITION BY event_type
                             ORDER BY k ASC, event_id ASC) AS BIGINT)
           AS quartile
  FROM parsed)
SELECT event_type, quartile, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS k_sum, MIN(k) AS k_min, MAX(k) AS k_max
FROM ranked GROUP BY event_type, quartile
ORDER BY event_type, quartile
"""


def events_value_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type percent_rank / cume_dist of each user's total value,
    summarized per decile (order-insensitive aggregates over exact
    rank results, so the oracle is exact).

    percent_rank = rank0/(n-1) and cume_dist = (rank0+1)/n are
    rebuilt from the exscan rank — the (event_id-tiebroken) order is
    total, so window RANK == ROW_NUMBER and both formulas reproduce
    the window functions' IEEE doubles bit-for-bit.
    """
    ev = load_tables(spark, sf_dir)["events"]
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"))
    caches: list[DataFrame] = []
    ranked = ranking_per_group(
        per_user, ["event_type"],
        [F.col("total_dec").asc(), F.col("user_id").asc()],
        cache_registry=caches, persist_input=True)
    n = F.col("n_group")
    pr = F.when(n > 1, F.col("rank") / (n - F.lit(1))).otherwise(F.lit(0.0))
    cd = (F.col("rank") + F.lit(1)) / n
    decile = F.floor(pr * 10).cast("long")
    out = (
        ranked.select("event_type", decile.alias("decile"), cd.alias("cd"))
        .groupBy("event_type", "decile")
        .agg(F.count("*").alias("n_users"), F.max("cd").alias("max_cume"))
        .orderBy("event_type", "decile")
    )
    from kmr_spark.session import materialize_release

    return materialize_release(out, *caches)


EVENTS_VALUE_RANK_SQL = """
WITH per_user AS (
  SELECT event_type, user_id,
         SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
  FROM events GROUP BY event_type, user_id),
ranked AS (
  SELECT event_type, user_id,
         PERCENT_RANK() OVER (PARTITION BY event_type
                              ORDER BY total_dec ASC, user_id ASC) AS pr,
         CUME_DIST() OVER (PARTITION BY event_type
                           ORDER BY total_dec ASC, user_id ASC) AS cd
  FROM per_user)
SELECT event_type, CAST(FLOOR(pr * 10) AS BIGINT) AS decile,
       COUNT(*) AS n_users, MAX(cd) AS max_cume
FROM ranked GROUP BY event_type, decile
ORDER BY event_type, decile
"""


QUERIES = {
    "events_props_extract": events_props_extract,
    "events_value_rank": events_value_rank,
}
ORACLE_SQL = {
    "events_props_extract": EVENTS_PROPS_SQL,
    "events_value_rank": EVENTS_VALUE_RANK_SQL,
}


def events_props_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema inventory over the props column: which keys exist,
    how often, and what share of events carry each — the discovery
    query every semi-structured ingest runs before declaring a schema.

    ``from_json`` to map<string,string> + explode keeps key extraction
    JVM-side; output is |distinct keys|-sized.
    """
    ev = load_tables(spark, sf_dir)["events"].filter(
        F.col("props").isNotNull())
    n_events = ev.groupBy().agg(F.count("*").alias("n_events"))
    keys = ev.select(
        F.explode(F.map_keys(F.from_json("props", "map<string,string>")))
        .alias("key"))
    return (
        keys.groupBy("key").agg(F.count("*").alias("n_present"))
        .crossJoin(F.broadcast(n_events))
        .select("key", "n_present", "n_events",
                F.expr("(1000 * n_present) DIV n_events")
                .alias("present_permille"))
    )


PROPS_SCHEMA_SQL = """
WITH e AS (SELECT props FROM events WHERE props IS NOT NULL),
n AS (SELECT COUNT(*) AS n_events FROM e),
k AS (SELECT unnest(json_keys(props)) AS key FROM e)
SELECT key, COUNT(*) AS n_present,
       (SELECT n_events FROM n) AS n_events,
       (1000 * COUNT(*)) // (SELECT n_events FROM n) AS present_permille
FROM k GROUP BY key
"""


QUERIES["events_props_schema_infer"] = events_props_schema_infer
ORACLE_SQL["events_props_schema_infer"] = PROPS_SCHEMA_SQL


SCHEMA_DRIFT_CUTOFF = "2024-01-16"


def events_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift detector over the JSON props column: per key, the
    row counts and per-period presence shares before/after the cutoff,
    plus appeared/disappeared flags — the alert that catches a
    producer silently renaming a field mid-stream (the incremental
    companion to events_props_schema_infer's static inventory).

    Integer-exact: counts and permille shares (integer DIV by the
    period row totals, broadcast scalars). One keyed aggregate over
    exploded keys; key cardinality is schema-sized, so the final
    census is tiny.
    """
    ev = load_tables(spark, sf_dir)["events"].filter(
        F.col("props").isNotNull())
    keyed = ev.select(
        (F.to_date("ts") >= F.lit(SCHEMA_DRIFT_CUTOFF)).alias("post"),
        F.explode(F.map_keys(
            F.from_json("props", "map<string,string>"))).alias("key"))
    totals = ev.groupBy().agg(
        F.count(F.when(F.to_date("ts") < F.lit(SCHEMA_DRIFT_CUTOFF), 1))
        .alias("rows_pre"),
        F.count(F.when(F.to_date("ts") >= F.lit(SCHEMA_DRIFT_CUTOFF), 1))
        .alias("rows_post"))
    return (
        keyed.groupBy("key")
        .agg(F.count(F.when(~F.col("post"), 1)).alias("n_pre"),
             F.count(F.when(F.col("post"), 1)).alias("n_post"))
        .crossJoin(F.broadcast(totals))
        .select(
            "key", "n_pre", "n_post",
            F.expr("(n_pre * 1000) DIV rows_pre").alias("share_pre_permille"),
            F.expr("(n_post * 1000) DIV rows_post")
            .alias("share_post_permille"),
            ((F.col("n_pre") == 0) & (F.col("n_post") > 0)).alias("appeared"),
            ((F.col("n_pre") > 0) & (F.col("n_post") == 0))
            .alias("disappeared"))
        .orderBy("key")
    )


SCHEMA_DRIFT_SQL = f"""
WITH e AS (
  SELECT props, CAST(ts AS DATE) >= DATE '{SCHEMA_DRIFT_CUTOFF}' AS post
  FROM events WHERE props IS NOT NULL),
keyed AS (
  SELECT post, unnest(json_keys(props)) AS key FROM e),
totals AS (
  SELECT COUNT(CASE WHEN NOT post THEN 1 END) AS rows_pre,
         COUNT(CASE WHEN post THEN 1 END) AS rows_post
  FROM e)
SELECT key,
       COUNT(CASE WHEN NOT post THEN 1 END) AS n_pre,
       COUNT(CASE WHEN post THEN 1 END) AS n_post,
       (COUNT(CASE WHEN NOT post THEN 1 END) * 1000) // rows_pre
         AS share_pre_permille,
       (COUNT(CASE WHEN post THEN 1 END) * 1000) // rows_post
         AS share_post_permille,
       COUNT(CASE WHEN NOT post THEN 1 END) = 0
         AND COUNT(CASE WHEN post THEN 1 END) > 0 AS appeared,
       COUNT(CASE WHEN NOT post THEN 1 END) > 0
         AND COUNT(CASE WHEN post THEN 1 END) = 0 AS disappeared
FROM keyed CROSS JOIN totals
GROUP BY key, rows_pre, rows_post ORDER BY key
"""


QUERIES["events_schema_drift"] = events_schema_drift
ORACLE_SQL["events_schema_drift"] = SCHEMA_DRIFT_SQL
