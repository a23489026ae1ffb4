"""Join-key skew diagnostics — the profiling pass you run BEFORE
choosing a join strategy (broadcast / salt / AQE skew-join) at scale.

``skew_report_orders`` profiles the orders.o_custkey distribution the
way a shuffle planner sees it: per-key row counts folded into one
summary row — key cardinality, hottest-key share, and the Gini
coefficient of the key histogram (0 = perfectly even shuffle, ->1 =
one reducer owns the table). The repo's salted_join / AQE knobs
(operators/skew.py) consume exactly this signal.

Exactness: Gini uses the rank formula
G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n over counts sorted ascending —
rank-weighted INTEGER sums, one fixed float expression at the end, so
both engines emit the identical double. Ties in x contribute the same
sum regardless of their relative order, so the tie-break (key asc)
only pins determinism, not the value.

Scale shape: per-key counts are one map-side-combinable aggregate;
the rank comes from the repo's distributed exscan ``ranking`` operator
(KMR parity: kmr_ranking, reference src/kmrmoreops.c:764) — a range
partition + per-partition offsets, NO single-partition global window;
the final fold is |keys| -> 1 row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmr_spark.operators.sort import ranking
from kmr_spark.session import (load_tables, parquet_num_rows,
                               sized_shuffle_partitions)


def skew_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row skew profile of orders.o_custkey: n_keys, n_rows,
    max_cnt, avg_cnt, top1_share, gini."""
    orders = load_tables(spark, sf_dir)["orders"]
    # the rank sort runs over the |keys|-sized aggregate, not the table
    # (session-wide partitioning would fan 200 near-empty tasks); pinned
    # before the persist, which fixes the cache's width, and sized from
    # an upper bound on the keys: |customer|
    with sized_shuffle_partitions(
            spark, parquet_num_rows(sf_dir, "customer")):
        counts = orders.groupBy(F.col("o_custkey").alias("k")).agg(
            F.count("*").alias("cnt")).persist()
        try:
            ranked = ranking(counts, ["cnt", "k"], materialize=True)  # 0-based
        finally:
            counts.unpersist()
    n = F.count(F.lit(1))
    sx = F.sum("cnt")
    six = F.sum((F.col("rank") + 1) * F.col("cnt"))  # 1-based rank * x
    gini = (F.lit(2.0) * six.cast("double")) / (n.cast("double") * sx.cast("double")) \
        - (n.cast("double") + 1.0) / n.cast("double")
    return ranked.agg(
        n.alias("n_keys"),
        sx.alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        (sx.cast("double") / n.cast("double")).alias("avg_cnt"),
        (F.max("cnt").cast("double") / sx.cast("double")).alias("top1_share"),
        gini.alias("gini"),
    )


SKEW_REPORT_SQL = """
WITH counts AS (
  SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, k) AS r FROM counts)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       MAX(cnt) AS max_cnt,
       CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_cnt,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top1_share,
       (2.0 * CAST(SUM(r * cnt) AS DOUBLE))
         / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE))
         - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE)
           AS gini
FROM ranked
"""


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted equi-join cardinalities WITHOUT running the joins —
    the statistics pass a cost-based planner runs: |A ⋈ B| =
    sum over matching keys of cnt_A(k) * cnt_B(k), computed from the
    two per-key count tables. Reported for the schema's two big joins
    (orders⋈lineitem on orderkey, customer⋈orders on custkey) next to
    the build-side row counts a planner weighs them against.

    Scale shape: each count table is one map-side-combinable aggregate;
    the estimate join touches only key-table-sized inputs (|keys| ≪
    |rows|), so predicting a petabyte join costs two scans and a
    key-sized shuffle — exactly why planners use it.
    """
    t = load_tables(spark, sf_dir)

    def est(name, left, lk, right, rk):
        lc = left.groupBy(F.col(lk).alias("k")).agg(
            F.count("*").alias("cl"))
        rc = right.groupBy(F.col(rk).alias("k")).agg(
            F.count("*").alias("cr"))
        return (
            lc.join(rc, "k")
            # decimal product/sum: per-key count products can pass
            # int64 under heavy skew; DuckDB's HUGEINT sum is the twin
            .agg(F.sum(F.col("cl").cast("decimal(38,0)") * F.col("cr"))
                 .cast("long").alias("est_rows"),
                 F.count("*").alias("n_matching_keys"))
            .select(F.lit(name).alias("join_name"), "est_rows",
                    "n_matching_keys")
        )

    return est("orders_lineitem", t["orders"], "o_orderkey",
               t["lineitem"], "l_orderkey").unionByName(
        est("customer_orders", t["customer"], "c_custkey",
            t["orders"], "o_custkey")).orderBy("join_name")


JOIN_SIZE_SQL = """
WITH ol AS (
  SELECT CAST(SUM(a.cl * b.cr) AS BIGINT) AS est_rows,
         COUNT(*) AS n_matching_keys
  FROM (SELECT o_orderkey AS k, COUNT(*) AS cl FROM orders GROUP BY 1) a
  JOIN (SELECT l_orderkey AS k, COUNT(*) AS cr FROM lineitem GROUP BY 1) b
    USING (k)),
co AS (
  SELECT CAST(SUM(a.cl * b.cr) AS BIGINT) AS est_rows,
         COUNT(*) AS n_matching_keys
  FROM (SELECT c_custkey AS k, COUNT(*) AS cl FROM customer GROUP BY 1) a
  JOIN (SELECT o_custkey AS k, COUNT(*) AS cr FROM orders GROUP BY 1) b
    USING (k))
SELECT 'customer_orders' AS join_name, est_rows, n_matching_keys FROM co
UNION ALL
SELECT 'orders_lineitem' AS join_name, est_rows, n_matching_keys FROM ol
ORDER BY join_name
"""


def events_salted_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-join demonstration under the oracle gate: events (the
    big, potentially hot-keyed side) joined to a per-user spend dim via
    operators/skew.salted_join — the dim is replicated n_salts ways,
    every event picks a deterministic content-hash salt, and the join
    runs on (user_id, salt) so one viral user's rows spread across
    n_salts tasks instead of one straggler. A merge hint pins the
    sort-merge path (salting exists precisely for the
    broadcast-infeasible case; with broadcast available you would just
    broadcast). Salting is semantically transparent, so the oracle is
    the PLAIN join — the gate proves no rows are lost or duplicated by
    the rewrite. Output: per-event-type totals of joined dim values.
    """
    from kmr_spark.operators.skew import salted_join
    from kmr_spark.session import load_tables

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    dim = (ev.groupBy("user_id")
           .agg(F.sum("cents").alias("user_cents"),
                F.count("*").alias("user_events")))
    # the merge hint rides the BIG side (a hint on the dim would be
    # erased by the crossJoin replication inside salted_join)
    joined = salted_join(ev.hint("merge"), dim, "user_id", n_salts=8,
                         salt_cols=["event_id"])
    return (
        joined.groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("user_cents").alias("sum_user_cents"),
             F.sum("user_events").alias("sum_user_events"))
        .orderBy("event_type")
    )


SALTED_JOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
dim AS (
  SELECT user_id, CAST(SUM(cents) AS BIGINT) AS user_cents,
         COUNT(*) AS user_events
  FROM e GROUP BY user_id)
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(SUM(d.user_cents) AS BIGINT) AS sum_user_cents,
       CAST(SUM(d.user_events) AS BIGINT) AS sum_user_events
FROM e JOIN dim d USING (user_id)
GROUP BY e.event_type ORDER BY e.event_type
"""


QUERIES = {"skew_report_orders": skew_report_orders,
           "join_size_estimate": join_size_estimate,
           "events_salted_user_join": events_salted_user_join}
ORACLE_SQL = {"skew_report_orders": SKEW_REPORT_SQL,
              "join_size_estimate": JOIN_SIZE_SQL,
              "events_salted_user_join": SALTED_JOIN_SQL}
