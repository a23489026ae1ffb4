"""RFM customer segmentation over orders.

The classic scoring rollup: each customer gets recency / frequency /
monetary quartile scores, and the output is the 4x4x4 segment census —
how many customers land in each (r, f, m) cell and the cell's total
spend.

Exactness: the recency quartile is cut on last-order-day DESC — the
identical total order to the oracle's "days before the dataset max
date ASC" without computing the max-date anchor (recency itself is not
in the output); frequency is an integer count, monetary a DECIMAL sum;
every quartile cut orders by (metric, o_custkey) so ranks are
total-ordered and both engines cut identically (exact NTILE
reconstruction, ntile_from_rank).

Scale shape: one per-customer aggregate (map-side combinable), then
ONE distributed exscan ranking of the metric-stacked customer table
(:func:`kmr_spark.operators.sort.ranking_per_group` — range-partition
sort + per-partition count exscan + JVM offset projection;
reference analog KMR's sampling sort, src/kmrmoreops.c:469-536) —
NOT three unpartitioned ntile windows, which would funnel every
customer through a single task. A custkey-keyed pivot aggregate and
the 64-cell census finish the job. At sf0.1 this costs ~3x the old
single-window wall clock (fixed sampling-sort/exscan job latency on a
15k-row table); at real customer counts the window form serializes
and this shape doesn't — the deliberate trade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kmr_spark.operators.sort import ntile_from_rank, ranking_per_group
from kmr_spark.session import (load_tables, materialize_release,
                               parquet_num_rows, sized_shuffle_partitions)


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir)["orders"]
    # size from |customer| (the stack below is 3x customers); orders is
    # ~10x customers in TPC-H and would over-widen the toy-sf shuffles.
    # The pin also encloses pc0's persist, which fixes that cache's width.
    n_cust = parquet_num_rows(sf_dir, "customer")
    if n_cust is None:
        n_cust = parquet_num_rows(sf_dir, "orders")
    with sized_shuffle_partitions(
            spark, n_rows=3 * n_cust if n_cust else None):
        pc0 = (
            orders.groupBy("o_custkey")
            .agg(F.max(F.to_date("o_orderdate")).alias("last_day"),
                 F.count("*").alias("freq"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # No blocking stats job: the recency QUARTILE of a customer is
        # rank-derived, and ranking by recency ASC (days before the
        # dataset max date, the oracle's spelling) is the same total order
        # as ranking by last_day DESC — the max-date anchor shifts every
        # recency by the same constant and the tiebreak (o_custkey) is
        # unchanged, so the anchor never needs computing (recency itself
        # is not in the output). Encode the DESC order by negating the
        # epoch day number. The shuffle width is sized from the
        # customer table's parquet METADATA row count (no job; the stack
        # is 3x|customers| rows).
        per_cust = pc0.select(
            "o_custkey",
            (-F.datediff("last_day", F.lit("1970-01-01")).cast("long"))
            .alias("neg_day"),
            "freq", "mon")

        # ONE exscan ranking for all three metrics: stack the customer
        # table three times tagged by metric, encode the two DESC orders
        # by negation (strictly monotone, tie-preserving), and rank with
        # metric as the group key. One sort + one tiny count-collect + one
        # offset projection instead of three of each — same distributed
        # shape (each metric's ranks spread over the whole cluster), ~3x
        # cheaper in fixed job cost. The whole rank-to-census pipeline runs
        # under a row-count-sized shuffle width: at sf0.1 the 3x|customers|
        # stack is ~45k rows and 32-wide shuffles are pure task overhead; at
        # real scale the formula clamps back to the session default, so the
        # distributed shape is unchanged (see sized_shuffle_partitions).
        sk = lambda c: c.cast("decimal(18,2)").alias("sk")
        stacked = (
            per_cust.select(F.lit("r").alias("metric"), "o_custkey",
                            sk(F.col("neg_day")))
            .unionAll(per_cust.select(F.lit("f").alias("metric"), "o_custkey",
                                      sk(-F.col("freq"))))
            .unionAll(per_cust.select(F.lit("m").alias("metric"), "o_custkey",
                                      sk(-F.col("mon"))))
        )
        caches: list[DataFrame] = []
        ranked = ranking_per_group(
            stacked, ["metric"],
            [F.col("sk").asc(), F.col("o_custkey").asc()],
            cache_registry=caches)
        score = ntile_from_rank(F.col("rank") + F.lit(1), F.col("n_group"), 4)
        scored = (
            ranked.select("metric", "o_custkey", "sk", score.alias("q"))
            .groupBy("o_custkey")
            .agg(F.max(F.when(F.col("metric") == "r", F.col("q"))).alias("r"),
                 F.max(F.when(F.col("metric") == "f", F.col("q"))).alias("f"),
                 F.max(F.when(F.col("metric") == "m", F.col("q"))).alias("m"),
                 F.max(F.when(F.col("metric") == "m", -F.col("sk")))
                 .alias("mon"))
        )
        out = (
            scored.groupBy("r", "f", "m")
            .agg(F.count("*").alias("n_customers"),
                 F.sum("mon").cast("double").alias("total_spend"))
            .orderBy("r", "f", "m")
        )
        # materialize INSIDE the sized block: localCheckpoint executes
        # the plan, so the final pass must run at the pinned width too
        return materialize_release(out, pc0, *caches)


RFM_SQL = """
WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
per_cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                        (SELECT d FROM maxd)) AS BIGINT) AS recency_days,
         COUNT(*) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT o_custkey, mon,
         CAST(NTILE(4) OVER (ORDER BY recency_days ASC, o_custkey ASC)
              AS BIGINT) AS r,
         CAST(NTILE(4) OVER (ORDER BY freq DESC, o_custkey ASC)
              AS BIGINT) AS f,
         CAST(NTILE(4) OVER (ORDER BY mon DESC, o_custkey ASC)
              AS BIGINT) AS m
  FROM per_cust)
SELECT r, f, m, COUNT(*) AS n_customers,
       CAST(SUM(mon) AS DOUBLE) AS total_spend
FROM scored GROUP BY r, f, m ORDER BY r, f, m
"""


QUERIES = {"orders_rfm_segments": orders_rfm_segments}
ORACLE_SQL = {"orders_rfm_segments": RFM_SQL}
