"""Customer/user valuation analytics: decayed lifetime value, Pareto
revenue concentration, and rank correlation between engagement and
spend — the census trio behind "who matters and do our metrics agree".

Exactness recipes (this repo's standard kit):
- decay weights are transcendental (0.97^age) so they are precomputed
  in Python ONCE and emitted as literals into both engines (the HLL
  linear-counting trick); per-event contributions are then quantized
  (floor(cents * w * 1e6)) so the corpus-sized sum is integer-exact.
- Pareto cumulative shares ride the distributed two-phase exscan
  (operators/reduce.scan_distributed, multi-measure form) — no global
  window; the only floats are final divisions by the grand total.
- Spearman's rho uses the tie-broken row_number variant: ranks from
  the distributed ranking operator, Σd² integer, one closed-form
  float expression at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmr_spark.session import load_tables

DECAY = 0.97          # per-day retention of value
DECAY_Q = 1_000_000   # quantization of cents * weight
US_PER_DAY = 86_400 * 1_000_000
#: decay-table size: ages clamp here (0.97^400 ~ 5e-6 — value floor);
#: a FIXED cap keeps the weight table a static literal in both engines
MAX_AGE_DAYS = 400


def _decay_weights(max_age: int) -> list[float]:
    w, out = 1.0, []
    for _ in range(max_age + 1):
        out.append(w)
        w *= DECAY
    return out


def events_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed user value: each event contributes
    value-cents * DECAY^age_days (age relative to the newest event in
    the log); per user the event count and the decayed total. The
    recency-weighted LTV every growth dashboard shows.

    Plan: one tiny max(ts) collect (replicated state), then a single
    map-side-combinable aggregate over a narrow expression — the decay
    table rides the plan as a literal array, so the corpus pass is
    pure codegen with zero joins and zero shuffles beyond the user
    aggregate."""
    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100).alias("c"))
    ref_us = ev.agg(F.max("us")).first()[0]  # replicated scalar state
    weights = _decay_weights(MAX_AGE_DAYS)
    w_arr = F.array(*[F.lit(w) for w in weights])
    age = F.least(
        ((F.lit(ref_us) - F.col("us")) / F.lit(US_PER_DAY)).cast("long"),
        F.lit(MAX_AGE_DAYS))
    q = F.floor(F.col("c")
                * F.element_at(w_arr, (age + 1).cast("int")) * DECAY_Q)
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.sum(q.cast("decimal(38,0)")).alias("sq"))
        .select("user_id", "n_events",
                (F.col("sq").cast("double") / DECAY_Q)
                .alias("decayed_cents"))
        .orderBy("user_id")
    )


def _decayed_value_sql() -> str:
    weights = _decay_weights(MAX_AGE_DAYS)
    lits = ", ".join(f"CAST({w!r} AS DOUBLE)" for w in weights)
    return f"""
WITH ref AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events),
ev AS (
  SELECT user_id,
         CAST(floor(value * 100) AS BIGINT) AS c,
         least(CAST((ref.ref_us - epoch_us(ts)) // {US_PER_DAY} AS BIGINT),
               {MAX_AGE_DAYS}) AS age
  FROM events, ref)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(c * ([{lits}])[age + 1] * {DECAY_Q})
                     AS HUGEINT)) AS DOUBLE) / {DECAY_Q} AS decayed_cents
FROM ev GROUP BY user_id ORDER BY user_id
"""


DECAYED_VALUE_SQL = _decayed_value_sql()


def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) census: customers sorted by
    revenue descending, folded into deciles — per decile the customer
    count, its revenue, and the cumulative revenue share at the
    decile's end (the "top 10% drive X%" number).

    Plan: per-customer cents (one aggregate), then the pure-codegen
    distributed ranking (0-based rank = the old exscan's ``scan_one``)
    feeds the decile rollup directly; the cumulative revenue at each
    decile's END equals the running total of the per-decile sums, so
    the cumsum runs over the 10-row census (an unpartitioned window at
    its correct size class), not per customer — the per-row cumulative
    exscan pass disappears entirely (guide §1.2/§4.1)."""
    from pyspark.sql import Window

    from kmr_spark.operators.sort import ranking
    from kmr_spark.session import (materialize_release, parquet_num_rows,
                                   sized_shuffle_partitions)

    orders = load_tables(spark, sf_dir)["orders"]
    # pinned before the persist, which fixes the cache's width, and
    # sized from an upper bound on rev: one row per customer
    with sized_shuffle_partitions(
            spark, parquet_num_rows(sf_dir, "customer")):
        rev = orders.groupBy(F.col("o_custkey").alias("k")).agg(
            F.sum(F.floor(F.col("o_totalprice") * 100)).alias("r")).persist()
        try:
            n = rev.count()
            reg: list[DataFrame] = []
            ranked = ranking(rev, [F.col("r").desc(), F.col("k")],
                             cache_registry=reg)
            by_dec = (
                ranked.select(F.expr(f"(rank * 10) DIV {n}").alias("decile"),
                              "r")
                .groupBy("decile")
                .agg(F.count("*").alias("n_customers"),
                     F.sum("r").alias("decile_rev_cents"))
            )
            wcum = (Window.orderBy("decile")
                    .rowsBetween(Window.unboundedPreceding, 0))
            wall = (Window.orderBy("decile")
                    .rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing))
            out = by_dec.select(
                "decile", "n_customers", "decile_rev_cents",
                (F.sum("decile_rev_cents").over(wcum).cast("double")
                 / F.sum("decile_rev_cents").over(wall)).alias("cum_share")
            ).orderBy("decile")
            return materialize_release(out, *reg)
        finally:
            rev.unpersist()


PARETO_SQL = """
WITH rev AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT k, r,
         ROW_NUMBER() OVER (ORDER BY r DESC, k) - 1 AS rank0,
         SUM(r) OVER (ORDER BY r DESC, k
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_r
  FROM rev),
tot AS (SELECT SUM(r) AS tot, COUNT(*) AS n FROM rev)
SELECT CAST((rank0 * 10) // t.n AS BIGINT) AS decile,
       COUNT(*) AS n_customers,
       CAST(SUM(r) AS BIGINT) AS decile_rev_cents,
       CAST(MAX(cum_r) AS DOUBLE) / t.tot AS cum_share
FROM ranked, tot t
GROUP BY decile, t.tot
ORDER BY decile
"""


def users_spearman_freq_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a user's event FREQUENCY and
    total VALUE (tie-broken row_number variant — ties ordered by
    user_id, documented): do the engagement and spend metrics rank
    users the same way? One summary row (n_users, sum_d2, rho).

    Plan: per-user aggregate, then TWO distributed ranking passes
    (range sort + exscan offsets — no global windows) joined on user,
    integer Σd², closed-form rho."""
    from kmr_spark.operators.sort import ranking
    from kmr_spark.session import parquet_num_rows, sized_shuffle_partitions

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", F.floor(F.col("value") * 100).alias("c"))
    # pinned before the persist, which fixes the cache's width, and
    # sized from an upper bound on the users: |events|
    with sized_shuffle_partitions(spark, parquet_num_rows(sf_dir, "events")):
        per_user = ev.groupBy("user_id").agg(
            F.count("*").alias("f"), F.sum("c").alias("m")).persist()
        try:
            n = per_user.count()
            rf = ranking(per_user, [F.col("f"), F.col("user_id")],
                         materialize=True).select(
                "user_id", F.col("rank").alias("rank_f"))
            rm = ranking(per_user, [F.col("m"), F.col("user_id")],
                         materialize=True).select(
                "user_id", F.col("rank").alias("rank_m"))
        finally:
            per_user.unpersist()
    d = F.col("rank_f") - F.col("rank_m")
    nn = F.lit(float(n))
    return (
        rf.join(rm, "user_id")
        .agg(F.count("*").alias("n_users"),
             F.sum(d * d).alias("sum_d2"))
        .select("n_users", "sum_d2",
                (F.lit(1.0) - F.lit(6.0) * F.col("sum_d2").cast("double")
                 / (nn * (nn * nn - F.lit(1.0)))).alias("rho"))
    )


SPEARMAN_SQL = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS f,
         SUM(CAST(floor(value * 100) AS BIGINT)) AS m
  FROM events GROUP BY user_id),
ranked AS (
  SELECT user_id,
         ROW_NUMBER() OVER (ORDER BY f, user_id) - 1 AS rank_f,
         ROW_NUMBER() OVER (ORDER BY m, user_id) - 1 AS rank_m
  FROM per_user)
SELECT COUNT(*) AS n_users,
       CAST(SUM((rank_f - rank_m) * (rank_f - rank_m)) AS BIGINT) AS sum_d2,
       1.0 - 6.0 * CAST(SUM((rank_f - rank_m) * (rank_f - rank_m)) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE)
            * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1.0))
         AS rho
FROM ranked
"""


def orders_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the single-number
    inequality companion to the Pareto decile census:
    G = (2*Σ i·x_i − (n+1)·Σx_i) / (n·Σx_i) with i the 1-based rank
    of revenue ascending (ties broken by custkey).

    Ranks come from the pure-codegen distributed ranking — the old
    form ran the exscan of a constant-1 measure, which IS the 0-based
    rank, through a per-row scan pass; ranking computes the identical
    integer with an array-literal offset + in-partition record index
    and no extra pass (guide §1.2/§4.1). The rank-weighted sum Σ i·x_i
    is ~n²·cents, far past BIGINT at a 100 TB customer count, so it
    accumulates as DECIMAL(38,0) on the Spark side and HUGEINT in
    DuckDB; only the final double (one fixed expression tree over
    exact integers, identical in both engines) reaches the output,
    keeping the driver hash stable.
    """
    from kmr_spark.operators.sort import ranking
    from kmr_spark.session import (materialize_release, parquet_num_rows,
                                   sized_shuffle_partitions)

    orders = load_tables(spark, sf_dir)["orders"]
    # pinned before the persist, which fixes the cache's width, and
    # sized from an upper bound on rev: one row per customer
    with sized_shuffle_partitions(
            spark, parquet_num_rows(sf_dir, "customer")):
        rev = orders.groupBy(F.col("o_custkey").alias("k")).agg(
            F.sum(F.floor(F.col("o_totalprice") * 100)).alias("r")).persist()
        try:
            reg: list[DataFrame] = []
            scanned = ranking(rev, [F.col("r").asc(), F.col("k")],
                              cache_registry=reg)
            sums = materialize_release(
                scanned.agg(
                    F.count("*").alias("n_customers"),
                    F.sum("r").alias("s0"),
                    F.sum((F.col("rank") + 1).cast("decimal(38,0)")
                          * F.col("r")).alias("s1")),
                *reg)
        finally:
            rev.unpersist()
    d = lambda c: F.col(c).cast("double")
    return sums.select(
        "n_customers",
        F.col("s0").alias("total_cents"),
        ((F.lit(2.0) * d("s1") - (d("n_customers") + F.lit(1.0)) * d("s0"))
         / (d("n_customers") * d("s0"))).alias("gini"))


GINI_SQL = """
WITH rev AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT k, r, ROW_NUMBER() OVER (ORDER BY r ASC, k) AS i FROM rev),
sums AS (
  SELECT COUNT(*) AS n_customers, CAST(SUM(r) AS BIGINT) AS s0,
         SUM(CAST(i AS HUGEINT) * r) AS s1
  FROM ranked)
SELECT n_customers, s0 AS total_cents,
       (2.0 * CAST(s1 AS DOUBLE)
        - (CAST(n_customers AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE))
       / (CAST(n_customers AS DOUBLE) * CAST(s0 AS DOUBLE)) AS gini
FROM sums
"""


QUERIES = {
    "events_decayed_value": events_decayed_value,
    "orders_pareto_share": orders_pareto_share,
    "users_spearman_freq_value": users_spearman_freq_value,
    "orders_gini_revenue": orders_gini_revenue,
}
ORACLE_SQL = {
    "events_decayed_value": DECAYED_VALUE_SQL,
    "orders_pareto_share": PARETO_SQL,
    "users_spearman_freq_value": SPEARMAN_SQL,
    "orders_gini_revenue": GINI_SQL,
}


MIX_SHIFT_CUTOFF = "1998-01-01"


def orders_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate/mix/volume decomposition of revenue change across the
    cutoff, by order priority: for each segment g,

      rate_g   = n2_g * (avg2_g - avg1_g)          (price/size moved)
      mix_g    = (n2_g - n1_g * N2/N1) * avg1_g    (portfolio shifted)
      volume_g = n1_g * (N2/N1 - 1) * avg1_g       (everything grew)

    and sum(rate + mix + volume) == S2 - S1 exactly — the bridge every
    revenue review wants. Inputs are 4 BIGINTs per segment (pre/post
    count + cent sums) plus 3 broadcast totals; each effect is ONE
    fixed expression tree over them, so the driver hash is stable.

    Plan: one aggregation of orders keyed by (priority, half), a tiny
    pivot, one broadcast totals join.
    """
    orders = load_tables(spark, sf_dir)["orders"]
    seg = (
        orders.select(
            F.col("o_orderpriority").alias("segment"),
            (F.to_date("o_orderdate") >= F.lit(MIX_SHIFT_CUTOFF))
            .alias("post"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("segment")
        .agg(F.count(F.when(~F.col("post"), 1)).alias("n1"),
             F.sum(F.when(~F.col("post"), F.col("cents"))
                   .otherwise(0)).alias("s1"),
             F.count(F.when(F.col("post"), 1)).alias("n2"),
             F.sum(F.when(F.col("post"), F.col("cents"))
                   .otherwise(0)).alias("s2"))
    )
    tot = seg.groupBy().agg(F.sum("n1").alias("tn1"),
                            F.sum("n2").alias("tn2"))
    d = lambda c: F.col(c).cast("double")
    avg1 = d("s1") / d("n1")
    avg2 = d("s2") / d("n2")
    growth = d("tn2") / d("tn1")
    return (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "segment", "n1", "s1", "n2", "s2",
            (d("n2") * (avg2 - avg1)).alias("rate_effect_cents"),
            ((d("n2") - d("n1") * growth) * avg1).alias("mix_effect_cents"),
            (d("n1") * (growth - F.lit(1.0)) * avg1)
            .alias("volume_effect_cents"))
        .orderBy("segment")
    )


MIX_SHIFT_SQL = f"""
WITH seg AS (
  SELECT o_orderpriority AS segment,
         COUNT(CASE WHEN CAST(o_orderdate AS DATE) < DATE '{MIX_SHIFT_CUTOFF}'
                    THEN 1 END) AS n1,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '{MIX_SHIFT_CUTOFF}'
                  THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS s1,
         COUNT(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{MIX_SHIFT_CUTOFF}'
                    THEN 1 END) AS n2,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{MIX_SHIFT_CUTOFF}'
                  THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS s2
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS tn1,
               CAST(SUM(n2) AS BIGINT) AS tn2 FROM seg)
SELECT segment, n1, s1, n2, s2,
  CAST(n2 AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
    AS rate_effect_cents,
  (CAST(n2 AS DOUBLE) - CAST(n1 AS DOUBLE)
     * (CAST(tn2 AS DOUBLE) / CAST(tn1 AS DOUBLE)))
    * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS mix_effect_cents,
  CAST(n1 AS DOUBLE) * (CAST(tn2 AS DOUBLE) / CAST(tn1 AS DOUBLE) - 1.0)
    * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS volume_effect_cents
FROM seg CROSS JOIN tot ORDER BY segment
"""


QUERIES["orders_mix_shift"] = orders_mix_shift
ORACLE_SQL["orders_mix_shift"] = MIX_SHIFT_SQL


#: backlog snapshot date and the aging bucket upper bounds (days)
BACKLOG_ASOF = "1997-06-30"
BACKLOG_BUCKETS = ((30, "000-030d"), (90, "031-090d"), (365, "091-365d"))


def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog as of BACKLOG_ASOF with aging buckets: an
    order is OPEN at the snapshot if it was placed on or before the
    date but still has lineitems shipping after it. Emits per aging
    bucket (days since order date) the order count, open-line count,
    and open-line value in cents — the operations report every order
    management system runs nightly, and the as-of-join shape (state
    reconstructed from an event log at an arbitrary past date) that
    plain current-state rollups can't answer.

    Plan: lineitem is aggregated per order (max shipdate + open-line
    sums under the snapshot predicate) keyed on l_orderkey — ONE
    data-sized shuffle that a bucketed-by-orderkey layout (see
    sources/bucketing.py) turns into a co-located join; orders side
    joins in and buckets are a tiny post-agg rollup. All outputs are
    BIGINT counts/cents.
    """
    t = load_tables(spark, sf_dir)
    asof = F.lit(BACKLOG_ASOF).cast("date")
    per_order = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("last_ship"),
             F.sum(F.when(F.to_date("l_shipdate") > asof, 1).otherwise(0))
             .alias("open_lines"),
             F.coalesce(F.sum(F.when(
                 F.to_date("l_shipdate") > asof,
                 F.floor(F.col("l_extendedprice") * 100).cast("long"))),
                 F.lit(0)).alias("open_cents"))
    )
    open_orders = (
        t["orders"].filter(F.to_date("o_orderdate") <= asof)
        .join(per_order,
              F.col("o_orderkey") == F.col("l_orderkey"), "inner")
        .filter(F.col("last_ship") > asof)
        .withColumn("age_days", F.datediff(asof, F.to_date("o_orderdate")))
    )
    bucket = F.when(F.col("age_days") <= BACKLOG_BUCKETS[0][0],
                    F.lit(BACKLOG_BUCKETS[0][1]))
    for ub, label in BACKLOG_BUCKETS[1:]:
        bucket = bucket.when(F.col("age_days") <= ub, F.lit(label))
    bucket = bucket.otherwise(F.lit("366d+"))
    return (
        open_orders.groupBy(bucket.alias("age_bucket"))
        .agg(F.count("*").alias("n_orders"),
             F.sum("open_lines").alias("n_open_lines"),
             F.sum("open_cents").alias("open_value_cents"))
        .orderBy("age_bucket")
    )


BACKLOG_SQL = f"""
WITH per_order AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship,
         SUM(CASE WHEN CAST(l_shipdate AS DATE) > DATE '{BACKLOG_ASOF}'
             THEN 1 ELSE 0 END) AS open_lines,
         COALESCE(SUM(CASE WHEN CAST(l_shipdate AS DATE)
                                > DATE '{BACKLOG_ASOF}'
             THEN CAST(floor(l_extendedprice * 100) AS BIGINT) END), 0)
           AS open_cents
  FROM lineitem GROUP BY l_orderkey),
open_orders AS (
  SELECT date_diff('day', CAST(o_orderdate AS DATE),
                   DATE '{BACKLOG_ASOF}') AS age_days,
         open_lines, open_cents
  FROM orders JOIN per_order ON o_orderkey = l_orderkey
  WHERE CAST(o_orderdate AS DATE) <= DATE '{BACKLOG_ASOF}'
    AND last_ship > DATE '{BACKLOG_ASOF}')
SELECT CASE WHEN age_days <= 30 THEN '000-030d'
            WHEN age_days <= 90 THEN '031-090d'
            WHEN age_days <= 365 THEN '091-365d'
            ELSE '366d+' END AS age_bucket,
       COUNT(*) AS n_orders,
       CAST(SUM(open_lines) AS BIGINT) AS n_open_lines,
       CAST(SUM(open_cents) AS BIGINT) AS open_value_cents
FROM open_orders GROUP BY 1 ORDER BY 1
"""

QUERIES["orders_backlog_aging"] = orders_backlog_aging
ORACLE_SQL["orders_backlog_aging"] = BACKLOG_SQL
