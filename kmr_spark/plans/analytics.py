"""Events-table analytics: prefix scans, ranking, windows, set ops.

Covers the reference operators that need an explicit order or grouping
surface (kmr_scan_on_values src/kmrmoreops.c:943, kmr_ranking
src/kmrmoreops.c:764, kmr_count_keys src/kmrmoreops.c:1009, set ops
SURVEY.md §2.7) plus the beyond-reference windowed-event analytics the
`events` table exists for. Every query has a DuckDB oracle.

Scale notes: all windows partition by user_id (no global single-partition
window anywhere); sums over doubles go through DECIMAL so both engines
agree bit-for-bit; sessionization is the lag+cumsum linear-scan form, not
a self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kmr_spark.plans.tpch import SQL_VOLUME_I, _rev_double, _volume_i
from kmr_spark.session import load_tables, scratch_dir

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir)["events"]


def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_keys + expression aggregates per event_type."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


EVENTS_TYPE_STATS_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-inclusive per-user prefix sum of value over time
    (kmr_scan_on_values parity, grouped form — scales because the scan
    partitions by user)."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(F.sum(F.col("value").cast("decimal(18,2)")).over(w), F.lit(0))
        .cast("double")
        .alias("run_sum"),
    )


EVENTS_RUNNING_SUM_SQL = """
SELECT event_id, user_id,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS run_sum
FROM events
"""


def events_topn_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest 3 events per user — kmr_ranking parity in its grouped,
    scale-friendly form (row_number within partitioned window)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id", "event_type")
    )


EVENTS_TOPN_SQL = """
SELECT user_id, rn, event_id, event_type
FROM (SELECT user_id, event_id, event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS BIGINT) AS rn
      FROM events)
WHERE rn <= 3
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session).

    Batch equivalent of a Structured Streaming session window: a new
    session starts where the gap from the previous event exceeds the
    threshold; session id is the running count of session starts. Linear
    per-user scan — no self-join, so it survives 100 TB.
    """
    ev = _events(spark, sf_dir).withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    with_start = ev.withColumn(
        "new_session",
        (F.coalesce(F.col("us") - F.lag("us").over(w), F.lit(SESSION_GAP_US + 1))
         > SESSION_GAP_US).cast("long"),
    )
    wsum = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0)
    sess = with_start.withColumn("session_id", F.sum("new_session").over(wsum))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
        .orderBy("user_id", "session_id")
    )


EVENTS_SESSIONIZE_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         CASE WHEN COALESCE(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
             {SESSION_GAP_US + 1}) > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gaps)
SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS t_start, MAX(ts) AS t_end
FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregate — the batch twin of the
    Structured Streaming query in kmr_spark.streaming (same plan shape)."""
    ev = _events(spark, sf_dir)
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
        .orderBy("window_start", "event_type")
    )


EVENTS_TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation coverage (SURVEY.md §2.7 — KMR only has union; Spark
    has union/intersect/except built in): customers with an 'O' order,
    minus those with 'F' orders, unioned with the intersection tagged."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    with_o = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey")).distinct()
    with_f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey")).distinct()
    only_o = with_o.exceptAll(with_f).withColumn("tag", F.lit("only_o"))
    both = with_o.intersect(with_f).withColumn("tag", F.lit("both"))
    return only_o.unionByName(both).orderBy("tag", "custkey")


SET_OPS_SQL = """
WITH with_o AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
     with_f AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
SELECT custkey, 'only_o' AS tag FROM (SELECT custkey FROM with_o EXCEPT SELECT custkey FROM with_f)
UNION ALL
SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM with_o INTERSECT SELECT custkey FROM with_f)
ORDER BY tag, custkey
"""


def events_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-style as-of join: each 'click' event matched to the
    user's most recent prior-or-simultaneous 'view' event (operator:
    kmr_spark.operators.asof.asof_join — union+window, one shuffle on
    user_id, no range self-join)."""
    from kmr_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"))
    out = asof_join(clicks, views, on="ts", by="user_id", right_cols=["view_id"],
                    left_key="event_id", right_order="view_id")
    return out.select(
        "event_id", "user_id", F.col("asof_view_id").alias("view_event_id")
    ).orderBy("event_id")


EVENTS_ASOF_SQL = """
WITH u AS (
  SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS view_id, 1 AS tag
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id, event_id AS view_id, 0 AS tag
  FROM events WHERE event_type = 'view'),
filled AS (
  SELECT user_id, ts, event_id, tag,
         last_value(view_id IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts ASC, tag ASC, COALESCE(view_id, 0) ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_event_id
  FROM u)
SELECT event_id, user_id, view_event_id
FROM filled WHERE tag = 1 ORDER BY event_id
"""


def events_tumbling_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregate executed through Structured
    Streaming (bounded AvailableNow replay of the events table with a
    1-hour watermark) rather than batch — same oracle as
    events_tumbling_window proves stream/batch equivalence inside the
    driver's correctness gate."""
    import shutil

    from kmr_spark.streaming.windows import (
        run_available_now, sized_state_partitions, stream_events,
        tumbling_counts_stream)

    ck = scratch_dir("kmr_stream_ck_")
    try:
        out = run_available_now(
            tumbling_counts_stream(stream_events(spark, sf_dir)),
            "events_tumbling_streamed_sink", ck, output_mode="complete",
            state_partitions=sized_state_partitions(spark, sf_dir))
    finally:
        # the memory sink holds the result; the replay checkpoint is
        # single-use scratch — don't leak one dir per invocation
        shutil.rmtree(ck, ignore_errors=True)
    return out.orderBy("window_start", "event_type")


def events_sliding_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OVERLAPPING sliding-window aggregate (1h window, 15-min
    slide — each event feeds 4 windows) executed through Structured
    Streaming (AvailableNow replay, watermarked, complete mode). Same
    oracle as the batch events_sliding_window, so stream/batch
    equivalence of the multi-assignment window path sits inside the
    driver's correctness gate — the tumbling/session/dedup streamed
    queries already pin their shapes; this closes the sliding one."""
    import shutil

    from kmr_spark.streaming.windows import (
        run_available_now, sized_state_partitions, sliding_counts_stream,
        stream_events)

    ck = scratch_dir("kmr_stream_ck_")
    try:
        out = run_available_now(
            sliding_counts_stream(stream_events(spark, sf_dir)),
            "events_sliding_streamed_sink", ck, output_mode="complete",
            state_partitions=sized_state_partitions(spark, sf_dir))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return (out.select("window_start", "event_type", "n")
            .orderBy("window_start", "event_type"))


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event_type (bin = floor(value/10))
    — the binning aggregate every profiling pass needs; floor on doubles
    is IEEE-identical across engines."""
    ev = _events(spark, sf_dir)
    return (
        ev.select("event_type", F.floor(F.col("value") / 10).cast("long").alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "bin")
    )


EVENTS_HISTOGRAM_SQL = """
SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bin, COUNT(*) AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 per event_type by rank selection (the value at
    ceil(q*n), no interpolation — deterministic and engine-identical;
    approximate sketches in operators/skew.py are the 100 TB variant).

    Scale shape: first a map-side-combinable aggregation to per-(type,
    value) COUNTS, then the rank arithmetic runs over the count table —
    the window input is |distinct values| per type (bounded by value
    cardinality), never |rows|. The round-1 form ran row_number over the
    raw rows with ~5 distinct types, serializing 1/5 of the corpus
    through one task; this form's per-type work is the same at any
    corpus size. The selected value for quantile q is the one whose
    cumulative count first reaches ceil(q*n) — identical to ranking the
    raw (value, event_id)-sorted rows, because equal values are adjacent
    there.
    """
    ev = _events(spark, sf_dir)
    counts = ev.groupBy("event_type", "value").agg(F.count("*").alias("cnt"))
    cum = counts.select(
        "event_type", "value", "cnt",
        F.sum("cnt").over(
            Window.partitionBy("event_type").orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"))
    parts = []
    for qname, qv in (("p50", 0.5), ("p90", 0.9)):
        t = F.ceil(F.col("n") * qv)
        parts.append(
            cum.filter((F.col("cum") - F.col("cnt") < t) & (t <= F.col("cum")))
            .select("event_type", F.lit(qname).alias("quantile"), "value"))
    return parts[0].unionByName(parts[1]).orderBy("event_type", "quantile")


EVENTS_PERCENTILES_SQL = """
WITH counts AS (
  SELECT event_type, value, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, value, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM counts)
SELECT event_type, 'p50' AS quantile, value FROM cum
WHERE cum - cnt < ceil(n * 0.5) AND ceil(n * 0.5) <= cum
UNION ALL
SELECT event_type, 'p90' AS quantile, value FROM cum
WHERE cum - cnt < ceil(n * 0.9) AND ceil(n * 0.9) <= cum
ORDER BY event_type, quantile
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sliding windows (1h window, 15-min slide): each event lands
    in 4 overlapping windows, generated with sequence+explode (a narrow
    4x row expansion, no self-join) then a plain groupBy."""
    ev = _events(spark, sf_dir)
    slide_us = 15 * 60 * 1_000_000
    win_us = 4 * slide_us
    with_us = ev.select("event_type", F.unix_micros("ts").alias("us"))
    slots = with_us.select(
        "event_type",
        F.explode(
            F.sequence(
                (F.floor(F.col("us") / slide_us) - 3) * slide_us,
                F.floor(F.col("us") / slide_us) * slide_us,
                F.lit(slide_us),
            )
        ).alias("w_start_us"),
    ).filter(F.col("w_start_us") >= 0)
    return (
        slots.groupBy("event_type", "w_start_us")
        .agg(F.count("*").alias("n"))
        .select(
            F.expr("timestamp_micros(w_start_us)").alias("window_start"),
            "event_type", "n")
        .orderBy("window_start", "event_type")
    )


EVENTS_SLIDING_SQL = f"""
WITH slots AS (
  SELECT event_type, s.w_start_us
  FROM events, unnest(generate_series(
         (CAST(floor(epoch_us(ts) / {15*60*1_000_000}) AS BIGINT) - 3) * {15*60*1_000_000},
         CAST(floor(epoch_us(ts) / {15*60*1_000_000}) AS BIGINT) * {15*60*1_000_000},
         {15*60*1_000_000})) AS s(w_start_us)
  WHERE s.w_start_us >= 0)
SELECT make_timestamp(w_start_us) AS window_start, event_type, COUNT(*) AS n
FROM slots GROUP BY 1, 2 ORDER BY 1, 2
"""


def nation_customer_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage: per-nation customer and supplier counts,
    keeping nations that have only one side (NULL-safe zero fill)."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].groupBy("c_nationkey").agg(F.count("*").alias("n_cust"))
    s = t["supplier"].groupBy("s_nationkey").agg(F.count("*").alias("n_supp"))
    return (
        c.join(s, c["c_nationkey"] == s["s_nationkey"], "full_outer")
        .select(
            F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


NATION_BALANCE_SQL = """
WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.c_nationkey = s.s_nationkey
ORDER BY nationkey
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts with one column per event type
    (fixed type list so the schema is static — the scalable form; a
    dynamic pivot needs a driver-side distinct first). Oracle uses the
    equivalent conditional aggregation."""
    ev = _events(spark, sf_dir)
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    for t in EVENT_TYPES:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return out.orderBy("user_id")


EVENTS_PIVOT_SQL = f"""
SELECT user_id,
       {', '.join(f"COUNT(*) FILTER (event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
FROM events GROUP BY user_id ORDER BY user_id
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (grouping sets) — absent from the reference
    (SURVEY.md §2.5 'not present'), native in Spark: revenue by
    (supplier nation, ship year) with per-nation and grand totals."""
    t = load_tables(spark, sf_dir)
    nat = F.broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("nation")))
    joined = (
        t["lineitem"]
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("nation", F.year("l_shipdate").cast("int").alias("l_year"),
                _volume_i().alias("rev_i"))
    )
    return (
        joined.rollup("nation", "l_year")
        .agg(F.sum("rev_i").alias("sum_i"))
        .select("nation", "l_year", _rev_double("sum_i").alias("revenue"))
        .orderBy(F.col("nation").asc_nulls_first(), F.col("l_year").asc_nulls_first())
    )


REVENUE_ROLLUP_SQL = f"""
SELECT nation, l_year, CAST(SUM(rev_i) AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS l_year,
         {SQL_VOLUME_I} AS rev_i
  FROM lineitem, supplier, nation
  WHERE s_suppkey = l_suppkey AND s_nationkey = n_nationkey)
GROUP BY ROLLUP (nation, l_year)
ORDER BY nation ASC NULLS FIRST, l_year ASC NULLS FIRST
"""


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form ROLLUP/CUBE are sugar
    for: revenue by (nation, year), by year alone, and the grand total
    (deliberately NOT the rollup lattice: no per-nation subtotal), via
    the SQL front-end. grouping_id disambiguates NULL-as-subtotal from
    NULL data, exactly as the oracle's GROUPING() does."""
    t = load_tables(spark, sf_dir)
    t["lineitem"].createOrReplaceTempView("_gs_lineitem")
    t["supplier"].createOrReplaceTempView("_gs_supplier")
    t["nation"].createOrReplaceTempView("_gs_nation")
    from kmr_spark.plans.tpch import SQL_VOLUME_I as _vol
    return spark.sql(f"""
        SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(grouping(n_name) * 2 + grouping(year(l_shipdate))
                    AS BIGINT) AS gid,
               CAST(SUM({_vol}) AS DOUBLE) / 10000.0 AS revenue
        FROM _gs_lineitem JOIN _gs_supplier ON s_suppkey = l_suppkey
             JOIN _gs_nation ON s_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name, year(l_shipdate)),
                                (year(l_shipdate)), ())
        ORDER BY gid, nation NULLS FIRST, l_year NULLS FIRST
    """)


REVENUE_GROUPING_SETS_SQL = f"""
SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(GROUPING(n_name) * 2 + GROUPING(year(l_shipdate))
            AS BIGINT) AS gid,
       CAST(SUM({SQL_VOLUME_I}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
     JOIN nation ON s_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name, year(l_shipdate)),
                        (year(l_shipdate)), ())
ORDER BY gid, nation NULLS FIRST, l_year NULLS FIRST
"""


def events_sessionize_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization executed through the CUSTOM stateful
    streaming operator (applyInPandasWithState, see
    kmr_spark.streaming.windows.sessionize_stateful_stream) on a bounded
    AvailableNow replay — same oracle as the batch events_sessionize
    proves the stateful operator's stream/batch equivalence inside the
    driver's correctness gate."""
    import shutil

    from kmr_spark.streaming.windows import (
        run_available_now, sessionize_stateful_stream,
        sized_state_partitions, stream_events)

    ck = scratch_dir("kmr_stream_ck_")
    try:
        emitted = run_available_now(
            sessionize_stateful_stream(stream_events(spark, sf_dir)),
            "events_sessionize_streamed_sink", ck, output_mode="update",
            state_partitions=sized_state_partitions(spark, sf_dir))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    # collapse cumulative re-emissions: the final emission of a session
    # has the largest n_events (and max end, min start)
    return (
        emitted.groupBy("user_id", "session_id")
        .agg(F.max("n_events").alias("n_events"),
             F.min("start_us").alias("start_us"),
             F.max("end_us").alias("end_us"))
        .select("user_id", "session_id", "n_events",
                F.timestamp_micros("start_us").alias("t_start"),
                F.timestamp_micros("end_us").alias("t_end"))
        .orderBy("user_id", "session_id")
    )


def events_cube_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 4 subtotal combinations of
    (event_type, event day) in one pass (absent from the reference,
    SURVEY.md §2.5 'not present'; native in Spark via df.cube). Value
    sums quantized to exact integers so subtotals hash-match DuckDB."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 1000).cast("long").alias("mv"))
    return (
        ev.cube("event_type", "day")
        .agg(F.count("*").alias("n"), F.sum("mv").alias("sum_mv"))
        .orderBy(F.col("event_type").asc_nulls_first(),
                 F.col("day").asc_nulls_first())
    )


EVENTS_CUBE_SQL = """
SELECT event_type, day, COUNT(*) AS n, CAST(SUM(mv) AS BIGINT) AS sum_mv
FROM (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value * 1000) AS BIGINT) AS mv
  FROM events)
GROUP BY CUBE (event_type, day)
ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST
"""


def events_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: fan every event out to two copies, then
    ``dropDuplicatesWithinWatermark`` on event_id collapses them back to
    exactly one row each — the stream-side twin of dedup_exact. State is
    per-key and watermark-evicted, so a 100 TB replay holds only the
    horizon's keys, not the corpus. Duplicate rows are bit-identical, so
    first-seen-wins is deterministic regardless of arrival order and the
    batch oracle is simply the events table itself."""
    import shutil

    from kmr_spark.streaming.windows import (
        run_available_now, sized_state_partitions, spill_state_store,
        stream_events, streaming_dedup)

    dup = (
        stream_events(spark, sf_dir)
        .withColumn("__copy", F.explode(F.array(F.lit(1), F.lit(2))))
        .drop("__copy")
    )
    ck = scratch_dir("kmr_stream_ck_")
    try:
        # dedup state ~ input volume within a bounded replay's single
        # batch (no watermark eviction until the batch commits): past
        # STATE_SPILL_BYTES the state must live off-heap (RocksDB) —
        # the on-heap default OOMed the sf10 10M-event replay
        out = run_available_now(
            streaming_dedup(dup), "events_dedup_streamed_sink", ck,
            output_mode="append",
            state_partitions=sized_state_partitions(spark, sf_dir),
            spill_state=spill_state_store(spark, sf_dir))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return out.select("event_id", "user_id", "event_type", "value")


EVENTS_DEDUP_STREAMED_SQL = """
SELECT event_id, user_id, event_type, value FROM events
"""


def events_enriched_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join (the stateless streaming join shape): each
    micro-batch of the events stream broadcast-joins the static
    customer dimension, then the enriched rows roll up batch-side per
    (market segment, event type). Oracle = the plain batch join."""
    import shutil

    from kmr_spark.streaming.windows import (enrich_stream,
                                             run_available_now,
                                             sized_state_partitions,
                                             stream_events)

    dim = load_tables(spark, sf_dir)["customer"].select(
        "c_custkey", "c_mktsegment")
    enriched = enrich_stream(stream_events(spark, sf_dir), dim)
    ck = scratch_dir("kmr_stream_ck_")
    try:
        out = run_available_now(
            enriched, "events_enriched_sink", ck, output_mode="append",
            state_partitions=sized_state_partitions(spark, sf_dir))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return (
        out.groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
                    "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             .alias("sum_value"))
        .orderBy("segment", "event_type")
    )


EVENTS_ENRICHED_SQL = """
SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment, e.event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY COALESCE(c.c_mktsegment, 'UNKNOWN'), e.event_type
ORDER BY segment, e.event_type
"""


def events_attribution_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join (the one streaming join shape the other
    streamed queries don't cover): purchases joined to the same user's
    clicks in the preceding hour, then summarized per user. The pair
    emission runs in Structured Streaming (bounded AvailableNow
    replay); the per-user rollup happens batch-side on the sink output,
    keeping the streaming graph single-stateful-operator. Inner join →
    deterministic pair set → exact batch oracle."""
    import shutil

    from kmr_spark.streaming.windows import (attribution_join_stream,
                                             run_available_now,
                                             sized_state_partitions,
                                             stream_events)

    ev = stream_events(spark, sf_dir)
    pairs = attribution_join_stream(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"))
    ck = scratch_dir("kmr_stream_ck_")
    try:
        out = run_available_now(
            pairs, "events_attribution_streamed_sink", ck,
            output_mode="append",
            state_partitions=sized_state_partitions(spark, sf_dir))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return (
        out.groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"),
             F.countDistinct("purchase_id").alias("n_attributed"),
             F.sum("click_id").alias("click_id_sum"))
        .orderBy("user_id")
    )


EVENTS_ATTRIBUTION_SQL = """
SELECT p.user_id,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT p.event_id) AS n_attributed,
       CAST(SUM(c.event_id) AS BIGINT) AS click_id_sum
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts < p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY p.user_id
ORDER BY p.user_id
"""


def events_attribution_outer_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream attribution: matched (purchase, click)
    pairs plus NULL-click rows for purchases with no preceding click —
    emitted by the stream once the watermark proves no click can still
    arrive. The oracle replicates the flush rule exactly: a batch left
    join keeps every matched pair plus unmatched purchases older than
    the final watermark min(max p_ts, max c_ts) - horizon (younger
    unmatched purchases are still in state when the bounded replay
    ends, by design — they are not yet provably organic)."""
    import shutil

    from kmr_spark.streaming.windows import (attribution_outer_stream,
                                             run_available_now,
                                             sized_state_partitions,
                                             stream_events)

    ev = stream_events(spark, sf_dir)
    pairs = attribution_outer_stream(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"))
    ck = scratch_dir("kmr_stream_ck_")
    try:
        out = run_available_now(
            pairs, "events_attribution_outer_sink", ck,
            output_mode="append",
            state_partitions=sized_state_partitions(spark, sf_dir))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return (
        out.groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count("*").alias("n_rows"),
             F.countDistinct("purchase_id").alias("n_purchases"),
             F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0))
             .alias("n_unattributed"),
             F.sum("click_id").alias("click_id_sum"))
        .orderBy("user_id")
    )


EVENTS_ATTRIBUTION_OUTER_SQL = """
WITH wm AS (
  SELECT least(max(CASE WHEN event_type = 'purchase' THEN ts END),
               max(CASE WHEN event_type = 'click' THEN ts END))
         - INTERVAL 1 HOUR AS w
  FROM events),
pairs AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
         c.event_id AS click_id
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON c.user_id = p.user_id
   AND c.ts < p.ts
   AND c.ts >= p.ts - INTERVAL 1 HOUR)
SELECT user_id,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT purchase_id) AS n_purchases,
       CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unattributed,
       CAST(SUM(click_id) AS BIGINT) AS click_id_sum
FROM pairs, wm
WHERE click_id IS NOT NULL OR p_ts < wm.w
GROUP BY user_id
ORDER BY user_id
"""


CAMPAIGN_STRIDE_H = 28   # window i starts at 2024-01-01 + i*28h
CAMPAIGN_SPAN_H = 42     # each window lasts 42h (windows overlap)
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
_H_US = 3_600 * 1_000_000


def events_campaign_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/interval.py): events into 25
    overlapping 42-hour "campaign" windows derived from nation (window
    i starts at 2024-01-01 + i*28h), then count + event-id checksum per
    window. The bucket width is derived from the windows' own span
    stats (auto_bucket_width -> 42h here), bounding each window's
    fanout at ~2 buckets, so the join is one equi-shuffle — not the
    nested-loop plan a raw BETWEEN join would get. sum(event_id) makes
    the oracle sensitive to any mis-joined row, not just miscounts."""
    from kmr_spark.operators.interval import range_join

    t = load_tables(spark, sf_dir)
    wins = t["nation"].select(
        F.col("n_nationkey").alias("win_id"),
        (F.lit(_EPOCH_2024_US)
         + F.col("n_nationkey") * F.lit(CAMPAIGN_STRIDE_H * _H_US)).alias("lo_us"),
        (F.lit(_EPOCH_2024_US)
         + F.col("n_nationkey") * F.lit(CAMPAIGN_STRIDE_H * _H_US)
         + F.lit(CAMPAIGN_SPAN_H * _H_US)).alias("hi_us"),
    )
    ev = t["events"].select(
        "event_id", F.unix_micros("ts").alias("ts_us"))
    joined = range_join(ev, wins, "ts_us", "lo_us", "hi_us")
    return (
        joined.groupBy("win_id")
        .agg(F.count("*").alias("n_events"),
             F.sum("event_id").alias("sum_event_id"))
        .orderBy("win_id")
    )


EVENTS_CAMPAIGN_SQL = f"""
WITH w AS (
  SELECT n_nationkey AS win_id,
         TIMESTAMP '2024-01-01'
           + to_hours(n_nationkey * {CAMPAIGN_STRIDE_H}) AS lo,
         TIMESTAMP '2024-01-01'
           + to_hours(n_nationkey * {CAMPAIGN_STRIDE_H} + {CAMPAIGN_SPAN_H}) AS hi
  FROM nation)
SELECT win_id, COUNT(*) AS n_events, CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM w JOIN events e ON e.ts >= w.lo AND e.ts < w.hi
GROUP BY win_id
ORDER BY win_id
"""


def events_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency census: how many sessions are open at
    every session boundary — the classic interval-concurrency metric
    (peak simultaneous users / capacity planning). Each session emits
    +1 at its start and -1 one microsecond after its last event; the
    GLOBAL running sum over time-ordered boundaries is the live count.

    Scale shape: the global prefix sum is the distributed two-phase
    exscan (operators/reduce.scan_distributed — range sort +
    per-partition offsets), NOT a single-partition window; ties are
    pinned (starts before ends, then user/session) so the scan is
    deterministic in both engines."""
    from kmr_spark.operators.reduce import scan_distributed

    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    with_start = ev.withColumn(
        "new_session",
        (F.coalesce(F.col("us") - F.lag("us").over(w), F.lit(SESSION_GAP_US + 1))
         > SESSION_GAP_US).cast("long"),
    )
    wsum = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0)
    spans = (
        with_start.withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("s_lo"), (F.max("us") + 1).alias("s_hi"))
    )
    from kmr_spark.session import parquet_num_rows, sized_shuffle_partitions

    # the scan sorts the |boundaries| table (2 rows per session), not
    # the event log; pinned before the persist, which fixes the cache's
    # width, and sized from an upper bound: one session per event
    n_events = parquet_num_rows(sf_dir, "events")
    with sized_shuffle_partitions(spark, 2 * n_events if n_events else None):
        bounds = spans.select(
            "user_id", "session_id", F.col("s_lo").alias("bus"),
            F.lit(1).alias("delta")
        ).unionByName(spans.select(
            "user_id", "session_id", F.col("s_hi").alias("bus"),
            F.lit(-1).alias("delta"))).persist()
        try:
            scanned = scan_distributed(
                bounds, "delta",
                [F.col("bus"), F.col("delta").desc(), F.col("user_id"),
                 F.col("session_id")])
        finally:
            bounds.unpersist()
    return (
        scanned.select(
            F.timestamp_micros("bus").alias("t"), "user_id", "session_id",
            "delta", (F.col("scan") + F.col("delta")).alias("concurrency"))
    )


CONCURRENT_SESSIONS_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN COALESCE(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
             {SESSION_GAP_US + 1}) > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps),
spans AS (
  SELECT user_id, session_id, MIN(us) AS s_lo, MAX(us) + 1 AS s_hi
  FROM sess GROUP BY user_id, session_id),
bounds AS (
  SELECT user_id, session_id, s_lo AS bus, 1 AS delta FROM spans
  UNION ALL
  SELECT user_id, session_id, s_hi AS bus, -1 AS delta FROM spans)
SELECT make_timestamp(bus) AS t, user_id,
       CAST(session_id AS BIGINT) AS session_id,
       CAST(delta AS INTEGER) AS delta,
       CAST(SUM(delta) OVER (ORDER BY bus, delta DESC, user_id, session_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS concurrency
FROM bounds
ORDER BY bus, delta DESC, user_id, session_id
"""


def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation (the built-in
    merging-window operator, usable batch AND streaming) over the same
    30-min gap as events_sessionize: per (user, session) the event
    count and window bounds. Differs from the gaps-and-islands form
    only in the end bound (window end = last event + gap, by
    definition of session_window) — the oracle recomputes exactly
    that, proving the builtin against the island rewrite."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_US // 1_000_000} seconds"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id",
                F.col("session_window.start").alias("t_start"),
                F.col("session_window.end").alias("t_end"),
                "n_events")
    )


SESSION_WINDOW_NATIVE_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         CASE WHEN COALESCE(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
             {SESSION_GAP_US + 1}) > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id, ts, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps)
SELECT user_id, MIN(ts) AS t_start,
       MAX(ts) + INTERVAL {SESSION_GAP_US} MICROSECONDS AS t_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, t_start
"""


def events_session_campaign_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval OVERLAP join (operators/interval.py
    interval_overlap_join): gap-based session spans [first_event,
    last_event + 1µs) against the 25 overlapping 42-hour campaign
    windows — "which sessions were live during which campaign", the
    composition of two operators this engine already proves separately
    (sessionize + bucketed interval machinery). Per window: session
    count, distinct users, and a join-sensitive checksum.

    Scale shape: both sides explode to ~2 buckets each (W = the
    windows' own mean span via auto_bucket_width), one equi-shuffle on
    the bucket id, exactly-once pair meeting at the overlap's first
    bucket — never a nested-loop join, never a distinct."""
    from kmr_spark.operators.interval import interval_overlap_join

    t = load_tables(spark, sf_dir)
    ev = t["events"].withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    with_start = ev.withColumn(
        "new_session",
        (F.coalesce(F.col("us") - F.lag("us").over(w), F.lit(SESSION_GAP_US + 1))
         > SESSION_GAP_US).cast("long"),
    )
    wsum = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0)
    sessions = (
        with_start.withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("s_lo"),
             (F.max("us") + 1).alias("s_hi"))  # half-open: +1µs keeps
        # single-event sessions as a 1µs point interval, not empty
    )
    wins = t["nation"].select(
        F.col("n_nationkey").alias("win_id"),
        (F.lit(_EPOCH_2024_US)
         + F.col("n_nationkey") * F.lit(CAMPAIGN_STRIDE_H * _H_US)).alias("lo_us"),
        (F.lit(_EPOCH_2024_US)
         + F.col("n_nationkey") * F.lit(CAMPAIGN_STRIDE_H * _H_US)
         + F.lit(CAMPAIGN_SPAN_H * _H_US)).alias("hi_us"),
    )
    joined = interval_overlap_join(
        sessions, wins, "s_lo", "s_hi", "lo_us", "hi_us")
    return (
        joined.groupBy("win_id")
        .agg(F.count("*").alias("n_sessions"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum(F.col("user_id") * 131 + F.col("session_id"))
             .alias("checksum"))
        .orderBy("win_id")
    )


SESSION_CAMPAIGN_OVERLAP_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN COALESCE(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
             {SESSION_GAP_US + 1}) > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id, us,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gaps),
spans AS (
  SELECT user_id, session_id, MIN(us) AS s_lo, MAX(us) + 1 AS s_hi
  FROM sess GROUP BY user_id, session_id),
wins AS (
  SELECT n_nationkey AS win_id,
         {_EPOCH_2024_US} + n_nationkey * {CAMPAIGN_STRIDE_H * _H_US} AS lo_us,
         {_EPOCH_2024_US} + n_nationkey * {CAMPAIGN_STRIDE_H * _H_US}
           + {CAMPAIGN_SPAN_H * _H_US} AS hi_us
  FROM nation)
SELECT w.win_id,
       COUNT(*) AS n_sessions,
       COUNT(DISTINCT s.user_id) AS n_users,
       CAST(SUM(s.user_id * 131 + s.session_id) AS BIGINT) AS checksum
FROM spans s JOIN wins w
  ON s.s_lo < w.hi_us AND w.lo_us < s.s_hi
GROUP BY w.win_id ORDER BY w.win_id
"""


def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile binning of ``value`` per event_type — the
    quantile discretization a feature pipeline runs before bucketized
    training columns (vs events_value_histogram's equal-WIDTH bins).

    Scale shape: same count-table rewrite as events_exact_percentiles —
    aggregate to per-(type, cents) counts first (map-side combinable),
    then the cumulative window runs over |distinct values| per type,
    never |rows|.  A distinct value lands wholly in one bin:
    decile = (10 * rows_before) DIV rows_total, so bins split only at
    value boundaries (standard distinct-value quantile binning; ntile's
    row-splitting of ties is NOT reproduced — it would serialize a full
    type through one task).  All-integer math both engines.
    """
    ev = _events(spark, sf_dir)
    c = (ev.select("event_type",
                   F.floor(F.col("value") * 100).cast("long").alias("cents"))
         .groupBy("event_type", "cents").agg(F.count("*").alias("c")))
    w_cum = (Window.partitionBy("event_type").orderBy("cents")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tot = Window.partitionBy("event_type")
    return (
        c.withColumn("cum_before", F.sum("c").over(w_cum) - F.col("c"))
        .withColumn("total", F.sum("c").over(w_tot))
        .withColumn("decile",
                    F.expr("CAST((10 * cum_before) DIV total AS INT)"))
        .groupBy("event_type", "decile")
        .agg(F.sum("c").alias("n_rows"),
             F.min("cents").alias("lo_cents"),
             F.max("cents").alias("hi_cents"))
        .orderBy("event_type", "decile")
    )


EVENTS_DECILES_SQL = """
WITH c AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
w AS (
  SELECT event_type, cents, c,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
              AS BIGINT) AS cum_before,
         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM c)
SELECT event_type, CAST((10 * cum_before) // total AS INT) AS decile,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
FROM w GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_value_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type min-max normalization of ``value`` to integer permille —
    the feature-scaling pass that precedes model training, kept exact by
    integer cents + integer division (no float divide to disagree on).

    Scale shape: the per-type (min, max) table is a map-side-combinable
    aggregation to |types| rows, broadcast back onto the fact rows — one
    narrow pass over the corpus, no shuffle of the big side.  Degenerate
    groups (max == min) normalize to 0 rather than divide by zero.
    """
    ev = _events(spark, sf_dir)
    c = ev.select(
        "event_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    mm = (c.groupBy("event_type")
          .agg(F.min("cents").alias("mn"), F.max("cents").alias("mx")))
    return (
        c.join(F.broadcast(mm), "event_type")
        .select(
            "event_id", "event_type",
            F.expr("CAST(CASE WHEN mx > mn THEN "
                   "((cents - mn) * 1000) DIV (mx - mn) "
                   "ELSE 0 END AS INT)").alias("norm_permille"))
    )


EVENTS_MINMAX_NORM_SQL = """
WITH c AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
mm AS (SELECT event_type, MIN(cents) AS mn, MAX(cents) AS mx
       FROM c GROUP BY 1)
SELECT c.event_id, c.event_type,
       CAST(CASE WHEN mx > mn THEN ((cents - mn) * 1000) // (mx - mn)
            ELSE 0 END AS INT) AS norm_permille
FROM c JOIN mm USING (event_type)
ORDER BY c.event_id
"""


QUERIES = {
    "events_type_stats": events_type_stats,
    "events_running_sum": events_running_sum,
    "events_topn_per_user": events_topn_per_user,
    "events_sessionize": events_sessionize,
    "events_tumbling_window": events_tumbling_window,
    "set_ops_customers": set_ops_customers,
    "events_asof_view": events_asof_view,
    "events_tumbling_streamed": events_tumbling_streamed,
    "events_value_histogram": events_value_histogram,
    "events_exact_percentiles": events_exact_percentiles,
    "events_sliding_window": events_sliding_window,
    "events_sliding_streamed": events_sliding_streamed,
    "nation_balance_full_outer": nation_customer_supplier_balance,
    "events_pivot_by_type": events_pivot_by_type,
    "revenue_rollup": revenue_rollup,
    "events_sessionize_streamed": events_sessionize_streamed,
    "events_cube_type_day": events_cube_type_day,
    "events_campaign_windows": events_campaign_windows,
    "events_dedup_streamed": events_dedup_streamed,
    "events_attribution_streamed": events_attribution_streamed,
    "events_enriched_streamed": events_enriched_streamed,
    "events_attribution_outer_streamed": events_attribution_outer_streamed,
    "events_session_campaign_overlap": events_session_campaign_overlap,
    "revenue_grouping_sets": revenue_grouping_sets,
    "events_session_window_native": events_session_window_native,
    "events_concurrent_sessions": events_concurrent_sessions,
    "events_value_deciles": events_value_deciles,
    "events_value_minmax_norm": events_value_minmax_norm,
}

ORACLE_SQL = {
    "events_type_stats": EVENTS_TYPE_STATS_SQL,
    "events_running_sum": EVENTS_RUNNING_SUM_SQL,
    "events_topn_per_user": EVENTS_TOPN_SQL,
    "events_sessionize": EVENTS_SESSIONIZE_SQL,
    "events_tumbling_window": EVENTS_TUMBLING_SQL,
    "set_ops_customers": SET_OPS_SQL,
    "events_asof_view": EVENTS_ASOF_SQL,
    "events_tumbling_streamed": EVENTS_TUMBLING_SQL,
    "events_value_histogram": EVENTS_HISTOGRAM_SQL,
    "events_exact_percentiles": EVENTS_PERCENTILES_SQL,
    "events_sliding_window": EVENTS_SLIDING_SQL,
    "events_sliding_streamed": EVENTS_SLIDING_SQL,
    "nation_balance_full_outer": NATION_BALANCE_SQL,
    "events_pivot_by_type": EVENTS_PIVOT_SQL,
    "revenue_rollup": REVENUE_ROLLUP_SQL,
    "events_sessionize_streamed": EVENTS_SESSIONIZE_SQL,
    "events_cube_type_day": EVENTS_CUBE_SQL,
    "events_campaign_windows": EVENTS_CAMPAIGN_SQL,
    "events_dedup_streamed": EVENTS_DEDUP_STREAMED_SQL,
    "events_attribution_streamed": EVENTS_ATTRIBUTION_SQL,
    "events_enriched_streamed": EVENTS_ENRICHED_SQL,
    "events_attribution_outer_streamed": EVENTS_ATTRIBUTION_OUTER_SQL,
    "events_session_campaign_overlap": SESSION_CAMPAIGN_OVERLAP_SQL,
    "revenue_grouping_sets": REVENUE_GROUPING_SETS_SQL,
    "events_session_window_native": SESSION_WINDOW_NATIVE_SQL,
    "events_concurrent_sessions": CONCURRENT_SESSIONS_SQL,
    "events_value_deciles": EVENTS_DECILES_SQL,
    "events_value_minmax_norm": EVENTS_MINMAX_NORM_SQL,
}


#: inactivity thresholds (minutes) swept by the sensitivity query
GAP_SWEEP_MIN = (15, 30, 60)


def events_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization-threshold sensitivity sweep: session count,
    single-event-session count, and events-per-session at 15/30/60-min
    inactivity gaps — the calibration table that justifies (or
    indicts) the 30-min default every analytics stack inherits. A
    stable session count across thresholds means the choice doesn't
    matter; a cliff means it does.

    Plan: ONE per-user ordered window pass computes the inter-event
    gap, then each threshold is a cheap column expression over the
    same sorted frame (Catalyst reuses the sort across identical
    window specs); session sizes come from one groupBy per threshold
    on (user, session_id). Integer outputs + one fixed-tree ratio.
    """
    ev = _events(spark, sf_dir).withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.withColumn("gap_us", F.col("us") - F.lag("us").over(w))
    outs = []
    for mins in GAP_SWEEP_MIN:
        gus = mins * 60 * 1_000_000
        wsum = w.rowsBetween(Window.unboundedPreceding, 0)
        sess = (
            gaps.withColumn(
                "new_s",
                (F.coalesce(F.col("gap_us"), F.lit(gus + 1)) > gus)
                .cast("long"))
            .withColumn("sid", F.sum("new_s").over(wsum))
            .groupBy("user_id", "sid").agg(F.count("*").alias("n"))
        )
        outs.append(sess.agg(
            F.lit(mins).alias("gap_minutes"),
            F.count("*").alias("n_sessions"),
            F.sum("n").alias("n_events"),
            F.count(F.when(F.col("n") == 1, 1)).alias("n_single_event"),
        ).selectExpr(
            "gap_minutes", "n_sessions", "n_single_event",
            "CAST(n_events AS DOUBLE) / CAST(n_sessions AS DOUBLE)"
            " AS events_per_session"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("gap_minutes")


def _gap_sweep_sql() -> str:
    parts = []
    for mins in GAP_SWEEP_MIN:
        gus = mins * 60 * 1_000_000
        parts.append(f"""
SELECT {mins} AS gap_minutes, COUNT(*) AS n_sessions,
       COUNT(CASE WHEN n = 1 THEN 1 END) AS n_single_event,
       CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS events_per_session
FROM (
  SELECT user_id, sid, COUNT(*) AS n
  FROM (
    SELECT user_id,
           CAST(SUM(CASE WHEN COALESCE(gap_us, {gus + 1}) > {gus}
                    THEN 1 ELSE 0 END) OVER (
                PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS sid
    FROM (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS gap_us
      FROM events))
  GROUP BY user_id, sid)""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY gap_minutes"


GAP_SWEEP_SQL = _gap_sweep_sql()

QUERIES["events_session_gap_sensitivity"] = events_session_gap_sensitivity
ORACLE_SQL["events_session_gap_sensitivity"] = GAP_SWEEP_SQL


def events_attribution_full_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream attribution: matched (purchase, click)
    pairs + organic purchases (NULL click) + unconverted clicks (NULL
    purchase) — the complete ledger both finance sides reconcile
    against. The oracle replays the watermark flush rule exactly: a
    batch full join keeps matched pairs, unmatched purchases with
    p_ts < wm, and unmatched clicks with c_ts < wm - horizon (a click
    only becomes provably unconverted once the watermark clears its
    whole forward join window), wm = min(max p_ts, max c_ts) - 1h."""
    import shutil

    from kmr_spark.streaming.windows import (attribution_full_stream,
                                             run_available_now,
                                             sized_state_partitions,
                                             stream_events)

    ev = stream_events(spark, sf_dir)
    pairs = attribution_full_stream(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"))
    ck = scratch_dir("kmr_stream_ck_")
    try:
        out = run_available_now(
            pairs, "events_attribution_full_sink", ck,
            output_mode="append",
            state_partitions=sized_state_partitions(spark, sf_dir))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return (
        out.groupBy(F.coalesce("p_user", "c_user").alias("user_id"))
        .agg(F.count("*").alias("n_rows"),
             F.countDistinct("purchase_id").alias("n_purchases"),
             F.sum(F.when(F.col("purchase_id").isNotNull()
                          & F.col("click_id").isNull(), 1).otherwise(0))
             .alias("n_unattributed"),
             F.sum(F.when(F.col("purchase_id").isNull(), 1).otherwise(0))
             .alias("n_unconverted_clicks"),
             F.sum("click_id").alias("click_id_sum"),
             F.sum("purchase_id").alias("purchase_id_sum"))
        .orderBy("user_id")
    )


EVENTS_ATTRIBUTION_FULL_SQL = """
WITH wm AS (
  SELECT least(max(CASE WHEN event_type = 'purchase' THEN ts END),
               max(CASE WHEN event_type = 'click' THEN ts END))
         - INTERVAL 1 HOUR AS w
  FROM events),
pairs AS (
  SELECT p.user_id AS p_user, p.event_id AS purchase_id, p.ts AS p_ts,
         c.user_id AS c_user, c.event_id AS click_id, c.ts AS c_ts
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON c.user_id = p.user_id
   AND c.ts < p.ts
   AND c.ts >= p.ts - INTERVAL 1 HOUR)
SELECT COALESCE(p_user, c_user) AS user_id,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT purchase_id) AS n_purchases,
       CAST(SUM(CASE WHEN purchase_id IS NOT NULL AND click_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_unattributed,
       CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unconverted_clicks,
       CAST(SUM(click_id) AS BIGINT) AS click_id_sum,
       CAST(SUM(purchase_id) AS BIGINT) AS purchase_id_sum
FROM pairs, wm
WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
   OR (purchase_id IS NOT NULL AND click_id IS NULL AND p_ts < wm.w)
   OR (purchase_id IS NULL AND c_ts < wm.w - INTERVAL 1 HOUR)
GROUP BY 1 ORDER BY 1
"""

QUERIES["events_attribution_full_streamed"] = events_attribution_full_streamed
ORACLE_SQL["events_attribution_full_streamed"] = EVENTS_ATTRIBUTION_FULL_SQL
