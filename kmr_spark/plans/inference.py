"""Statistical-inference plans over the events table: OLS trend fits,
difference-in-differences, change-point detection, and a Kaplan-Meier
risk table.

These are the "is the metric moving, and did the launch cause it"
queries every analytics engine ends up hosting next to its rollups
(the reference's aggregate layer — kmr_reduce over keyed groups,
/root/reference/src/kmrbase.c:1665 — provides the sums these need;
here each estimator is expressed as grouped integer sums + ONE fixed
final expression tree so the driver's exact value-hash is stable).

Exactness recipe (see SCALE.md): every accumulated quantity is a
BIGINT (counts, day indexes, floor(value*100) cents, and their
products); doubles appear only in a single final expression computed
identically by Spark and the DuckDB oracle — IEEE ops on identical
operands in identical order are bit-equal, so no 6dp tolerance is
needed.

Scale notes: each query is one or two keyed aggregations over events
(shuffle keyed by user_id or (type, day)) followed by per-group
O(days) window work on post-aggregation data (|types| x |days| rows —
KBs at 100 TB input). No driver-side data, no unpartitioned windows
over raw events, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kmr_spark.session import load_tables


def events_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type OLS fit of daily event count against day index
    (0 = the type's first observed day; observed days only).

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) over BIGINT sums;
    intercept = (Sy*den - num*Sx) / (n*den) reuses the same integers,
    so both doubles come from one fixed expression tree each.
    """
    ev = load_tables(spark, sf_dir)["events"]
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("y"))
    )
    w_min = Window.partitionBy("event_type")
    pts = daily.withColumn(
        "x", F.datediff("day", F.min("day").over(w_min)).cast("long"))
    sums = pts.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        sums.select(
            "event_type", "n_days",
            (num.cast("double") / den.cast("double")).alias("slope"),
            ((F.col("sy") * den - num * F.col("sx")).cast("double")
             / (F.col("n_days") * den).cast("double")).alias("intercept"))
        .orderBy("event_type")
    )


LINREG_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
  FROM events GROUP BY 1, 2),
pts AS (
  SELECT event_type, y,
         CAST(date_diff('day', MIN(day) OVER (PARTITION BY event_type),
                        day) AS BIGINT) AS x
  FROM daily),
sums AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY 1)
SELECT event_type, n_days,
       CAST(n_days * sxy - sx * sy AS DOUBLE)
         / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
       CAST(sy * (n_days * sxx - sx * sx)
              - (n_days * sxy - sx * sy) * sx AS DOUBLE)
         / CAST(n_days * (n_days * sxx - sx * sx) AS DOUBLE) AS intercept
FROM sums ORDER BY event_type
"""


_DID_CUTOFF = "2024-01-16"


def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on event value (cents): treatment =
    odd user_id (a deterministic 50/50 assignment standing in for an
    experiment flag), post = day >= the cutoff. One output row with
    the four group means and the DiD estimate, every double a fixed
    tree over four (cent-sum, count) BIGINT pairs.
    """
    ev = load_tables(spark, sf_dir)["events"]
    g = (
        ev.select(
            (F.pmod("user_id", F.lit(2)) == 1).alias("treated"),
            (F.to_date("ts") >= F.lit(_DID_CUTOFF)).alias("post"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        .groupBy()
        .agg(*[
            F.sum(F.when(cond, F.col("cents"))).alias(f"s_{tag}")
            for tag, cond in _did_groups()
        ], *[
            F.count(F.when(cond, F.lit(1))).alias(f"n_{tag}")
            for tag, cond in _did_groups()
        ])
    )
    mean = lambda t: (F.col(f"s_{t}").cast("double")
                      / F.col(f"n_{t}").cast("double"))
    return g.select(
        *[F.col(f"n_{t}") for t, _ in _did_groups()],
        mean("t_pre").alias("mean_t_pre"),
        mean("t_post").alias("mean_t_post"),
        mean("c_pre").alias("mean_c_pre"),
        mean("c_post").alias("mean_c_post"),
        ((mean("t_post") - mean("t_pre"))
         - (mean("c_post") - mean("c_pre"))).alias("did_cents"),
    )


def _did_groups():
    t, p = F.col("treated"), F.col("post")
    return [("t_pre", t & ~p), ("t_post", t & p),
            ("c_pre", ~t & ~p), ("c_post", ~t & p)]


DID_SQL = f"""
WITH b AS (
  SELECT (user_id % 2) = 1 AS treated,
         CAST(ts AS DATE) >= DATE '{_DID_CUTOFF}' AS post,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
g AS (
  SELECT
    CAST(SUM(CASE WHEN treated AND NOT post THEN cents END) AS BIGINT) AS s_t_pre,
    CAST(SUM(CASE WHEN treated AND post THEN cents END) AS BIGINT) AS s_t_post,
    CAST(SUM(CASE WHEN NOT treated AND NOT post THEN cents END) AS BIGINT) AS s_c_pre,
    CAST(SUM(CASE WHEN NOT treated AND post THEN cents END) AS BIGINT) AS s_c_post,
    COUNT(CASE WHEN treated AND NOT post THEN 1 END) AS n_t_pre,
    COUNT(CASE WHEN treated AND post THEN 1 END) AS n_t_post,
    COUNT(CASE WHEN NOT treated AND NOT post THEN 1 END) AS n_c_pre,
    COUNT(CASE WHEN NOT treated AND post THEN 1 END) AS n_c_post
  FROM b)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
  CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE) AS mean_t_pre,
  CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE) AS mean_t_post,
  CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE) AS mean_c_pre,
  CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE) AS mean_c_post,
  (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
   - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
  - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
     - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)) AS did_cents
FROM g
"""


def events_changepoint_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type single change-point in the daily cent-sum series:
    the day t maximizing |N*S_t - t*S_N| (the integer-scaled CUSUM
    statistic for a mean shift; S_t = prefix sum of daily cents, N =
    number of observed days). Ties resolve to the earliest day.

    Everything through the argmax is BIGINT, so the driver hash is
    exact; the plan is one (type, day) aggregation, a per-type window
    over the tiny daily series, and a row_number pick.
    """
    ev = load_tables(spark, sf_dir)["events"]
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("cents"))
    )
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("day")
    scored = (
        daily
        .withColumn("t_pos", F.row_number().over(wo).cast("long"))
        .withColumn("s_t", F.sum("cents").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n_days", F.count("*").over(wt))
        .withColumn("s_n", F.sum("cents").over(wt))
        .withColumn("score_num", F.abs(
            F.col("n_days") * F.col("s_t") - F.col("t_pos") * F.col("s_n")))
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("score_num").desc(), F.col("day").asc())
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("day").alias("change_day"),
                "n_days", "score_num", "s_n",
                (F.col("score_num").cast("double")
                 / (F.col("n_days") * F.col("n_days")).cast("double"))
                .alias("shift_cents"))
        .orderBy("event_type")
    )


CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
scored AS (
  SELECT event_type, day,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS t_pos,
         CAST(SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS s_t,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days,
         CAST(SUM(cents) OVER (PARTITION BY event_type) AS BIGINT) AS s_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
ranked AS (
  SELECT event_type, day, n_days, s_n,
         abs(n_days * s_t - t_pos * s_n) AS score_num,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs(n_days * s_t - t_pos * s_n) DESC,
                                     day ASC) AS rn
  FROM scored)
SELECT event_type, day AS change_day, n_days, score_num, s_n,
       CAST(score_num AS DOUBLE)
         / CAST(n_days * n_days AS DOUBLE) AS shift_cents
FROM ranked WHERE rn = 1 ORDER BY event_type
"""


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table for days from a user's first view to
    their first purchase at-or-after it; users who never purchase are
    right-censored at the dataset's last day. One row per distinct
    duration: n_risk (users still unresolved entering that day),
    n_event, n_censored — the estimator's exact sufficient statistics
    (all BIGINT; the survival curve itself is an ordered product, so
    the table is the hash-stable surface).

    Plan: two user-keyed aggregations (first view; first qualifying
    purchase via a user-co-partitioned join), a broadcast scalar for
    the censor horizon, then an O(|durations|) window.
    """
    from kmr_spark.session import materialize_release

    ev = load_tables(spark, sf_dir)["events"]
    # per-user frame read twice (as the cohort base and inside the
    # qualifying-purchase join) — persisted so the view scan runs once
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("view_ts"))
        .persist()
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("end_day"))
    first_purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_view, "user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("purch_ts"))
    )
    per_user = (
        first_view.join(first_purch, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("purch_ts").isNotNull(),
                   F.datediff(F.to_date("purch_ts"), F.to_date("view_ts")))
            .otherwise(F.datediff("end_day", F.to_date("view_ts")))
            .cast("long").alias("duration"),
            F.col("purch_ts").isNotNull().alias("observed"))
    )
    by_day = per_user.groupBy("duration").agg(
        F.count(F.when(F.col("observed"), 1)).alias("n_event"),
        F.count(F.when(~F.col("observed"), 1)).alias("n_censored"))
    # n_risk = users resolved at-or-after this duration = REVERSE
    # cumulative (n_event + n_censored) over the |durations|-sized
    # frame — algebraically identical to the previous
    # n_total - resolved_through + row form, but without the separate
    # total aggregate that re-evaluated the whole per_user pipeline
    # (and its three events scans) a second time
    wrev = Window.orderBy("duration").rowsBetween(
        Window.currentRow, Window.unboundedFollowing)
    out = (
        by_day
        .select(
            "duration", "n_event", "n_censored",
            F.sum(F.col("n_event") + F.col("n_censored")).over(wrev)
            .alias("n_risk"))
        .orderBy("duration")
    )
    return materialize_release(out, first_view)


SURVIVAL_KM_SQL = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS view_ts FROM events
  WHERE event_type = 'view' GROUP BY 1),
fp AS (
  SELECT e.user_id, MIN(e.ts) AS purch_ts
  FROM events e JOIN fv ON fv.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fv.view_ts
  GROUP BY 1),
horizon AS (SELECT MAX(CAST(ts AS DATE)) AS end_day FROM events),
per_user AS (
  SELECT CAST(CASE WHEN fp.purch_ts IS NOT NULL
              THEN date_diff('day', CAST(fv.view_ts AS DATE),
                             CAST(fp.purch_ts AS DATE))
              ELSE date_diff('day', CAST(fv.view_ts AS DATE), h.end_day)
              END AS BIGINT) AS duration,
         fp.purch_ts IS NOT NULL AS observed
  FROM fv LEFT JOIN fp ON fp.user_id = fv.user_id CROSS JOIN horizon h),
by_day AS (
  SELECT duration,
         COUNT(CASE WHEN observed THEN 1 END) AS n_event,
         COUNT(CASE WHEN NOT observed THEN 1 END) AS n_censored
  FROM per_user GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_total FROM per_user)
SELECT duration, n_event, n_censored,
       CAST(n_total - SUM(n_event + n_censored)
                        OVER (ORDER BY duration
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
              + n_event + n_censored AS BIGINT) AS n_risk
FROM by_day CROSS JOIN tot ORDER BY duration
"""


QUERIES = {
    "events_linreg_trend": events_linreg_trend,
    "events_diff_in_diff": events_diff_in_diff,
    "events_changepoint_mean": events_changepoint_mean,
    "events_survival_km": events_survival_km,
}
ORACLE_SQL = {
    "events_linreg_trend": LINREG_SQL,
    "events_diff_in_diff": DID_SQL,
    "events_changepoint_mean": CHANGEPOINT_SQL,
    "events_survival_km": SURVIVAL_KM_SQL,
}


ACF_MAX_LAG = 7


def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the per-type daily count series at
    lags 1..ACF_MAX_LAG — the seasonality screen (a weekly cycle shows
    as a lag-7 spike) run before any forecasting model.

    Exactness: each lag's Pearson r comes from six integer sums over
    the aligned (x_t, x_{t-k}) pairs; the only floats are one fixed
    expression tree per row — sqrt IS portable (IEEE correctly-rounded
    in both engines), unlike ln/exp. Plan: one (type, day) aggregate
    over events, then per-type lag windows on the tiny daily census
    and an unpivot to (type, lag) rows.
    """
    ev = load_tables(spark, sf_dir)["events"]
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "y",
        *[F.lag("y", k).over(w).alias(f"l{k}")
          for k in range(1, ACF_MAX_LAG + 1)])
    stack = F.expr(
        "stack({}, {}) as (lag, prev)".format(
            ACF_MAX_LAG,
            ", ".join(f"{k}, l{k}" for k in range(1, ACF_MAX_LAG + 1))))
    pairs = (
        lagged.select("event_type", "y", stack)
        .filter(F.col("prev").isNotNull())
    )
    sums = pairs.groupBy("event_type", "lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("y").alias("sx"), F.sum("prev").alias("sp"),
        F.sum(F.col("y") * F.col("prev")).alias("sxp"),
        F.sum(F.col("y") * F.col("y")).alias("sxx"),
        F.sum(F.col("prev") * F.col("prev")).alias("spp"))
    d = lambda c: F.col(c).cast("double")
    num = d("n_pairs") * d("sxp") - d("sx") * d("sp")
    den = F.sqrt((d("n_pairs") * d("sxx") - d("sx") * d("sx"))
                 * (d("n_pairs") * d("spp") - d("sp") * d("sp")))
    return (
        sums.select("event_type", F.col("lag").cast("long").alias("lag"),
                    "n_pairs", (num / den).alias("acf"))
        .orderBy("event_type", "lag")
    )


def _acf_sql() -> str:
    lag_selects = "\nUNION ALL\n".join(
        f"SELECT event_type, {k} AS lag, y, "
        f"LAG(y, {k}) OVER (PARTITION BY event_type ORDER BY day) AS prev "
        f"FROM daily" for k in range(1, ACF_MAX_LAG + 1))
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
  FROM events GROUP BY 1, 2),
pairs AS ({lag_selects}),
sums AS (
  SELECT event_type, lag, COUNT(*) AS n_pairs,
         CAST(SUM(y) AS BIGINT) AS sx, CAST(SUM(prev) AS BIGINT) AS sp,
         CAST(SUM(y * prev) AS BIGINT) AS sxp,
         CAST(SUM(y * y) AS BIGINT) AS sxx,
         CAST(SUM(prev * prev) AS BIGINT) AS spp
  FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
       (CAST(n_pairs AS DOUBLE) * CAST(sxp AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sp AS DOUBLE))
       / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n_pairs AS DOUBLE) * CAST(spp AS DOUBLE)
                 - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) AS acf
FROM sums ORDER BY event_type, lag
"""


ACF_SQL = _acf_sql()

QUERIES["events_acf_daily"] = events_acf_daily
ORACLE_SQL["events_acf_daily"] = ACF_SQL


SNAIVE_SEASON = 7


def events_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest per event_type: forecast(day t) =
    actual(t - 7), scored with MASE against the naive lag-1 forecast —
    the no-model baseline every real forecast must beat, and the
    standard way to report it scale-free.

    All-integer: absolute cent errors summed as BIGINTs, MASE emitted
    permille via one fixed division (and as a double tree). One
    (type, day) aggregate; lag windows run on the daily census.
    """
    ev = load_tables(spark, sf_dir)["events"]
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = (
        daily
        .withColumn("pred", F.lag("cents", SNAIVE_SEASON).over(w))
        .withColumn("naive", F.lag("cents", 1).over(w))
        .filter(F.col("pred").isNotNull() & F.col("naive").isNotNull())
    )
    d = lambda c: F.col(c).cast("double")
    return (
        scored.groupBy("event_type")
        .agg(F.count("*").alias("n_scored"),
             F.sum(F.abs(F.col("cents") - F.col("pred")))
             .alias("abs_err_snaive"),
             F.sum(F.abs(F.col("cents") - F.col("naive")))
             .alias("abs_err_naive1"))
        .select(
            "event_type", "n_scored", "abs_err_snaive", "abs_err_naive1",
            F.expr("(abs_err_snaive * 1000) DIV abs_err_naive1")
            .alias("mase_permille"),
            (d("abs_err_snaive") / d("abs_err_naive1")).alias("mase"))
        .orderBy("event_type")
    )


SNAIVE_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
scored AS (
  SELECT event_type, cents,
         LAG(cents, {SNAIVE_SEASON}) OVER w AS pred,
         LAG(cents, 1) OVER w AS naive
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
SELECT event_type, COUNT(*) AS n_scored,
       CAST(SUM(abs(cents - pred)) AS BIGINT) AS abs_err_snaive,
       CAST(SUM(abs(cents - naive)) AS BIGINT) AS abs_err_naive1,
       (CAST(SUM(abs(cents - pred)) AS BIGINT) * 1000)
         // CAST(SUM(abs(cents - naive)) AS BIGINT) AS mase_permille,
       CAST(SUM(abs(cents - pred)) AS DOUBLE)
         / CAST(SUM(abs(cents - naive)) AS DOUBLE) AS mase
FROM scored WHERE pred IS NOT NULL AND naive IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


QUERIES["events_forecast_snaive"] = events_forecast_snaive
ORACLE_SQL["events_forecast_snaive"] = SNAIVE_SQL


def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test on purchase value between the odd/even
    user-id split — the nonparametric companion to events_ab_test
    (no normality assumption on the heavy-tailed value column).

    The scalable trick: ranks come from the VALUE HISTOGRAM, not a
    per-row sort — group counts per distinct cent value, one ordered
    prefix over the value census (bounded by the value domain, tiny),
    and midranks in 2x units stay integral under ties:
    2*r(v) = 2*below(v) + n_v + 1. U (2x), the tie term sum(t^3-t),
    and counts are BIGINT; z = (2U - n1*n2) / (2*sqrt(var)) is one
    fixed tree (IEEE sqrt is portable).
    """
    ev = load_tables(spark, sf_dir)["events"].filter(
        F.col("event_type") == "purchase")
    hist = (
        ev.select(
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            (F.pmod("user_id", F.lit(2)) == 1).alias("treated"))
        .groupBy("cents")
        .agg(F.count(F.when(F.col("treated"), 1)).alias("n1_v"),
             F.count(F.when(~F.col("treated"), 1)).alias("n2_v"))
    )
    w = (Window.orderBy("cents")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = (
        hist
        .withColumn("n_v", F.col("n1_v") + F.col("n2_v"))
        .withColumn("below",
                    F.sum("n_v").over(w) - F.col("n_v"))
        .withColumn("r2", 2 * F.col("below") + F.col("n_v") + 1)
    )
    sums = ranked.groupBy().agg(
        F.sum("n1_v").alias("n1"), F.sum("n2_v").alias("n2"),
        F.sum(F.col("n1_v") * F.col("r2")).alias("r1_x2"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .alias("tie_term"))
    d = lambda c: F.col(c).cast("double")
    n = F.col("n1") + F.col("n2")
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    var = (d("n1") * d("n2") / F.lit(12.0)
           * ((n.cast("double") + F.lit(1.0))
              - d("tie_term") / (n.cast("double")
                                 * (n.cast("double") - F.lit(1.0)))))
    return sums.select(
        "n1", "n2", u1_x2.alias("u1_x2"), "tie_term",
        ((u1_x2.cast("double") - d("n1") * d("n2"))
         / (F.lit(2.0) * F.sqrt(var))).alias("z"))


MANN_WHITNEY_SQL = """
WITH hist AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
         COUNT(CASE WHEN (user_id % 2) = 1 THEN 1 END) AS n1_v,
         COUNT(CASE WHEN (user_id % 2) = 0 THEN 1 END) AS n2_v
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
ranked AS (
  SELECT n1_v, n2_v, n1_v + n2_v AS n_v,
         CAST(SUM(n1_v + n2_v) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - (n1_v + n2_v) AS BIGINT) AS below
  FROM hist),
sums AS (
  SELECT CAST(SUM(n1_v) AS BIGINT) AS n1,
         CAST(SUM(n2_v) AS BIGINT) AS n2,
         CAST(SUM(n1_v * (2 * below + n_v + 1)) AS BIGINT) AS r1_x2,
         CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS tie_term
  FROM ranked)
SELECT n1, n2, r1_x2 - n1 * (n1 + 1) AS u1_x2, tie_term,
       (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
        - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
       / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
            * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
               - CAST(tie_term AS DOUBLE)
                 / (CAST(n1 + n2 AS DOUBLE)
                    * (CAST(n1 + n2 AS DOUBLE) - 1.0))))) AS z
FROM sums
"""


QUERIES["events_mann_whitney"] = events_mann_whitney
ORACLE_SQL["events_mann_whitney"] = MANN_WHITNEY_SQL


QTE_DECILES = 10


def events_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect by decile: rank purchase values
    WITHIN treatment and control (odd/even user split), cut each into
    exact NTILE deciles, and report the per-decile mean difference —
    where in the distribution an effect lives (means hide tail-only
    effects; this is the distributional A/B readout).

    Ranks come from ranking_per_group (distributed exscan — no
    low-cardinality rank window), deciles from ntile_from_rank (exact
    NTILE), and each decile-mean/QTE double is one fixed tree over
    cent-sum/count BIGINTs.
    """
    from kmr_spark.operators.sort import ntile_from_rank, ranking_per_group
    from kmr_spark.session import parquet_num_rows, sized_shuffle_partitions

    ev = load_tables(spark, sf_dir)["events"].filter(
        F.col("event_type") == "purchase")
    # pinned before the persist, which fixes the cache's width, and
    # sized from an upper bound on the purchases: |events|
    with sized_shuffle_partitions(spark, parquet_num_rows(sf_dir, "events")):
        base = ev.select(
            F.when(F.pmod("user_id", F.lit(2)) == 1, "treat")
            .otherwise("control").alias("grp"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            "event_id").persist()
        try:
            ranked = ranking_per_group(
                base, ["grp"], [F.col("cents"), F.col("event_id")],
                materialize=True)
        finally:
            base.unpersist()
    by_dec = (
        ranked.select(
            "grp", "cents",
            ntile_from_rank(F.col("rank") + 1, F.col("n_group"),
                            QTE_DECILES).alias("decile"))
        .groupBy("grp", "decile")
        .agg(F.sum("cents").alias("s"), F.count("*").alias("c"))
    )
    t = by_dec.filter(F.col("grp") == "treat").select(
        "decile", F.col("s").alias("s_t"), F.col("c").alias("n_t"))
    c = by_dec.filter(F.col("grp") == "control").select(
        "decile", F.col("s").alias("s_c"), F.col("c").alias("n_c"))
    d = lambda col: F.col(col).cast("double")
    return (
        t.join(c, "decile")
        .select(
            "decile", "n_t", "n_c",
            (d("s_t") / d("n_t")).alias("mean_treat_cents"),
            (d("s_c") / d("n_c")).alias("mean_control_cents"),
            (d("s_t") / d("n_t") - d("s_c") / d("n_c")).alias("qte_cents"))
        .orderBy("decile")
    )


QTE_SQL = f"""
WITH base AS (
  SELECT CASE WHEN (user_id % 2) = 1 THEN 'treat' ELSE 'control' END AS grp,
         CAST(floor(value * 100) AS BIGINT) AS cents, event_id
  FROM events WHERE event_type = 'purchase'),
ranked AS (
  SELECT grp, cents,
         NTILE({QTE_DECILES}) OVER (PARTITION BY grp
                                    ORDER BY cents, event_id) AS decile
  FROM base),
by_dec AS (
  SELECT grp, decile, CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS c
  FROM ranked GROUP BY 1, 2)
SELECT t.decile, t.c AS n_t, ctl.c AS n_c,
       CAST(t.s AS DOUBLE) / CAST(t.c AS DOUBLE) AS mean_treat_cents,
       CAST(ctl.s AS DOUBLE) / CAST(ctl.c AS DOUBLE) AS mean_control_cents,
       CAST(t.s AS DOUBLE) / CAST(t.c AS DOUBLE)
         - CAST(ctl.s AS DOUBLE) / CAST(ctl.c AS DOUBLE) AS qte_cents
FROM by_dec t JOIN by_dec ctl
  ON t.decile = ctl.decile AND t.grp = 'treat' AND ctl.grp = 'control'
ORDER BY t.decile
"""


QUERIES["events_qte_deciles"] = events_qte_deciles
ORACLE_SQL["events_qte_deciles"] = QTE_SQL


ROLLING_CORR_DAYS = 7


def events_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day Pearson correlation between daily VIEW and
    PURCHASE counts — the leading-indicator monitor ("are views still
    converting?") as a rolling series.

    Integer rolling sums (n, Sx, Sy, Sxy, Sxx, Syy) over the day
    census; each day's r is one fixed tree with IEEE sqrt. Windows run
    over |days| rows post-aggregation; days with an undefined r (zero
    variance) emit NULL in both engines.
    """
    ev = load_tables(spark, sf_dir)["events"]
    daily = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.when(F.col("event_type") == "view", 1)).alias("x"),
             F.count(F.when(F.col("event_type") == "purchase", 1))
             .alias("y"))
    )
    w = (Window.orderBy("day")
         .rowsBetween(-(ROLLING_CORR_DAYS - 1), Window.currentRow))
    rolled = (
        daily
        .withColumn("n", F.count("*").over(w))
        .withColumn("sx", F.sum("x").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(w))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(w))
        .withColumn("syy", F.sum(F.col("y") * F.col("y")).over(w))
    )
    d = lambda c: F.col(c).cast("double")
    num = d("n") * d("sxy") - d("sx") * d("sy")
    varx = d("n") * d("sxx") - d("sx") * d("sx")
    vary = d("n") * d("syy") - d("sy") * d("sy")
    return (
        rolled.select(
            "day", "x", "y", "n",
            F.when((varx > 0) & (vary > 0),
                   num / F.sqrt(varx * vary)).alias("rolling_r"))
        .orderBy("day")
    )


ROLLING_CORR_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS x,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
rolled AS (
  SELECT day, x, y,
         COUNT(*) OVER w AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {ROLLING_CORR_DAYS - 1} PRECEDING
               AND CURRENT ROW))
SELECT day, x, y, n,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
             AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
            THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy))
       END AS rolling_r
FROM rolled ORDER BY day
"""


QUERIES["events_rolling_corr"] = events_rolling_corr
ORACLE_SQL["events_rolling_corr"] = ROLLING_CORR_SQL


#: per-user features scored by the stump; each is a BIGINT count so
#: every candidate split works on exact integers
STUMP_FEATURES = ("n_click", "n_view", "n_days")


def events_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-split decision stump per feature for predicting
    "did this user purchase", by exhaustive threshold search under
    Gini impurity — the CART inner loop (and the standard feature-
    screening report a feature store publishes) expressed as pure
    keyed aggregation + per-feature cumulative windows, no ML library.

    Plan: one aggregation of events to per-user feature counts
    (shuffle keyed by user_id), melt to (feature, x, label), aggregate
    to per-(feature, x) class counts, then a per-feature window
    cumsum over the DISTINCT feature values (post-agg frame:
    |features| x |distinct values| rows — KBs at any input scale).
    The argmax is a row_number window per feature.

    Exactness: class counts are BIGINTs; each candidate's Gini gain is
    ONE fixed expression tree over its four counts (squares stay in
    BIGINT, one cast per operand), so candidate ordering — and hence
    the chosen stump — is bit-identical across engines; ties break on
    the smaller threshold.
    """
    ev = load_tables(spark, sf_dir)["events"]
    users = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("label"))
    melted = users.selectExpr(
        "stack(3, 'n_click', n_click, 'n_view', n_view, "
        "'n_days', n_days) AS (feature, x)", "label")
    cells = melted.groupBy("feature", "x").agg(
        F.count("*").alias("cnt"), F.sum("label").alias("pos"))
    w = (Window.partitionBy("feature").orderBy("x")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("feature")
    cand = (
        cells
        .withColumn("l_cnt", F.sum("cnt").over(w))
        .withColumn("l_pos", F.sum("pos").over(w))
        .withColumn("t_cnt", F.sum("cnt").over(wt))
        .withColumn("t_pos", F.sum("pos").over(wt))
        .withColumn("r_cnt", F.col("t_cnt") - F.col("l_cnt"))
        .withColumn("r_pos", F.col("t_pos") - F.col("l_pos"))
        .filter((F.col("r_cnt") > 0) & (F.col("l_cnt") > 0))
        .withColumn("gini_gain", F.expr(
            "(CAST(l_pos*l_pos + (l_cnt-l_pos)*(l_cnt-l_pos) AS DOUBLE)"
            " / CAST(l_cnt AS DOUBLE)"
            " + CAST(r_pos*r_pos + (r_cnt-r_pos)*(r_cnt-r_pos) AS DOUBLE)"
            " / CAST(r_cnt AS DOUBLE)"
            " - CAST(t_pos*t_pos + (t_cnt-t_pos)*(t_cnt-t_pos) AS DOUBLE)"
            " / CAST(t_cnt AS DOUBLE)) / CAST(t_cnt AS DOUBLE)"))
    )
    pick = Window.partitionBy("feature").orderBy(
        F.col("gini_gain").desc(), F.col("x").asc())
    return (
        cand.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("feature", F.col("x").alias("threshold"),
                "l_cnt", "l_pos", "r_cnt", "r_pos", "gini_gain")
        .orderBy("feature")
    )


STUMP_SQL = """
WITH users AS (
  SELECT user_id,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
         COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS label
  FROM events GROUP BY user_id),
melted AS (
  SELECT 'n_click' AS feature, n_click AS x, label FROM users
  UNION ALL SELECT 'n_view', n_view, label FROM users
  UNION ALL SELECT 'n_days', n_days, label FROM users),
cells AS (
  SELECT feature, x, COUNT(*) AS cnt, CAST(SUM(label) AS BIGINT) AS pos
  FROM melted GROUP BY feature, x),
cand AS (
  SELECT feature, x,
         CAST(SUM(cnt) OVER (PARTITION BY feature ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS l_cnt,
         CAST(SUM(pos) OVER (PARTITION BY feature ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS l_pos,
         CAST(SUM(cnt) OVER (PARTITION BY feature) AS BIGINT) AS t_cnt,
         CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS t_pos
  FROM cells),
scored AS (
  SELECT feature, x, l_cnt, l_pos,
         t_cnt - l_cnt AS r_cnt, t_pos - l_pos AS r_pos,
         (CAST(l_pos*l_pos + (l_cnt-l_pos)*(l_cnt-l_pos) AS DOUBLE)
          / CAST(l_cnt AS DOUBLE)
          + CAST((t_pos-l_pos)*(t_pos-l_pos)
                 + ((t_cnt-l_cnt)-(t_pos-l_pos))
                   *((t_cnt-l_cnt)-(t_pos-l_pos)) AS DOUBLE)
          / CAST(t_cnt - l_cnt AS DOUBLE)
          - CAST(t_pos*t_pos + (t_cnt-t_pos)*(t_cnt-t_pos) AS DOUBLE)
          / CAST(t_cnt AS DOUBLE)) / CAST(t_cnt AS DOUBLE) AS gini_gain
  FROM cand WHERE t_cnt - l_cnt > 0 AND l_cnt > 0),
picked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
              ORDER BY gini_gain DESC, x ASC) AS rn
  FROM scored)
SELECT feature, x AS threshold, l_cnt, l_pos, r_cnt, r_pos, gini_gain
FROM picked WHERE rn = 1 ORDER BY feature
"""

QUERIES["events_decision_stump"] = events_decision_stump
ORACLE_SQL["events_decision_stump"] = STUMP_SQL


def users_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature-plus-intercept OLS of per-user purchase revenue on
    view and click counts, solved in closed form from the normal
    equations — the distributed regression shape that needs NO
    iteration: one pass accumulates the 3x3 Gram matrix and the
    moment vector as exact integers, Cramer's rule solves it in the
    driver-free final projection. (iter_logreg covers the iterative
    family; this is the one-shot family every feature store wants for
    cheap attribution baselines.)

    Exactness: features are BIGINT counts, the label is integer cents
    (floor(value*100)); every Gram/moment entry is an integer sum, and
    the four 3x3 determinants are cofactor expansions computed in
    DECIMAL(38,0) on Spark / HUGEINT in DuckDB — exact integer
    arithmetic well past the BIGINT range (entries ~1e13, products
    ~1e28). Each coefficient is then ONE cast-to-double ratio, and
    both engines' wide-int->double conversions are correctly rounded.

    Scale: one keyed aggregation over events (shuffle on user_id),
    one scalar aggregation; the Gram matrix is 9 numbers regardless
    of input size.
    """
    ev = load_tables(spark, sf_dir)["events"]
    users = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("x1"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("x2"),
        F.coalesce(F.sum(F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100).cast("long"))), F.lit(0))
        .alias("y"))
    g = users.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.expr("x1*x1")).alias("s11"),
        F.sum(F.expr("x1*x2")).alias("s12"),
        F.sum(F.expr("x2*x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x1*y")).alias("s1y"),
        F.sum(F.expr("x2*y")).alias("s2y"))
    d = "CAST({} AS DECIMAL(38,0))".format
    n, s1, s2 = d("n"), d("s1"), d("s2")
    s11, s12, s22 = d("s11"), d("s12"), d("s22")
    sy, s1y, s2y = d("sy"), d("s1y"), d("s2y")

    def det3(a, b, c, p, q, r, x, y_, z):
        return (f"({a}*({q}*{z} - {r}*{y_}) - {b}*({p}*{z} - {r}*{x})"
                f" + {c}*({p}*{y_} - {q}*{x}))")

    det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    det0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    det1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    det2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    return g.selectExpr(
        "n", "s1", "s2", "sy",
        f"CAST({det} AS DOUBLE) AS det",
        f"CAST({det0} AS DOUBLE) / CAST({det} AS DOUBLE) AS beta0",
        f"CAST({det1} AS DOUBLE) / CAST({det} AS DOUBLE) AS beta_views",
        f"CAST({det2} AS DOUBLE) / CAST({det} AS DOUBLE) AS beta_clicks")


def _ols_det3(a, b, c, p, q, r, x, y, z):
    return (f"({a}*({q}*{z} - {r}*{y}) - {b}*({p}*{z} - {r}*{x})"
            f" + {c}*({p}*{y} - {q}*{x}))")


def _ols_sql() -> str:
    h = "CAST({} AS HUGEINT)".format
    det = _ols_det3(h("n"), h("s1"), h("s2"), h("s1"), h("s11"),
                    h("s12"), h("s2"), h("s12"), h("s22"))
    det0 = _ols_det3(h("sy"), h("s1"), h("s2"), h("s1y"), h("s11"),
                     h("s12"), h("s2y"), h("s12"), h("s22"))
    det1 = _ols_det3(h("n"), h("sy"), h("s2"), h("s1"), h("s1y"),
                     h("s12"), h("s2"), h("s2y"), h("s22"))
    det2 = _ols_det3(h("n"), h("s1"), h("sy"), h("s1"), h("s11"),
                     h("s1y"), h("s2"), h("s12"), h("s2y"))
    return f"""
WITH users AS (
  SELECT user_id,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS x1,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS x2,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100) AS BIGINT) END), 0) AS y
  FROM events GROUP BY user_id),
g AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x1*x1) AS BIGINT) AS s11,
         CAST(SUM(x1*x2) AS BIGINT) AS s12,
         CAST(SUM(x2*x2) AS BIGINT) AS s22,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1*y) AS BIGINT) AS s1y,
         CAST(SUM(x2*y) AS BIGINT) AS s2y
  FROM users)
SELECT n, s1, s2, sy,
       CAST({det} AS DOUBLE) AS det,
       CAST({det0} AS DOUBLE) / CAST({det} AS DOUBLE) AS beta0,
       CAST({det1} AS DOUBLE) / CAST({det} AS DOUBLE) AS beta_views,
       CAST({det2} AS DOUBLE) / CAST({det} AS DOUBLE) AS beta_clicks
FROM g
"""


OLS_NORMAL_SQL = _ols_sql()

QUERIES["users_ols_normal_equations"] = users_ols_normal_equations
ORACLE_SQL["users_ols_normal_equations"] = OLS_NORMAL_SQL


#: two-sided alpha=0.05 and power=0.80 normal quantiles, embedded as
#: shared literals so neither engine evaluates an inverse-normal
Z_ALPHA = 1.959963984540054
Z_BETA = 0.8416212335729143
#: minimum detectable effect as a fraction of the arm mean
POWER_MDE = 0.05


def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type A/B sample-size calculator from observed value
    variance: n per arm to detect a 5% lift in mean value at
    alpha=0.05 / power=0.80 — the planning query every experimentation
    platform runs before launch (and the natural companion to
    events_ab_test, which analyzes the experiment after).

    Exactness: value is floored to integer cents, variance comes from
    the BIGINT moment sums via one fixed expression tree, and the z
    quantiles are shared literals; ceil() of the final double is
    exact on both engines.
    """
    ev = load_tables(spark, sf_dir)["events"]
    cents = F.floor(F.col("value") * 100).cast("long")
    sums = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("q"))
    var = ("(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
           " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
           " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))")
    delta = f"({POWER_MDE} * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    return sums.selectExpr(
        "event_type", "n",
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents",
        f"{var} AS var_cents2",
        f"CAST(ceil(2.0 * (({Z_ALPHA} + {Z_BETA}) * ({Z_ALPHA} + {Z_BETA}))"
        f" * {var} / ({delta} * {delta})) AS BIGINT) AS n_per_arm",
    ).orderBy("event_type")


POWER_SQL = f"""
WITH sums AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                  * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS q
  FROM events GROUP BY event_type)
SELECT event_type, n,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
       (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var_cents2,
       CAST(ceil(2.0 * (({Z_ALPHA} + {Z_BETA}) * ({Z_ALPHA} + {Z_BETA}))
            * ((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
            / (({POWER_MDE} * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * ({POWER_MDE} * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))
        AS BIGINT) AS n_per_arm
FROM sums ORDER BY event_type
"""

QUERIES["events_power_analysis"] = events_power_analysis
ORACLE_SQL["events_power_analysis"] = POWER_SQL


def events_hazard_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time hazard + Nelson-Aalen cumulative hazard on top of
    the Kaplan-Meier risk table (events_survival_km): per duration day,
    hazard = n_event / n_risk as an integer permille, and the running
    Nelson-Aalen sum in integer micro-units — the per-term quantization
    (1e6 * d_t) DIV n_t makes the cumulative estimator an integer sum,
    so it is order-free and bit-identical across engines, unlike the
    textbook float product/sum. The final double is one cast.

    Plan: inherits KM's shape (two user-keyed aggs + broadcast
    horizon); the added window runs over |distinct durations| rows
    (~30 here, <= censor horizon in general) — a deliberately tiny
    unpartitioned window, same as KM's own.
    """
    km = events_survival_km(spark, sf_dir)
    wo = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        km.select(
            "duration", "n_event", "n_risk",
            F.expr("(1000 * n_event) DIV n_risk").alias("hazard_permille"),
            F.expr("(1000000 * n_event) DIV n_risk").alias("na_term"))
        .withColumn("cum_hazard_micro", F.sum("na_term").over(wo))
        .select(
            "duration", "n_event", "n_risk", "hazard_permille",
            "cum_hazard_micro",
            (F.col("cum_hazard_micro").cast("double") / F.lit(1000000.0))
            .alias("nelson_aalen"))
        .orderBy("duration")
    )


HAZARD_SQL = f"""
WITH km AS MATERIALIZED ({SURVIVAL_KM_SQL}
)
SELECT duration, n_event, n_risk,
       CAST((1000 * n_event) // n_risk AS BIGINT) AS hazard_permille,
       CAST(SUM((1000000 * n_event) // n_risk)
              OVER (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS cum_hazard_micro,
       CAST(CAST(SUM((1000000 * n_event) // n_risk)
              OVER (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS DOUBLE) / 1000000.0
         AS nelson_aalen
FROM km ORDER BY duration
"""

QUERIES["events_hazard_daily"] = events_hazard_daily
ORACLE_SQL["events_hazard_daily"] = HAZARD_SQL


KS_ALPHA_C = 1.3581015157406195  # c(0.05) for the two-sample KS bound


def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV test on purchase values between
    experiment arms (arm = user_id % 2, the events_ab_test split): the
    KS statistic D = max |ECDF_a - ECDF_b|, the 5% critical value, and
    the reject flag. KS catches distribution-shape changes a mean test
    (ab_test) and a rank test (mann_whitney) both miss.

    Exactness: ECDFs on the common denominator — at each distinct
    cent value, |cum_a * n_b - cum_b * n_a| is an INTEGER, so D's
    argmax is an integer MAX; D itself and the critical value
    c * sqrt((na+nb)/(na*nb)) are each one fixed tree (sqrt is
    correctly rounded, hence portable).

    Scale: the cumulative counts come from the distributed two-phase
    exscan (operators/reduce.scan_distributed — KMR's MPI_Exscan
    shape), NOT a single-partition window: the per-value count table
    is range-partitioned and each partition adds a driver-exscanned
    offset, so the ECDF sweep survives a value domain of any size.
    """
    from kmr_spark.operators.reduce import scan_distributed

    ev = load_tables(spark, sf_dir)["events"]
    per_val = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.floor(F.col("value") * 100).cast("long").alias("c"),
                (F.col("user_id") % 2).alias("arm"))
        .groupBy("c")
        .agg(F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("ca"),
             F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("cb"))
    )
    scanned = scan_distributed(per_val, ["ca", "cb"], [F.col("c")])
    # scanned is already materialized (same rows, same ca/cb columns)
    # — summing it avoids re-running per_val's events scan + aggregate
    totals = scanned.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    d_scaled = (
        scanned.crossJoin(F.broadcast(totals))
        .select(F.abs((F.col("scan_ca") + F.col("ca")) * F.col("nb")
                      - (F.col("scan_cb") + F.col("cb")) * F.col("na"))
                .alias("diff"))
        .agg(F.max("diff").alias("d_scaled"))
    )
    dd = lambda c: F.col(c).cast("double")
    return (
        d_scaled.crossJoin(F.broadcast(totals))
        .select(
            "na", "nb", "d_scaled",
            (dd("d_scaled") / (dd("na") * dd("nb"))).alias("d"),
            (F.lit(KS_ALPHA_C)
             * F.sqrt((dd("na") + dd("nb")) / (dd("na") * dd("nb"))))
            .alias("crit_05"))
        .select(
            "*",
            (F.col("d") > F.col("crit_05")).alias("reject_05"))
    )


KS_SQL = f"""
WITH per_val AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS cb
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
cum AS (
  SELECT c, ca, cb,
         CAST(SUM(ca) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cum_b
  FROM per_val),
totals AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM per_val),
d AS (
  SELECT MAX(abs(cum_a * t.nb - cum_b * t.na)) AS d_scaled
  FROM cum CROSS JOIN totals t)
SELECT na, nb, d_scaled,
       CAST(d_scaled AS DOUBLE)
         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS d,
       {KS_ALPHA_C} * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
         AS crit_05,
       CAST(d_scaled AS DOUBLE)
         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
         > {KS_ALPHA_C} * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
         AS reject_05
FROM d CROSS JOIN totals
"""

QUERIES["events_ks_test"] = events_ks_test
ORACLE_SQL["events_ks_test"] = KS_SQL


SRM_CHI2_CRIT_MILLI = 3841  # chi-square(1df) 5% critical value x1000


def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH check for the 50/50 arm split every A/B
    query in this repo assumes (arm = user_id % 2): per event_type and
    overall, the chi-square statistic for a 50/50 user split —
    chi2 = (na-nb)^2/(na+nb) — with the 5% flag. SRM is the first
    trust gate an experimentation platform runs: a significant
    mismatch means assignment (or logging) is broken and every
    downstream test (ab_test, CUPED, sequential, KS, Mann-Whitney) is
    invalid. USERS are counted, not events (events per user vary
    legitimately).

    Exactness: na/nb are BIGINT distinct-user counts; chi2_milli =
    (1000*(na-nb)^2) DIV (na+nb) is an integer and the flag compares
    integers. One distinct-user aggregation, then |types|+1 rows.
    """
    ev = load_tables(spark, sf_dir)["events"]
    users = ev.select("event_type", "user_id",
                      (F.col("user_id") % 2).alias("arm")).distinct()
    per_type = users.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("na"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("nb"))
    overall = (
        users.select("user_id", "arm").distinct()
        .groupBy()
        .agg(F.count(F.when(F.col("arm") == 0, 1)).alias("na"),
             F.count(F.when(F.col("arm") == 1, 1)).alias("nb"))
        .select(F.lit("__all__").alias("event_type"), "na", "nb")
    )
    chi = F.expr("(1000 * (na - nb) * (na - nb)) DIV (na + nb)")
    return (
        per_type.unionByName(overall)
        .select("event_type", "na", "nb", chi.alias("chi2_milli"),
                (chi > SRM_CHI2_CRIT_MILLI).alias("srm_flag"))
        .orderBy("event_type")
    )


SRM_SQL = f"""
WITH users AS (
  SELECT DISTINCT event_type, user_id, user_id % 2 AS arm FROM events),
per_type AS (
  SELECT event_type,
         COUNT(CASE WHEN arm = 0 THEN 1 END) AS na,
         COUNT(CASE WHEN arm = 1 THEN 1 END) AS nb
  FROM users GROUP BY event_type
  UNION ALL
  SELECT '__all__',
         COUNT(CASE WHEN arm = 0 THEN 1 END),
         COUNT(CASE WHEN arm = 1 THEN 1 END)
  FROM (SELECT DISTINCT user_id, user_id % 2 AS arm FROM events))
SELECT event_type, na, nb,
       (1000 * (na - nb) * (na - nb)) // (na + nb) AS chi2_milli,
       (1000 * (na - nb) * (na - nb)) // (na + nb) > {SRM_CHI2_CRIT_MILLI}
         AS srm_flag
FROM per_type ORDER BY event_type
"""

QUERIES["events_ab_srm_check"] = events_ab_srm_check
ORACLE_SQL["events_ab_srm_check"] = SRM_SQL


def events_factorial_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 FACTORIAL experiment readout: factors A = user_id % 2 and
    B = (user_id DIV 2) % 2 (two independent deterministic
    assignments), outcome = event value in cents. Reports the four
    cell means, both main effects, and the INTERACTION term
    (m11 - m10) - (m01 - m00) — the quantity a one-factor A/B test
    cannot see (does feature A help only when B is on?). Completes the
    causal family next to DiD / CUPED / power / SRM.

    Exactness: four (cent-sum, count) BIGINT pairs; every output
    double is one fixed tree over them (the DiD recipe).
    """
    ev = load_tables(spark, sf_dir)["events"]
    cells = (
        ev.select(
            (F.col("user_id") % 2 == 1).alias("a"),
            (F.expr("(user_id DIV 2) % 2") == 1).alias("b"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        .groupBy()
        .agg(*[F.sum(F.when(cond, F.col("cents"))).alias(f"s{tag}")
               for tag, cond in _fact_cells()],
             *[F.count(F.when(cond, F.lit(1))).alias(f"n{tag}")
               for tag, cond in _fact_cells()])
    )
    m = lambda t: (F.col(f"s{t}").cast("double")
                   / F.col(f"n{t}").cast("double"))
    return cells.select(
        *[F.col(f"n{t}") for t, _ in _fact_cells()],
        m("00").alias("mean00"), m("01").alias("mean01"),
        m("10").alias("mean10"), m("11").alias("mean11"),
        ((m("10") + m("11")) / F.lit(2.0)
         - (m("00") + m("01")) / F.lit(2.0)).alias("effect_a"),
        ((m("01") + m("11")) / F.lit(2.0)
         - (m("00") + m("10")) / F.lit(2.0)).alias("effect_b"),
        ((m("11") - m("10")) - (m("01") - m("00"))).alias("interaction"))


def _fact_cells():
    a, b = F.col("a"), F.col("b")
    return [("00", ~a & ~b), ("01", ~a & b), ("10", a & ~b), ("11", a & b)]


FACTORIAL_SQL = """
WITH base AS (
  SELECT (user_id % 2) = 1 AS a, ((user_id // 2) % 2) = 1 AS b,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
g AS (
  SELECT
    CAST(SUM(CASE WHEN NOT a AND NOT b THEN cents END) AS BIGINT) AS s00,
    CAST(SUM(CASE WHEN NOT a AND b THEN cents END) AS BIGINT) AS s01,
    CAST(SUM(CASE WHEN a AND NOT b THEN cents END) AS BIGINT) AS s10,
    CAST(SUM(CASE WHEN a AND b THEN cents END) AS BIGINT) AS s11,
    COUNT(CASE WHEN NOT a AND NOT b THEN 1 END) AS n00,
    COUNT(CASE WHEN NOT a AND b THEN 1 END) AS n01,
    COUNT(CASE WHEN a AND NOT b THEN 1 END) AS n10,
    COUNT(CASE WHEN a AND b THEN 1 END) AS n11
  FROM base)
SELECT n00, n01, n10, n11,
  CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE) AS mean00,
  CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) AS mean01,
  CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE) AS mean10,
  CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) AS mean11,
  (CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)
   + CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) / 2.0
  - (CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)
     + CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)) / 2.0 AS effect_a,
  (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)
   + CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) / 2.0
  - (CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)
     + CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) / 2.0 AS effect_b,
  (CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)
   - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
  - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)
     - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) AS interaction
FROM g
"""

QUERIES["events_factorial_interaction"] = events_factorial_interaction
ORACLE_SQL["events_factorial_interaction"] = FACTORIAL_SQL


MDE_ARM_SIZES = (1_000, 10_000, 100_000, 1_000_000)


def events_mde_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INVERSE of events_power_analysis: instead of "how many users
    for a 5% effect", the minimum detectable effect (as a fraction of
    the purchase-value mean, 80% power / 5% two-sided) achievable at
    each candidate arm size — the planning curve a team reads BEFORE
    committing to an experiment duration. mde = (z_a+z_b) *
    sqrt(2*var/n) / mean, per n in MDE_ARM_SIZES.

    Exactness: var and mean come from the same BIGINT cent moments the
    power query uses; each mde is one fixed expression tree (one per
    n, sharing the z literals). One aggregation, 4 output rows.
    """
    ev = load_tables(spark, sf_dir)["events"]
    sums = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.floor(F.col("value") * 100).cast("long").alias("c"))
        .agg(F.count("*").alias("n_obs"),
             F.sum("c").alias("s"),
             F.sum(F.col("c") * F.col("c")).alias("q"))
    )
    dd = lambda c: F.col(c).cast("double")
    var = ((dd("n_obs") * dd("q") - dd("s") * dd("s"))
           / (dd("n_obs") * (dd("n_obs") - F.lit(1.0))))
    mean = dd("s") / dd("n_obs")
    z = F.lit(Z_ALPHA) + F.lit(Z_BETA)
    # per-arm-size rows from the single 1-row aggregate via a literal
    # struct-array explode (the events_spectral_daily recipe) — the
    # union-of-branches form re-ran the purchase aggregation per size
    rows = F.array(*[
        F.struct(
            F.lit(n).cast("long").alias("n_per_arm"),
            F.col("n_obs").alias("n_obs"),
            (z * F.sqrt(F.lit(2.0) * var / F.lit(float(n))) / mean)
            .alias("mde_fraction"))
        for n in MDE_ARM_SIZES])
    return (
        sums.select(F.explode(rows).alias("r"))
        .select("r.n_per_arm", "r.n_obs", "r.mde_fraction")
        .orderBy("n_per_arm"))


def _mde_sql() -> str:
    za, zb = repr(Z_ALPHA), repr(Z_BETA)
    var = ("(CAST(n_obs AS DOUBLE) * CAST(q AS DOUBLE)"
           " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
           " / (CAST(n_obs AS DOUBLE) * (CAST(n_obs AS DOUBLE) - 1.0))")
    mean = "CAST(s AS DOUBLE) / CAST(n_obs AS DOUBLE)"
    parts = "\nUNION ALL\n".join(
        f"SELECT CAST({n} AS BIGINT) AS n_per_arm, n_obs,\n"
        f"  (CAST('{za}' AS DOUBLE) + CAST('{zb}' AS DOUBLE))\n"
        f"  * sqrt(2.0 * ({var}) / CAST({float(n)} AS DOUBLE)) / ({mean})\n"
        f"  AS mde_fraction FROM sums" for n in MDE_ARM_SIZES)
    return f"""
WITH sums AS (
  SELECT COUNT(*) AS n_obs,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM (SELECT CAST(floor(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'))
{parts}
ORDER BY n_per_arm
"""


MDE_SQL = _mde_sql()

QUERIES["events_mde_curve"] = events_mde_curve
ORACLE_SQL["events_mde_curve"] = MDE_SQL


def events_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-METRIC experiment readout with the DELTA METHOD: revenue
    per event, by arm (user_id % 2) — the metric class where naive
    per-event variance is WRONG because the randomization unit is the
    USER: both numerator and denominator are user-level sums, so the
    ratio's variance needs var(x), var(y), cov(x,y) of per-user
    totals (the delta method), not per-event moments. Reports per arm
    the ratio and its delta-method standard error, plus the
    difference z-statistic — the cluster-robust version of
    events_ab_test.

    Exactness: per-user totals are BIGINT cents/counts; the five
    per-arm moments (Sx, Sy, Sxx, Syy, Sxy) are BIGINT sums; every
    double (ratio, se, z) is one fixed expression tree over them.
    Plan: one user-keyed aggregation, one arm rollup — map-side
    combinable end to end.
    """
    ev = load_tables(spark, sf_dir)["events"]
    per_user = (
        ev.select("user_id",
                  F.floor(F.col("value") * 100).cast("long").alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("x"), F.count("*").alias("y"))
        .select((F.col("user_id") % 2).alias("arm"), "x", "y")
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    dd = lambda c: F.col(c).cast("double")
    n = dd("n_users")
    mx, my = dd("sx") / n, dd("sy") / n
    vx = (dd("sxx") - n * mx * mx) / (n - F.lit(1.0))
    vy = (dd("syy") - n * my * my) / (n - F.lit(1.0))
    cxy = (dd("sxy") - n * mx * my) / (n - F.lit(1.0))
    r = dd("sx") / dd("sy")
    se = F.sqrt((vx - F.lit(2.0) * r * cxy + r * r * vy) / n) / my
    out = arms.select("arm", "n_users", "sx", "sy",
                      r.alias("ratio_cents"), se.alias("se"))
    a0 = out.filter("arm = 0").select(
        F.col("ratio_cents").alias("r0"), F.col("se").alias("se0"))
    a1 = out.filter("arm = 1").select(
        F.col("ratio_cents").alias("r1"), F.col("se").alias("se1"))
    diff = a0.crossJoin(F.broadcast(a1)).select(
        F.lit(-1).cast("long").alias("arm"),
        F.lit(None).cast("long").alias("n_users"),
        F.lit(None).cast("long").alias("sx"),
        F.lit(None).cast("long").alias("sy"),
        (F.col("r1") - F.col("r0")).alias("ratio_cents"),
        F.sqrt(F.col("se0") * F.col("se0")
               + F.col("se1") * F.col("se1")).alias("se"))
    return out.unionByName(diff).orderBy("arm")


RATIO_DELTA_SQL = """
WITH per_user AS (
  SELECT user_id % 2 AS arm,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x,
         COUNT(*) AS y
  FROM events GROUP BY user_id),
arms AS (
  SELECT arm, COUNT(*) AS n_users,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM per_user GROUP BY arm),
scored AS (
  SELECT arm, n_users, sx, sy,
         CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio_cents,
         sqrt(((CAST(sxx AS DOUBLE) - CAST(n_users AS DOUBLE)
                  * (CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE))
                  * (CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE)))
                 / (CAST(n_users AS DOUBLE) - 1.0)
               - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                 * ((CAST(sxy AS DOUBLE) - CAST(n_users AS DOUBLE)
                     * (CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE))
                     * (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)))
                    / (CAST(n_users AS DOUBLE) - 1.0))
               + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                 * ((CAST(syy AS DOUBLE) - CAST(n_users AS DOUBLE)
                     * (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE))
                     * (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)))
                    / (CAST(n_users AS DOUBLE) - 1.0)))
              / CAST(n_users AS DOUBLE))
           / (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)) AS se
  FROM arms)
SELECT arm, n_users, sx, sy, ratio_cents, se FROM scored
UNION ALL
SELECT CAST(-1 AS BIGINT), NULL, NULL, NULL,
       a1.ratio_cents - a0.ratio_cents,
       sqrt(a0.se * a0.se + a1.se * a1.se)
FROM (SELECT * FROM scored WHERE arm = 0) a0
CROSS JOIN (SELECT * FROM scored WHERE arm = 1) a1
ORDER BY arm
"""

QUERIES["events_ratio_metric_delta"] = events_ratio_metric_delta
ORACLE_SQL["events_ratio_metric_delta"] = RATIO_DELTA_SQL
