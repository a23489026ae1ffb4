"""Data-quality gate over the events table (operators/validate.py).

The query every ingest batch runs before publishing: a declarative
rule suite evaluated in one aggregation pass, emitting the per-rule
violation report the pipeline stores next to the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmr_spark.operators.validate import (accepted_values, check, in_range,
                                          matches, not_null, referential,
                                          unique)
from kmr_spark.session import load_tables, scratch_dir

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(spark, sf_dir)
    ev = tables["events"]
    rules = [
        referential("user_id", tables["customer"], "c_custkey"),
        not_null("event_id"),
        not_null("ts"),
        not_null("user_id"),
        accepted_values("event_type", EVENT_TYPES),
        in_range("value", 0.0, 1_000_000.0),
        matches("props", r"^\{.*\}$"),
        unique("event_id"),
    ]
    return check(ev, rules)


_TYPES = ", ".join(f"'{t}'" for t in EVENT_TYPES)

VALIDATE_EVENTS_SQL = f"""
WITH wide AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_eid,
         SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_ts,
         SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_uid,
         SUM(CASE WHEN event_type IS NOT NULL
                   AND event_type NOT IN ({_TYPES}) THEN 1 ELSE 0 END)::BIGINT AS v_type,
         SUM(CASE WHEN value IS NOT NULL
                   AND (value < 0.0 OR value > 1000000.0) THEN 1 ELSE 0 END)::BIGINT AS v_range,
         SUM(CASE WHEN props IS NOT NULL
                   AND NOT regexp_matches(props, '^\\{{.*\\}}$') THEN 1 ELSE 0 END)::BIGINT AS v_props,
         COUNT(event_id) - COUNT(DISTINCT event_id)::BIGINT AS v_uniq,
         SUM(CASE WHEN user_id IS NOT NULL AND user_id NOT IN
                  (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END)::BIGINT
           AS v_ref
  FROM events)
SELECT r.rule, r.violations, w.n_rows, r.violations = 0 AS passed
FROM wide w, LATERAL (VALUES
  ('not_null(event_id)', w.v_eid),
  ('not_null(ts)', w.v_ts),
  ('not_null(user_id)', w.v_uid),
  ('accepted_values(event_type)', w.v_type),
  ('in_range(value,0.0,1000000.0)', w.v_range),
  ('matches(props)', w.v_props),
  ('unique(event_id)', w.v_uniq),
  ('referential(user_id)', w.v_ref)) AS r(rule, violations)
ORDER BY r.rule
"""


def events_gate_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING data-quality gate with dead-letter routing: the event
    stream forks into two checkpointed exactly-once parquet sinks —
    rows passing every ROW-LOCAL rule (not_null × 3, accepted type,
    value range, props regex) publish to the good table; violating
    rows quarantine to the DLQ with their reason list. The report
    (per-rule violation counts + routed row totals, recomputed from
    the WRITTEN tables so the sinks themselves are what is verified)
    must equal the batch rule pass — which is the oracle.

    Cross-row rules (unique, referential) stay in the batch gate
    (validate_events): they need global state a row-router doesn't
    have — the standard split between streaming admission control and
    batch reconciliation.

    The testdata is clean by construction, so the stream first SEEDS
    deterministic corruption (every 97th event gets a bogus type,
    every 101st a negative value — the PII-seeding pattern): a gate
    whose DLQ is provably empty verifies nothing. The oracle replays
    the same corruption.
    """
    import shutil

    from pyspark.sql import functions as F

    from kmr_spark.streaming.windows import (run_available_now_to_parquet,
                                             stream_events)

    def flags(df: DataFrame) -> DataFrame:
        types = F.array(*[F.lit(t) for t in EVENT_TYPES])
        reasons = F.filter(
            F.array(
                F.when(F.col("event_id").isNull(), F.lit("null_event_id")),
                F.when(F.col("ts").isNull(), F.lit("null_ts")),
                F.when(F.col("user_id").isNull(), F.lit("null_user_id")),
                F.when(F.col("event_type").isNotNull()
                       & ~F.array_contains(types, F.col("event_type")),
                       F.lit("bad_type")),
                F.when(F.col("value").isNotNull()
                       & ((F.col("value") < 0.0)
                          | (F.col("value") > 1_000_000.0)),
                       F.lit("bad_range")),
                F.when(F.col("props").isNotNull()
                       & ~F.col("props").rlike(r"^\{.*\}$"),
                       F.lit("bad_props")),
            ),
            lambda x: x.isNotNull())
        return df.withColumn("reasons", reasons)

    def corrupt(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "event_type",
            F.when(F.col("event_id") % 97 == 0, F.lit("bogus"))
            .otherwise(F.col("event_type"))
        ).withColumn(
            "value",
            F.when(F.col("event_id") % 101 == 0, F.lit(-5.0))
            .otherwise(F.col("value")))

    dirs = [scratch_dir(f"kmr_gate_{k}_")
            for k in ("ok", "dlq", "ck1", "ck2")]
    ok_dir, dlq_dir, ck1, ck2 = dirs
    try:
        good = run_available_now_to_parquet(
            flags(corrupt(stream_events(spark, sf_dir)))
            .filter(F.size("reasons") == 0).drop("reasons"),
            ok_dir, ck1)
        bad = run_available_now_to_parquet(
            flags(corrupt(stream_events(spark, sf_dir)))
            .filter(F.size("reasons") > 0)
            .withColumn("reasons", F.concat_ws(",", "reasons")),
            dlq_dir, ck2)
        n_ok, n_dlq = good.count(), bad.count()
        per_rule = (
            bad.select(F.explode(F.split("reasons", ",")).alias("rule"))
            .groupBy("rule").agg(F.count("*").alias("n_violations"))
        )
        totals = spark.createDataFrame(
            [("rows_ok", n_ok), ("rows_quarantined", n_dlq)],
            "rule string, n_violations long")
        return per_rule.unionByName(totals).orderBy("rule").localCheckpoint()
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


_GS_TYPES = ", ".join(f"'{t}'" for t in EVENT_TYPES)

GATE_STREAMED_SQL = rf"""
WITH corrupted AS (
  SELECT event_id, ts, user_id,
         CASE WHEN event_id % 97 = 0 THEN 'bogus' ELSE event_type END
           AS event_type,
         CASE WHEN event_id % 101 = 0 THEN -5.0 ELSE value END AS value,
         props
  FROM events),
flagged AS (
  SELECT *,
         (CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS f_eid,
         (CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS f_ts,
         (CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS f_uid,
         (CASE WHEN event_type IS NOT NULL
                AND event_type NOT IN ({_GS_TYPES}) THEN 1 ELSE 0 END) AS f_type,
         (CASE WHEN value IS NOT NULL
                AND (value < 0.0 OR value > 1000000.0) THEN 1 ELSE 0 END) AS f_range,
         (CASE WHEN props IS NOT NULL
                AND NOT regexp_matches(props, '^\{{.*\}}$') THEN 1 ELSE 0 END) AS f_props
  FROM corrupted),
rules AS (
  SELECT 'null_event_id' AS rule, SUM(f_eid) AS n FROM flagged
  UNION ALL SELECT 'null_ts', SUM(f_ts) FROM flagged
  UNION ALL SELECT 'null_user_id', SUM(f_uid) FROM flagged
  UNION ALL SELECT 'bad_type', SUM(f_type) FROM flagged
  UNION ALL SELECT 'bad_range', SUM(f_range) FROM flagged
  UNION ALL SELECT 'bad_props', SUM(f_props) FROM flagged),
totals AS (
  SELECT 'rows_quarantined' AS rule,
         SUM(CASE WHEN f_eid + f_ts + f_uid + f_type + f_range + f_props > 0
                  THEN 1 ELSE 0 END) AS n
  FROM flagged
  UNION ALL
  SELECT 'rows_ok',
         SUM(CASE WHEN f_eid + f_ts + f_uid + f_type + f_range + f_props = 0
                  THEN 1 ELSE 0 END)
  FROM flagged)
SELECT rule, CAST(n AS BIGINT) AS n_violations
FROM (SELECT * FROM rules WHERE n > 0 UNION ALL SELECT * FROM totals)
ORDER BY rule
"""


def events_watermark_late_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness audit: per event, how far behind the maximum
    timestamp ALREADY SEEN at its arrival it was, bucketed by whole
    minutes late — the census that picks a streaming watermark: every
    row in bucket >= W would be dropped by withWatermark(W). Bucket -1
    = on-time (first arrival or ts >= running max). The synthetic
    events table is perfectly time-ordered, so the ingest sequence is
    SIMULATED the way the gate queries seed corruption: events arrive
    batched per hour, shuffled within the batch by the portable content
    hash — deterministic, identical in both engines, lateness bounded
    by the batch span.

    Plan: the running "max ts before me" comes from
    operators/reduce.scan_max_distributed — the two-phase exscan
    (range-sort + per-partition maxes + JVM offset projection), NOT a
    global single-partition window; the oracle states the naive
    window form DuckDB can afford locally.
    """
    from kmr_spark.operators.reduce import scan_max_distributed
    from kmr_spark.operators.sample import hash_bucket

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", F.unix_micros("ts").alias("us"),
        F.expr("unix_micros(ts) DIV 3600000000").alias("batch"),
        hash_bucket(F.col("event_id")).alias("jit"))
    scanned = scan_max_distributed(
        ev, "us",
        [F.col("batch").asc(), F.col("jit").asc(), F.col("event_id").asc()])
    return (
        scanned.selectExpr(
            "coalesce(CASE WHEN scan_max > us THEN"
            " ((scan_max - us) DIV 1000000) DIV 60 END, -1)"
            " AS late_bucket_min")
        .groupBy("late_bucket_min")
        .agg(F.count("*").alias("n_events"))
        .orderBy("late_bucket_min")
    )


def _watermark_late_sql() -> str:
    from kmr_spark.operators.sample import sql_bucket

    return f"""
WITH e AS (SELECT event_id, epoch_us(ts) AS us,
                  epoch_us(ts) // 3600000000 AS batch,
                  {sql_bucket('event_id')} AS jit
           FROM events),
s AS (
  SELECT event_id, us,
         MAX(us) OVER (ORDER BY batch, jit, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS scan_max
  FROM e),
b AS (
  SELECT COALESCE(
           CASE WHEN scan_max > us
                THEN CAST(((scan_max - us) // 1000000) AS BIGINT) // 60
           END, -1) AS late_bucket_min
  FROM s)
SELECT late_bucket_min, COUNT(*) AS n_events
FROM b GROUP BY late_bucket_min ORDER BY late_bucket_min
"""


WATERMARK_LATE_SQL = _watermark_late_sql()


#: near-duplicate purchase tolerance: amounts within $10, 24h apart
DUP_CENTS_BAND = 1000
DUP_WINDOW_MIN = 1440


def events_duplicate_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge screen: purchase pairs from the SAME user with
    amounts within DUP_CENTS_BAND cents and timestamps within
    DUP_WINDOW_MIN minutes — the transaction-hygiene sweep every
    payments pipeline runs. Candidate generation is the user-keyed
    self-equi-join (a user's purchase count bounds the pair volume —
    at whale-scale a per-user cap or amount-bucket banding splits the
    hot key, the salted_join recipe); the amount/time tolerances
    FILTER candidates, never generate them. Output: one row per
    suspect pair.
    """
    p = (load_tables(spark, sf_dir)["events"]
         .filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("event_id").alias("k"),
                 F.floor(F.col("value") * 100).cast("long").alias("cents"),
                 F.expr("unix_micros(ts) DIV 60000000").alias("m")))
    a = p.select("user_id", F.col("k").alias("k1"),
                 F.col("cents").alias("cents1"), F.col("m").alias("m1"))
    b = p.select("user_id", F.col("k").alias("k2"),
                 F.col("cents").alias("cents2"), F.col("m").alias("m2"))
    return (
        a.join(b, "user_id")
        .filter((F.col("k1") < F.col("k2"))
                & (F.abs(F.col("cents1") - F.col("cents2")) < DUP_CENTS_BAND)
                & (F.abs(F.col("m1") - F.col("m2")) <= DUP_WINDOW_MIN))
        .select("user_id", "k1", "k2", "cents1", "cents2",
                (F.col("cents2") - F.col("cents1")).alias("cents_diff"),
                (F.col("m2") - F.col("m1")).alias("gap_min"))
        .orderBy("user_id", "k1", "k2")
    )


DUP_PAYMENTS_SQL = f"""
WITH p AS (
  SELECT user_id, event_id AS k,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) // 60000000 AS m
  FROM events WHERE event_type = 'purchase')
SELECT a.user_id, a.k AS k1, b.k AS k2,
       a.cents AS cents1, b.cents AS cents2,
       b.cents - a.cents AS cents_diff,
       b.m - a.m AS gap_min
FROM p a JOIN p b
  ON a.user_id = b.user_id AND a.k < b.k
 AND abs(a.cents - b.cents) < {DUP_CENTS_BAND}
 AND abs(a.m - b.m) <= {DUP_WINDOW_MIN}
ORDER BY a.user_id, k1, k2
"""


QUERIES = {"validate_events": validate_events,
           "events_gate_streamed": events_gate_streamed,
           "events_watermark_late_census": events_watermark_late_census,
           "events_duplicate_purchases": events_duplicate_purchases}
ORACLE_SQL = {"validate_events": VALIDATE_EVENTS_SQL,
              "events_gate_streamed": GATE_STREAMED_SQL,
              "events_watermark_late_census": WATERMARK_LATE_SQL,
              "events_duplicate_purchases": DUP_PAYMENTS_SQL}


def events_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-fidelity gate: events flow parquet -> JSONL sink ->
    JSONL source (explicit schema, no inference pass) -> per-type
    census, and the oracle computes the same census from the ORIGINAL
    parquet — any row lost, duplicated, or value-mangled by the text
    round-trip breaks the hash. Timestamps travel as unix micros longs
    (JSON has no timestamp type; re-encoding as strings would invite
    timezone drift), doubles as exact cents.

    Plan: the sink/source pair is splittable line-text — at 100 TB the
    write and read both parallelize by partition; the census aggregate
    is map-side combinable.
    """
    import shutil

    from kmr_spark.sources.files import read_jsonl, save_jsonl

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    d = scratch_dir("kmr_jsonl_rt_")
    try:
        save_jsonl(ev, d)
        back = read_jsonl(
            spark, d,
            "event_id long, user_id long, event_type string,"
            " us long, cents long")
        return (
            back.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("event_id").alias("sum_ids"),
                 F.sum("cents").alias("sum_cents"),
                 F.min("us").alias("min_us"),
                 F.max("us").alias("max_us"))
            .orderBy("event_type")
            .localCheckpoint()  # pin rows before the temp dir is removed
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


JSONL_ROUNDTRIP_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       MIN(us) AS min_us, MAX(us) AS max_us
FROM e GROUP BY event_type ORDER BY event_type
"""


QUERIES["events_jsonl_roundtrip"] = events_jsonl_roundtrip
ORACLE_SQL["events_jsonl_roundtrip"] = JSONL_ROUNDTRIP_SQL


SLO_ERROR_PERMILLE = 50
SLO_WINDOW_DAYS = 7


def events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-budget burn-rate: per day the error share (permille) and
    the trailing-7-day burn rate against a 50-permille SLO — the SRE
    multi-window alert readout, integer end to end.

    One (day) aggregate over events; the rolling sums run over the
    |days| census (post-agg tiny at any scale). burn_x10 is the burn
    rate in tenths (rolling_err_share / SLO, x10 via integer DIV) so
    the breach threshold (burn > 1, i.e. x10 > 10) stays integral.
    """
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir)["events"]
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_total"),
             F.count(F.when(F.col("event_type") == "error", 1))
             .alias("n_err"))
    )
    w = (Window.orderBy("day")
         .rowsBetween(-(SLO_WINDOW_DAYS - 1), Window.currentRow))
    return (
        daily
        .withColumn("err_7d", F.sum("n_err").over(w))
        .withColumn("total_7d", F.sum("n_total").over(w))
        .select(
            "day", "n_total", "n_err",
            F.expr("(n_err * 1000) DIV n_total").alias("err_permille"),
            "err_7d", "total_7d",
            F.expr(f"(err_7d * 10000) DIV (total_7d * {SLO_ERROR_PERMILLE})")
            .alias("burn_x10"))
        .withColumn("breach", F.col("burn_x10") > 10)
        .orderBy("day")
    )


SLO_BURN_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_total,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_err
  FROM events GROUP BY 1),
rolled AS (
  SELECT day, n_total, n_err,
         CAST(SUM(n_err) OVER w AS BIGINT) AS err_7d,
         CAST(SUM(n_total) OVER w AS BIGINT) AS total_7d
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {SLO_WINDOW_DAYS - 1} PRECEDING
               AND CURRENT ROW))
SELECT day, n_total, n_err,
       (n_err * 1000) // n_total AS err_permille,
       err_7d, total_7d,
       (err_7d * 10000) // (total_7d * {SLO_ERROR_PERMILLE}) AS burn_x10,
       (err_7d * 10000) // (total_7d * {SLO_ERROR_PERMILLE}) > 10 AS breach
FROM rolled ORDER BY day
"""


QUERIES["events_slo_burn"] = events_slo_burn
ORACLE_SQL["events_slo_burn"] = SLO_BURN_SQL


#: the TPC-H foreign-key graph audited by integrity_audit, as
#: (child table, fk column, parent table, pk column). events.user_id
#: -> customer is covered by validate_events' referential rule.
FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole warehouse: one row
    per declared FK edge with child row count, NULL-key count, orphan
    count (non-null keys with no parent), and orphan rate. The
    cross-table generalization of validate_events' single referential
    rule — the report a nightly pipeline publishes before it lets
    downstream joins assume the FK holds (an orphan l_orderkey silently
    drops revenue from every inner-join rollup).

    Plan: per edge, ONE left join of the child keyed on the FK against
    the parent's distinct PK projection — Catalyst broadcasts the dim
    sides (region/nation/customer/part/supplier) and shuffles only
    lineitem->orders, exactly the join strategy the equivalent
    production check wants at 100 TB. The per-edge reports are
    KB-sized one-row aggregates unioned together.
    """
    tables = load_tables(spark, sf_dir)
    outs = []
    for child, fk, parent, pk in FK_EDGES:
        pset = tables[parent].select(
            F.col(pk).alias("__pk"), F.lit(1).alias("__hit")).distinct()
        joined = tables[child].select(F.col(fk).alias("__fk")) \
            .join(pset, F.col("__fk") == F.col("__pk"), "left")
        outs.append(joined.agg(
            F.lit(child).alias("child_table"),
            F.lit(fk).alias("fk_column"),
            F.lit(parent).alias("parent_table"),
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("__fk").isNull(), 1)).alias("n_null_fk"),
            F.count(F.when(F.col("__fk").isNotNull()
                           & F.col("__hit").isNull(), 1)).alias("n_orphans"),
        ).select(
            "*",
            F.expr("(1000000 * n_orphans) DIV n_rows")
            .alias("orphan_ppm")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("child_table", "fk_column")


def _integrity_sql() -> str:
    parts = []
    for child, fk, parent, pk in FK_EDGES:
        parts.append(f"""
SELECT '{child}' AS child_table, '{fk}' AS fk_column,
       '{parent}' AS parent_table,
       COUNT(*) AS n_rows,
       COUNT(CASE WHEN c.{fk} IS NULL THEN 1 END) AS n_null_fk,
       COUNT(CASE WHEN c.{fk} IS NOT NULL AND p.__pk IS NULL THEN 1 END)
         AS n_orphans,
       (1000000 * COUNT(CASE WHEN c.{fk} IS NOT NULL AND p.__pk IS NULL
                        THEN 1 END)) // COUNT(*) AS orphan_ppm
FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} AS __pk FROM {parent}) p
  ON c.{fk} = p.__pk""")
    return ("\nUNION ALL\n".join(parts)
            + "\nORDER BY child_table, fk_column")


INTEGRITY_SQL = _integrity_sql()

QUERIES["integrity_audit"] = integrity_audit
ORACLE_SQL["integrity_audit"] = INTEGRITY_SQL


PSI_BIN_W = 25      # value-bin width
PSI_BINS = 20       # bins 0..19, last catches the tail
PSI_SPLIT_DAY = 15  # reference = days 0-14, current = days 15+
PSI_Q = 1_000_000


def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX per event_type between the first and
    second half of the month (days 0-14 vs 15+), over fixed
    value bins — the industry-standard "did my feature distribution
    move" gate for model retraining, complementing the TV-based
    events_type_share_drift and docs JS divergence. PSI < 0.1 stable,
    0.1-0.25 drifting, > 0.25 act.

    Exactness: the common denominator collapses inside the log —
    (pa-pb)·ln(pa/pb) = ((ca·nb - cb·na)/(na·nb)) · (ln(ca·nb) -
    ln(cb·na)) — so each bin's numerator is the INTEGER
    (ca·nb - cb·na)·(q(ca·nb) - q(cb·na)) with q(x)=floor(ln(x)·1e6)
    (the entropy/PMI quantized-log recipe on integer args), summed as
    BIGINT; psi is one final cast. Bins empty on either side are
    excluded (reported as n_bins_degenerate) — the standard
    epsilon-free convention, deterministic on both engines. BIGINT
    holds ca·nb to ~1e18; past that the same plan runs in
    DECIMAL(38,0).

    Scale: ONE aggregation of events to (type, half, bin) counts
    (map-side combinable); everything after is arithmetic on
    |types|·|bins| rows.
    """
    ev = load_tables(spark, sf_dir)["events"]
    binned = (
        ev.select(
            "event_type",
            (F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
             >= PSI_SPLIT_DAY).alias("cur"),
            F.least(F.floor(F.col("value") / PSI_BIN_W),
                    F.lit(PSI_BINS - 1)).cast("long").alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.sum(F.when(~F.col("cur"), 1).otherwise(0)).alias("ca"),
             F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("cb"))
    )
    totals = binned.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    q = lambda c: F.floor(F.log(c) * PSI_Q).cast("long")
    terms = (
        binned.join(totals, "event_type")
        .withColumn("ok", (F.col("ca") > 0) & (F.col("cb") > 0))
        .withColumn(
            "t",
            F.when(F.col("ok"),
                   (F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
                   * (q(F.col("ca") * F.col("nb"))
                      - q(F.col("cb") * F.col("na"))))
            .otherwise(F.lit(0)))
    )
    return (
        terms.groupBy("event_type")
        .agg(F.max("na").alias("na"), F.max("nb").alias("nb"),
             F.count(F.when(F.col("ok"), 1)).alias("n_bins_used"),
             F.count(F.when(~F.col("ok"), 1)).alias("n_bins_degenerate"),
             F.sum("t").alias("psi_scaled"))
        .select(
            "event_type", "na", "nb", "n_bins_used", "n_bins_degenerate",
            "psi_scaled",
            (F.col("psi_scaled").cast("double")
             / (F.lit(float(PSI_Q)) * F.col("na").cast("double")
                * F.col("nb").cast("double"))).alias("psi"))
        .orderBy("event_type")
    )


PSI_SQL = f"""
WITH binned AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM (
    SELECT event_type,
           date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
             >= {PSI_SPLIT_DAY} AS cur,
           least(CAST(floor(value / {PSI_BIN_W}) AS BIGINT),
                 {PSI_BINS - 1}) AS bin
    FROM events)
  GROUP BY event_type, bin),
totals AS (
  SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
         CAST(SUM(cb) AS BIGINT) AS nb
  FROM binned GROUP BY event_type),
terms AS (
  SELECT b.event_type, t.na, t.nb, b.ca > 0 AND b.cb > 0 AS ok,
         CASE WHEN b.ca > 0 AND b.cb > 0 THEN
           (b.ca * t.nb - b.cb * t.na)
           * (CAST(floor(ln(b.ca * t.nb) * {PSI_Q}) AS BIGINT)
              - CAST(floor(ln(b.cb * t.na) * {PSI_Q}) AS BIGINT))
         ELSE 0 END AS t
  FROM binned b JOIN totals t USING (event_type))
SELECT event_type, MAX(na) AS na, MAX(nb) AS nb,
       COUNT(CASE WHEN ok THEN 1 END) AS n_bins_used,
       COUNT(CASE WHEN NOT ok THEN 1 END) AS n_bins_degenerate,
       CAST(SUM(t) AS BIGINT) AS psi_scaled,
       CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE)
         / ({float(PSI_Q)} * CAST(MAX(na) AS DOUBLE)
            * CAST(MAX(nb) AS DOUBLE)) AS psi
FROM terms GROUP BY event_type ORDER BY event_type
"""

QUERIES["events_psi_drift"] = events_psi_drift
ORACLE_SQL["events_psi_drift"] = PSI_SQL
