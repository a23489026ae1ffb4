"""Interval×interval overlap join (operators/interval.py) and the
weighted reservoir sample (operators/sample.py)."""

from __future__ import annotations

import itertools

from conftest import SF_DIR, assert_matches_oracle

from kmr_spark.operators.interval import interval_overlap_join
from kmr_spark.plans.analytics import (
    SESSION_CAMPAIGN_OVERLAP_SQL,
    events_session_campaign_overlap,
)
from kmr_spark.plans.sampling import (
    SAMPLE_WEIGHTED_SQL,
    sample_docs_weighted,
)


def test_session_campaign_overlap_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, events_session_campaign_overlap,
                          SESSION_CAMPAIGN_OVERLAP_SQL)


def test_weighted_sample_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, sample_docs_weighted,
                          SAMPLE_WEIGHTED_SQL)


def test_overlap_join_equals_naive_product(spark):
    """Bucketed overlap join == brute-force theta join, exactly once
    per pair, across adversarial interval shapes (tiny/huge spans,
    shared endpoints, containment, negative coords, empty intervals)."""
    left = [(i, lo, hi) for i, (lo, hi) in enumerate([
        (-50, -40), (-5, 5), (0, 1), (0, 100), (10, 10),  # empty
        (10, 11), (99, 101), (100, 200), (150, 160), (-1000, 1000),
    ])]
    right = [(j, lo, hi) for j, (lo, hi) in enumerate([
        (-45, -44), (-100, -50), (0, 50), (1, 2), (5, 5),  # empty
        (50, 150), (100, 100), (100, 101), (199, 300), (-2000, -999),
    ])]
    ldf = spark.createDataFrame(left, ["lid", "l_lo", "l_hi"])
    rdf = spark.createDataFrame(right, ["rid", "r_lo", "r_hi"])
    expected = sorted(
        (li, rj)
        for (li, llo, lhi), (rj, rlo, rhi) in itertools.product(left, right)
        if llo < rhi and rlo < lhi and llo < lhi and rlo < rhi)
    for w in (1, 7, 100, 10_000):
        got = sorted(
            (r.lid, r.rid)
            for r in interval_overlap_join(
                ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi",
                bucket_width=w).collect())
        assert got == expected, f"W={w}"


def test_overlap_join_rejects_bad_width(spark):
    import pytest

    df = spark.createDataFrame([(1, 0, 1)], ["i", "lo", "hi"])
    with pytest.raises(ValueError):
        interval_overlap_join(df, df.selectExpr("i as j", "lo as rlo",
                                                "hi as rhi"),
                              "lo", "hi", "rlo", "rhi", bucket_width=0)


def test_weighted_sample_favors_heavy_rows(spark):
    """Long docs must be overrepresented: the sampled mean n_chars
    exceeds the corpus mean (law-of-large-numbers check at k=50)."""
    from pyspark.sql import functions as F

    from kmr_spark.session import load_tables

    sampled = sample_docs_weighted(spark, SF_DIR)
    m_s = sampled.agg(F.avg("n_chars")).first()[0]
    m_all = (load_tables(spark, SF_DIR)["documents"]
             .agg(F.avg("n_chars")).first()[0])
    assert m_s > m_all


def test_hll_register_merge_split_invariance(spark):
    """Register tables from arbitrary splits of the input max-merge to
    the same state as the single-pass sketch (the associativity +
    idempotence the streamed HLL rests on — including re-merging a
    delta twice)."""
    from pyspark.sql import functions as F

    from kmr_spark.plans.sketches import (hll_fold, hll_registers,
                                          merge_hll_registers)
    from kmr_spark.session import load_tables

    ev = load_tables(spark, SF_DIR)["events"].withColumn(
        "hour_ts", F.date_trunc("hour", "ts"))
    groups = ["event_type", "hour_ts"]
    whole = {tuple(r) for r in hll_fold(
        hll_registers(ev, "user_id", groups), groups).collect()}

    a = ev.filter(F.col("event_id") % 3 == 0)
    b = ev.filter(F.col("event_id") % 3 != 0)
    ra = hll_registers(a, "user_id", groups)
    rb = hll_registers(b, "user_id", groups)
    merged = merge_hll_registers(ra, rb, groups)
    # idempotence: merging a's registers AGAIN must change nothing
    merged_twice = merge_hll_registers(merged, ra, groups)
    split = {tuple(r) for r in hll_fold(merged_twice, groups).collect()}
    assert split == whole


def test_native_session_window_agrees_with_islands(spark):
    """Native session_window sessions == the gaps-and-islands
    sessionize on (user, start, count); only the end bound definition
    differs (last + gap), asserted exactly."""
    from kmr_spark.plans.analytics import (SESSION_GAP_US,
                                           events_session_window_native,
                                           events_sessionize)

    native = {(r.user_id, r.t_start): (r.t_end, r.n_events)
              for r in events_session_window_native(spark, SF_DIR).collect()}
    islands = {(r.user_id, r.t_start): (r.t_end, r.n_events)
               for r in events_sessionize(spark, SF_DIR).collect()}
    assert set(native) == set(islands)
    import datetime

    gap = datetime.timedelta(microseconds=SESSION_GAP_US)
    for k, (end_n, n_n) in native.items():
        end_i, n_i = islands[k]
        assert n_n == n_i
        assert end_n == end_i + gap


def test_concurrent_sessions_invariants(spark):
    """Sweep-line sanity: concurrency is never negative, ends at 0,
    every +1 boundary raises it, and the peak is at least the busiest
    single instant computed brute-force from the session spans."""
    from kmr_spark.plans.analytics import events_concurrent_sessions

    rows = events_concurrent_sessions(spark, SF_DIR).collect()
    assert rows
    assert all(r.concurrency >= 0 for r in rows)
    assert rows[-1].concurrency == 0  # all sessions eventually close
    peak = max(r.concurrency for r in rows)
    assert peak >= 2  # 150 users' sessions overlap somewhere
    # conservation: total +1s == total -1s
    assert sum(r.delta for r in rows) == 0


def test_scan_distributed_matches_window_form(spark):
    """The two-phase exscan == the single-window scan_on_values on a
    shared total order (the scale form is exact, not approximate)."""
    from pyspark.sql import functions as F

    from kmr_spark.operators.reduce import scan_distributed, scan_on_values

    df = spark.createDataFrame(
        [(i, (i * 37) % 11 - 5) for i in range(500)], ["k", "v"]
    ).repartition(7)
    got = {r.k: r.scan for r in
           scan_distributed(df, "v", [F.col("k")]).collect()}
    expect = {r.k: r.scan for r in
              scan_on_values(df, "v", [F.col("k")]).collect()}
    assert got == expect


def test_scan_distributed_skips_all_null_partition(spark):
    """A range partition whose measures are all NULL sums to 0, like the
    NULL-skipping window SUM (it used to raise on the driver)."""
    import duckdb
    from pyspark.sql import functions as F

    from kmr_spark.operators.reduce import scan_distributed

    rows = [(i, None if i < 15 or i % 7 == 0 else i * 3 - 50) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, v long")
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")  # keep 4 range partitions, the first all-NULL
    try:
        first = (df.orderBy("k").groupBy(F.spark_partition_id().alias("p"))
                 .agg(F.count("*"), F.count("v")).orderBy("p").first())
        got = {r.k: r.scan for r in
               scan_distributed(df, "v", [F.col("k")]).collect()}
    finally:
        spark.conf.set(conf, old)
    assert first[1] > 0 and first[2] == 0, f"first range partition {first}"
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(
        "SELECT k, coalesce(sum(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0) FROM t").fetchall())
    assert got == want
