"""Guards on the session-level table cache (kmr_spark/session.py).

The per-session ``load_tables`` cache (added r6 for the ~1 s/call
footer-read saving) must never alias distinct scale factors, must
alias distinct *spellings* of the same directory, and must be
droppable when parquet is regenerated under a live session.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kmr_spark.session import (invalidate_table_cache, load_tables,
                               parquet_num_rows, parquet_part_files)

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


def test_cache_keeps_scale_factors_distinct(spark):
    """Loading two sf dirs in one session must serve different plans
    (VERDICT r6 ask #7: a refactor must not alias the cache entries)."""
    small = load_tables(spark, SF_SMALL)
    mid = load_tables(spark, SF_MID)
    n_small = small["orders"].count()
    n_mid = mid["orders"].count()
    assert n_small != n_mid, (n_small, n_mid)
    # and re-loading each sf still returns the right one
    assert load_tables(spark, SF_SMALL)["orders"].count() == n_small
    assert load_tables(spark, SF_MID)["orders"].count() == n_mid


def test_cache_key_is_realpath(spark):
    """Trailing-slash / relative spellings of one directory share one
    cache entry (ADVICE r6: raw-string keys made duplicates)."""
    load_tables(spark, SF_SMALL)
    cache = spark._kmr_tables_cache
    n0 = len(cache)
    load_tables(spark, SF_SMALL + "/")
    load_tables(spark, SF_SMALL + "/../sf0.001")
    assert len(cache) == n0


def test_invalidate_table_cache(spark):
    load_tables(spark, SF_SMALL)
    load_tables(spark, SF_MID)
    cache = spark._kmr_tables_cache
    invalidate_table_cache(spark, SF_SMALL + "/")  # variant spelling
    assert os.path.realpath(SF_SMALL) not in cache
    assert os.path.realpath(SF_MID) in cache
    invalidate_table_cache(spark)
    assert not cache


def test_parquet_num_rows_flat_and_partitioned(tmp_path):
    """Metadata row counts must survive nested (partitioned) layouts
    (ADVICE r6: flat-only listing returned 0 for day=... dirs)."""
    n = parquet_num_rows(SF_SMALL, "orders")
    assert n is not None and n > 0
    # build a partitioned layout: t.parquet/day=1/part.parquet, day=2/...
    root = tmp_path / "t.parquet"
    for day, rows in (("1", 3), ("2", 4)):
        d = root / f"day={day}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"x": list(range(rows))}), d / "part-0.parquet")
    # what Spark and Hadoop leave beside the data is not part of the table
    (root / "_SUCCESS").write_bytes(b"")
    (root / "day=1" / ".part-0.parquet.crc").write_bytes(b"crc")
    (root / "_temporary" / "0").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2]}), root / "_temporary" / "0" / "part-9.parquet")
    assert parquet_part_files(str(root)) == [
        str(root / "day=1" / "part-0.parquet"), str(root / "day=2" / "part-0.parquet")]
    assert parquet_num_rows(str(tmp_path), "t") == 7
    assert parquet_num_rows(str(tmp_path), "missing") is None


def test_task_slots_default_follows_cpu_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` a fresh session runs one task slot
    and one shuffle partition per CPU the process may use, not a fixed
    count; an explicit ``SPARK_GRAFT_CPUS`` still wins."""
    import subprocess
    import sys

    from kmr_spark.session import task_slots

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert task_slots() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert task_slots() == len(os.sched_getaffinity(0))

    # a child that pins itself to one CPU builds its own session (the
    # test session is already built and getOrCreate would return it)
    one_cpu = min(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_NO_LOCAL_MASTER")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import os\n"
            f"os.sched_setaffinity(0, {{{one_cpu}}})\n"
            "from kmr_spark.session import get_spark\n"
            "s = get_spark('slots')\n"
            "print(s.sparkContext.master,"
            " s.conf.get('spark.sql.shuffle.partitions'))\n"
            "s.stop()\n")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env, check=True,
        capture_output=True, text=True, timeout=300)
    assert out.stdout.split()[-2:] == ["local[1]", "1"], out.stdout


def test_sized_shuffle_partitions_never_widens_the_session(spark):
    """A row-count pin is ceil(n_rows / rows_per_partition) raised to
    the floor and capped at the session width, so on a narrow session
    the floor does not widen it; an explicit width is taken as given.
    The session value comes back after the block, also on error."""
    from kmr_spark.session import sized_shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)

    def pinned(session_width, **kw):
        spark.conf.set(key, str(session_width))
        with sized_shuffle_partitions(spark, **kw):
            return int(spark.conf.get(key))

    try:
        assert pinned(4, n_rows=10) == 4
        assert pinned(200, n_rows=10) == 8
        assert pinned(200, n_rows=2_500_000) == 25
        assert pinned(200, n_rows=10**9) == 200
        assert pinned(4, n_partitions=12) == 12
        assert pinned(200) == 200
        spark.conf.set(key, "200")
        with pytest.raises(RuntimeError):
            with sized_shuffle_partitions(spark, n_rows=10):
                raise RuntimeError
        assert spark.conf.get(key) == "200"
    finally:
        spark.conf.set(key, old)


def test_cache_width_is_fixed_at_persist(spark):
    """AQE does not coalesce a cached plan, and a cache keeps the
    shuffle width in force at its ``persist()`` call, also when the job
    that fills it runs outside that width. This is why the batch blocks
    enter ``sized_shuffle_partitions`` before they persist."""
    from pyspark.sql import functions as F

    from kmr_spark.session import sized_shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "32")
    # distinct plans, so the two persists do not share one cache
    agg = lambda salt: spark.range(10_000).groupBy(
        ((F.col("id") + salt) % 1000).alias("k")).count()
    outside = agg(1).persist()
    with sized_shuffle_partitions(spark, n_rows=10):
        inside = agg(2).persist()
    try:
        with sized_shuffle_partitions(spark, n_rows=10):
            outside.count()
        inside.count()
        assert [outside.rdd.getNumPartitions(),
                inside.rdd.getNumPartitions()] == [32, 8]
    finally:
        outside.unpersist()
        inside.unpersist()
        spark.conf.set(key, old)
