"""Guards on the session-level table cache (kmr_spark/session.py).

The per-session ``load_tables`` cache (added r6 for the ~1 s/call
footer-read saving) must never alias distinct scale factors, must
alias distinct *spellings* of the same directory, and must be
droppable when parquet is regenerated under a live session.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq

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
