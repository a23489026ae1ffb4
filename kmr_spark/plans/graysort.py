"""GraySort-style global sort validation (reference ex/graysort.c).

The reference sorts 100-byte records on 10-byte opaque keys with KMR's
sampling sort and validates with valsort (sorted order + checksum,
ex/graysort.c:5-10). Spark's ``orderBy`` is the same algorithm
(RangePartitioner samples splitters, per-partition Tungsten sort).

The driver-facing query makes the global order *observable* to an
order-insensitive hash comparison by emitting the rank: synthesize an
opaque key (md5 of the lineitem PK), globally sort, and attach the
0-based rank via the distributed exscan ranking operator. If any row
were mis-ordered its rank would differ from the oracle's
``row_number() - 1`` and the value-hash would mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kmr_spark.operators.sort import ranking
from kmr_spark.session import load_tables, widen


def graysort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank lineitem rows under a synthetic opaque sort key."""
    li = widen(load_tables(spark, sf_dir)["lineitem"])
    # widen + persist: the sampling pass and the sort pass of the range
    # partitioner both read this input — materializing the keyed rows once
    # (KMR's eager KVS between sort phases, src/kmrmoreops.c:469) halves
    # the work and parallelizes the md5 scan of a single-file input.
    keyed = li.select(
        F.md5(F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))).alias("sortkey")
    ).persist()
    # The ranked rows are the result, as large as the corpus: checkpoint
    # them to local disk, then release both caches, on failure too. The
    # in-memory checkpoint of ranking(materialize=True) held 1.66 GB of
    # storage memory at 6M rows against 0.34 GB for the two caches; on
    # disk the peak stays at the caches'.
    caches = [keyed]
    try:
        ranked = ranking(keyed, ["sortkey"], cache_registry=caches)
        return ranked.select("rank", "sortkey").localCheckpoint(
            storageLevel=StorageLevel.DISK_ONLY)
    finally:
        for df in caches:
            df.unpersist()


GRAYSORT_SQL = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY sortkey) - 1 AS BIGINT) AS rank, sortkey
FROM (SELECT md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)) AS sortkey
      FROM lineitem)
"""


QUERIES = {"graysort_rank": graysort_rank}
ORACLE_SQL = {"graysort_rank": GRAYSORT_SQL}
