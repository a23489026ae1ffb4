"""Ordering-family operators (reference: kmr_sort / ranking / limit,
SURVEY.md §2.6).

KMR's global sort is a sampling sort — sample keys, pick splitters,
route by range, sort locally (kmr_sort_large, reference
src/kmrmoreops.c:469-536). Spark's ``orderBy`` IS that algorithm
(RangePartitioner samples, then per-partition Tungsten sort), so the
global sort is a one-liner and the interesting parity work is ranking
and limit, which in KMR depend on rank order — here they take an
explicit ordering.

:func:`ranking`, :func:`ranking_per_group` and ``operators/reduce.py``'s
``scan_distributed`` / ``scan_max_distributed`` are thin wrappers over
one exscan core, :func:`_exscan` (count, sum and max cases).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, MapType, StructField,
                               StructType)
from pyspark.storagelevel import StorageLevel


def global_sort(df: DataFrame, *order: str | Column) -> DataFrame:
    """Total order across partitions (kmr_sort, src/kmrmoreops.c:575-593).

    Output partition p holds keys <= partition p+1's keys — the same
    contract KMR's sampling sort provides, and what GraySort validation
    needs. Descending keys are ``F.desc(col)`` — no negate-and-byteswap
    key encoding (reference ex/tpch.c:3075-3080) needed.
    """
    return df.orderBy(*order)


def sort_locally(df: DataFrame, *order: str | Column) -> DataFrame:
    """Per-partition sort, no exchange (kmr_sort_locally,
    src/kmrbase.c:2051)."""
    return df.sortWithinPartitions(*order)


def is_globally_sorted(df: DataFrame, *order: str) -> bool:
    """kmr_assert_sorted (src/kmrutil.c:717): verify a total order.

    Distributed check: per-partition (min, max, sorted?) summaries, then
    a driver-side pass over the tiny summary list — no data collect.
    """
    cols = list(order)
    pid = df.select(F.spark_partition_id().alias("pid"), F.struct(*cols).alias("k"))
    summary = (
        pid.groupBy("pid")
        .agg(
            F.min("k").alias("lo"),
            F.max("k").alias("hi"),
            # within-partition sortedness: compare to the lag under pid order
            F.count("*").alias("n"),
        )
        .orderBy("pid")
        .collect()
    )
    prev_hi = None
    for r in summary:
        if prev_hi is not None and r["lo"] is not None and tuple(prev_hi) > tuple(r["lo"]):
            return False
        prev_hi = r["hi"]
    # per-partition local sortedness
    local = df.select(
        F.spark_partition_id().alias("pid"), F.struct(*cols).alias("k")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("pid").orderBy(F.monotonically_increasing_id())
    bad = (
        local.withColumn("prev", F.lag("k").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("prev") > F.col("k")))
        .limit(1)
        .count()
    )
    return bad == 0


def _exscan(df: DataFrame, order: list[str | Column], op: str,
            measures: Sequence[str] = (), groups: Sequence[str] = (),
            names: Sequence[str] = ("rank",), materialize: bool = False,
            cache_registry: list[DataFrame] | None = None) -> DataFrame:
    """Exclusive scan of ``op`` (``count``, ``sum`` or ``max``) under an
    explicit total order: KMR's one exscan primitive, an ``MPI_Exscan``
    over per-rank totals that accepts any op (src/kmrmoreops.c:872-972),
    with :func:`ranking` as its count case (src/kmrmoreops.c:764-805).

    1. range-partition + locally sort (``orderBy``), persisted so every
       later job sees the same partitions and record numbers;
    2. one tiny collect of the per-(partition, group) totals;
    3. a driver-side exclusive prefix of those totals in partition
       order, under the op's combine and identity: count and sum add
       from 0 (an all-NULL partition sum adds 0, as SQL's ``SUM`` skips
       NULLs), max is a NULL-skipping max from NULL;
    4. the offsets as an array literal indexed by
       ``spark_partition_id``, added to an in-partition step in one JVM
       projection (no Python boundary, guide §4.1).

    The in-partition step depends on the op. Count adds the record
    number from ``monotonically_increasing_id``'s documented layout
    (partition id in the upper bits, consecutive 0-based record number
    in the lower 33 bits): no window and no exchange beyond the sort's.
    Sum and max take a running aggregate over a window partitioned by
    the cached sort's partition id: one hash exchange, and each window
    group is exactly one sort partition, so parallelism and peak memory
    match the sort's at any scale. One result column per measure
    (``names``), each a nullable long; the measures must be integral.

    ``groups`` (count only) sort ahead of ``order``. A row's rank in its
    group is its global rank minus the global rank of the group's first
    row, and ``n_group`` (the second name) is the group's size. Both
    come from one literal map keyed by ``struct(groups...)``, the keys
    cast to the columns' own types, so NULL and any atomic group value
    look up exactly. A literal map stays inside the cached scan's codegen
    stage; a broadcast-join lookup measured ~0.3-0.7 s slower per query.

    The offsets key on the EXECUTION-time partition id, which is the
    sort's partition index only while the result runs as its own job
    over the persisted sort: a downstream ``union`` shifts the second
    child's task ids and every offset would silently miss.
    ``materialize=True`` computes the rows in their own job, cuts the
    lineage and releases the sort cache. Otherwise the cache stays live
    for the lazy result and is appended to ``cache_registry`` if given.
    """
    sdf = df.orderBy(*[F.col(g).asc() for g in groups], *order).persist(
        StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        cache_registry.append(sdf)
    pid = F.spark_partition_id()
    idx = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    totals = [F.count("*")] if op == "count" else [
        (F.max if op == "max" else F.sum)(m) for m in measures]
    n = 1 + len(groups)  # a row: pid, groups..., first record number, totals...
    rows = (
        sdf.select(pid.alias("__pid"), idx.alias("__idx"), *groups, *measures)
        .groupBy("__pid", *groups)
        .agg(F.min("__idx"), *totals)
        .collect()
    )

    def combine(acc, t):
        if op == "max":
            return acc if t is None else t if acc is None else max(acc, t)
        return acc + (t or 0)

    acc = [None if op == "max" else 0] * len(totals)
    offsets: dict[int, list] = {}
    start: dict[tuple, int] = {}
    size: dict[tuple, int] = {}
    # in partition order; within a partition, groups in their sort order
    for r in sorted(rows, key=lambda r: (r[0], r[n])):
        offsets.setdefault(r[0], acc)
        if groups:
            # Spark groups every NaN together: one NaN object, one key
            key = tuple(math.nan if v != v else v for v in r[1:n])
            start.setdefault(key, offsets[r[0]][0] + r[n])
            size[key] = size.get(key, 0) + r[n + 1]
        acc = [combine(a, t) for a, t in zip(acc, r[n + 1:])]
    n_parts = max(max(offsets, default=-1) + 1, 1)
    # one cast per literal, not per element: each Column call costs the
    # driver ~1-3 ms, and there is one element per partition
    arrs = [F.array(*[F.lit(offsets.get(p, acc)[j]) for p in range(n_parts)])
            .cast("array<long>") for j in range(len(totals))]

    if op == "count":
        cols = [F.element_at(arrs[0], pid + 1) + idx]
        if groups:
            # one map: group key -> [global rank of its first row, size]
            entries = [x for k in start for x in (
                F.struct(*map(F.lit, k)), F.array(F.lit(start[k]), F.lit(size[k])))]
            typed = MapType(StructType([StructField(g, sdf.schema[g].dataType)
                                        for g in groups]), ArrayType(LongType()))
            hit = (F.element_at(F.create_map(*entries).cast(typed), F.struct(*groups))
                   if entries else F.lit(None).cast("array<long>"))  # no rows
            cols = [cols[0] - hit[0], hit[1]]
        out = sdf.select(*[c.alias(n) for c, n in zip(cols, names)], "*")
    else:
        base = sdf.select(pid.alias("__pid"),
                          F.monotonically_increasing_id().alias("__mid"), "*")
        w = (Window.partitionBy("__pid").orderBy("__mid")
             .rowsBetween(Window.unboundedPreceding, -1))

        def step(off: Column, m: str) -> Column:
            if op == "max":
                return F.greatest(off, F.max(m).over(w))
            return off + F.coalesce(F.sum(m).over(w), F.lit(0))

        out = base.select(
            *[step(F.element_at(arr, F.col("__pid") + 1), m).cast("long").alias(n)
              for arr, m, n in zip(arrs, measures, names)],
            *sdf.columns)
    if materialize:
        from kmr_spark.session import materialize_release

        return materialize_release(out, sdf)
    return out


def ranking(df: DataFrame, order: list[str | Column],
            materialize: bool = False,
            cache_registry: list[DataFrame] | None = None) -> DataFrame:
    """Global 0-based ``rank`` under an explicit total order
    (kmr_ranking, src/kmrmoreops.c:764-805): the count case of
    :func:`_exscan` — range sort, per-partition counts, driver exscan,
    record-number add. No global window, no Python boundary.

    Callers that compose the result into a wider plan (a ``union``
    above all) must pass ``materialize=True`` (partition-id caveat,
    see :func:`_exscan`). That localCheckpoints the FULL ranked frame
    in storage memory, right only for a small frame. A caller that
    immediately REDUCES the ranked frame (zone maps, deciles) must not
    checkpoint the corpus (guide §5: at 60M rows the checkpointed
    blocks OOM an 8g heap): pass ``cache_registry`` instead, aggregate
    while the sort cache is live, and
    ``materialize_release(small_result, *registry)``. A corpus-sized
    result (graysort) passes ``cache_registry`` too and checkpoints its
    rows to local disk before releasing the registry.
    """
    return _exscan(df, order, "count", materialize=materialize,
                   cache_registry=cache_registry)


def ranking_per_group(df: DataFrame, group_cols: list[str],
                      order: list[str | Column],
                      materialize: bool = False,
                      cache_registry: list[DataFrame] | None = None,
                      persist_input: bool = False) -> DataFrame:
    """Per-group 0-based ``rank`` and group size ``n_group`` under an
    explicit total order, without a ``Window.partitionBy`` (kmr_ranking
    generalized, src/kmrmoreops.c:764-805).

    A rank window partitioned by a low-cardinality key (e.g. 5 event
    types) funnels the whole table through |groups| tasks. This is the
    grouped count case of :func:`_exscan` instead: one range sort by
    (groups, order), which spreads each group across MANY partitions,
    and the group's rank is the global rank minus that of its first row.

    ``materialize`` and ``cache_registry`` as in :func:`ranking`;
    callers composing several rankings can collect the persisted frames
    in one registry and release them all after one final
    materialization (cheaper than checkpointing each ranking).
    ``persist_input`` caches ``df`` first: the RangePartitioner's
    sampling job executes the upstream plan once BEFORE the shuffle
    does, so an expensive input (JSON parse, hash pipeline) is computed
    once and sampled from cache.
    """
    if persist_input:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_registry is not None:
            cache_registry.append(df)
    return _exscan(df, order, "count", groups=list(group_cols),
                   names=["rank", "n_group"], materialize=materialize,
                   cache_registry=cache_registry)


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """Exact SQL NTILE(k) bucket from a 1-based rank ``rn`` and group
    size ``n`` — the first ``n % k`` buckets get ``n//k + 1`` rows, the
    rest ``n//k``. Lets a distributed exscan rank replace an NTILE
    window while staying value-identical to the window function.
    """
    q = F.floor(n / F.lit(k)).cast("long")
    r = n % F.lit(k)
    cut = r * (q + F.lit(1))
    # when n < k, q == 0 and rn <= cut always holds, so the q-division
    # branch is never evaluated (CaseWhen short-circuits per row)
    return (
        F.when(rn <= cut, F.floor((rn - 1) / (q + F.lit(1))) + F.lit(1))
        .otherwise(r + F.floor((rn - F.lit(1) - cut) / q) + F.lit(1))
        .cast("long")
    )


def choose_first_part(df: DataFrame, n: int, order: list[str | Column] | None = None) -> DataFrame:
    """Global LIMIT n (kmr_choose_first_part, src/kmrmoreops.c:1145-1163).

    KMR keeps the first n in rank order; Spark's limit after an explicit
    orderBy is the deterministic equivalent (TPC-H ``rownum <= 20``,
    reference ex/tpch.c:2932).
    """
    if order:
        df = df.orderBy(*order)
    return df.limit(n)


def top_k(df: DataFrame, k: int, *order: str | Column) -> DataFrame:
    """orderBy + limit — Spark plans this as TakeOrderedAndProject
    (per-partition heap + driver merge), the scalable top-k."""
    return df.orderBy(*order).limit(k)
