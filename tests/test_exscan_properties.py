"""Property tests for the distributed-exscan machinery — the rank /
prefix-scan / components operators that dozens of registry queries
build on (RFM, gini, KS, QTE, curriculum order, dedup clusters...).
Randomized inputs against pure-Python oracles: sorted-enumerate for
ranks, itertools.accumulate for prefix sums, SQL's NTILE definition,
and union-find for connected components.
"""

from itertools import accumulate

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(st.integers(0, 3),          # group key (low cardinality)
              st.integers(-1000, 1000),   # order value (ties likely)
              st.integers(0, 10**6)),     # unique-ish id tiebreak
    min_size=1, max_size=50, unique_by=lambda t: t[2],
)


@given(rows=rows_strategy)
@SETTINGS
def test_ranking_matches_sorted_enumerate(spark, rows):
    from kmr_spark.operators.sort import ranking

    df = spark.createDataFrame(rows, "g int, val long, id long")
    got = {
        r["id"]: r["rank"]
        for r in ranking(df, [F.col("val"), F.col("id")],
                         materialize=True).collect()
    }
    want = {t[2]: i
            for i, t in enumerate(sorted(rows, key=lambda t: (t[1], t[2])))}
    assert got == want


@given(rows=rows_strategy)
@SETTINGS
def test_ranking_per_group_matches_grouped_enumerate(spark, rows):
    from kmr_spark.operators.sort import ranking_per_group

    df = spark.createDataFrame(rows, "g int, val long, id long")
    got = {
        r["id"]: (r["rank"], r["n_group"])
        for r in ranking_per_group(
            df, ["g"], [F.col("val"), F.col("id")],
            materialize=True).collect()
    }
    want = {}
    for g in {t[0] for t in rows}:
        members = sorted((t for t in rows if t[0] == g),
                         key=lambda t: (t[1], t[2]))
        for i, t in enumerate(members):
            want[t[2]] = (i, len(members))
    assert got == want


@given(rows=rows_strategy)
@SETTINGS
def test_scan_distributed_matches_accumulate(spark, rows):
    from kmr_spark.operators.reduce import scan_distributed

    df = spark.createDataFrame(rows, "g int, val long, id long")
    out = scan_distributed(df, "val", [F.col("val"), F.col("id")])
    got = {r["id"]: r["scan"] for r in out.collect()}
    ordered = sorted(rows, key=lambda t: (t[1], t[2]))
    sums = [0, *accumulate(t[1] for t in ordered)]
    want = {t[2]: sums[i] for i, t in enumerate(ordered)}
    assert got == want


@given(n=st.integers(1, 200), k=st.integers(1, 7))
@SETTINGS
def test_ntile_from_rank_matches_sql_ntile(spark, n, k):
    """ntile_from_rank must reproduce SQL NTILE(k) exactly: the first
    n % k buckets get n//k + 1 rows, the rest n//k."""
    from kmr_spark.operators.sort import ntile_from_rank

    df = spark.range(1, n + 1).select(
        F.col("id").alias("rn"), F.lit(n).alias("n"))
    got = {r["rn"]: r["b"]
           for r in df.select(
               "rn", ntile_from_rank(F.col("rn"), F.col("n"), k)
               .alias("b")).collect()}
    base, rem = divmod(n, k)
    want, rn = {}, 1
    for b in range(1, k + 1):
        size = base + (1 if b <= rem else 0)
        for _ in range(size):
            want[rn] = b
            rn += 1
    assert got == want


edges_strategy = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),
    min_size=1, max_size=40,
).filter(lambda es: any(a != b for a, b in es))


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min node id of the component
    comp = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    return {x: min(xs) for xs in comp.values() for x in xs}


@given(edges=edges_strategy)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    from kmr_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_a long, doc_b long")
    got = {r["node"]: r["label"]
           for r in connected_components(pairs).collect()}
    want = _union_find_labels([(a, b) for a, b in edges if a != b])
    assert got == want


@given(rows=rows_strategy)
@SETTINGS
def test_scan_max_distributed_matches_running_max(spark, rows):
    from kmr_spark.operators.reduce import scan_max_distributed

    df = spark.createDataFrame(rows, "g int, val long, id long")
    out = scan_max_distributed(df, "val", [F.col("id")])
    got = {r["id"]: r["scan_max"] for r in out.collect()}
    ordered = sorted(rows, key=lambda t: t[2])
    want, running = {}, None
    for t in ordered:
        want[t[2]] = running
        running = t[1] if running is None else max(running, t[1])
    assert got == want


@given(rows=rows_strategy, k=st.integers(1, 10))
@SETTINGS
def test_top_k_matches_sorted_slice(spark, rows, k):
    from kmr_spark.operators.sort import top_k

    df = spark.createDataFrame(rows, "g int, val long, id long")
    got = [(r["val"], r["id"])
           for r in top_k(df, k, F.col("val").desc(), F.col("id")).collect()]
    want = [(t[1], t[2])
            for t in sorted(rows, key=lambda t: (-t[1], t[2]))[:k]]
    assert got == want


# The properties below draw the NULL measures and NULL groups the ones
# above never do. Each keeps every range partition of the sort (AQE
# coalescing off, or a small input may collapse into one) and checks
# that its input spans at least two, so cross-partition offsets are used.
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _run_split(spark, df, order, fn):
    """fn() with AQE coalescing off; asserts ``df`` sorted by ``order``
    spans at least two range partitions."""
    old = spark.conf.get(COALESCE)
    spark.conf.set(COALESCE, "false")
    try:
        parts = (df.orderBy(*order).select(F.spark_partition_id().alias("p"))
                 .distinct().count())
        assert parts >= 2, f"input fits in {parts} range partition"
        return fn()
    finally:
        spark.conf.set(COALESCE, old)


nullable_rows_strategy = st.lists(
    st.tuples(st.sampled_from([None, "a", "b", "a\x1fb"]),  # nullable group
              st.one_of(st.none(), st.integers(-1000, 1000)),  # measure
              st.one_of(st.none(), st.integers(-1000, 1000)),  # measure
              st.integers(0, 10**6)),                          # unique id
    min_size=8, max_size=50, unique_by=lambda t: t[3],
)
NULLABLE_SCHEMA = "g string, a long, b long, id long"


@given(rows=nullable_rows_strategy)
@SETTINGS
def test_scan_max_distributed_skips_nulls_across_partitions(spark, rows):
    """Prefix max against a Python running max that skips NULLs; the
    first row's measure is NULL, so rows stay NULL until a value."""
    from kmr_spark.operators.reduce import scan_max_distributed

    first = min(t[3] for t in rows)
    rows = [(g, None if i == first else a, b, i) for g, a, b, i in rows]
    df = spark.createDataFrame(rows, NULLABLE_SCHEMA)
    out = _run_split(spark, df, ["id"], lambda: scan_max_distributed(
        df, "a", [F.col("id")]).collect())
    got = {r["id"]: r["scan_max"] for r in out}
    want, running = {}, None
    for _, a, _, i in sorted(rows, key=lambda t: t[3]):
        want[i] = running
        if a is not None:
            running = a if running is None else max(running, a)
    assert got == want


@given(rows=nullable_rows_strategy)
@SETTINGS
def test_scan_distributed_multi_measure_skips_nulls(spark, rows):
    """Two nullable measures at once against accumulate with NULL as 0."""
    from kmr_spark.operators.reduce import scan_distributed

    df = spark.createDataFrame(rows, NULLABLE_SCHEMA)
    out = _run_split(spark, df, ["id"], lambda: scan_distributed(
        df, ["a", "b"], [F.col("id")]).collect())
    got = {r["id"]: (r["scan_a"], r["scan_b"]) for r in out}
    ordered = sorted(rows, key=lambda t: t[3])
    sums = {c: [0, *accumulate((t[c] or 0) for t in ordered)] for c in (1, 2)}
    want = {t[3]: (sums[1][i], sums[2][i]) for i, t in enumerate(ordered)}
    assert got == want


@given(rows=nullable_rows_strategy)
@SETTINGS
def test_ranking_per_group_nullable_groups(spark, rows):
    """A NULL group is one group; groups straddle range partitions."""
    from kmr_spark.operators.sort import ranking_per_group

    df = spark.createDataFrame(rows, NULLABLE_SCHEMA)
    out = _run_split(spark, df, ["g", "id"], lambda: ranking_per_group(
        df, ["g"], [F.col("id")], materialize=True).collect())
    got = {r["id"]: (r["rank"], r["n_group"]) for r in out}
    want = {}
    for g in {t[0] for t in rows}:
        members = sorted(t[3] for t in rows if t[0] == g)
        want.update({i: (k, len(members)) for k, i in enumerate(members)})
    assert got == want
