"""Coverage for the remaining SURVEY §2 operators: for_some early
termination, skew leveling, matmul plan."""

from pyspark.sql import functions as F

from kmr_spark.kvs import KVS
from kmr_spark.plans import linalg
from tests.conftest import assert_matches_oracle


def test_matmul_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, linalg.QUERIES["linalg_matmul"],
                          linalg.ORACLE_SQL["linalg_matmul"])


def test_map_for_some(spark):
    kvs = KVS.from_pairs(spark, [(i, f"v{i}") for i in range(1000)],
                         "key long, value string")
    out = kvs.map_for_some(lambda k, v: [(k, v)] if k % 2 == 0 else [],
                           "key long, value string")
    rows = out.collect_pairs()
    assert len(rows) == 1 and rows[0][0] % 2 == 0


def test_reduce_for_some(spark):
    kvs = KVS.from_pairs(spark, [(i % 10, i) for i in range(100)],
                         "key long, value long")
    out = kvs.reduce_for_some(lambda k, vs: [(k, sum(vs))], "key long, value long")
    assert len(out.collect_pairs()) == 1


def test_shuffle_leveling_balances_skew(spark):
    # Zipf-ish skew: one hot key with 5000 rows, 50 cold keys with 10 each
    rows = [("hot", i) for i in range(5000)] + [
        (f"k{j}", i) for j in range(50) for i in range(10)]
    kvs = KVS.from_pairs(spark, rows, "key string, value long")
    # plain hash shuffle: the hot key's partition dwarfs the rest
    hashed = kvs.shuffle(8)
    from kmr_spark.operators.shuffle import local_element_counts

    h = local_element_counts(hashed.df)
    # leveling: range partitioning splits by volume (ties in one key may
    # still co-locate, but cold keys spread evenly instead of hashing
    # into the hot partition)
    leveled = kvs.shuffle_leveling(8)
    lv = local_element_counts(leveled.df)
    assert sum(lv) == sum(h) == 5500
    assert max(lv) <= max(h)  # no worse than hash partitioning on skew


def test_ranking_per_group_matches_window(spark):
    """ranking_per_group must reproduce ROW_NUMBER()-1 and the group
    size for every row, on a skewed multi-group input."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kmr_spark.operators.sort import ranking_per_group

    rows = [(g, i * 37 % 101, i) for g in ("a", "b", "c")
            for i in range(1 + 50 * (ord(g) - ord("a")))]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    got = ranking_per_group(df, ["g"], [F.col("v").asc(), F.col("id").asc()])
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.select(
        "g", "v", "id",
        (F.row_number().over(w) - 1).cast("long").alias("rank"),
        F.count("*").over(Window.partitionBy("g")).alias("n_group"))
    a = {(r.g, r.v, r.id): (r.rank, r.n_group) for r in got.collect()}
    b = {(r.g, r.v, r.id): (r.rank, r.n_group) for r in want.collect()}
    assert a == b


def test_ntile_from_rank_matches_window_ntile(spark):
    """ntile_from_rank(rank, n, k) must equal F.ntile(k) for group
    sizes that are NOT multiples of k (the uneven-bucket edge)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kmr_spark.operators.sort import ntile_from_rank

    for n in (1, 2, 3, 4, 5, 7, 8, 9, 10, 23):
        df = spark.createDataFrame([(i,) for i in range(1, n + 1)], "rn long")
        w = Window.orderBy("rn")
        out = df.select(
            "rn",
            ntile_from_rank(F.col("rn"), F.lit(n).cast("long"), 4)
            .alias("mine"),
            F.ntile(4).over(w).cast("long").alias("theirs")).collect()
        for r in out:
            assert r.mine == r.theirs, (n, r.rn, r.mine, r.theirs)


def test_ranking_per_group_empty_and_single_row(spark):
    """Degenerate inputs: an empty frame yields an empty ranking; a
    single row gets rank 0 / n_group 1."""
    from pyspark.sql import functions as F

    from kmr_spark.operators.sort import ranking_per_group

    empty = spark.createDataFrame([], "g string, v long")
    assert ranking_per_group(empty, ["g"], [F.col("v")]).count() == 0

    one = spark.createDataFrame([("a", 5)], "g string, v long")
    r = ranking_per_group(one, ["g"], [F.col("v")]).collect()
    assert [(x.rank, x.n_group) for x in r] == [(0, 1)]


def _assert_group_ranks_match_window(spark, rows, schema, groups):
    """ranking_per_group over ``groups`` (ordered by v, id) against
    ROW_NUMBER()-1 and COUNT(*) over Window.partitionBy(groups), with
    every range partition of the sort kept (no AQE coalescing), so
    groups straddle partitions."""
    from pyspark.sql import Window

    from kmr_spark.operators.sort import ranking_per_group

    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        df = spark.createDataFrame(rows, schema)
        order = [F.col("v").asc(), F.col("id").asc()]
        got = {r.id: (r.rank, r.n_group) for r in
               ranking_per_group(df, groups, order, materialize=True).collect()}
        w = Window.partitionBy(*groups)
        want = {r.id: (r.rank, r.n_group) for r in df.select(
            "id", (F.row_number().over(w.orderBy(*order)) - 1).alias("rank"),
            F.count("*").over(w).alias("n_group")).collect()}
    finally:
        spark.conf.set(conf, old)
    assert got == want


def test_ranking_per_group_null_string_group(spark):
    """A NULL group value is a group of its own, not rank/n_group NULL."""
    groups = [None, "a", "None", ""]
    rows = [(groups[i % 4], i * 7 % 13, i) for i in range(60)]
    _assert_group_ranks_match_window(
        spark, rows, "g string, v long, id long", ["g"])


def test_ranking_per_group_typed_group_keys(spark):
    """Boolean, double (NaN, -0.0, 1e20), float and date group keys,
    each with NULLs, look up under their own types; a NaN group that
    straddles partitions is one group."""
    import datetime

    keys = {
        "boolean": [True, False, None],
        "double": [0.5, float("nan"), -0.0, 0.0, 1e20, None],
        "float": [float("nan"), 1.5, None],
        "date": [datetime.date(2024, 1, 1), datetime.date(1999, 12, 31), None],
    }
    for dtype, vals in keys.items():
        rows = [(vals[i % len(vals)], i * 7 % 13, i) for i in range(60)]
        _assert_group_ranks_match_window(
            spark, rows, f"g {dtype}, v long, id long", ["g"])


def test_ranking_per_group_separator_in_multi_column_keys(spark):
    """Two-column groups whose strings hold the unit separator stay
    distinct groups: ("x\x1fy", "z") is not ("x", "y\x1fz")."""
    pairs = [("x\x1fy", "z"), ("x", "y\x1fz"), ("x", None), (None, "x")]
    rows = [(*pairs[i % 4], i * 7 % 13, i) for i in range(40)]
    _assert_group_ranks_match_window(
        spark, rows, "g1 string, g2 string, v long, id long", ["g1", "g2"])


def test_asof_join_tie_resolution(spark):
    """Simultaneous right rows resolve to the largest right_order value
    — deterministic, engine-independent."""
    from pyspark.sql import functions as F

    from kmr_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 200), (1, 9, 300)], "k long, t long, v long")
    out = asof_join(left, right, on="t", by="k", right_cols=["v"]).collect()
    assert out[0]["asof_v"] == 200  # largest v among the t=10 ties
