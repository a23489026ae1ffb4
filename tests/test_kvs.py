"""KVS operator unit tests, mirroring the reference's Python binding
tests (check-py-minimum.py fixtures; FIXTURES.md §B)."""

import pytest
from pyspark.sql import functions as F

from kmr_spark.kvs import KVS
from kmr_spark.operators import shuffle as ex, sort as so

# FIXTURES.md §B.1 — the reference's 12-pair fixture
TREES = ["Matsu", "Ume", "Take", "Sakura", "Kaede", "Kiri",
         "Hinoki", "Kusu", "Keyaki", "Icho", "Yanagi", "Kiri"]
PAIRS = list(enumerate(TREES))


def make_kvs(spark):
    return KVS.from_pairs(spark, PAIRS, "key long, value string")


def test_roundtrip_and_count(spark):
    kvs = make_kvs(spark)
    assert kvs.get_element_count() == 12
    assert sorted(kvs.collect_pairs()) == sorted(PAIRS)


def test_map_python_fn(spark):
    kvs = make_kvs(spark)
    out = kvs.map(lambda k, v: [(k * 2, v.upper())], "key long, value string")
    got = dict(out.collect_pairs())
    assert got[0] == "MATSU" and got[22] == "KIRI"


def test_map_expr_and_filter(spark):
    kvs = make_kvs(spark)
    out = kvs.map_expr(F.col("key") + 100, F.length("value"))
    pairs = dict(out.collect_pairs())
    assert pairs[100] == 5  # Matsu
    few = kvs.filter(F.col("key") < 3)
    assert few.get_element_count() == 3


def test_reverse_pairing_roundtrip(spark):
    kvs = make_kvs(spark)
    assert sorted(kvs.reverse().reverse().collect_pairs()) == sorted(PAIRS)
    assert sorted(kvs.pairing().unpairing().collect_pairs()) == sorted(PAIRS)


def test_shuffle_preserves_multiset_and_colocates(spark):
    kvs = KVS.from_pairs(
        spark, [(i % 4, f"v{i}") for i in range(40)], "key long, value string")
    shuffled = kvs.shuffle(4)
    assert sorted(shuffled.collect_pairs()) == sorted(kvs.collect_pairs())
    # same key lands in the same partition
    pid = shuffled.df.select("key", F.spark_partition_id().alias("pid")).distinct()
    assert pid.groupBy("key").count().filter("count > 1").count() == 0


def test_reduce_python_fn(spark):
    kvs = KVS.from_pairs(
        spark, [(i % 3, i) for i in range(12)], "key long, value long")
    out = kvs.reduce(lambda k, vs: [(k, sum(vs))], "key long, value long")
    assert dict(out.collect_pairs()) == {0: 0 + 3 + 6 + 9, 1: 1 + 4 + 7 + 10, 2: 2 + 5 + 8 + 11}


# A NULL key, a NULL value, and keys that share Arrow batches.
NULLY = [(1, 10), (1, 20), (None, 5), (None, 7), (2, None), (2, 3)]


@pytest.mark.parametrize("batch_rows", [10000, 1])
def test_reduce_pinned_null_and_batch_semantics(spark, batch_rows):
    """The redfn's view of NULLs, pinned to the one-group-per-Arrow-
    batch form it replaced: a NULL key is one group whose key is NaN,
    a NULL value turns that key's values to floats with a NaN, and a
    group's values never depend on which groups share its batch."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(batch_rows))
    try:
        kvs = KVS.from_pairs(spark, NULLY, "key long, value long")
        counts = dict(kvs.reduce(lambda k, vs: [(k, len(vs))]).collect_pairs())
        assert counts == {1: 2, 2: 2, None: 2}

        def seen_by(k, vs):
            """(key type, key, values with NaN last, value types);
            NaN reads "nan" so it compares equal to itself."""
            def norm(x):
                return "nan" if x != x else x
            ordered = sorted(vs, key=lambda v: (v != v, v))
            return [(None if k != k else int(k),
                     repr((type(k).__name__, (norm(k), [norm(v) for v in ordered]),
                           sorted(type(v).__name__ for v in vs))))]

        seen = kvs.reduce(seen_by, "key long, value string").collect_pairs()
        assert dict(seen) == {
            1: repr(("int64", (1, [10, 20]), ["int", "int"])),
            2: repr(("int64", (2, [3.0, "nan"]), ["float", "float"])),
            None: repr(("float64", ("nan", [5, 7]), ["int", "int"])),
        }
    finally:
        spark.conf.set(conf, old)


def test_reduce_empty_and_variable_output(spark):
    """Empty input reduces to nothing; a redfn may emit 0 or 3 pairs
    per key."""
    kvs = KVS.from_pairs(spark, NULLY, "key long, value long")
    empty = kvs.filter(F.col("key") > 100)
    assert empty.reduce(lambda k, vs: [(k, 1)]).collect_pairs() == []
    assert kvs.reduce(lambda k, vs: []).collect_pairs() == []
    three = kvs.reduce(lambda k, vs: [(k, i) for i in range(3)]).collect_pairs()
    assert sorted(three, key=repr) == sorted(
        [(k, i) for k in (1, 2, None) for i in range(3)], key=repr)


def test_reduce_expr_and_count_keys(spark):
    kvs = KVS.from_pairs(
        spark, [(i % 3, i) for i in range(12)], "key long, value long")
    out = kvs.reduce_expr(F.sum("value").alias("value"))
    assert dict(out.collect_pairs()) == {0: 18, 1: 22, 2: 26}
    counts = {r["key"]: r["count"] for r in kvs.count_keys().collect()}
    assert counts == {0: 4, 1: 4, 2: 4}


def test_concatenate(spark):
    a = KVS.from_pairs(spark, PAIRS[:6], "key long, value string")
    b = KVS.from_pairs(spark, PAIRS[6:], "key long, value string")
    assert sorted(a.concatenate(b).collect_pairs()) == sorted(PAIRS)


def test_global_sort_and_descending(spark):
    import random

    rng = random.Random(42)
    data = [(rng.randrange(10**9), i) for i in range(5000)]
    kvs = KVS.from_pairs(spark, data, "key long, value long")
    asc = [k for k, _ in kvs.sort().collect_pairs()]
    assert asc == sorted(k for k, _ in data)
    desc = [k for k, _ in kvs.sort(descending=True).collect_pairs()]
    assert desc == sorted((k for k, _ in data), reverse=True)
    assert so.is_globally_sorted(kvs.sort().df, "key")


def test_float_sort_total_order(spark):
    # FIXTURES.md §B.4: negatives, zeros, magnitudes (KMR sign-flip parity)
    vals = [3.5, -2.25, 0.0, -0.0, 1e300, -1e300, 42.0, -42.0, 1e-300]
    kvs = KVS.from_pairs(spark, [(v, i) for i, v in enumerate(vals)],
                         "key double, value long")
    got = [k for k, _ in kvs.sort().collect_pairs()]
    assert got == sorted(vals)


def test_binary_memcmp_order(spark):
    # FIXTURES.md §B.5: memcmp order incl. shared prefixes + zero bytes
    keys = [b"\x00", b"\x00\x00", b"\x01", b"abc", b"ab", b"abd", b"", b"\xff"]
    kvs = KVS.from_pairs(spark, [(k, i) for i, k in enumerate(keys)],
                         "key binary, value long")
    got = [bytes(k) for k, _ in kvs.sort().collect_pairs()]
    assert got == sorted(keys)


def test_ranking(spark):
    data = [(i * 7 % 100, i) for i in range(100)]
    kvs = KVS.from_pairs(spark, data, "key long, value long")
    ranked = kvs.ranking()
    rows = ranked.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(100))
    assert [r["key"] for r in rows] == sorted(k for k, _ in data)


def test_top_k_and_limit(spark):
    kvs = KVS.from_pairs(spark, [(i, i) for i in range(1000)], "key long, value long")
    top = kvs.top_k(5).collect_pairs()
    assert [k for k, _ in top] == [999, 998, 997, 996, 995]
    assert kvs.limit(7).get_element_count() == 7


def test_find_key_and_take_one(spark):
    kvs = make_kvs(spark)
    assert kvs.find_key(3) == ["Sakura"]
    one = KVS.from_pairs(spark, [(1, "x")], "key long, value string").take_one()
    assert one["value"] == "x"
    with pytest.raises(ValueError):
        kvs.take_one()


def test_save_restore(spark, tmp_path):
    kvs = make_kvs(spark)
    path = str(tmp_path / "kvs.parquet")
    kvs.save(path)
    back = KVS.restore(spark, path)
    assert sorted(back.collect_pairs()) == sorted(PAIRS)


def test_histogram_and_distribute(spark):
    kvs = KVS.from_pairs(spark, [(i, i) for i in range(100)], "key long, value long")
    dist = kvs.distribute(4)
    counts = ex.local_element_counts(dist.df)
    assert sum(counts) == 100 and len(counts) == 4
    # round-robin balance: each source partition starts its round-robin at
    # a random offset, so counts are near-equal (±source-partition count),
    # not exactly ±1 like KMR's kmr_distribute
    assert max(counts) - min(counts) <= 4


def test_scan_on_values(spark):
    from kmr_spark.operators.reduce import scan_on_values

    kvs = KVS.from_pairs(spark, [(i, i + 1) for i in range(10)], "key long, value long")
    out = scan_on_values(kvs.df, order=["key"]).orderBy("key").collect()
    # non-inclusive prefix sums of 1..10 plus grand total on every row
    import itertools

    expect = [0] + list(itertools.accumulate(range(1, 10)))
    assert [r["scan"] for r in out] == expect
    assert all(r["total"] == 55 for r in out)


def test_match_join(spark):
    from kmr_spark.operators.join import match

    a = KVS.from_pairs(spark, [(1, "a1"), (1, "a2"), (2, "a3")], "key long, value string")
    b = KVS.from_pairs(spark, [(1, "b1"), (3, "b2")], "key long, value string")
    out = match(a.df, b.df)
    got = sorted((r["key"], r["value0"], r["value1"]) for r in out.collect())
    assert got == [(1, "a1", "b1"), (1, "a2", "b1")]


def test_map_skipping(spark):
    from kmr_spark.operators.mapping import map_skipping

    kvs = KVS.from_pairs(spark, [(i, i) for i in range(20)], "key long, value long")
    out = map_skipping(kvs.df, ["key"], start=1, stride=5)
    assert sorted(k for k, _ in [(r["key"], r["value"]) for r in out.collect()]) == [1, 6, 11, 16]


def test_durable_checkpoint_survives_fresh_session(spark, tmp_path):
    """kmrckpt restart parity: a checkpoint written by one Spark
    APPLICATION must be restorable by another, and restart must skip
    the recompute (committed-marker check)."""
    import subprocess
    import sys

    from kmr_spark.kvs import KVS

    ck = str(tmp_path / "durable_ck")
    script = f"""
import sys; sys.path.insert(0, {repr("/root/repo")})
from pyspark.sql import SparkSession
from kmr_spark.kvs import KVS
spark = SparkSession.builder.master("local[2]").appName("ck-writer").getOrCreate()
kvs = KVS.from_pairs(spark, [(i, i * i) for i in range(50)], "key long, value long")
kvs.map_expr(__import__("pyspark.sql.functions", fromlist=["col"]).col("key") + 1,
             __import__("pyspark.sql.functions", fromlist=["col"]).col("value"))\\
   .checkpoint(durable=True, path={repr(ck)})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", script], check=True,
                   capture_output=True, timeout=300)

    def must_not_run():
        raise AssertionError("restart recomputed instead of restoring")

    restored = KVS.checkpoint_or_build(spark, ck, must_not_run)
    pairs = sorted(restored.collect_pairs())
    assert pairs == [(i + 1, i * i) for i in range(50)]


def test_checkpoint_or_build_builds_when_absent(spark, tmp_path):
    from kmr_spark.kvs import KVS

    ck = str(tmp_path / "fresh_ck")
    built = KVS.checkpoint_or_build(
        spark, ck,
        lambda: KVS.from_pairs(spark, [(1, 10), (2, 20)], "key long, value long"))
    assert sorted(built.collect_pairs()) == [(1, 10), (2, 20)]
    # second call restores the committed copy
    again = KVS.checkpoint_or_build(
        spark, ck, lambda: (_ for _ in ()).throw(AssertionError("recompute")))
    assert sorted(again.collect_pairs()) == [(1, 10), (2, 20)]


def test_events_median_kvs_matches_oracle(spark, duck):
    """The registry's KVS.reduce consumer, oracle-exact at sf0.01."""
    from conftest import assert_matches_oracle
    from kmr_spark.plans.robust import MEDIAN_KVS_SQL, events_median_kvs

    assert_matches_oracle(spark, duck, events_median_kvs, MEDIAN_KVS_SQL)
