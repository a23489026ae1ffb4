"""Property-based KVS tests (hypothesis) — randomized inputs against
pure-Python oracles, beyond the reference's fixed-fixture strategy
(SURVEY.md §5.1 notes the reference has no property testing)."""

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kmr_spark.kvs import KVS

pairs_strategy = st.lists(
    st.tuples(st.integers(-1000, 1000), st.integers(-10**9, 10**9)),
    min_size=1, max_size=60,
)

SETTINGS = settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(pairs=pairs_strategy)
@SETTINGS
def test_map_matches_python(spark, pairs):
    kvs = KVS.from_pairs(spark, pairs, "key long, value long")
    out = kvs.map(lambda k, v: [(k + 1, v * 2)], "key long, value long")
    expect = sorted((k + 1, v * 2) for k, v in pairs)
    assert sorted(out.collect_pairs()) == expect


@given(pairs=pairs_strategy)
@SETTINGS
def test_reduce_sum_matches_counter(spark, pairs):
    kvs = KVS.from_pairs(spark, pairs, "key long, value long")
    out = kvs.reduce_expr(F.sum("value").alias("value"))
    expect = Counter()
    for k, v in pairs:
        expect[k] += v
    assert dict(out.collect_pairs()) == dict(expect)


@given(pairs=st.lists(st.tuples(st.integers(-4, 4), st.integers(-10**9, 10**9)),
                     min_size=0, max_size=60),
       batch_rows=st.integers(1, 7))
@SETTINGS
def test_python_reduce_matches_counter_across_batches(spark, pairs, batch_rows):
    """KVS.reduce's redfn sees each key exactly once with all its
    values, even when tiny Arrow batches split a key's run."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(batch_rows))
    try:
        kvs = KVS.from_pairs(spark, pairs, "key long, value long")
        out = kvs.reduce(lambda k, vs: [(k, len(vs)), (k + 100, sum(vs))])
        got = Counter(out.collect_pairs())
    finally:
        spark.conf.set(conf, old)
    counts, sums = Counter(k for k, _ in pairs), Counter()
    for k, v in pairs:
        sums[k] += v
    expect = Counter({(k, n): 1 for k, n in counts.items()})
    expect.update({(k + 100, sums[k]): 1 for k in counts})
    assert got == expect


@given(pairs=pairs_strategy)
@SETTINGS
def test_sort_is_sorted_multiset(spark, pairs):
    kvs = KVS.from_pairs(spark, pairs, "key long, value long")
    got = kvs.sort().collect_pairs()
    assert [k for k, _ in got] == sorted(k for k, _ in pairs)
    assert Counter(got) == Counter(pairs)


@given(pairs=pairs_strategy)
@SETTINGS
def test_pairing_roundtrip(spark, pairs):
    kvs = KVS.from_pairs(spark, pairs, "key long, value long")
    back = kvs.pairing().unpairing()
    assert Counter(back.collect_pairs()) == Counter(pairs)


@given(pairs=pairs_strategy, n=st.integers(1, 8))
@SETTINGS
def test_shuffle_distribute_preserve_multiset(spark, pairs, n):
    kvs = KVS.from_pairs(spark, pairs, "key long, value long")
    assert Counter(kvs.shuffle(n).collect_pairs()) == Counter(pairs)
    assert Counter(kvs.distribute(n).collect_pairs()) == Counter(pairs)


texts_strategy = st.lists(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40),
    min_size=1, max_size=10,
)


@given(texts=texts_strategy)
@SETTINGS
def test_twin_hash_generators_agree(spark, texts):
    """The Spark and DuckDB sides of the hashing twin generators must
    produce identical token/shingle/minhash values on arbitrary ASCII —
    the invariant every dedup oracle rests on."""
    import duckdb
    from pyspark.sql import functions as F

    from kmr_spark.functions import hashing as H

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    th = H.token_hashes_col(H.tokens_col("text"))
    out = df.select("doc_id", th.alias("th")).select(
        "doc_id", "th", H.shingle_hashes_col(F.col("th")).alias("sh")
    ).orderBy("doc_id").collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", [(i, t) for i, t in enumerate(texts)])
    sql = (
        f"WITH a AS (SELECT doc_id, {H.sql_token_hashes(H.sql_tokens('text'))} AS th FROM d) "
        f"SELECT doc_id, th, {H.sql_shingle_hashes('th')} AS sh FROM a ORDER BY doc_id"
    )
    drows = con.execute(sql).fetchall()
    con.close()
    for s, dd in zip(out, drows):
        assert (s["doc_id"], s["th"], s["sh"]) == tuple(dd)


# ---------------------------------------------------- round-2 operators

intervals_strategy = st.lists(
    st.tuples(st.integers(0, 200), st.integers(1, 40)),  # (lo, span)
    min_size=1, max_size=12,
)
points_strategy = st.lists(st.integers(0, 240), min_size=1, max_size=40)


@given(points=points_strategy, spans=intervals_strategy,
       width=st.integers(1, 50))
@SETTINGS
def test_range_join_matches_naive(spark, points, spans, width):
    """Bucketed range join == the O(n*m) definition, for any width."""
    from kmr_spark.operators.interval import range_join

    pts = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "pid long, p long")
    ivs = spark.createDataFrame(
        [(i, lo, lo + span) for i, (lo, span) in enumerate(spans)],
        "iid long, lo long, hi long")
    got = {(r.pid, r.iid) for r in
           range_join(pts, ivs, "p", "lo", "hi", width).collect()}
    want = {(pi, ii) for pi, p in enumerate(points)
            for ii, (lo, span) in enumerate(spans) if lo <= p < lo + span}
    assert got == want


@given(points=points_strategy,
       spans=st.lists(st.tuples(st.integers(0, 200), st.integers(0, 400)),
                      min_size=1, max_size=12))
@SETTINGS
def test_range_join_auto_width_matches_naive(spark, points, spans):
    """Derived bucket width (mean-span) == the naive definition across
    span distributions — uniform tiny, huge, mixed, and zero spans."""
    from kmr_spark.operators.interval import range_join

    pts = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "pid long, p long")
    ivs = spark.createDataFrame(
        [(i, lo, lo + span) for i, (lo, span) in enumerate(spans)],
        "iid long, lo long, hi long")
    got = {(r.pid, r.iid) for r in
           range_join(pts, ivs, "p", "lo", "hi").collect()}
    want = {(pi, ii) for pi, p in enumerate(points)
            for ii, (lo, span) in enumerate(spans) if lo <= p < lo + span}
    assert got == want


@given(keys=st.lists(st.integers(0, 10**12), min_size=1, max_size=50,
                     unique=True),
       rate=st.floats(0.0, 1.0), salt=st.integers(0, 1000))
@SETTINGS
def test_hash_sample_matches_python_formula(spark, keys, rate, salt):
    """The kept set == the pure-Python evaluation of the same hash."""
    from kmr_spark.operators.sample import (_A, _P_MOD, _P_PRE,
                                            hash_sample)

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = sorted(r.k for r in hash_sample(df, rate, "k", salt).collect())
    thr = int(rate * _P_MOD)
    want = sorted(k for k in keys if ((k % _P_PRE + salt) * _A) % _P_MOD < thr)
    assert got == want


@given(sizes=st.lists(st.integers(0, 500), min_size=1, max_size=40),
       capacity=st.integers(1, 300))
@SETTINGS
def test_pack_matches_sequential_scan(spark, sizes, capacity):
    """Packing == a sequential Python scan per shard (cum-sum DIV)."""
    from kmr_spark.llm_ops.packing import pack_chunks
    from kmr_spark.operators.sample import _A, _P_MOD, _P_PRE

    rows = [(d, 0, sz) for d, sz in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, chunk_id long, chunk_len long")
    out = {(r.doc_id): (r.shard, r.bin_id, r.offset)
           for r in pack_chunks(df, capacity=capacity, n_shards=4).collect()}
    # python twin
    shard_of = lambda d: ((d % _P_PRE) * _A) % _P_MOD % 4
    cum = {}
    for d, sz in sorted(enumerate(sizes)):
        sh = shard_of(d)
        before = cum.get(sh, 0)
        assert out[d] == (sh, before // capacity, before % capacity)
        cum[sh] = before + sz


edge_strategy = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),
    min_size=0, max_size=80,
)


@given(edges=edge_strategy)
@SETTINGS
def test_triangle_census_matches_bruteforce(spark, edges):
    import itertools

    from kmr_spark.plans.graphs import canonicalize_edges, triangle_census

    df = spark.createDataFrame(edges, "src long, dst long") if edges else \
        spark.createDataFrame([], "src long, dst long")
    r = triangle_census(canonicalize_edges(df)).collect()[0]
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({n for e in es for n in e})
    tri = sum(1 for x, y, z in itertools.combinations(nodes, 3)
              if (x, y) in es and (x, z) in es and (y, z) in es)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (len(nodes), len(es), tri)


events_strategy = st.lists(
    st.tuples(st.integers(0, 6),              # user_id
              st.integers(0, 10**6),          # ts offset seconds
              st.integers(0, 10**6),          # event_id
              st.sampled_from(["a", "b"]),
              st.one_of(st.none(),
                        st.floats(-100, 100, allow_nan=False))),
    min_size=1, max_size=40, unique_by=lambda t: t[2],
)


@given(rows=events_strategy, cut=st.integers(0, 10**6))
@SETTINGS
def test_merge_user_state_associativity_random(spark, rows, cut):
    from kmr_spark.plans.incremental import _user_state, merge_user_state

    df = spark.createDataFrame(
        [(u, f"2024-01-01 00:00:00", e, t, v) for u, _, e, t, v in rows],
        "user_id long, ts string, event_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    # split by event_id hash instead of ts (harsher than a time split:
    # both sides interleave in event time)
    left = df.filter(F.col("event_id") % 7 <= cut % 7)
    right = df.filter(F.col("event_id") % 7 > cut % 7)
    merged = {r.user_id: r for r in
              merge_user_state(_user_state(left), _user_state(right)).collect()}
    direct = {r.user_id: r for r in _user_state(df).collect()}
    assert set(merged) == set(direct)
    for uid in direct:
        assert merged[uid].n_events == direct[uid].n_events
        assert merged[uid].sum_dec == direct[uid].sum_dec
        assert merged[uid].last == direct[uid].last


# ---------------------------------------------------- round-3 operators


@given(texts=texts_strategy, k=st.integers(2, 6))
@SETTINGS
def test_span_hash_twins_agree(spark, texts, k):
    """span_hashes_col == sql_span_hashes on arbitrary ASCII and any
    window k — the invariant dedup_spans' oracle rests on (also pins
    the k=3 == shingle-hash identity documented in hashing.py)."""
    import duckdb
    from pyspark.sql import functions as F

    from kmr_spark.functions import hashing as H

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    th = H.token_hashes_col(H.tokens_col("text"))
    out = df.select(
        "doc_id", H.span_hashes_col(th, k).alias("sp")
    ).orderBy("doc_id").collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)",
                    [(i, t) for i, t in enumerate(texts)])
    sql = (
        f"WITH a AS (SELECT doc_id, "
        f"{H.sql_token_hashes(H.sql_tokens('text'))} AS th FROM d) "
        f"SELECT doc_id, {H.sql_span_hashes('th', k)} AS sp "
        f"FROM a ORDER BY doc_id"
    )
    drows = con.execute(sql).fetchall()
    con.close()
    for s, dd in zip(out, drows):
        assert (s["doc_id"], s["sp"]) == tuple(dd)
        if k == 3:
            pass  # k=3 equivalence with shingles checked below

    if k == 3:
        sh = df.select(
            "doc_id",
            H.shingle_hashes_col(H.token_hashes_col(H.tokens_col("text")))
            .alias("sh")).orderBy("doc_id").collect()
        for a, b in zip(out, sh):
            assert a["sp"] == b["sh"]


overlap_side = st.lists(
    st.tuples(st.integers(-100, 200), st.integers(-5, 60)),  # (lo, span)
    min_size=1, max_size=12,
)


@given(left=overlap_side, right=overlap_side, width=st.integers(1, 80))
@SETTINGS
def test_interval_overlap_matches_naive(spark, left, right, width):
    """Bucketed interval×interval overlap == brute-force filter for
    random (possibly empty/negative) intervals at any bucket width."""
    from kmr_spark.operators.interval import interval_overlap_join

    lrows = [(i, lo, lo + sp) for i, (lo, sp) in enumerate(left)]
    rrows = [(j, lo, lo + sp) for j, (lo, sp) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, ["lid", "l_lo", "l_hi"])
    rdf = spark.createDataFrame(rrows, ["rid", "r_lo", "r_hi"])
    expected = sorted(
        (li, rj)
        for li, llo, lhi in lrows for rj, rlo, rhi in rrows
        if llo < rhi and rlo < lhi and llo < lhi and rlo < rhi)
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(
            ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi",
            bucket_width=width).collect())
    assert got == expected
