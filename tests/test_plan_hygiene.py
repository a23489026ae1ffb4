"""Plan-shape regression tests: the physical plans we audited and want
to keep (SCALE.md). If one of these fails after a change, the change
altered a scale-critical plan property, not just a constant."""

import contextlib
import io

from kmr_spark.plans import tpch, wordcount

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q7_broadcasts_dims_and_pushes_dates(spark):
    plan = _plan(tpch.q7(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed to scan
    assert "SortMergeJoin" not in plan  # everything broadcastable at test SF


def test_q9_pushes_name_filter_to_part_scan(spark):
    plan = _plan(tpch.q9(spark, SF))
    assert "StringContains(p_name,red)" in plan.replace(" ", "")


def test_q13_prunes_customer_to_single_column(spark):
    plan = _plan(tpch.q13(spark, SF))
    assert "struct<c_custkey:bigint>" in plan  # ReadSchema pruned to 1 col


def test_q21_single_pushdown_of_status_filter(spark):
    plan = _plan(tpch.q21(spark, SF))
    assert "EqualTo(o_orderstatus,F)" in plan.replace(" ", "")
    assert "EqualTo(n_name,NATION_3)" in plan.replace(" ", "")


def test_q1_scan_bound_single_pass(spark):
    """Q1 is one lineitem scan into a 6-group aggregate: date filter
    pushed to parquet, no join anywhere in the plan."""
    from kmr_spark.plans import tpch_extra

    plan = _plan(tpch_extra.q1(spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan
    assert "Join" not in plan


def test_q6_pushes_all_three_predicates(spark):
    from kmr_spark.plans import tpch_extra

    plan = _plan(tpch_extra.q6(spark, SF)).replace(" ", "")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24" in plan
    assert "GreaterThanOrEqual(l_discount,0.05" in plan


def test_q5_broadcasts_region_side(spark):
    plan = _plan(__import__("kmr_spark.plans.tpch_extra", fromlist=["q5"]).q5(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(r_name,ASIA)" in plan.replace(" ", "")


def test_q17_no_lineitem_sized_shuffle(spark):
    """The correlated threshold must ride broadcast joins — a
    SortMergeJoin here would mean lineitem shuffles on partkey."""
    from kmr_spark.plans import tpch_extra

    plan = _plan(tpch_extra.q17(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q18_take_ordered_cut(spark):
    from kmr_spark.plans import tpch_extra

    plan = _plan(tpch_extra.q18(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_wordcount_uses_take_ordered(spark):
    plan = _plan(wordcount.wordcount_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort+limit


def test_ivf_assignment_is_narrow(spark):
    """IVF cell assignment must be a narrow literal-centroid expression:
    no Exchange, no Window, no crossJoin explode of the corpus (the
    round-1 crossJoin+row_number form shuffled the whole corpus on a
    unique key just to argmax over 8 values)."""
    from kmr_spark.llm_ops import similarity as S

    from pyspark.sql import functions as F

    from kmr_spark.functions import vectors as V
    from kmr_spark.session import load_tables

    # raw vector table WITHOUT _emb's deliberate input-spread
    # repartition, so any Exchange below must come from assign_cells
    raw = load_tables(spark, SF)["embeddings"].select(
        "vec_id", V.to_double_array("embedding").alias("vd"))
    cents = S._collect_centroids(raw)
    plan = _plan(S.assign_cells(raw, cents, 1))
    assert "Exchange" not in plan
    assert "Window" not in plan

    # _emb itself spreads the single-file table exactly once (map-side
    # parallelism for the broadcast joins downstream), nothing more
    # (formatted explain prints each node twice: tree + details)
    emb_plan = _plan(S._emb(spark, SF))
    assert emb_plan.count("REPARTITION_BY_NUM") == 1
    assert emb_plan.count("Exchange") <= 2


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Partitioned sink + pruned read: the 100 TB date-partition layout."""
    from pyspark.sql import functions as F

    from kmr_spark.session import load_tables

    ev = load_tables(spark, SF)["events"]
    path = str(tmp_path / "events_by_day")
    (ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
       .write.mode("overwrite").partitionBy("day").parquet(path))
    back = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(day" in plan
    # pruned read touches only the selected partition's rows
    total = ev.count()
    got = back.count()
    assert 0 < got < total


def test_pagerank_iteration_has_no_exchange(spark):
    """The per-iteration plan must be: broadcast join + partial/final
    aggregate with NO Exchange — edges2 is cached pre-partitioned by
    dst, so groupBy(dst) finds its distribution satisfied. (The cached
    relation's own build plan, after 'InMemoryRelation', contains the
    one deliberate up-front repartition.)"""
    from pyspark.sql import functions as F

    from kmr_spark.plans.iterative import (PR_SCALE, _edges, _pr_iteration,
                                           _prepare_edges)

    edges = _edges(spark, SF).persist()
    edges2 = _prepare_edges(edges)  # the PRODUCTION preparation
    edges2.count()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = nodes.select("node", F.lit(PR_SCALE).cast("long").alias("rank"))
    one = _pr_iteration(edges2, ranks)  # the PRODUCTION iteration step
    plan = one._jdf.queryExecution().executedPlan().toString()
    iteration_part = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in iteration_part
    assert "BroadcastHashJoin" in iteration_part
    edges2.unpersist()
    edges.unpersist()


def _pre_materialization_plan(module, fn, spark):
    """Run a query function with materialize_release stubbed to a
    pass-through so the pipeline's own physical plan (not the
    checkpoint scan) is inspectable."""
    from unittest import mock
    with mock.patch.object(module, "materialize_release",
                           lambda out, *cached: out):
        df = fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_bigram_lm_model_is_broadcast(spark):
    """The corpus bigram model must reach the scoring join as a
    broadcast — a shuffle join there would re-shuffle the whole
    per-doc bigram table on a tiny-key column."""
    from kmr_spark.llm_ops import textstats

    plan = _pre_materialization_plan(
        textstats, textstats.doc_bigram_lm, spark)
    assert "BroadcastHashJoin" in plan


def test_quantized_knn_queries_are_broadcast(spark):
    """SQ8 kNN scores the corpus against a broadcast query side; the
    corpus itself must never shuffle for the scoring."""
    from kmr_spark.llm_ops import similarity

    plan = _pre_materialization_plan(
        similarity, similarity.knn_quantized, spark)
    assert "BroadcastNestedLoopJoin" in plan


def test_scd2_single_corpus_exchange(spark):
    """SCD2's three windows + the run-collapse aggregate all reuse ONE
    hash Exchange on user_id — and since the presentation orderBy was
    dropped (the driver compare is order-insensitive), that is the
    query's ONLY Exchange."""
    from kmr_spark.plans.behavior import events_scd2_state

    plan = _plan(events_scd2_state(spark, SF))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert plan.count("partitioning(") == 1, plan       # and nothing else


def test_spans_has_no_join_on_text(spark):
    """dedup_spans shuffles span hashes, never text: the scan reads
    only (doc_id, text), and text is projected away before any
    Exchange."""
    from kmr_spark.llm_ops.spans import _spans_plan

    out, th_table = _spans_plan(spark, SF)
    try:
        plan = _plan(out)
    finally:
        th_table.unpersist()
    assert "struct<doc_id:bigint,text:string>" in plan  # pruned scan
    for i, line in enumerate(plan.splitlines()):
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"text crosses an Exchange: {line}")


def test_overlap_join_is_equi_shuffle(spark):
    """The interval-overlap composition compiles to a hash equi-join on
    the bucket id — never BroadcastNestedLoopJoin/CartesianProduct."""
    from kmr_spark.plans.analytics import events_session_campaign_overlap

    plan = _plan(events_session_campaign_overlap(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_uses_take_ordered(spark):
    """Efraimidis–Spirakis top-k must be the per-partition-heap
    TakeOrdered plan, not a global sort."""
    from kmr_spark.plans.sampling import sample_docs_weighted

    plan = _plan(sample_docs_weighted(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_robust_queries_use_arrow_paths(spark):
    """The §2.9 UDF surface under the gate: the trimmed-mean query must
    aggregate through the grouped-agg pandas UDAF (AggregateInPandas)
    and the KVS median through KMR's sorted-run reduce: MapInPandas
    above a Sort above a hash Exchange on the key, no per-row UDF."""
    from kmr_spark.plans.robust import events_median_kvs, events_trimmed_mean

    p1 = _plan(events_trimmed_mean(spark, SF))
    assert "AggregateInPandas" in p1 or "ArrowAggregatePython" in p1, p1
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        events_median_kvs(spark, SF).explain()
    p2 = buf.getvalue()
    nodes = [ln.strip(" +-:") for ln in
             p2.split("== Physical Plan ==")[1].splitlines()]
    below = nodes[next(i for i, n in enumerate(nodes)
                       if n.startswith("MapInPandas")):]
    sort, exchange = (next(n for n in below if n.startswith(op))
                      for op in ("Sort ", "Exchange "))
    assert below.index(sort) < below.index(exchange), p2
    assert sort.startswith("Sort [key#"), p2
    assert exchange.startswith("Exchange hashpartitioning(key#"), p2
    assert "BatchEvalPython" not in p2, p2


def test_no_unpartitioned_rank_windows(spark):
    """RFM and the semistruct rank queries must not contain ANY window
    operator: their ntile/percent_rank semantics are rebuilt on the
    distributed exscan rank (ranking_per_group), so a Window node —
    necessarily funneling rows per partition key (or globally) —
    signals a regression to the serialized form."""
    from kmr_spark.plans.rfm import orders_rfm_segments
    from kmr_spark.plans.semistruct import (events_props_extract,
                                            events_value_rank)

    for fn in (orders_rfm_segments, events_props_extract,
               events_value_rank):
        plan = _plan(fn(spark, SF))
        assert "Window" not in plan, f"{fn.__name__} reintroduced a window"


def _final_plan_nodes(df) -> list[str]:
    """Physical plan node lines, without the ``== Initial Plan ==``
    copy AQE prints beside a cached frame's final plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    nodes, skip = [], None
    for ln in buf.getvalue().splitlines():
        depth = len(ln) - len(ln.lstrip(" "))
        if skip is not None and depth > skip:
            continue
        skip = depth if "== Initial Plan ==" in ln else None
        if skip is None:
            nodes.append(ln.strip(" +-:"))
    return nodes


def test_exscan_in_partition_step_per_op(spark):
    """The count exscan (ranking, ranking_per_group) adds the record
    number: no Window, and the range sort's Exchange is the only one.
    Sum and max (scan_distributed, scan_max_distributed) keep the
    running window over the sort's partition id."""
    from unittest import mock

    from pyspark.sql import functions as F

    from kmr_spark.operators import reduce, sort

    df = spark.range(200).select((F.col("id") % 3).alias("g"),
                                 (F.col("id") * 7 % 101).alias("v"), "id")
    order = [F.col("v"), F.col("id")]
    held = []

    def keep(out, *cached):
        held.extend(cached)
        return out

    try:
        for out in (sort.ranking(df, order, cache_registry=held),
                    sort.ranking_per_group(df, ["g"], order,
                                           cache_registry=held)):
            nodes = _final_plan_nodes(out)
            exchanges = [n for n in nodes if n.startswith("Exchange ")]
            assert not any(n.startswith("Window") for n in nodes), nodes
            assert len(exchanges) == 1, nodes
            assert exchanges[0].startswith("Exchange rangepartitioning("), nodes
        with mock.patch("kmr_spark.session.materialize_release", keep):
            for out in (reduce.scan_distributed(df, "v", order),
                        reduce.scan_max_distributed(df, "v", order)):
                nodes = _final_plan_nodes(out)
                assert any(n.startswith("Window [") for n in nodes), nodes
                assert any(n.startswith("Exchange hashpartitioning(__pid")
                           for n in nodes), nodes
    finally:
        for cached in held:
            cached.unpersist()
    assert len(held) == 4


def test_zipf_topcut_is_take_ordered(spark):
    """The Zipf top-50 cut must be TakeOrderedAndProject (per-partition
    heap), not a global sort."""
    from kmr_spark.plans.corpusstats import text_zipf_curve

    assert "TakeOrderedAndProject" in _plan(text_zipf_curve(spark, SF))


def test_cms_counters_join_is_broadcast(spark):
    """The CMS readback joins the 4KB counter matrix — it must arrive
    broadcast, never shuffle the candidates."""
    from kmr_spark.plans.sketches import events_heavy_users_cms

    assert "BroadcastHashJoin" in _plan(events_heavy_users_cms(spark, SF))


def test_benford_and_priority_totals_are_broadcast(spark):
    """Scalar/total sides of the final-batch censuses must broadcast —
    a shuffle join against a 1-row total would be absurd at scale."""
    from kmr_spark.plans.trends import events_value_benford

    plan = _plan(events_value_benford(spark, SF))
    assert ("BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan)
    assert "SortMergeJoin" not in plan


def test_abc_has_no_global_window(spark):
    """ABC classification must take its cumulative revenue from the
    distributed exscan — no Window operator anywhere in the plan."""
    from kmr_spark.plans.trends import parts_abc_classification

    assert "Window" not in _plan(parts_abc_classification(spark, SF))


def test_salted_user_join_is_sort_merge_on_salted_key(spark):
    """The salted-join demo must actually exercise the salted SMJ path:
    a SortMergeJoin whose key set includes the salt column (the hot-key
    splitting property), and the events side must NOT be broadcast.
    The only broadcast allowed is the n_salts-row range used to
    replicate the dim."""
    from kmr_spark.plans.diagnostics import events_salted_user_join

    plan = _plan(events_salted_user_join(spark, SF))
    assert "SortMergeJoin" in plan
    assert "__salt" in plan  # join key carries the salt


def test_editdistance_block_join_two_regimes(spark, monkeypatch):
    """The length-band self-join is data-sized into two regimes
    (VERDICT r10 ask #3).  Small corpus: NO salt machinery (its extra
    join child made the planner build on the wrong side), right side
    broadcast-hinted, left side widened so the broadcast probe is
    parallel — the plan must show a broadcast join plus the round-robin
    widen exchange and no salt.  Large corpus (forced here by shrinking
    _DOCS_PER_SALT): the salt must reach the join keys, splitting each
    (lang, band) block's single hash key across tasks (unsalted:
    measured 40+ min in one stage at 500k docs).  Both plans must stay
    cartesian-free."""
    import kmr_spark.llm_ops.dedup as dd

    small = _plan(dd.editdistance_pairs(spark, SF))
    assert "salt" not in small
    assert "BroadcastHashJoin" in small
    assert "REPARTITION_BY_NUM" in small or "RoundRobinPartitioning" in small
    assert "CartesianProduct" not in small

    monkeypatch.setattr(dd, "_DOCS_PER_SALT", 100)
    large = _plan(dd.editdistance_pairs(spark, SF))
    assert "salt" in large  # join key carries the salt
    assert "CartesianProduct" not in large


def test_window_parity_single_exchange(spark):
    """All six window primitives ride ONE user-keyed hash exchange —
    no global sort, no extra shuffle per function."""
    from kmr_spark.plans.winfuncs import events_window_parity

    plan = _plan(events_window_parity(spark, SF))
    assert plan.count(") Exchange") == 1
    assert "rangepartitioning" not in plan.replace(" ", "").lower()


def test_silhouette_assignment_is_narrow(spark):
    """Centroid assignment must be the literal-array fold: no join and
    no explode (generator) before the cell aggregate."""
    from kmr_spark.llm_ops.similarity import emb_silhouette

    plan = _plan(emb_silhouette(spark, SF))
    assert "Join" not in plan
    assert "Generate" not in plan


def test_inference_windows_are_post_agg(spark):
    """linreg/changepoint window over the DAILY census, never raw
    events: the window's input must sit above the (type, day)
    HashAggregate, so the plan has exactly 2 aggregate levels and the
    events scan feeds an aggregate, not a Window/Sort."""
    from kmr_spark.plans.inference import events_changepoint_mean

    import re

    plan = _plan(events_changepoint_mean(spark, SF))
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    assert agg_ids and win_ids
    # operator ids grow leaf->root: every Window sits ABOVE (higher id
    # than) the first aggregate, i.e. it reads the daily census
    assert min(win_ids) > min(agg_ids)


def test_gini_no_global_window(spark):
    from kmr_spark.plans.valuation import orders_gini_revenue

    plan = _plan(orders_gini_revenue(spark, SF))
    assert "Window" not in plan  # exscan path, not a window rank


def test_audience_overlap_no_cartesian(spark):
    from kmr_spark.plans.behavior import events_audience_overlap

    plan = _plan(events_audience_overlap(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_take_ordered(spark):
    from kmr_spark.plans.search import search_inverted_index

    plan = _plan(search_inverted_index(spark, SF))
    # top-N posting stats must cut with TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_phrase_query_broadcasts_phrase(spark):
    from kmr_spark.plans.search import search_phrase_query

    plan = _plan(search_phrase_query(spark, SF))
    # the resolved 1-row phrase joins by broadcast; the doc cut is top-N
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bm25_take_ordered_and_broadcast(spark):
    # bm25 now materialize_releases its persisted inverted index, so
    # the returned frame is a checkpoint scan — inspect the pipeline's
    # own plan via the stub helper
    from kmr_spark.plans import search

    plan = _pre_materialization_plan(search, search.search_bm25_topk, spark)
    # the 3-term query and the (N, S) totals ride broadcasts; the
    # final doc cut is top-N, never a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_shapley_no_cartesian_on_corpus(spark):
    from kmr_spark.plans import behavior

    plan = _pre_materialization_plan(
        behavior, behavior.events_shapley_attribution, spark)
    # the subset lattice / marginal joins are 16-row broadcast
    # nested-loops — fine; what must NOT appear is a cartesian product
    assert "CartesianProduct" not in plan


def test_ks_no_global_window(spark):
    from kmr_spark.plans.inference import events_ks_test

    plan = _plan(events_ks_test(spark, SF))
    # the ECDF cumulative comes from the distributed exscan, not an
    # unpartitioned running-sum window
    assert "Window" not in plan


def test_heavy_tail_queries_have_no_cartesian(spark):
    """Batch no-cartesian guard over the most expensive registry
    queries (bench top-20 band): every pair generator must be a banded
    / blocked equi-join, never CartesianProduct. BroadcastNestedLoop
    is tolerated only where the build side is a scalar/total frame —
    asserted separately per plan where it matters; an actual
    CartesianProduct node is always a scale bug."""
    import __spark_entry__ as e

    qs = e.queries()
    heavy = [
        "dedup_clusters", "dedup_summary", "train_split_leakage_safe",
        "customer_record_linkage", "graph_clustering_coefficient",
        "graph_hits", "graph_modularity", "graph_ktruss", "graph_kcore",
        "graph_label_propagation", "graph_link_prediction",
        "basket_apriori_triples", "basket_rules",
        "docs_tfidf_cosine_pairs", "emb_gram_matrix",
        "lineitem_zonemap_prune", "events_bootstrap_ci",
        "graph_assortativity", "graph_reciprocity",
    ]
    for name in heavy:
        plan = _plan(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, (
            f"{name} plans a CartesianProduct")


def test_record_linkage_blocks_before_verify(spark):
    """Fuzzy record linkage must generate candidates from equi-join
    BLOCKING (hash/sort-merge on the block key), never compare all
    pairs: the plan needs at least one equi-join and no cartesian."""
    from kmr_spark.plans.linkage import customer_record_linkage

    plan = _plan(customer_record_linkage(spark, SF))
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_watermark_family_broadcasts_batch_table(spark):
    """The watermark audits join row-scale events against the per-batch
    watermark table (one row per ingest batch): that join must be a
    broadcast, and no cartesian may appear; the only SortMergeJoin-free
    plan keeps the row side exchange-light."""
    from kmr_spark.plans.watermark import (events_watermark_drop_audit,
                                           events_watermark_lag_curve)

    for fn in (events_watermark_lag_curve, events_watermark_drop_audit):
        plan = _plan(fn(spark, SF))
        assert "BroadcastHashJoin" in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__


def test_random_walks_step_has_no_window(spark):
    """The per-step next-hop argmin must be a keyed MIN aggregation
    (packed-BIGINT), not a Window over neighbors — a window would
    funnel each frontier node's neighborhood through one task."""
    from kmr_spark.plans.graphs import graph_random_walks

    plan = _plan(graph_random_walks(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_gram_matrix_is_batch_partial_kernel(spark):
    """The A^T A kernel must flow through the Arrow-batched partial-gram
    path (one d x d numpy matmul per batch): a Generate/Explode node
    means the d(d+1)/2-per-row pair explosion is back, and the final
    aggregate must still combine partials map-side (partial + final
    HashAggregate, 2080-key exchange)."""
    from kmr_spark.plans.linalg import emb_gram_matrix

    plan = _plan(emb_gram_matrix(spark, SF))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
    assert "Generate" not in plan, plan
    # the partial pass specifically: a map-side partial_sum function AND
    # two HashAggregate nodes (partial + final around the 2080-key
    # exchange) — "HashAggregate appears somewhere" would be satisfied
    # by ANY groupBy and verifies nothing
    assert "partial_sum" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_aqe_coalesces_small_shuffles_to_one_partition(spark):
    """An uncached batch shuffle needs no width pin: AQE reads a sub-MB
    shuffle back as ONE partition, whatever the session width. At 32
    shuffle partitions a 10k-row hash aggregate and a 10k-row sort each
    run their post-shuffle stage as a single coalesced task. Disabling
    coalescing, or raising its floor, fails this test (the same frames
    then spread over all 32 partitions). Persisted frames are not
    coalesced; the blocks that build them pin their width with
    ``sized_shuffle_partitions``."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        ids = spark.range(10_000)
        agg = ids.groupBy((F.col("id") % 1000).alias("k")).agg(
            F.count("*").alias("n"))
        srt = ids.select((F.col("id") * 7919 % 10_007).alias("x")).orderBy("x")
        for name, df in (("aggregate", agg), ("sort", srt)):
            tagged = df.select(F.spark_partition_id().alias("p"))
            pids = {r.p for r in tagged.collect()}
            plan = tagged._jdf.queryExecution().executedPlan().toString()
            assert "AQEShuffleRead coalesced" in plan, (name, plan)
            assert pids == {0}, (name, sorted(pids))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

