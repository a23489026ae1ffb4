"""Iterative algorithms: PageRank and k-means (reference capability
evidence, SURVEY.md §2.12 — ex/pagerank.c, ex/kmeans-kmr.c).

The reference runs these as eager map/reduce loops with replicated
state (centroids broadcast each round, ex/kmeans-kmr.c:1-36). Spark-first
form: a Python driver loop over DataFrame lineage, persisting each
iteration's state (the moral equivalent of KMR's materialized KVS per
step), broadcasting the tiny state (centroids) and shuffling only on the
natural keys (dst node / cluster id).

Cross-engine exactness: both algorithms are formulated in fixed-point
integer arithmetic (scaled bigint, floor division) so five chained
iterations produce bit-identical results in Spark and DuckDB — float
summation order can never diverge. Production notes: PageRank mass and
k-means sums at 100 TB would use the same integer formulation (it also
sidesteps float non-associativity across partition trees), or float with
documented tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmr_spark.session import load_tables, materialize_release

# ------------------------------------------------------------------ PageRank

PR_SCALE = 10**12  # fixed-point unit mass per node
PR_ITERS = 5
# damping 0.85 expressed in integer arithmetic: new = 15% + 85% of inflow


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric bipartite customer<->supplier graph from co-occurrence
    in orders. Node ids are disjoint: customer c -> 2c, supplier s -> 2s+1.
    """
    t = load_tables(spark, sf_dir)
    oli = (
        t["orders"].join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select((F.col("o_custkey") * 2).alias("cnode"),
                (F.col("l_suppkey") * 2 + 1).alias("snode"))
        .distinct()
    )
    fwd = oli.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
    rev = oli.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    return fwd.unionByName(rev)


PR_CHECKPOINT_EVERY = 5


def pagerank(spark: SparkSession, sf_dir: str, iters: int = PR_ITERS) -> DataFrame:
    """Fixed-point PageRank iterations; output (node, rank).

    Iteration hygiene: rounds chain LAZILY (each round's output feeds
    exactly one consumer, so caching intermediates would only add
    materialization jobs); an eager localCheckpoint every
    PR_CHECKPOINT_EVERY rounds (and on the last) materializes the chain
    since the previous cut and truncates lineage, so analysis cost
    stays flat, nothing but the bounded checkpoint snapshots is ever
    persisted, and the edge caches are dropped before returning. 50
    rounds at 100x data leaks nothing.
    """
    # one materialization of the (join + distinct) edge build; outdeg,
    # the co-located edge table, and the node list all read the cache
    edges = _edges(spark, sf_dir).persist()
    edges2 = _prepare_edges(edges)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = nodes.select("node", F.lit(PR_SCALE).cast("long").alias("rank"))
    for i in range(iters):
        ranks = _pr_iteration(edges2, ranks)
        if (i + 1) % PR_CHECKPOINT_EVERY == 0 or i == iters - 1:
            ranks = ranks.localCheckpoint()  # eager: materialize + cut lineage
    edges2.unpersist()
    edges.unpersist()
    return ranks.orderBy("node")


def _prepare_edges(edges: DataFrame) -> DataFrame:
    """Join out-degrees into the edge list ONCE; the edge table then
    never moves again — and it is cached PRE-PARTITIONED BY dst: the
    rank broadcast join is narrow (preserves partitioning), so every
    iteration's groupBy(dst) finds its required distribution already
    satisfied and runs with NO Exchange at all (plan-asserted in
    tests/test_plan_hygiene.py against THIS function). One edge-sized
    shuffle up front buys shuffle-free iterations — at web scale that
    is the difference between moving the edge list once and moving it
    every round. outdeg is node-sized (same state-fits-in-memory
    assumption as the rank broadcast), so broadcast it rather than
    shuffling the full edge list through a sort-merge join."""
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    return edges.join(F.broadcast(outdeg), "src").repartition("dst").persist()


def _pr_iteration(edges2: DataFrame, ranks: DataFrame) -> DataFrame:
    """One PageRank round. Rank state is node-sized (dimension-like) ->
    broadcast it to the edge partitions; map-side combine shrinks the
    groupBy input. (Web-scale graphs where ranks can't broadcast
    co-partition edges and ranks by src instead — see
    sources/bucketing.py.) The graph is symmetric (every edge has its
    reverse), so every node receives inflow — the dangling-node
    left-join the oracle writes is a provable no-op here and is
    elided: one broadcast join + one keyed aggregation, nothing
    else."""
    return (
        edges2.join(F.broadcast(ranks), edges2["src"] == ranks["node"])
        .select(F.col("dst"), F.expr("rank DIV outdeg").alias("contrib"))
        .groupBy("dst")
        .agg(F.sum("contrib").alias("inflow"))
        .select(
            F.col("dst").alias("node"),
            (F.expr(f"{15 * PR_SCALE} DIV 100")
             + F.expr("(85 * inflow) DIV 100")).alias("rank"),
        )
    )


def _pagerank_sql() -> str:
    base = 15 * PR_SCALE
    cte = f"""
oli AS (SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (SELECT cnode AS src, snode AS dst FROM oli
          UNION ALL SELECT snode AS src, cnode AS dst FROM oli),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM nodes)"""
    for i in range(PR_ITERS):
        cte += f""",
c{i + 1} AS (
  SELECT e.dst, SUM(r.rank // o.outdeg) AS inflow
  FROM r{i} r JOIN edges e ON r.node = e.src JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst),
r{i + 1} AS (
  SELECT n.node,
         CAST({base} // 100 + (85 * COALESCE(c.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c{i + 1} c ON n.node = c.dst)"""
    return f"WITH {cte}\nSELECT node, rank FROM r{PR_ITERS} ORDER BY node"


PAGERANK_SQL = _pagerank_sql()

# ------------------------------------------------------------------- k-means

KM_K = 4
KM_ITERS = 3
KM_DIM = 64
KM_Q = 10**9  # fixed-point quantization for centroid sums


def _assign_expr(cents: list[list[float]]):
    """cluster = argmin_c squared-distance(vd, cents[c]), ties -> lower c.

    Distance is a deterministic left fold over dimensions; centroid
    components are exact doubles reproduced identically by the oracle.
    """
    dists = []
    for vec in cents:
        lit = F.array(*[F.lit(float(v)) for v in vec])
        d = F.aggregate(
            F.zip_with(F.col("vd"), lit, lambda x, c: (x - c) * (x - c)),
            F.lit(0.0), lambda acc, x: acc + x)
        dists.append(d)
    cluster = None
    for c in range(KM_K - 1, -1, -1):
        cond = None
        for o in range(c + 1, KM_K):
            k = dists[c] <= dists[o]
            cond = k if cond is None else (cond & k)
        for o in range(c):
            k = dists[c] < dists[o]
            cond = k if cond is None else (cond & k)
        cluster = F.lit(c) if cluster is None else F.when(cond, c).otherwise(cluster)
    return cluster


def kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd iterations, k=4, init = vectors 0..3; output
    (vec_id, cluster).

    Centroid update is quantized: sum(floor(x * 1e9)) as bigint (exact,
    order-independent), then /1e9/count in double — identical in DuckDB.
    Centroids (k x dim doubles) are collected to the driver between
    rounds and re-broadcast as literals, exactly KMR's replicated
    centroid state (ex/kmeans-kmr.c) and the right pattern at scale
    (state is tiny; data never moves to the driver).
    """
    from kmr_spark.functions.vectors import to_double_array

    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id", to_double_array("embedding").alias("vd")).persist()
    init = {r["vec_id"]: list(r["vd"]) for r in emb.filter(F.col("vec_id") < KM_K).collect()}
    cents = [init[i] for i in range(KM_K)]
    for _ in range(KM_ITERS):
        assigned = emb.select("vec_id", "vd", _assign_expr(cents).alias("cluster"))
        dims = assigned.select(
            "cluster", F.posexplode(
                F.transform(F.col("vd"),
                            lambda x: F.floor(x * KM_Q).cast("long"))
            ).alias("pos", "q"))
        sums = dims.groupBy("cluster", "pos").agg(
            F.sum("q").alias("s"), F.count("*").alias("n"))
        rows = sums.collect()
        new_cents = [[0.0] * KM_DIM for _ in range(KM_K)]
        for r in rows:
            new_cents[r["cluster"]][r["pos"]] = (float(r["s"]) / KM_Q) / r["n"]
        cents = new_cents
    return materialize_release(
        emb.select("vec_id", _assign_expr(cents).alias("cluster")).orderBy("vec_id"),
        emb)


def _kmeans_sql() -> str:
    def dist(emb_col: str, cent_list: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {KM_DIM} + 1), "
            f"i -> (CAST({emb_col}[i] AS DOUBLE) - {cent_list}[i]) "
            f"* (CAST({emb_col}[i] AS DOUBLE) - {cent_list}[i]))), (x, y) -> x + y)"
        )

    def argmin_case(prefix: str) -> str:
        case = "3"
        for c in range(KM_K - 2, -1, -1):
            conds = [f"{prefix}{c} <= {prefix}{o}" for o in range(c + 1, KM_K)]
            conds += [f"{prefix}{c} < {prefix}{o}" for o in range(c)]
            case = f"CASE WHEN {' AND '.join(conds)} THEN {c} ELSE {case} END"
        return case

    cte = f"""
emb AS (SELECT vec_id, embedding FROM embeddings),
cent0 AS (
  SELECT vec_id AS cluster,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
  FROM embeddings WHERE vec_id < {KM_K})"""
    for i in range(KM_ITERS):
        cte += f""",
d{i} AS (
  SELECT e.vec_id, e.embedding,
         {', '.join(f'MAX(CASE WHEN c.cluster = {c} THEN ' + dist('e.embedding', 'c.cent') + f' END) AS dd{c}' for c in range(KM_K))}
  FROM emb e CROSS JOIN cent{i} c GROUP BY e.vec_id, e.embedding),
a{i} AS (
  SELECT vec_id, embedding, {argmin_case('dd')} AS cluster FROM d{i}),
q{i} AS (
  SELECT cluster, i - 1 AS pos,
         SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {KM_Q}) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM a{i}, unnest(range(1, {KM_DIM} + 1)) AS t(i)
  GROUP BY cluster, pos),
cent{i + 1} AS (
  SELECT cluster, list((CAST(s AS DOUBLE) / {KM_Q}) / n ORDER BY pos) AS cent
  FROM q{i} GROUP BY cluster)"""
    # final assignment with cent{KM_ITERS}
    cte += f""",
df AS (
  SELECT e.vec_id, e.embedding,
         {', '.join(f'MAX(CASE WHEN c.cluster = {c} THEN ' + dist('e.embedding', 'c.cent') + f' END) AS dd{c}' for c in range(KM_K))}
  FROM emb e CROSS JOIN cent{KM_ITERS} c GROUP BY e.vec_id, e.embedding)
"""
    return (
        f"WITH {cte}\nSELECT vec_id, {argmin_case('dd')} AS cluster "
        f"FROM df ORDER BY vec_id"
    )


KMEANS_SQL = _kmeans_sql()


QUERIES = {
    "iter_pagerank": pagerank,
    "iter_kmeans": kmeans,
}

ORACLE_SQL = {
    "iter_pagerank": PAGERANK_SQL,
    "iter_kmeans": KMEANS_SQL,
}


# ---- logistic regression by gradient descent (supervised iterative) --

LG_DIMS = 8        # features: first 8 embedding coordinates (+ bias)
LG_ITERS = 3
LG_LR = 0.5
LG_XQ = 10**6      # feature quantization (floor(x*1e6)/1e6)
LG_SQ = 10**6      # sigmoid quantization (floor(sigma*1e6))


def _lg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, y, xq): label parity target and 1e-6-quantized feature
    doubles (bias handled separately)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return emb.select(
        "vec_id",
        (F.col("label") % 2).cast("long").alias("y"),
        F.expr(
            f"transform(slice(embedding, 1, {LG_DIMS}),"
            f" x -> floor(CAST(x AS DOUBLE) * {LG_XQ}) / {LG_XQ})")
        .alias("xq"))


def _lg_z(weights: list[float]):
    """w·x + b as a fixed left-associated chain (bias last) — the SQL
    oracle writes the identical chain, so z is bit-equal."""
    z = F.lit(weights[0]) * F.col("xq")[0]
    for d in range(1, LG_DIMS):
        z = z + F.lit(weights[d]) * F.col("xq")[d]
    return z + F.lit(weights[LG_DIMS])


def _lg_fit(spark: SparkSession, sf_dir: str) -> list[float]:
    feats = _lg_features(spark, sf_dir).persist()
    try:
        n = float(feats.count())
        w = [0.0] * (LG_DIMS + 1)
        for _ in range(LG_ITERS):
            z = _lg_z(w)
            sig_q = F.floor(F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
                            * F.lit(float(LG_SQ))).cast("long")
            err = sig_q - F.col("y") * F.lit(LG_SQ)
            aggs = [F.sum(err * F.floor(F.col("xq")[d] * F.lit(float(LG_XQ)))
                          .cast("long")).alias(f"g{d}")
                    for d in range(LG_DIMS)]
            aggs.append(F.sum(err).alias(f"g{LG_DIMS}"))
            g = feats.agg(*aggs).collect()[0]
            scale = float(LG_SQ * LG_XQ)
            new_w = [w[d] - LG_LR * ((float(g[f"g{d}"]) / scale) / n)
                     for d in range(LG_DIMS)]
            new_w.append(w[LG_DIMS]
                         - LG_LR * ((float(g[f"g{LG_DIMS}"]) / float(LG_SQ)) / n))
            w = new_w
        return w
    finally:
        feats.unpersist()


def iter_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained by LG_ITERS full-batch gradient
    steps on (label parity ~ first 8 embedding dims + bias) — the
    SUPERVISED member of the iterative family (pagerank/kmeans/power
    iteration), same replicated-state shape as KMR's kmeans
    (ex/kmeans-kmr.c): weights live on the driver (9 doubles),
    re-broadcast as literals each round; the corpus never moves.

    Cross-engine exactness (the kmeans/power-iteration recipe):
    features quantized at the scan; z = w·x is a fixed left-fold;
    sigmoid is QUANTIZED (floor(sigma*1e6) — one exp per row whose
    1-ulp engine spread is absorbed by the floor except on
    measure-zero boundaries); gradients are exact integer sums
    Σ (sigma_q − y·1e6)·x_q6; the weight update runs the same IEEE
    expression driver-side as the oracle's unrolled CTE chain.
    Output: (dim, weight), bias at dim=LG_DIMS. The synthetic labels
    are random, so the CONTRACT is the exact iteration, not accuracy
    (the power-iteration precedent); the property test asserts the
    training loss still decreases, which holds for small LR.

    Per iteration: one narrow map + one 1-row aggregate of d+1
    integer sums with map-side combine — nothing leaves the executors
    but 9 longs.
    """
    w = _lg_fit(spark, sf_dir)
    rows = [(d, w[d]) for d in range(LG_DIMS + 1)]
    return spark.createDataFrame(rows, "dim long, weight double").orderBy("dim")


def _logreg_sql() -> str:
    """Unrolled CTE chain: feats -> (g round 1) -> (w round 1) -> ...
    Weight expressions reproduce the driver's float arithmetic
    operation-for-operation."""
    zterms = " + ".join(
        f"w.w{d} * f.xq{d + 1}" for d in range(LG_DIMS))
    xq_cols = ", ".join(
        f"floor(CAST(embedding[{d + 1}] AS DOUBLE) * {LG_XQ}) / {LG_XQ}"
        f" AS xq{d + 1}" for d in range(LG_DIMS))
    parts = [f"""
feats AS (
  SELECT vec_id, CAST(label % 2 AS BIGINT) AS y, {xq_cols}
  FROM embeddings),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats),
w0 AS (SELECT {', '.join(f'CAST(0.0 AS DOUBLE) AS w{d}' for d in range(LG_DIMS + 1))})"""]
    for it in range(1, LG_ITERS + 1):
        gcols = ", ".join(
            f"CAST(SUM((CAST(floor((1.0 / (1.0 + exp(-({zterms} + w.w{LG_DIMS}))))"
            f" * {float(LG_SQ)!r}) AS BIGINT) - f.y * {LG_SQ})"
            f" * CAST(floor(f.xq{d + 1} * {float(LG_XQ)!r}) AS BIGINT))"
            f" AS BIGINT) AS g{d}"
            for d in range(LG_DIMS))
        gcols += (
            f", CAST(SUM(CAST(floor((1.0 / (1.0 + exp(-({zterms} + w.w{LG_DIMS}))))"
            f" * {float(LG_SQ)!r}) AS BIGINT) - f.y * {LG_SQ}) AS BIGINT)"
            f" AS g{LG_DIMS}")
        parts.append(f"""
g{it} AS (
  SELECT {gcols}
  FROM feats f CROSS JOIN w{it - 1} w)""")
        scale = float(LG_SQ * LG_XQ)
        wcols = ", ".join(
            f"w.w{d} - {LG_LR!r} * ((CAST(g.g{d} AS DOUBLE) / {scale!r})"
            f" / (SELECT n FROM n)) AS w{d}"
            for d in range(LG_DIMS))
        wcols += (
            f", w.w{LG_DIMS} - {LG_LR!r} * ((CAST(g.g{LG_DIMS} AS DOUBLE)"
            f" / {float(LG_SQ)!r}) / (SELECT n FROM n)) AS w{LG_DIMS}")
        parts.append(f"""
w{it} AS (SELECT {wcols} FROM w{it - 1} w CROSS JOIN g{it} g)""")
    sel = " UNION ALL ".join(
        f"SELECT {d} AS dim, w{d} AS weight FROM w{LG_ITERS}"
        for d in range(LG_DIMS + 1))
    return ("WITH " + ",".join(parts) + f"\nSELECT dim, weight FROM ({sel})"
            " ORDER BY dim")


LOGREG_SQL = _logreg_sql()

QUERIES["iter_logreg"] = iter_logreg
ORACLE_SQL["iter_logreg"] = LOGREG_SQL
