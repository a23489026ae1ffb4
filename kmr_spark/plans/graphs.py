"""Graph analytics over the deterministic R-MAT graph.

Triangle counting is the canonical "join-heavy graph kernel" the
reference's MapReduce examples gesture at (edge-list joins, reference
ex/pagerank.c:1-25, ex/mrmpi-crmat.c) but never ship; it is also the
standard capability probe for a relational engine's self-join planning.

Spark plan (the scale-correct "forward" algorithm, Schank & Wagner
2005): orient every undirected edge from its lower-(degree, id)
endpoint to its higher one, build wedges by self-joining oriented
edges on their source, then close each wedge with one more join. The
orientation bounds every node's out-degree by O(sqrt(|E|)), so the
wedge table — the only super-linear intermediate — is O(|E|^1.5)
worst-case instead of the O(sum deg^2) a naive wedge join produces on
a skewed (R-MAT!) degree distribution. All three joins are plain
hash-shuffle equi-joins; no broadcast assumption, no driver state.
The orientation key is a (degree, id) STRUCT compared lexicographically
— a total order for any id domain (no packed-long overflow bound).

The DuckDB oracle counts the same triangles with the textbook
u < v < w triple join over canonical edges — different join order,
identical set of triangles, so the counts agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmr_spark.plans.generate import RMAT_RAW_SQL, rmat_raw_edges
from kmr_spark.session import materialize_release, sized_shuffle_partitions


def _gen_edge_count() -> int:
    """Row count of the R-MAT generator stream — known A PRIORI (the
    generator is ``spark.range``-driven), honoring the scale harness's
    ``KMR_RMAT_EDGES`` override.  The graph queries previously ran a
    blocking ``count()`` job on the canonicalized edges purely to size
    ``sized_shuffle_partitions``; the sizing formula only needs the
    order of magnitude, and the raw stream size is a tight upper bound
    on the deduped edge count, so the count job (plus its eager
    materialization barrier) is pure fixed cost (guide §1.2: remove
    passes you don't need).  Operators over ARBITRARY edge tables
    (triangle_census, connected_components) keep the exact count path
    when no hint is supplied."""
    import os

    from kmr_spark.plans.generate import N_EDGES

    return int(os.environ.get("KMR_RMAT_EDGES", N_EDGES))


def canonicalize_edges(edges: DataFrame, src: str = "src",
                       dst: str = "dst") -> DataFrame:
    """Distinct undirected edges as (u, v) with u < v, self-loops dropped."""
    return (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("u"),
            F.greatest(src, dst).alias("v"),
        )
        .distinct()
    )


def triangle_census(canon: DataFrame,
                    n_edges_hint: int | None = None) -> DataFrame:
    """One row (n_nodes, n_edges, n_triangles) for a canonical edge set.

    ``canon`` must be (u, v) with u < v and no duplicates — the output
    of :func:`canonicalize_edges`. The caller may pass any edge table;
    the census persists its own intermediates and releases them (on
    error paths too). Shuffle partitions for the census stages are
    sized to the edge count via sized_shuffle_partitions, same as the
    connected-components loop; a caller that knows the edge count a
    priori (the R-MAT generator) passes ``n_edges_hint`` and skips the
    blocking count job. A cached frame keeps the shuffle width in force
    at its ``persist()`` call, so the hint also pins the width of
    ``canon``'s cache.
    """
    with sized_shuffle_partitions(canon.sparkSession, n_edges_hint):
        canon = canon.persist()
    try:
        if n_edges_hint is None:
            n_edges_hint = canon.count()  # materializes the persist
        with sized_shuffle_partitions(canon.sparkSession, n_edges_hint):
            return _census_body(canon)
    except Exception:
        canon.unpersist()
        raise


def _census_body(canon: DataFrame) -> DataFrame:
    deg = (
        canon.select(F.col("u").alias("n"))
        .unionAll(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )

    # attach the lexicographic (degree, id) orientation key to both
    # endpoints, then orient low -> high
    ku = deg.select(F.col("n").alias("u"),
                    F.struct(F.col("deg"), F.col("n")).alias("ord_u"))
    kv = deg.select(F.col("n").alias("v"),
                    F.struct(F.col("deg"), F.col("n")).alias("ord_v"))
    oriented = (
        canon.join(ku, "u").join(kv, "v")
        .select(
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("v")).otherwise(F.col("u")).alias("b"),
            F.greatest("ord_u", "ord_v").alias("ord_b"),
        )
        .persist()
    )
    try:
        e1 = oriented.select("a", F.col("b").alias("b1"), F.col("ord_b").alias("ord_b1"))
        e2 = oriented.select("a", F.col("b").alias("b2"), F.col("ord_b").alias("ord_b2"))
        wedges = e1.join(e2, "a").filter(F.col("ord_b1") < F.col("ord_b2"))
        closer = oriented.select(F.col("a").alias("b1"), F.col("b").alias("b2"))
        tri = wedges.join(closer, ["b1", "b2"]).agg(F.count("*").alias("n_triangles"))

        counts = canon.agg(F.count("*").alias("n_edges"))
        n_nodes = deg.agg(F.count("*").alias("n_nodes"))

        out = (
            n_nodes.crossJoin(counts)
            .crossJoin(tri)
            .select("n_nodes", "n_edges", "n_triangles")
        )
        return materialize_release(out, canon, oriented)
    except Exception:
        oriented.unpersist()
        canon.unpersist()
        raise


def triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the deterministic R-MAT graph.

    ``sf_dir`` is unused (the graph is generated); kept for the
    queries() signature.
    """
    return triangle_census(canonicalize_edges(rmat_raw_edges(spark)),
                           n_edges_hint=_gen_edge_count())


TRIANGLES_SQL = f"""
WITH raw AS ({RMAT_RAW_SQL}),
canon AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst)
SELECT
  (SELECT COUNT(*) FROM (SELECT u AS n FROM canon UNION SELECT v FROM canon) nodes)
    AS n_nodes,
  (SELECT COUNT(*) FROM canon) AS n_edges,
  (SELECT COUNT(*) FROM canon e1
     JOIN canon e2 ON e2.u = e1.u AND e2.v > e1.v
     JOIN canon e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles
"""


BFS_SOURCE = 0
BFS_MAX_DEPTH = 64


def bfs_depths(canon: DataFrame, source: int = BFS_SOURCE,
               max_depth: int = BFS_MAX_DEPTH,
               n_adj_hint: int | None = None) -> DataFrame:
    """(node, depth) minimum-hop distances from ``source`` over an
    undirected canonical edge set — level-synchronous frontier BFS.

    Each level is one keyed join (frontier x adjacency) + one anti-join
    against the visited set; the frontier is the only growing state and
    is bounded by |V|. The level count is the graph diameter (small for
    R-MAT/small-world graphs), so unlike the CC pointer-jumping loop no
    squaring is needed. Raises only if unvisited reachable nodes REMAIN
    after max_depth levels (an eccentricity of exactly max_depth is
    fine); persisted state is released on every path.
    """
    spark = canon.sparkSession
    # a known size pins the cache's width too (fixed at persist())
    with sized_shuffle_partitions(spark, n_adj_hint):
        adj = canon.unionByName(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).persist()
    visited = None
    try:
        # sizes the loop; the count also materializes the persist —
        # skipped when the caller knows the edge count a priori (the
        # persist then fills inside the first level's expand job)
        n_adj = adj.count() if n_adj_hint is None else n_adj_hint
        visited = spark.range(1).select(
            F.lit(source).cast("long").alias("node"),
            F.lit(0).cast("long").alias("depth")).persist()
        frontier = visited

        def expand(front: DataFrame, d: int) -> DataFrame:
            return (
                front.join(adj, front["node"] == adj["u"])
                .select(F.col("v").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .select("node", F.lit(d).cast("long").alias("depth"))
                .localCheckpoint()
            )

        with sized_shuffle_partitions(spark, n_adj):
            for d in range(1, max_depth + 1):
                nxt = expand(frontier, d)
                if nxt.isEmpty():
                    break
                new_visited = visited.unionByName(nxt).localCheckpoint()
                visited.unpersist()
                visited = new_visited.persist()
                frontier = nxt
            else:
                # the last level still discovered nodes; the traversal
                # is complete iff one more expansion finds nothing new
                if not expand(frontier, max_depth + 1).isEmpty():
                    raise RuntimeError(
                        f"bfs_depths: frontier alive after {max_depth} levels")
            out = visited.orderBy("node").localCheckpoint()
    finally:
        if visited is not None:
            visited.unpersist()
        adj.unpersist()
    return out


def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop depths from node 0 over the R-MAT graph (``sf_dir``
    unused — generated input)."""
    return bfs_depths(canonicalize_edges(rmat_raw_edges(spark)),
                      n_adj_hint=2 * _gen_edge_count())


BFS_SQL = f"""
WITH RECURSIVE raw AS ({RMAT_RAW_SQL}),
canon AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst),
adj AS (SELECT u, v FROM canon UNION ALL SELECT v AS u, u AS v FROM canon),
walk(node, depth) AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
  UNION
  SELECT a.v AS node, w.depth + 1 AS depth
  FROM walk w JOIN adj a ON a.u = w.node
  WHERE w.depth < {BFS_MAX_DEPTH})
SELECT node, MIN(depth) AS depth FROM walk GROUP BY node ORDER BY node
"""


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the R-MAT graph through the
    production CC operator (operators/graph.connected_components —
    contraction + pointer-jumping, O(log n) rounds): per node its
    component label (min node id), the component size, and whether the
    node IS the label. Same operator the dedup keeper-selection uses;
    running it on the power-law multigraph exercises the skewed-degree
    path the LSH pair graphs don't.

    Nodes with no edges don't appear (a component needs an incident
    edge); self-loops contribute their endpoint as a trivial member.
    Oracle: the min-reachability recursive CTE fixpoint — engine-
    independent because the minimum label per component is unique.
    """
    from pyspark.sql import Window

    from kmr_spark.operators.graph import connected_components

    edges = rmat_raw_edges(spark).select("src", "dst").distinct()
    labels = connected_components(edges, "src", "dst",
                                  n_pairs_hint=_gen_edge_count())
    w = Window.partitionBy("label")
    return (
        labels.withColumn("component_size", F.count("*").over(w))
        .select(F.col("node"), F.col("label").alias("component_id"),
                "component_size",
                (F.col("node") == F.col("label")).alias("is_root"))
        .orderBy("component_id", "node")
    )


COMPONENTS_SQL = f"""
WITH RECURSIVE raw AS ({RMAT_RAW_SQL}),
edges AS (SELECT DISTINCT src, dst FROM raw),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
adj AS (SELECT src AS s, dst AS d FROM edges
        UNION ALL SELECT dst AS s, src AS d FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT a.d, r.label FROM reach r JOIN adj a ON a.s = r.node
  WHERE r.label < a.d),
labels AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
SELECT node, label AS component_id,
       COUNT(*) OVER (PARTITION BY label) AS component_size,
       node = label AS is_root
FROM labels ORDER BY component_id, node
"""


QUERIES = {"graph_triangles": triangle_stats, "graph_bfs": graph_bfs,
           "graph_components": graph_components}
ORACLE_SQL = {"graph_triangles": TRIANGLES_SQL, "graph_bfs": BFS_SQL,
              "graph_components": COMPONENTS_SQL}


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the R-MAT graph: the Pearson correlation
    of endpoint degrees over every directed edge (each undirected edge
    counted both ways — the Newman 2002 definition). R-MAT graphs are
    disassortative (hubs attach to leaves), so the value doubles as a
    generator sanity probe.

    Exactness: integer degrees, DECIMAL(38,0) moment sums (order-free,
    overflow-free at any graph size), r derived from the moments in one
    fixed double tree; by symmetry sum(x)=sum(y) and sum(x²)=sum(y²),
    so three moments suffice. Plan: degree aggregate (|nodes|), two
    co-keyed joins edge->degree, one global 1-row moment fold with
    map-side combine.
    """
    with sized_shuffle_partitions(spark, _gen_edge_count()):
        canon = canonicalize_edges(rmat_raw_edges(spark)).persist()
        try:
            deg = (canon.select(F.col("u").alias("node"))
                   .unionAll(canon.select(F.col("v").alias("node")))
                   .groupBy("node").agg(F.count("*").alias("d")))
            eb = (canon.select(F.col("u").alias("a"), F.col("v").alias("b"))
                  .unionAll(canon.select(F.col("v").alias("a"),
                                         F.col("u").alias("b"))))
            da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
            db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
            dec = lambda c: F.col(c).cast("decimal(38,0)")
            m = (eb.join(da, "a").join(db, "b")
                 .agg(F.count("*").alias("n"),
                      F.sum(dec("dx")).alias("sx"),
                      F.sum(dec("dx") * dec("dy")).alias("sxy"),
                      F.sum(dec("dx") * dec("dx")).alias("sxx")))
            n_d = F.col("n").cast("double")
            sx_d = F.col("sx").cast("double")
            sxy_d = F.col("sxy").cast("double")
            sxx_d = F.col("sxx").cast("double")
            out = m.select(
                "n", F.col("sx").cast("long").alias("sum_deg"),
                F.col("sxy").cast("long").alias("sum_xy"),
                F.col("sxx").cast("long").alias("sum_xx"),
                ((n_d * sxy_d - sx_d * sx_d) / (n_d * sxx_d - sx_d * sx_d))
                .alias("assortativity"))
            return materialize_release(out, canon)
        except Exception:
            canon.unpersist()
            raise


ASSORTATIVITY_SQL = f"""
WITH raw AS ({RMAT_RAW_SQL}),
canon AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM canon UNION ALL SELECT v FROM canon) x
  GROUP BY node),
eb AS (
  SELECT u AS a, v AS b FROM canon
  UNION ALL SELECT v AS a, u AS b FROM canon),
m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(da.d AS HUGEINT)) AS sx,
         SUM(CAST(da.d AS HUGEINT) * db.d) AS sxy,
         SUM(CAST(da.d AS HUGEINT) * da.d) AS sxx
  FROM eb e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b)
SELECT n, CAST(sx AS BIGINT) AS sum_deg,
       CAST(sxy AS BIGINT) AS sum_xy, CAST(sxx AS BIGINT) AS sum_xx,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS assortativity
FROM m
"""


QUERIES["graph_assortativity"] = graph_assortativity
ORACLE_SQL["graph_assortativity"] = ASSORTATIVITY_SQL


#: link-prediction output size + minimum evidence
LP_TOP_K = 100
LP_MIN_COMMON = 2


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the R-MAT graph: for node
    pairs NOT already connected, count shared neighbors and score with
    integer-permille Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    link-prediction baseline (Liben-Nowell & Kleinberg 2003). Top
    LP_TOP_K pairs by (common DESC, jaccard DESC, a, b).

    Plan: candidate pairs come from the WEDGE join (two directed edges
    sharing their center) — the same bounded self-join shape as the
    triangle census, pair volume Σ C(deg,2); an anti-join against the
    edge set removes existing links; degrees broadcast back; top-k is
    TakeOrderedAndProject, no global sort.
    """
    with sized_shuffle_partitions(spark, _gen_edge_count()):
        canon = canonicalize_edges(rmat_raw_edges(spark)).persist()
        try:
            both = (canon.select(F.col("u").alias("c"), F.col("v").alias("x"))
                    .unionAll(canon.select(F.col("v").alias("c"),
                                           F.col("u").alias("x"))))
            deg = both.groupBy(F.col("c").alias("node")).agg(
                F.count("*").alias("d"))
            w1 = both.select("c", F.col("x").alias("a"))
            w2 = both.select("c", F.col("x").alias("b"))
            wedges = (w1.join(w2, "c")
                      .filter(F.col("a") < F.col("b"))
                      .groupBy("a", "b")
                      .agg(F.count("*").alias("common"))
                      .filter(F.col("common") >= LP_MIN_COMMON))
            non_edges = wedges.join(
                canon, (wedges["a"] == canon["u"]) & (wedges["b"] == canon["v"]),
                "left_anti")
            da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
            db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
            scored = (
                non_edges.join(F.broadcast(da), "a")
                .join(F.broadcast(db), "b")
                .select(
                    "a", "b", "common", "da", "db",
                    F.expr("(1000 * common) DIV (da + db - common)")
                    .alias("jaccard_permille")))
            out = scored.orderBy(
                F.col("common").desc(), F.col("jaccard_permille").desc(),
                "a", "b").limit(LP_TOP_K)
            return materialize_release(out, canon)
        except Exception:
            canon.unpersist()
            raise


LINK_PREDICTION_SQL = f"""
WITH raw AS ({RMAT_RAW_SQL}),
canon AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst),
eb AS (
  SELECT u AS c, v AS x FROM canon
  UNION ALL SELECT v AS c, u AS x FROM canon),
deg AS (SELECT c AS node, COUNT(*) AS d FROM eb GROUP BY c),
wedges AS (
  SELECT w1.x AS a, w2.x AS b, COUNT(*) AS common
  FROM eb w1 JOIN eb w2 ON w1.c = w2.c AND w1.x < w2.x
  GROUP BY 1, 2
  HAVING COUNT(*) >= {LP_MIN_COMMON}),
non_edges AS (
  SELECT w.* FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM canon e
                    WHERE e.u = w.a AND e.v = w.b)),
scored AS (
  SELECT n.a, n.b, n.common, da.d AS da, db.d AS db,
         (1000 * n.common) // (da.d + db.d - n.common) AS jaccard_permille
  FROM non_edges n
  JOIN deg da ON da.node = n.a
  JOIN deg db ON db.node = n.b)
SELECT * FROM scored
ORDER BY common DESC, jaccard_permille DESC, a, b
LIMIT {LP_TOP_K}
"""


QUERIES["graph_link_prediction"] = graph_link_prediction
ORACLE_SQL["graph_link_prediction"] = LINK_PREDICTION_SQL


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the R-MAT graph (undirected canonical
    edges): one row per distinct degree with its node count — the
    first diagnostic run on any new graph (a power-law tail here, by
    construction) and the input to skew planning for every per-node
    join downstream.

    Two keyed counts: degree per node (shuffle on node id), then count
    per degree (tiny key space). Map-side combine does most of the
    work at scale.
    """
    canon = canonicalize_edges(rmat_raw_edges(spark))
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )


DEGREE_DIST_SQL = f"""
WITH raw AS ({RMAT_RAW_SQL}),
canon AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT u AS node FROM canon UNION ALL SELECT v FROM canon)
  GROUP BY node)
SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree
"""


KCORE_K = 3
#: peeling rounds the oracle unrolls; Spark iterates to the true
#: fixpoint and tests/test_graphs assert convergence within this bound
#: at test scale (extra rounds are no-ops on both sides once converged)
KCORE_MAX_ROUNDS = 12


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-core (k=3) of the R-MAT graph by iterative peeling:
    repeatedly drop nodes with degree < k until none remain; emit each
    surviving node with its degree inside the core. K-cores are the
    standard "dense cohesive region" extraction (community seeding,
    spam/fraud ring detection) that plain joins can't express.

    Spark plan: the peel loop is degree-count -> semi-join filter per
    round, localCheckpoint every round to keep lineage flat (the CC
    discipline, operators/graph.py) — each round is two keyed shuffles
    of the SHRINKING edge set, O(log n)-ish rounds in practice. The
    DuckDB oracle unrolls KCORE_MAX_ROUNDS peels of the same recurrence
    (idempotent once converged, so fixpoint == unrolled as long as
    convergence happens within the bound — asserted in tests).
    """
    canon = canonicalize_edges(rmat_raw_edges(spark))
    edges = canon.localCheckpoint(eager=True)
    prev_n = -1
    for _ in range(KCORE_MAX_ROUNDS):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node").agg(F.count("*").alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= KCORE_K).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n = edges.count()
        if n == prev_n:
            break
        prev_n = n
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count("*").alias("core_degree"))
        .orderBy("node")
    )


def _kcore_sql() -> str:
    # every CTE is MATERIALIZED: each peel references its predecessor
    # several times, and CTE inlining would re-evaluate the whole
    # chain per reference — exponential across the unrolled rounds
    parts = [f"WITH raw AS MATERIALIZED ({RMAT_RAW_SQL}),",
             """peel0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst),"""]
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        p, c = f"peel{i - 1}", f"peel{i}"
        parts.append(f"""keep{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, COUNT(*) AS degree
    FROM (SELECT u AS node FROM {p} UNION ALL SELECT v FROM {p})
    GROUP BY node) WHERE degree >= {KCORE_K}),
{c} AS MATERIALIZED (
  SELECT e.u, e.v FROM {p} e
  JOIN keep{i} ku ON ku.node = e.u
  JOIN keep{i} kv ON kv.node = e.v),""")
    last = f"peel{KCORE_MAX_ROUNDS}"
    parts.append(f"""final_deg AS (
  SELECT node, COUNT(*) AS core_degree
  FROM (SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last})
  GROUP BY node)
SELECT node, core_degree FROM final_deg ORDER BY node""")
    return "\n".join(parts)


KCORE_SQL = _kcore_sql()

QUERIES["graph_degree_distribution"] = graph_degree_distribution
ORACLE_SQL["graph_degree_distribution"] = DEGREE_DIST_SQL
QUERIES["graph_kcore"] = graph_kcore
ORACLE_SQL["graph_kcore"] = KCORE_SQL


#: synchronous LPA rounds — FIXED, not run-to-fixpoint: sync LPA can
#: oscillate on bipartite-ish structures, so the operator's contract
#: is "R rounds of deterministic sync updates" on both engines
LPA_ROUNDS = 4


def _lpa_labels(canon: DataFrame) -> DataFrame:
    """Synchronous label propagation over a canonical edge frame:
    LPA_ROUNDS rounds of adopt-the-most-frequent-neighbor-label (ties
    -> smallest label), returning (node, lbl).  Shared by
    graph_label_propagation and graph_modularity so modularity reuses
    the CALLER's canon frame instead of rebuilding the generator +
    canonicalize pipeline a second time (guide §1.2).

    LAZY checkpoints: the rounds are FIXED (no mid-loop convergence
    action), so eager per-round materialization was one blocking job
    per round for nothing — lazy checkpoints still truncate lineage
    and cache on first use, but the whole 4-round chain executes
    inside the caller's final job."""
    adj = (
        canon.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(canon.select(F.col("v").alias("node"),
                               F.col("u").alias("nbr")))
        .localCheckpoint(eager=False)
    )
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("lbl"))
    for _ in range(LPA_ROUNDS):
        cnt = (
            adj.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node", "lbl").agg(F.count("*").alias("c"))
        )
        labels = (
            cnt.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg")))
                 .alias("best"))
            .select("node", (-F.col("best.neg")).alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation: labels
    start as node ids; each round every node adopts the most frequent
    label among its neighbors (ties -> smallest label). Deterministic
    by construction — sync updates + total tie order — so the DuckDB
    oracle (the same recurrence unrolled LPA_ROUNDS times, CTEs
    materialized) matches exactly. Communities are finer than
    connected components (graph_components) and need no convergence.

    Per round: one join of the adjacency with the label table (keyed
    by node), one (node, label) count, one argmax — all hash shuffles
    on node id; localCheckpoint keeps lineage flat (the CC
    discipline). Output: node, community, community size.
    """
    from pyspark.sql import Window

    canon = canonicalize_edges(rmat_raw_edges(spark))
    labels = _lpa_labels(canon)
    w = Window.partitionBy("lbl")
    return (
        labels.withColumn("community_size", F.count("*").over(w))
        .select("node", F.col("lbl").alias("community"), "community_size")
        .orderBy("community", "node")
    )


def _lpa_sql() -> str:
    parts = [f"WITH raw AS MATERIALIZED ({RMAT_RAW_SQL}),",
             """canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM canon
  UNION ALL SELECT v AS node, u AS nbr FROM canon),
lbl0 AS MATERIALIZED (
  SELECT DISTINCT node, node AS lbl FROM adj),"""]
    for i in range(1, LPA_ROUNDS + 1):
        p, c = f"lbl{i - 1}", f"lbl{i}"
        parts.append(f"""cnt{i} AS MATERIALIZED (
  SELECT a.node, l.lbl, COUNT(*) AS c
  FROM adj a JOIN {p} l ON l.node = a.nbr
  GROUP BY a.node, l.lbl),
{c} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM cnt{i}) WHERE rn = 1),""")
    last = f"lbl{LPA_ROUNDS}"
    parts.append(f"""sized AS (
  SELECT node, lbl AS community,
         COUNT(*) OVER (PARTITION BY lbl) AS community_size
  FROM {last})
SELECT node, community, community_size FROM sized
ORDER BY community, node""")
    return "\n".join(parts)


LPA_SQL = _lpa_sql()

QUERIES["graph_label_propagation"] = graph_label_propagation
ORACLE_SQL["graph_label_propagation"] = LPA_SQL


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the label-propagation communities — the
    one-number "did the communities mean anything" check to run after
    any partitioner: Q = sum_c [e_c/m - (d_c/2m)^2].

    Exactness: the community sum is folded into ONE rational before
    any float appears — Q = (4m*sum(e_c) - sum(d_c^2)) / (4m^2) — so
    there is no order-dependent float accumulation; the numerator
    rides HUGEINT/DECIMAL(38,0) (d_c^2 ~ (2m)^2 overflows BIGINT on
    a big graph). Plan: ONE canon checkpoint feeds both the LPA label
    rounds (via _lpa_labels — the old form called the full
    graph_label_propagation query, which rebuilt its OWN generator +
    canonicalize-distinct pipeline, plus a community-size window and
    a presentation sort that modularity immediately discarded) and
    the intra-edge/degree aggregates; labels are checkpointed lazily
    once and read by all three consumers (lu, lv, deg).
    """
    canon = canonicalize_edges(rmat_raw_edges(spark)).localCheckpoint(
        eager=False)
    # _lpa_labels already checkpoints the final round's labels; the
    # rename is a projection over that cache, shared by lu/lv/deg
    labels = _lpa_labels(canon).withColumnRenamed("lbl", "community")
    lu = labels.withColumnRenamed("node", "u").withColumnRenamed(
        "community", "cu")
    lv = labels.withColumnRenamed("node", "v").withColumnRenamed(
        "community", "cv")
    intra = (
        canon.join(lu, "u").join(lv, "v")
        .agg(F.count(F.when(F.col("cu") == F.col("cv"), 1))
             .alias("intra_edges"),
             F.count("*").alias("m"))
    )
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count("*").alias("d"))
        .join(labels, "node")
        .groupBy("community").agg(F.sum("d").alias("d_c"))
    )
    dsq = deg.agg(
        F.count("*").alias("n_communities"),
        F.sum((F.col("d_c").cast("decimal(19,0)")
               * F.col("d_c")).cast("decimal(38,0)")).alias("sum_dsq"))
    dd = lambda c: F.col(c).cast("double")
    return (
        intra.crossJoin(F.broadcast(dsq))
        .select(
            "n_communities", "m", "intra_edges",
            F.col("sum_dsq").cast("double").alias("sum_dsq"),
            ((F.lit(4.0) * dd("m") * dd("intra_edges")
              - F.col("sum_dsq").cast("double"))
             / (F.lit(4.0) * dd("m") * dd("m"))).alias("modularity"))
    )


MODULARITY_SQL = f"""
{LPA_SQL.rsplit("sized AS", 1)[0]}labels AS MATERIALIZED (
  SELECT node, lbl AS community FROM lbl{LPA_ROUNDS}),
intra AS (
  SELECT COUNT(CASE WHEN lu.community = lv.community THEN 1 END)
           AS intra_edges,
         COUNT(*) AS m
  FROM canon e JOIN labels lu ON lu.node = e.u
               JOIN labels lv ON lv.node = e.v),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM canon UNION ALL SELECT v FROM canon)
  GROUP BY node),
dc AS (
  SELECT l.community, CAST(SUM(d.d) AS BIGINT) AS d_c
  FROM deg d JOIN labels l ON l.node = d.node GROUP BY l.community),
dsq AS (
  SELECT COUNT(*) AS n_communities,
         SUM(CAST(d_c AS HUGEINT) * d_c) AS sum_dsq FROM dc)
SELECT n_communities, m, intra_edges,
       CAST(sum_dsq AS DOUBLE) AS sum_dsq,
       (4.0 * CAST(m AS DOUBLE) * CAST(intra_edges AS DOUBLE)
        - CAST(sum_dsq AS DOUBLE))
       / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) AS modularity
FROM intra CROSS JOIN dsq
"""


QUERIES["graph_modularity"] = graph_modularity
ORACLE_SQL["graph_modularity"] = MODULARITY_SQL


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity + average local clustering coefficient of
    the R-MAT graph — the standard "how clumpy is this graph" pair
    (social graphs ~0.1-0.5, random graphs ~d/n) that every graph
    report leads with; the reference's edge-list join examples
    (/root/reference/ex/mrmpi-crmat.c) stop at triangle counts.

    Spark plan: triangles are ENUMERATED degree-oriented (the
    :func:`triangle_census` trick — every edge directed from its
    (degree, id)-smaller endpoint, wedges opened only at the smallest
    corner), which bounds the wedge table at O(E^1.5) instead of the
    O(sum d^2) of center-at-every-node enumeration; each closed
    triangle is found exactly once and then CREDITS all three corners
    via a 3-row explode, so the per-node counts are identical to the
    naive plan while the hub blowup is gone.  (The honest-entropy
    graph sweep measured the naive plan at alpha 1.12 across
    20k->2M edges — 154 s at 2M, vs ~15 s for the oriented census on
    the same graph; orientation is what makes per-node transitivity
    survive a power-law 100 TB graph.)  Wedge counts
    (sum d*(d-1)/2) come from the degree table alone.

    Exactness: transitivity = 3T/W and avg local cc are both emitted
    via the one-rational-fold recipe — per-node cc is quantized to
    ppm with integer DIV (both engines truncate toward zero on
    positives), integer-summed, and the final doubles are single
    fixed expression trees over BIGINTs.
    """
    oriented = None
    deg = None
    with sized_shuffle_partitions(spark, _gen_edge_count()):
        canon = canonicalize_edges(rmat_raw_edges(spark)).persist()
        try:
            # persisted: referenced FOUR times below (ku, kv, the
            # degree>=2 filter and the wedge-count fold) — unpersisted
            # it was recomputed per reference (measured: most of the
            # 6.5s -> 2.9s win on this query, with the count removal)
            deg = (
                canon.select(F.col("u").alias("node"))
                .unionAll(canon.select(F.col("v").alias("node")))
                .groupBy("node").agg(F.count("*").alias("degree"))
                .persist())
            # degree-oriented edges, low (degree, id) -> high, exactly
            # as triangle_census orients them
            ku = deg.select(
                F.col("node").alias("u"),
                F.struct(F.col("degree"), F.col("node")).alias("ord_u"))
            kv = deg.select(
                F.col("node").alias("v"),
                F.struct(F.col("degree"), F.col("node")).alias("ord_v"))
            oriented = (
                canon.join(ku, "u").join(kv, "v")
                .select(
                    F.when(F.col("ord_u") < F.col("ord_v"), F.col("u"))
                    .otherwise(F.col("v")).alias("a"),
                    F.when(F.col("ord_u") < F.col("ord_v"), F.col("v"))
                    .otherwise(F.col("u")).alias("b"),
                    F.greatest("ord_u", "ord_v").alias("ord_b"))
                .persist())
            e1 = oriented.select(
                "a", F.col("b").alias("b1"), F.col("ord_b").alias("ord_b1"))
            e2 = oriented.select(
                "a", F.col("b").alias("b2"), F.col("ord_b").alias("ord_b2"))
            wedges = (e1.join(e2, "a")
                      .filter(F.col("ord_b1") < F.col("ord_b2")))
            closer = oriented.select(
                F.col("a").alias("b1"), F.col("b").alias("b2"))
            # each triangle closes exactly once; credit all 3 corners
            closed = wedges.join(closer, ["b1", "b2"])
            tri_per_node = (
                closed.select(F.explode(F.array("a", "b1", "b2"))
                              .alias("node"))
                .groupBy("node").agg(F.count("*").alias("tri")))
            local = (
                deg.filter(F.col("degree") >= 2)
                .join(tri_per_node, "node", "left")
                .select(
                    "node", "degree",
                    F.coalesce(F.col("tri"), F.lit(0)).alias("tri"))
            )
            # ONE pass over the joined frame yields the local-cc fold
            # AND the global triangle count (sum tri == 3T: each
            # triangle is a closed wedge at each of its 3 corners) —
            # the wedge join is planned exactly once.
            sums = local.select(
                F.expr("(2000000 * tri) DIV (degree * (degree - 1))")
                .alias("cc_ppm"), "tri"
            ).agg(
                F.count("*").alias("n_nodes_deg2"),
                F.sum("cc_ppm").alias("sum_cc_ppm"),
                (F.sum("tri") / 3).cast("long").alias("n_triangles"))
            wedge_tri = deg.agg(F.sum(F.expr(
                "(degree * (degree - 1)) DIV 2")).alias("n_wedges"))
            dd = lambda c: F.col(c).cast("double")
            out = (
                sums.crossJoin(F.broadcast(wedge_tri))
                .select(
                    "n_nodes_deg2", "n_wedges", "n_triangles",
                    (F.lit(3.0) * dd("n_triangles") / dd("n_wedges"))
                    .alias("transitivity"),
                    (dd("sum_cc_ppm") / (F.lit(1000000.0)
                                         * dd("n_nodes_deg2")))
                    .alias("avg_local_cc"))
            )
            # materialize BEFORE releasing the caches: the r10 form
            # unpersisted in a finally around a lazily-returned plan,
            # so the caller's action recomputed the whole wedge
            # pipeline with every cache already gone (deg evaluated
            # 4x, oriented 3x, canon under each) — the single biggest
            # cost in this query's 7s bench sample
            return materialize_release(out, oriented, deg, canon)
        except Exception:
            for df in (oriented, deg):
                if df is not None:
                    df.unpersist()
            canon.unpersist()
            raise


CLUSTERING_SQL = f"""
WITH raw AS ({RMAT_RAW_SQL}),
canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst),
adj AS (SELECT u AS a, v AS b FROM canon
        UNION ALL SELECT v AS a, u AS b FROM canon),
deg AS (SELECT a AS node, COUNT(*) AS degree FROM adj GROUP BY a),
closed AS MATERIALIZED (
  SELECT e1.a
  FROM adj e1 JOIN adj e2 ON e1.a = e2.a AND e1.b < e2.b
       JOIN canon c ON c.u = e1.b AND c.v = e2.b),
tri_per_node AS (SELECT a AS node, COUNT(*) AS tri FROM closed GROUP BY a),
local AS (
  SELECT (2000000 * COALESCE(t.tri, 0)) // (d.degree * (d.degree - 1))
           AS cc_ppm
  FROM deg d LEFT JOIN tri_per_node t ON t.node = d.node
  WHERE d.degree >= 2),
sums AS (
  SELECT COUNT(*) AS n_nodes_deg2,
         CAST(SUM(cc_ppm) AS BIGINT) AS sum_cc_ppm FROM local),
wt AS (
  SELECT CAST(SUM((degree * (degree - 1)) // 2) AS BIGINT) AS n_wedges
  FROM deg),
tri AS (SELECT CAST(COUNT(*) / 3 AS BIGINT) AS n_triangles FROM closed)
SELECT n_nodes_deg2, n_wedges, n_triangles,
       3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
         AS transitivity,
       CAST(sum_cc_ppm AS DOUBLE) / (1000000.0 * CAST(n_nodes_deg2 AS DOUBLE))
         AS avg_local_cc
FROM sums CROSS JOIN wt CROSS JOIN tri
"""


QUERIES["graph_clustering_coefficient"] = graph_clustering_coefficient
ORACLE_SQL["graph_clustering_coefficient"] = CLUSTERING_SQL


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-edge reciprocity of the raw R-MAT stream: of the
    distinct directed edges (u, v) with u != v, what fraction have the
    reverse edge (v, u) present? Reciprocity separates follow-graphs
    (~0.2) from friendship graphs (1.0) and is a one-line sanity probe
    on any directed edge ingest; the canonicalized family above erases
    direction, so this is the one query that must run on the RAW edges.

    Plan: distinct directed edges (one shuffle), then a self-equi-join
    on the swapped key — no driver state, join keyed by (u, v) so it
    scales as the edge list does. Self-loops are counted separately
    (distinct, not per-occurrence).
    """
    raw = rmat_raw_edges(spark)
    with sized_shuffle_partitions(spark, _gen_edge_count()):
        directed = (
            raw.filter(F.col("src") != F.col("dst")).distinct().persist())
        try:
            n_directed = directed.count()
            rev = directed.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst"))
            mutual = directed.join(rev, ["src", "dst"], "left_semi") \
                .agg(F.count("*").alias("n_mutual"))
            loops = raw.filter(F.col("src") == F.col("dst")).distinct() \
                .agg(F.count("*").alias("n_self_loops"))
            dd = lambda c: F.col(c).cast("double")
            return (
                mutual.crossJoin(F.broadcast(loops))
                .select(
                    F.lit(n_directed).cast("long").alias("n_directed"),
                    "n_mutual", "n_self_loops",
                    F.expr(f"(1000 * n_mutual) DIV {n_directed}")
                    .alias("reciprocity_permille"),
                    (dd("n_mutual") / F.lit(float(n_directed)))
                    .alias("reciprocity"))
                .localCheckpoint()
            )
        finally:
            directed.unpersist()


RECIPROCITY_SQL = f"""
WITH raw AS ({RMAT_RAW_SQL}),
directed AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
m AS (
  SELECT COUNT(*) AS n_mutual
  FROM directed d
  WHERE EXISTS (SELECT 1 FROM directed r
                WHERE r.src = d.dst AND r.dst = d.src)),
n AS (SELECT COUNT(*) AS n_directed FROM directed),
loops AS (
  SELECT COUNT(DISTINCT src) AS n_self_loops FROM raw WHERE src = dst)
SELECT n_directed, n_mutual, n_self_loops,
       (1000 * n_mutual) // n_directed AS reciprocity_permille,
       CAST(n_mutual AS DOUBLE) / CAST(n_directed AS DOUBLE) AS reciprocity
FROM m CROSS JOIN n CROSS JOIN loops
"""


QUERIES["graph_reciprocity"] = graph_reciprocity
ORACLE_SQL["graph_reciprocity"] = RECIPROCITY_SQL


HITS_ROUNDS = 3
HITS_TOP = 10


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores (Kleinberg) on the distinct directed
    R-MAT edges, HITS_ROUNDS unnormalized integer rounds, reporting the
    HITS_TOP top authorities and top hubs. The reference's search/
    retrieval framing (README.md:7-21) pairs an inverted index with a
    link-analysis ranker; PageRank is already in plans/iterative.py,
    and HITS is the other classic — two alternating sparse mat-vecs,
    i.e. exactly the edge-join + keyed-sum shape kmr's ex/pagerank.c
    iterates.

    Scale/exactness: per-round normalization only rescales the vector,
    so ranking-preserving INTEGER rounds avoid float folds entirely —
    a(0)=1, h(r) = A·a(r-1), a(r) = Aᵀ·h(r), each one equi-join plus a
    map-side-combinable SUM. Bounds here: max degree < 2^11, 3 rounds
    < 2^67... kept in BIGINT because the actual R-MAT degrees keep
    a(3) < 2^52 (test-asserted headroom); at larger scale the same
    plan runs in DECIMAL(38,0). Nodes with no in/out edges score 0 via
    the final left join — parity with the oracle's COALESCE.
    """
    raw = rmat_raw_edges(spark)
    with sized_shuffle_partitions(spark, _gen_edge_count()):
        edges = raw.filter(F.col("src") != F.col("dst")).distinct().persist()
        try:
            nodes = (
                edges.select(F.col("src").alias("node"))
                .unionByName(edges.select(F.col("dst").alias("node")))
                .distinct()
            )
            a = nodes.select("node", F.lit(1).cast("long").alias("s"))
            for _ in range(HITS_ROUNDS):
                h = (
                    edges.join(a.withColumnRenamed("node", "dst"), "dst")
                    .groupBy("src").agg(F.sum("s").alias("hs"))
                )
                a = (
                    edges.join(h, "src")
                    .groupBy("dst").agg(F.sum("hs").alias("s"))
                    .withColumnRenamed("dst", "node")
                )
                # rebind h to the node-keyed frame for the output union
                h = h.withColumnRenamed("src", "node") \
                     .withColumnRenamed("hs", "s")
            top_auth = (
                nodes.join(a, "node", "left")
                .select("node", F.coalesce("s", F.lit(0)).alias("score"),
                        F.lit("authority").alias("role"))
                .orderBy(F.col("score").desc(), "node").limit(HITS_TOP)
            )
            top_hub = (
                nodes.join(h, "node", "left")
                .select("node", F.coalesce("s", F.lit(0)).alias("score"),
                        F.lit("hub").alias("role"))
                .orderBy(F.col("score").desc(), "node").limit(HITS_TOP)
            )
            return top_auth.unionByName(top_hub).localCheckpoint(eager=True)
        finally:
            edges.unpersist()


def _hits_sql() -> str:
    cte = f"""raw AS ({RMAT_RAW_SQL}),
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
nodes AS MATERIALIZED (SELECT src AS node FROM edges
                       UNION SELECT dst FROM edges),
a0 AS MATERIALIZED (SELECT node, CAST(1 AS BIGINT) AS s FROM nodes)"""
    for r in range(1, HITS_ROUNDS + 1):
        cte += f""",
h{r} AS MATERIALIZED (
  SELECT e.src AS node, CAST(SUM(a.s) AS BIGINT) AS s
  FROM edges e JOIN a{r - 1} a ON a.node = e.dst GROUP BY e.src),
a{r} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM(h.s) AS BIGINT) AS s
  FROM edges e JOIN h{r} h ON h.node = e.src GROUP BY e.dst)"""
    r = HITS_ROUNDS
    return f"""
WITH {cte}
SELECT * FROM (
  SELECT n.node, COALESCE(a.s, 0) AS score, 'authority' AS role
  FROM nodes n LEFT JOIN a{r} a ON a.node = n.node
  ORDER BY score DESC, n.node LIMIT {HITS_TOP})
UNION ALL
SELECT * FROM (
  SELECT n.node, COALESCE(h.s, 0) AS score, 'hub' AS role
  FROM nodes n LEFT JOIN h{r} h ON h.node = n.node
  ORDER BY score DESC, n.node LIMIT {HITS_TOP})
"""


HITS_SQL = _hits_sql()

QUERIES["graph_hits"] = graph_hits
ORACLE_SQL["graph_hits"] = HITS_SQL


TRUSS_K = 4        # keep edges in >= (K-2) triangles among kept edges
TRUSS_ROUNDS = 3   # FIXED peel rounds (both engines run exactly these)


def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-TRUSS peeling trace on the canonical undirected R-MAT graph:
    TRUSS_ROUNDS fixed rounds of "count per-edge triangle support,
    drop edges with support < K-2", reporting per round the surviving
    edge count, the triangle count, and an edge checksum — the
    community-core extractor one step stronger than k-core (k-core
    bounds degree; k-truss demands the degree be REALIZED as
    triangles). Fixed-round semantics (the graph_label_propagation
    convention): both engines run exactly TRUSS_ROUNDS peels, so the
    comparison never depends on convergence detection; on this graph
    the trace also shows how close the peel is to its fixpoint.

    Plan per round: one triple equi-join enumerates surviving
    triangles (each exactly once via u<v<w), one explode + keyed count
    yields per-edge support, one semi-join drops light edges —
    everything shuffle-keyed by edge endpoints, localCheckpoint
    truncating lineage between rounds (the kcore/CC loop discipline).
    The DuckDB oracle unrolls the same rounds as MATERIALIZED CTEs.
    """
    with sized_shuffle_partitions(spark, _gen_edge_count()):
        edges = canonicalize_edges(rmat_raw_edges(spark)).persist()
        try:
            rows = []
            cur = edges
            for rnd in range(1, TRUSS_ROUNDS + 1):
                e1 = cur.select(F.col("u").alias("a"), F.col("v").alias("b"))
                e2 = cur.select(F.col("u").alias("a"), F.col("v").alias("c"))
                e3 = cur.select(F.col("u").alias("b"), F.col("v").alias("c"))
                tris = (
                    e1.join(e2, "a").filter(F.col("b") < F.col("c"))
                    .join(e3, ["b", "c"])
                )
                support = (
                    tris.select(
                        F.explode(F.array(
                            F.struct(F.col("a").alias("u"),
                                     F.col("b").alias("v")),
                            F.struct(F.col("a").alias("u"),
                                     F.col("c").alias("v")),
                            F.struct(F.col("b").alias("u"),
                                     F.col("c").alias("v")))).alias("e"))
                    .select("e.u", "e.v")
                    .groupBy("u", "v").agg(F.count("*").alias("sup"))
                )
                nxt = (
                    cur.join(support.filter(F.col("sup") >= TRUSS_K - 2),
                             ["u", "v"], "left_semi")
                    # lazy: fixed rounds, no mid-loop action — the
                    # final stats union materializes the whole peel
                    # chain in one job; the checkpoint still caches,
                    # so round r+1 and round r's stat share one
                    # evaluation of nxt
                    .localCheckpoint(eager=False)
                )
                stat = (
                    nxt.agg(
                        F.count("*").alias("n_edges"),
                        F.coalesce(F.sum(F.col("u") * 1048576 + F.col("v")),
                                   F.lit(0)).alias("edge_checksum"))
                    .select(F.lit(rnd).cast("long").alias("round"),
                            "n_edges", "edge_checksum")
                )
                rows.append(stat)
                cur = nxt
            out = rows[0]
            for r in rows[1:]:
                out = out.unionByName(r)
            # run the peel while the edge cache and the width are in force
            return out.orderBy("round").localCheckpoint()
        finally:
            edges.unpersist()


def _ktruss_sql() -> str:
    cte = f"""raw AS ({RMAT_RAW_SQL}),
keep0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst)"""
    for r in range(1, TRUSS_ROUNDS + 1):
        cte += f""",
tri{r} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM keep{r - 1} e1
  JOIN keep{r - 1} e2 ON e2.u = e1.u AND e1.v < e2.v
  JOIN keep{r - 1} e3 ON e3.u = e1.v AND e3.v = e2.v),
sup{r} AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS sup FROM (
    SELECT a AS u, b AS v FROM tri{r}
    UNION ALL SELECT a, c FROM tri{r}
    UNION ALL SELECT b, c FROM tri{r})
  GROUP BY u, v),
keep{r} AS MATERIALIZED (
  SELECT k.u, k.v FROM keep{r - 1} k
  JOIN sup{r} s ON s.u = k.u AND s.v = k.v
  WHERE s.sup >= {TRUSS_K - 2})"""
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, COUNT(*) AS n_edges,\n"
        f"       CAST(COALESCE(SUM(u * 1048576 + v), 0) AS BIGINT)"
        f" AS edge_checksum FROM keep{r}"
        for r in range(1, TRUSS_ROUNDS + 1))
    return f"WITH {cte}\n{selects}\nORDER BY round"


KTRUSS_SQL = _ktruss_sql()

QUERIES["graph_ktruss"] = graph_ktruss
ORACLE_SQL["graph_ktruss"] = KTRUSS_SQL


WALK_STARTS = 16  # walks start at the top out-degree nodes
WALK_STEPS = 4


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC random walks over the distinct directed R-MAT
    edges — the corpus-generation step of node2vec/DeepWalk-style
    graph embeddings: from each of the WALK_STARTS highest-out-degree
    nodes, take WALK_STEPS steps, choosing at node u the out-neighbor
    v minimizing the repo's portable hash of (walk, step, u, v) —
    "random" enough to spread, yet replayable on any engine and under
    any retry (the property trainers need for reproducible corpora;
    true RNG walks can't be oracle-checked at all). Walks stop early
    at dead ends. Output: (walk_id, step, node), step 0 = the start.

    Scale: each step is one equi-join frontier->edges plus a keyed MIN
    (the choice packs (hash, v) into one BIGINT, so argmin is a plain
    MIN — no window); the frontier never exceeds WALK_STARTS rows
    while the edge side stays partitioned — at 100 TB this walks with
    a broadcast frontier against the edge table's own partitioning.
    """
    from kmr_spark.operators.sample import hash_bucket

    raw = rmat_raw_edges(spark)
    edges = raw.filter(F.col("src") != F.col("dst")).distinct().persist()
    try:
        # no count: the persist fills inside the first step's join and
        # every later step reuses it — the count was a pure
        # materialization barrier (one extra blocking job)
        deg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
        starts = (
            deg.orderBy(F.col("odeg").desc(), "src").limit(WALK_STARTS)
            .select(F.col("src").alias("walk_id"),
                    F.col("src").alias("node"))
        )
        frontier = starts
        outs = [starts.select("walk_id", F.lit(0).cast("long").alias("step"),
                              "node")]
        for t in range(1, WALK_STEPS + 1):
            key = ((F.col("walk_id") * 1024 + F.col("node")) * 1024
                   + F.col("dst")) * 8 + t
            nxt = (
                F.broadcast(frontier)
                .join(edges, F.col("node") == F.col("src"))
                .select("walk_id",
                        (hash_bucket(key) * 1024 + F.col("dst")).alias("pk"))
                .groupBy("walk_id").agg(F.min("pk").alias("pk"))
                .select("walk_id", (F.col("pk") % 1024).alias("node"))
            )
            outs.append(nxt.select(
                "walk_id", F.lit(t).cast("long").alias("step"), "node"))
            frontier = nxt
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out.orderBy("walk_id", "step").localCheckpoint(eager=True)
    finally:
        edges.unpersist()


def _walks_sql() -> str:
    from kmr_spark.operators.sample import sql_bucket

    cte = f"""raw AS ({RMAT_RAW_SQL}),
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
starts AS MATERIALIZED (
  SELECT src AS walk_id, src AS node
  FROM (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src)
  ORDER BY odeg DESC, src LIMIT {WALK_STARTS}),
f0 AS MATERIALIZED (SELECT walk_id, node FROM starts)"""
    for t in range(1, WALK_STEPS + 1):
        key = f"((f.walk_id * 1024 + f.node) * 1024 + e.dst) * 8 + {t}"
        cte += f""",
f{t} AS MATERIALIZED (
  SELECT walk_id, pk % 1024 AS node FROM (
    SELECT f.walk_id,
           MIN(({sql_bucket(key)}) * 1024 + e.dst) AS pk
    FROM f{t - 1} f JOIN edges e ON e.src = f.node
    GROUP BY f.walk_id))"""
    selects = "\nUNION ALL\n".join(
        f"SELECT walk_id, CAST({t} AS BIGINT) AS step, node FROM f{t}"
        for t in range(0, WALK_STEPS + 1))
    return f"WITH {cte}\n{selects}\nORDER BY walk_id, step"


WALKS_SQL = _walks_sql()

QUERIES["graph_random_walks"] = graph_random_walks
ORACLE_SQL["graph_random_walks"] = WALKS_SQL
