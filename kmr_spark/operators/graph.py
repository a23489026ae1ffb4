"""Connected components via iterated min-neighbor contraction.

Reference parity: KMR runs graph algorithms as fixed-point map/shuffle/
reduce loops with materialized KVS state per round (ex/pagerank.c:1-30);
this operator is the same loop shape on DataFrames. Beyond-reference
purpose: turn near-duplicate PAIRS (llm_ops/dedup.py band joins) into
duplicate CLUSTERS so a pipeline can keep one document per group —
the step every training-data dedup needs after LSH.

Algorithm (contraction + pointer-jumping, the family of Kiveris et
al., "Connected Components in MapReduce and Beyond"): each round
computes f(v) = min(N(v) ∪ {v}) — one min-aggregation over the edge
list — whose (v, f(v)) rows form a forest rooted at the local minima.
Pointer jumping squares that mapping (f ← f∘f, one node-sized
self-join per step) until it is IDEMPOTENT — log2(tree depth) steps,
detected by a zero changed-row count — so every node points at its
tree root. The round then CONTRACTS the graph, replacing every edge
(u, v) with (f(u), f(v)) and dropping self-loops and duplicates:
every non-root node disappears, so each round at least shrinks every
component with an edge, and the loop ends when the edge set is EMPTY
(one count per round — no fixed iteration budget). A near-dup
quasi-clique collapses onto its minimum in round one; a monotone
chain — the worst case for bare min-contraction, which shortens it
O(1) edges/round — is a single forest tree and also collapses in
round one. Final labels compose the per-round mappings back down:
label(v) = f_k(...f_1(f_0(v))). Total rounds are O(log n) (each
surviving root absorbed ≥1 non-root), versus Ω(diameter) for plain
min-label propagation, which is why this survives both dense pair
graphs (LSH cliques: E ≈ 30× nodes here) and long chains.

Determinism: every step is an integer min / distinct — the result is
the unique component-minimum labeling regardless of round count,
partitioning, or schedule, which is what lets a SQL oracle (recursive
min-reachability CTE, llm_ops/dedup.py CLUSTERS_SQL) reproduce it
bit-for-bit.

Scale shape per round: one edge-sized shuffle for the min-aggregation,
two edge-sized joins against the node-sized mapping (broadcast-able
while the mapping fits, and AQE picks that up at this scale; hash
joins co-partitioned on the edge key otherwise), one distinct. Mapping
state is node-sized and localCheckpoint-ed per round (same iteration
hygiene as plans/iterative.py pagerank) so lineage stays flat and the
convergence count is free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kmr_spark.session import sized_shuffle_partitions

#: pointer-jump squarings between convergence checks (see loop comment)
JUMPS_PER_CHECK = 3


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_rounds: int = 30,
                         max_jumps: int = 40,
                         n_pairs_hint: int | None = None) -> DataFrame:
    """Labels each node of the undirected pair graph with the minimum
    node id of its connected component. Returns (node, label).

    Raises RuntimeError if the edge set is not exhausted within
    ``max_rounds`` rounds of ``max_jumps`` pointer-jump squarings:
    rounds grow O(log n) and jumps O(log depth), so the defaults
    cover any graph that fits in storage (2^40-deep trees don't).

    ``n_pairs_hint`` skips the sizing count for callers that know the
    edge count a priori (generated graphs); pair sources with unknown
    size (LSH pipelines) keep the exact count, which doubles as the
    eager materialization barrier for the expensive upstream.
    """
    if max_rounds < 1 or max_jumps < 1:
        raise ValueError(
            f"max_rounds and max_jumps must be >= 1, got {max_rounds}, {max_jumps}")
    # materialize the (possibly expensive) pair source ONCE: the first
    # round reads it twice (both edge directions) as separate stages
    # that would each recompute an uncached upstream (e.g. a full LSH
    # pipeline) in parallel past an unfilled cache. A known size also
    # pins the cache's width, which is fixed at the persist() call.
    with sized_shuffle_partitions(pairs.sparkSession, n_pairs_hint):
        pairs = pairs.persist()
    try:
        n_pairs = pairs.count() if n_pairs_hint is None else n_pairs_hint
        # size the loop's shuffle partitions to the pair graph: every
        # round runs several tiny keyed jobs over a graph that only
        # SHRINKS under contraction, so session-wide partitioning
        # (sized for the corpus) multiplies fixed task cost — measured
        # 8.8s -> 6.7s at sf0.1 with identical labels.
        with sized_shuffle_partitions(pairs.sparkSession, n_pairs):
            return _cc_loop(pairs, src, dst, max_rounds, max_jumps)
    except Exception:
        pairs.unpersist()
        raise


def _cc_loop(pairs: DataFrame, src: str, dst: str,
             max_rounds: int, max_jumps: int) -> DataFrame:
    edges = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    mappings: list[DataFrame] = []
    for r in range(max_rounds):
        und = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        f = (
            und.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("fv"))  # f(v) = min(N(v) ∪ {v})
            .localCheckpoint(eager=False)
        )
        # pointer-jump the mapping to idempotence before contracting:
        # bare min-neighbor contraction shortens a chain by only O(1)
        # edges per round; squaring f until f∘f = f collapses every
        # forest tree onto its root in log2(depth) self-joins. f's
        # image is within its domain, so the self-join is total.
        #
        # Convergence is CHECKED only every JUMPS_PER_CHECK squarings:
        # checking just the last jump is sound (a squaring that changes
        # nothing proves idempotence, and further squarings of an
        # idempotent map are no-ops), and each check is the only action
        # in the batch — the lazy-checkpointed jump joins in between
        # all materialize inside that one count job. Cuts the loop's
        # blocking round-trips ~3x for the dense LSH graphs where one
        # or two squarings already converge.
        jumped = 0
        while True:
            # clamp the batch so the documented max_jumps cap is exact
            for _ in range(min(JUMPS_PER_CHECK, max_jumps - jumped)):
                jmp = f.select(F.col("u").alias("__n"), F.col("fv").alias("__l"))
                f2 = (
                    f.join(jmp, f["fv"] == jmp["__n"])
                    .select("u", F.col("fv").alias("__prev"),
                            F.col("__l").alias("fv"))
                    .localCheckpoint(eager=False)
                )
                f = f2.select("u", "fv")
                jumped += 1
            if f2.filter(F.col("fv") != F.col("__prev")).count() == 0:
                break
            if jumped >= max_jumps:
                raise RuntimeError(
                    f"connected_components: pointer jump not idempotent in {max_jumps} steps")
        mappings.append(f)
        fu = f.select(F.col("u").alias("__u"), F.col("fv").alias("__fu"))
        fv = f.select(F.col("u").alias("__v"), F.col("fv").alias("__fv"))
        edges = (
            edges.join(fu, edges["u"] == fu["__u"])
            .join(fv, F.col("v") == fv["__v"])
            .select(F.least("__fu", "__fv").alias("u"),
                    F.greatest("__fu", "__fv").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)  # materialized by the count
        )
        if edges.count() == 0:
            break
    else:
        raise RuntimeError(f"connected_components: not contracted in {max_rounds} rounds")
    pairs.unpersist()
    # compose the mappings top-down: nodes whose component collapsed at
    # an earlier level have no row at later levels — left join + keep
    labels = mappings[0].select(F.col("u").alias("node"), F.col("fv").alias("label"))
    for f in mappings[1:]:
        jump = f.select(F.col("u").alias("__n"), F.col("fv").alias("__l"))
        labels = (
            labels.join(jump, labels["label"] == jump["__n"], "left")
            .select("node", F.coalesce("__l", "label").alias("label"))
        )
    return labels.localCheckpoint()
