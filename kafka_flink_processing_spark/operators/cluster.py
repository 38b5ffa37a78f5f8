"""Connected components over the near-duplicate pair graph.

Pair mining (dedup.py) yields edges; production dedup needs CLUSTERS —
"keep one canonical document per component" requires the transitive
closure (a~b, b~c => one group {a,b,c} even if a,c never paired).

Algorithm: min-label propagation (the DataFrame form of Pregel CC, cf.
"hash-to-min"): every node starts labeled with itself; each round every
node takes the min of its own and its neighbors' labels; stop when no
label changed. Rounds = graph diameter, and near-dup components are
small/dense, so 2-4 rounds in practice. Everything per round is one
shuffle join + one aggregation — no driver-side data, only the converged
flag crosses to the driver (an O(diameter) loop of ACTIONS, not of rows).

Determinism: min() is order-free, so the result is independent of
partitioning — its DuckDB rendering, COMPONENTS_CTE, reproduces it with a
recursive CTE over the same edge set, and every closure oracle in plans/
splices it in (tests/test_dedup_renderings.py compares the two).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators.dedup import (
    clear_dedup_caches,
    memoized,
)

# The edge tables live in dedup.py's one artifact memo, so clearing it
# clears them too.
clear_cluster_caches = clear_dedup_caches

# Label-propagation round bound: rounds = component diameter, 2-4 for
# near-dup components, so the bound only stops a pathological graph.
CC_MAX_ITER = 20


def _loop_width(spark, n_edges: int) -> int:
    # Size the iteration's shuffle width to the EDGE volume (as a Pregel
    # runtime would), not the session default: a 32-way shuffle over a few
    # hundred edges is pure task overhead per round, while at billions of
    # edges the width grows back to the session setting. ~1M edge rows per
    # reduce task keeps partitions executor-sized either way. The width is
    # applied with explicit repartition() on the loop's own plans — NOT by
    # toggling spark.sql.shuffle.partitions, which is session-global and
    # would silently narrow any query planned concurrently (other threads,
    # streaming micro-batches). AQE's partition coalescing right-sizes the
    # loop's remaining small shuffles (groupBy, left join) at runtime.
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(default_parts, 1 + n_edges // 1_000_000))


def _edge_table(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Doubled (src, dst) edge relation and its row count, cached at loop
    width, memoized per pair-mining plan: dedup_clusters,
    cluster_aware_folds and dedup_cluster_survivors all start from the
    same pair graph, and the hit also skips the width-sizing count. Only
    this intermediate is memoized; each query's label table is computed
    fresh on every call."""
    spark = pairs.sparkSession
    sized = []

    def build():
        doubled = (pairs.select(F.col("doc_a").alias("src"),
                                F.col("doc_b").alias("dst"))
                   .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                             F.col("doc_a").alias("dst"))))
        # membership in few/small clusters => the edge relation is tiny
        # relative to the corpus; cache it once, iterate on labels only.
        # The raw cache exists only to size the loop width before the
        # keyed repartition; it is dropped once the partitioned relation
        # is primed.
        raw = doubled.cache()
        sized.append(raw)
        return raw.repartition(_loop_width(spark, raw.count()), "dst")

    edges, n_edges = memoized(pairs, ("edges",), build)
    for raw in sized:
        raw.unpersist()
    return edges, n_edges


def connected_components(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """(doc_id, canonical_id) for every node; canonical = min id reachable
    through the pair graph (nodes absent from `pairs` map to themselves).

    pairs: columns doc_a, doc_b (undirected edges). nodes: column doc_id.
    """
    spark = pairs.sparkSession
    edges, n_edges = _edge_table(pairs)
    loop_parts = _loop_width(spark, n_edges)
    old_total = None
    # Each round's label table is materialized with localCheckpoint, not
    # cache() (r12, guide §3.3/§5 "truncate the plan"): the cached loop
    # returned a DataFrame whose ANALYZED plan was the whole unrolled
    # iteration (thousands of nodes — the r12 before-plan prints 4174
    # Exchange entries), so every downstream action re-analyzed that
    # tree and every round re-planned against a growing CacheManager.
    # Checkpointing truncates each round to a LogicalRDD scan: O(1)
    # plan size per round, no CacheManager entries to linear-scan, and
    # superseded rounds' blocks are dropped by the ContextCleaner when
    # their DataFrames go out of scope (the cached form pinned every
    # round's blocks for the session — unpersisting them mid-loop
    # re-derives dependents, measured 9s vs 4s at sf0.1 in r2).
    # localCheckpoint stores MEMORY_AND_DISK but TRUNCATES LINEAGE: lost
    # blocks are NOT recomputable (unlike a cache), so a cluster-mode
    # executor loss would permanently fail consumers of the returned
    # DataFrame. Moot in local mode (one process); a fault-tolerant
    # cluster run would persist the converged label table to storage
    # instead (same posture as SCALE.md's "production shapes" ledger).
    # The checkpoint is LAZY: the convergence aggregate below is the
    # action that materializes it, so each round still costs exactly one
    # job (materialize + converge-test in one pass) like the cached form.
    labels = (nodes.select(F.col("doc_id"),
                           F.col("doc_id").alias("canonical_id"))
              .repartition(loop_parts, "doc_id")
              .localCheckpoint(eager=False))
    for _ in range(CC_MAX_ITER):
        # new label = min over {own label} ∪ {labels of in-neighbors},
        # expressed as union + one groupBy: a single exchange per round
        # (the aggregation), versus the groupBy + per-round broadcast +
        # left-join form — which also stops scaling once the neighbor-min
        # table is corpus-sized and can no longer broadcast. Nodes without
        # neighbors keep their label via the self-contribution row.
        nbr = (edges.join(labels, edges.dst == labels.doc_id)
               .select(F.col("src").alias("doc_id"), "canonical_id"))
        new_labels = (labels.unionByName(nbr)
                      .groupBy("doc_id")
                      .agg(F.min("canonical_id").alias("canonical_id"))
                      .localCheckpoint(eager=False))
        # labels only ever DECREASE, so the label sum is strictly
        # monotone — equality means a fixpoint. One cheap aggregate
        # materializes the checkpoint and tests convergence in a single
        # action (no compare-join).
        total = new_labels.agg(F.sum("canonical_id")).collect()[0][0]
        labels = new_labels
        if total == old_total:
            break
        old_total = total
    return labels


# DuckDB rendering of connected_components over the (doc_a, doc_b)
# relation `pairs` and the `documents` nodes: CTEs `edges`, `reach` and
# `clusters` (doc_id, canonical_id). The query must open WITH RECURSIVE;
# `reach` is the transitive closure, so a closure oracle reads `pairs`
# twice (see operators/dedup.py::verified_pairs_cte).
COMPONENTS_CTE = """edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    clusters AS (SELECT a AS doc_id, MIN(b) AS canonical_id
                 FROM reach GROUP BY a)"""
