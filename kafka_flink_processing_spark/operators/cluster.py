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
partitioning — the DuckDB oracle reproduces it with a recursive CTE over
the same edge set (plans/extensions.py::dedup_clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators.dedup import (
    _UNTRACKED,
    _clear_untracked,
    _memo_lookup,
    _unpersist,
)

# Edge-table memo (r12, guide §5): the near-dup pair graph is the
# persisted artifact every clustering consumer starts from —
# dedup_clusters, cluster_aware_folds and dedup_cluster_survivors all
# re-mined the SAME pair set from the (already memoized) signature
# tables on every call, paying the LSH candidate join + exact-Jaccard
# verification each time. Same posture as dedup.py's shingle/signature/
# inverted-index memos: inputs are immutable parquet, a hit is
# collision-checked with sameSemantics, and the 100 TB analogue is
# materializing the pair table once per corpus snapshot (it is
# O(near-duplicates), the smallest relation in the family). The memo
# holds the DOUBLED, loop-partitioned edge relation plus its count so a
# hit also skips the width-sizing action. Only the edge INTERMEDIATE is
# memoized — the label table (each query's actual result) is computed
# fresh on every call. Lookup, dead-session pruning and the untracked
# list are dedup.py's, shared with its memos.
_EDGE_MEMO: dict[tuple, tuple[DataFrame, tuple[DataFrame, int]]] = {}


def clear_cluster_caches() -> None:
    """Unpersist and drop the edge-table memo (safe any time — consumers
    recompute lazily on next use)."""
    _unpersist(edges for _, (edges, _) in _EDGE_MEMO.values())
    _EDGE_MEMO.clear()
    _clear_untracked()


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
    width, memoized per pair-mining plan."""
    spark = pairs.sparkSession
    key, hit = _memo_lookup(_EDGE_MEMO, pairs, ("edges",))
    if hit is not None:
        return hit
    doubled = (pairs.select(F.col("doc_a").alias("src"),
                            F.col("doc_b").alias("dst"))
               .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                         F.col("doc_a").alias("dst"))))
    # membership in few/small clusters => the edge relation is tiny
    # relative to the corpus; cache it once, iterate on labels only.
    # The raw cache exists only to size the loop width before the
    # keyed repartition; it is superseded (and dropped) once the
    # partitioned relation is primed.
    raw = doubled.cache()
    n_edges = raw.count()
    edges = raw.repartition(_loop_width(spark, n_edges), "dst").cache()
    edges.count()  # prime: every loop round joins against this build
    raw.unpersist()
    if key is not None:
        _EDGE_MEMO[key] = (pairs, (edges, n_edges))
    else:
        _UNTRACKED.append(edges)
    return edges, n_edges


def connected_components(pairs: DataFrame, nodes: DataFrame,
                         max_iter: int = 20) -> DataFrame:
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
    for _ in range(max_iter):
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
