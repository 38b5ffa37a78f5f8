"""Connected components (operators/cluster.py): transitive closure on
hand-built graphs — chains (labels must hop multiple rounds), independent
components, and singletons."""

from __future__ import annotations

from kafka_flink_processing_spark.operators.cluster import connected_components


def _run(spark, edges, node_ids):
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id long")
    out = connected_components(pairs, nodes)
    return {r.doc_id: r.canonical_id for r in out.collect()}


def test_chain_needs_propagation(spark):
    # 1-2, 2-3, 3-4: label 1 must hop three times to reach node 4
    got = _run(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4, 99])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 99: 99}


def test_two_components_and_transitivity(spark):
    # a~b, b~c clusters {5,6,7} though 5,7 never paired; {10,11} separate
    got = _run(spark, [(5, 6), (6, 7), (10, 11)], [5, 6, 7, 10, 11])
    assert got == {5: 5, 6: 5, 7: 5, 10: 10, 11: 10}


def test_empty_pairs_all_singletons(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    got = {r.doc_id: r.canonical_id
           for r in connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 2}

def test_edge_memo_reused_and_result_plan_truncated(spark):
    # r12 internals: (a) the doubled edge table is memoized per
    # pair-mining plan (collision-checked), so a second call over a
    # semantically-equal pairs plan reuses the cached relation instead
    # of re-mining; (b) each round is localCheckpoint-truncated, so the
    # RETURNED DataFrame's plan is a flat scan of materialized
    # partitions, not the unrolled iteration (the r12 before-plan
    # printed 4174 Exchange nodes for the cached-loop form).
    from kafka_flink_processing_spark.operators import cluster as C
    from kafka_flink_processing_spark.operators.dedup import _MEMO

    def edge_entries():  # the edge tables in the one artifact memo
        return [art for key, (_, art, _) in _MEMO.items()
                if key[2:] == ("edges",)]

    C.clear_cluster_caches()
    edges = [(1, 2), (2, 3), (10, 11)]
    nodes = [(n,) for n in (1, 2, 3, 10, 11)]
    pairs1 = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes1 = spark.createDataFrame(nodes, "doc_id long")
    out1 = {r.doc_id: r.canonical_id
            for r in C.connected_components(pairs1, nodes1).collect()}
    assert len(edge_entries()) == 1
    memo_edges = edge_entries()[0]
    # a semantically-equal pairs plan must hit the memo, not add an entry
    # (the registered queries rebuild the pairs plan from the memoized
    # signature caches each call, so the plans compare equal; a local
    # createDataFrame embeds fresh data and would legitimately miss)
    nodes2 = spark.createDataFrame(nodes, "doc_id long")
    result = C.connected_components(pairs1, nodes2)
    assert len(edge_entries()) == 1 and edge_entries()[0] is memo_edges
    out2 = {r.doc_id: r.canonical_id for r in result.collect()}
    assert out1 == out2 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # plan truncation: the returned plan is a checkpoint scan — no Join/
    # Aggregate/Exchange lineage survives into the consumer's plan
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan" in plan
    for node in ("Join", "HashAggregate", "Exchange"):
        assert node not in plan, plan
    C.clear_cluster_caches()
    assert not _MEMO
