"""Connected-components clustering over near-dup pairs.

Oracle: pure-python union-find over the same edge list.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from go_data_publisher_spark.operators.textdedup import dedup_clusters


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id per component
    comp_min = {}
    for i in range(n_nodes):
        r = find(i)
        comp_min.setdefault(r, i)
    return {i: comp_min[find(i)] for i in range(n_nodes)}


def test_clusters_match_union_find(spark):
    # chain 0-1-2-3-4, triangle 5-6-7 (+ redundant edge), pair 8-9,
    # isolated 10..12
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7), (8, 9)]
    n = 13
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.range(n).select(F.col("id"))
    got = {
        r.id: r.cluster_id
        for r in dedup_clusters(pairs, nodes=nodes).collect()
    }
    assert got == _union_find(n, edges)


def test_clusters_long_chain_converges(spark):
    # a 40-node path exercises pointer jumping (O(log d) rounds, not O(d))
    n = 40
    edges = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = dedup_clusters(pairs, max_iters=12).collect()
    assert {r.cluster_id for r in got} == {0}
    assert len(got) == n
