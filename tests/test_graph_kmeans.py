"""Unit tests for the iterative operators: connected components
(the one-task union-find kernel, and the multi-partition path that
finishes with hash-min rounds) against a Python union-find golden,
and k-means determinism/coverage. The DuckDB recursive-CTE /
unrolled-SQL oracles cover these at sf0.01; here we cover shapes the
testdata graph doesn't produce (long chains, isolated nodes, rings)."""

from __future__ import annotations

import numpy as np
import pytest

from a_share_data_pipeline_spark.operators import graph
from a_share_data_pipeline_spark.operators.graph import connected_components
from a_share_data_pipeline_spark.operators.kmeans import kmeans_assignments


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
    # component = min node of the set
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


def _run(spark, n_nodes, edges):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    e = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    if not edges:
        e = e.limit(0)
    out = connected_components(nodes, e, id_col="id")
    return {r.id: r.component for r in out.collect()}


def _random_edges(seed, n=60, m=45):
    rng = np.random.RandomState(seed)
    return [tuple(sorted(map(int, rng.choice(n, 2, replace=False)))) for _ in range(m)]


def _chain(n):
    """Path 0-1-…-(n-1) with its edges in a shuffled, mixed orientation."""
    rng = np.random.RandomState(n)
    edges = [(i, i + 1) if rng.rand() < 0.5 else (i + 1, i) for i in range(n - 1)]
    return [edges[i] for i in rng.permutation(len(edges))]


def test_chain_ring_isolated(spark):
    # chain 0..7, ring 10..13, isolated 20
    edges = [(i, i + 1) for i in range(7)] + [(10, 11), (11, 12), (12, 13), (13, 10)]
    got = _run(spark, 21, edges)
    golden = _union_find(21, edges)
    assert got == golden
    assert got[7] == 0 and got[13] == 10 and got[20] == 20


@pytest.mark.parametrize("seed", [3, 11])
def test_random_graph_matches_union_find(spark, seed):
    edges = _random_edges(seed)
    assert _run(spark, 60, edges) == _union_find(60, edges)


def test_long_chain_one_component(spark):
    """A 200-node path is one component with the default arguments:
    convergence does not depend on the graph's diameter."""
    edges = _chain(200)
    got = _run(spark, 200, edges)
    assert got == _union_find(200, edges)
    assert set(got.values()) == {0}


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    fn()
    return dag.numTotalJobs() - before


def test_job_count_independent_of_diameter(spark):
    """The one-task path runs a fixed number of Spark jobs: a 10-node
    and a 200-node chain cost the same."""
    _run(spark, 10, _chain(10))  # warm-up
    short = _jobs(spark, lambda: _run(spark, 10, _chain(10)))
    longer = _jobs(spark, lambda: _run(spark, 200, _chain(200)))
    assert short == longer


def test_multi_partition_matches_union_find(spark, monkeypatch):
    """A tiny per-task edge budget forces >= 3 kernel partitions, so
    the hash-min rounds over the star forest must finish the merge."""
    monkeypatch.setattr(graph, "_KERNEL_EDGES", 7)
    partitions = []
    hash_min = graph._hash_min

    def spy(stars):
        partitions.append(stars.rdd.getNumPartitions())
        return hash_min(stars)

    monkeypatch.setattr(graph, "_hash_min", spy)
    for seed in (3, 11):
        edges = _random_edges(seed)
        assert _run(spark, 60, edges) == _union_find(60, edges)
    edges = _chain(100)
    assert _run(spark, 100, edges) == _union_find(100, edges)
    # stray endpoints 98/99 would bridge components if their edges leaked
    edges = _random_edges(3)
    strays = [(0, 99), (99, 59), (5, 98), (98, 40)]
    assert _run(spark, 60, edges + strays) == _union_find(60, edges)
    assert len(partitions) == 4 and min(partitions) >= 3


def test_no_edges_all_singletons(spark):
    got = _run(spark, 5, [])
    assert got == {i: i for i in range(5)}


def test_kmeans_deterministic_and_total(spark):
    rng = np.random.RandomState(42)
    rows = [(int(i), [float(x) for x in rng.randn(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a1 = {r.vec_id: (r.cluster, r.rd) for r in kmeans_assignments(df, k=4, iters=2).collect()}
    a2 = {r.vec_id: (r.cluster, r.rd) for r in kmeans_assignments(df, k=4, iters=2).collect()}
    assert a1 == a2  # deterministic across runs
    assert set(a1) == set(range(50))  # every vector assigned
    assert {c for c, _ in a1.values()} <= set(range(4))
    assert all(rd >= 0 for _, rd in a1.values())


def test_stray_endpoints_drop_edges(spark):
    """endpoints ⊆ nodes contract: an edge touching a node NOT in the
    nodes frame disappears entirely — its valid endpoint stays a
    singleton, connectivity never flows through the stray node, and
    the output is keyed exactly by the nodes input."""
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    # (0,1) valid; (2,99) stray endpoint; (3,98),(98,4) would connect
    # 3-4 through stray 98 if the guard leaked
    e = spark.createDataFrame(
        [(0, 1), (2, 99), (3, 98), (98, 4)], "a long, b long"
    )
    out = connected_components(nodes, e, id_col="id")
    got = {r.id: r.component for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}
