"""Unit tests for the iterative operators: connected components
(the one-task union-find kernel, and the multi-partition path that
finishes with hash-min rounds) against a Python union-find golden,
and k-means determinism/coverage. The DuckDB recursive-CTE /
unrolled-SQL oracles cover these at sf0.01; here we cover shapes the
testdata graph doesn't produce (long chains, isolated nodes, rings)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

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


def _edges(spark, edges):
    e = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    return e if edges else e.limit(0)


def _run(spark, n_nodes, edges):
    """Labels of nodes 0..n_nodes-1: a node on no edge is its own
    component, filled by a left join and coalesce as geo_dbscan_grid
    fills it."""
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    out = nodes.join(connected_components(_edges(spark, edges)), "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )
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
    assert len(partitions) == 3 and min(partitions) >= 3


def test_no_edges_all_singletons(spark):
    """No edge: the result is empty, and planned as empty, so the
    caller's left join that fills singletons folds away (no Join)."""
    assert connected_components(_edges(spark, [])).count() == 0
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    filled = nodes.join(connected_components(_edges(spark, [])), "id", "left")
    assert "Join" not in filled._jdf.queryExecution().optimizedPlan().toString()
    assert _run(spark, 5, []) == {i: i for i in range(5)}


def test_collect_runs_at_most_three_jobs(spark):
    """A one-task graph costs the edge pin, the kernel pin and the
    collect: at most 3 jobs, counted under a job group."""
    sc = spark.sparkContext
    edges = _edges(spark, _chain(50))
    sc.setJobGroup("cc-jobs", "connected_components job count")
    try:
        rows = connected_components(edges).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(rows) == 50
    assert len(sc.statusTracker().getJobIdsForGroup("cc-jobs")) <= 3


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


_RETRY_SCRIPT = """
import json, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from a_share_data_pipeline_spark.operators import graph

marks, edges = sys.argv[1], json.loads(sys.argv[2])
spark = SparkSession.builder.master("local[4,2]").config("spark.ui.enabled", "false").getOrCreate()
e = spark.createDataFrame(edges, "a long, b long")
frame = type(e)  # the session's DataFrame implementation
real = frame.mapInArrow


def flaky(self, fn, schema, *a, **k):
    def fail_first_attempt(it):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            with open(marks, "a") as f:
                f.write("failed\\n")
            raise RuntimeError("injected failure of attempt 0")
        yield from fn(it)

    return real(self, fail_first_attempt, schema, *a, **k)


frame.mapInArrow = flaky
out = {}
for budget in (graph._KERNEL_EDGES, 7):  # one kernel task, then >= 3
    graph._KERNEL_EDGES = budget
    out[budget] = sorted([r.id, r.component] for r in graph.connected_components(e).collect())
print(json.dumps(list(out.values())))
"""


def test_kernel_retry_keeps_labels(tmp_path):
    """On local[4,2] a task may fail once: attempt 0 of the kernel's
    partition 0 raises, the retry relabels it, and the labels still
    equal a union-find replay, on the one-task and the multi-partition
    path alike."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    edges = _random_edges(3) + _chain(30)
    marks = tmp_path / "marks"
    root = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(marks), json.dumps(edges)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    want = _union_find(60, edges)
    seen = {a for e in edges for a in e}
    golden = sorted([v, want[v]] for v in seen)
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [golden, golden]
    assert marks.read_text().count("failed") == 2
