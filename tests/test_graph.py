"""Connected components (operators/graph.py) vs a pure-Python union-find."""

from __future__ import annotations

import random

import pytest

from gridmr_spark.operators.graph import connected_components


def _union_find_components(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    roots: dict[int, int] = {}
    for v in range(n):
        r = find(v)
        roots[r] = min(roots.get(r, v), v)
    return {v: roots[find(v)] for v in range(n)}


def _run(spark, n: int, edges: list[tuple[int, int]]):
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = (
        spark.createDataFrame(edges, "src long, dst long")
        if edges
        else spark.createDataFrame([], "src long, dst long")
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(vertices, e).collect()
    }
    assert got == _union_find_components(n, edges)


def test_cc_random_graph(spark):
    rng = random.Random(7)
    n = 80
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    _run(spark, n, edges)


def test_cc_path_graph_high_diameter(spark):
    # a 30-vertex path: needs ~log rounds of doubling-free propagation;
    # exercises the convergence loop well past one iteration
    _run(spark, 30, [(i, i + 1) for i in range(29)])


def test_cc_isolated_and_self_loops(spark):
    _run(spark, 10, [(0, 0), (3, 4), (4, 3)])


def test_cc_no_edges(spark):
    _run(spark, 5, [])


def test_cc_partition_invariant(spark):
    # same labeling regardless of how the edge list is partitioned
    rng = random.Random(11)
    n = 50
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    results = []
    for parts in (1, 7):
        e = spark.createDataFrame(edges, "src long, dst long").repartition(parts)
        results.append(
            sorted(
                (r["id"], r["component"])
                for r in connected_components(vertices, e).collect()
            )
        )
    assert results[0] == results[1]


def _numpy_pagerank(n, edges, damping=0.85, iters=10):
    import numpy as np

    outdeg = [0] * n
    for s, _ in edges:
        outdeg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = sum(r[v] for v in range(n) if outdeg[v] == 0)
        nxt = np.full(n, (1 - damping) / n + damping * dangling / n)
        for s, d in edges:
            nxt[d] += damping * r[s] / outdeg[s]
        r = nxt
    return r


def test_pagerank_matches_numpy(spark):
    import numpy as np

    from gridmr_spark.operators.graph import pagerank

    rng = random.Random(3)
    n = 40
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(120)})
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(vertices, e).collect()}
    want = _numpy_pagerank(n, edges)
    assert np.allclose([got[i] for i in range(n)], want, atol=1e-12)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_sssp_weighted_dominated_by_bfs_times_maxw(spark, sf_oracle):
    """Structural laws tying the weighted walk to the unweighted one on
    the same graph: every vertex BFS reaches is reached by SSSP (same
    edges, same rounds), seeds cost 0, and hop*1 <= dist_w <= hop*5
    (weights are 1..5)."""
    from gridmr_spark.queries.vector import graph_bfs_distance, graph_sssp_weighted

    bfs = {r.id: r.dist for r in graph_bfs_distance(spark, sf_oracle).collect()}
    sssp = {r.id: r.dist_w for r in graph_sssp_weighted(spark, sf_oracle).collect()}
    assert set(bfs) == set(sssp)
    for vid, hops in bfs.items():
        assert hops <= sssp[vid] <= hops * 5 if hops else sssp[vid] == 0


def test_sssp_weighted_triangle_inequality_on_seeds(spark, sf_oracle):
    """Seeds are distance 0 by definition and every non-seed distance is
    positive — the relaxation can never 'pay' to stay in place."""
    from gridmr_spark.queries.vector import graph_sssp_weighted

    rows = {r.id: r.dist_w for r in graph_sssp_weighted(spark, sf_oracle).collect()}
    for vid, d in rows.items():
        assert (d == 0) == (vid < 5)
