"""Connected components (operators/graph.py) vs a pure-Python union-find."""

from __future__ import annotations

import random
import subprocess
import sys

import pytest

from gridmr_spark.operators import graph
from gridmr_spark.operators.graph import connected_components


def _union_find_components(vertices, edges) -> dict:
    """Reference: min id per component over ``vertices`` and every edge
    endpoint, by pure-Python union-find."""
    parent = {v: v for v in vertices}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    roots: dict = {}
    for v in parent:
        r = find(v)
        roots[r] = min(roots.get(r, v), v)
    return {v: roots[find(v)] for v in parent}


def _cc(spark, vertices, edges, id_type="long") -> dict:
    v = spark.createDataFrame([(i,) for i in vertices], f"id {id_type}")
    e = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    rows = connected_components(v, e).collect()
    got = {r["id"]: r["component"] for r in rows}
    assert len(got) == len(rows)  # one row per vertex
    return got


def _regimes(monkeypatch):
    """Yield each regime's name with ``SMALL_GRAPH_EDGES`` set for it: the
    one-task solver, then the distributed round loop, forced by making no
    graph small enough for one task."""
    for name, limit in (("one_task", graph.SMALL_GRAPH_EDGES), ("distributed", 0)):
        monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", limit)
        yield name


def _run(spark, monkeypatch, n: int, edges: list[tuple[int, int]]):
    want = _union_find_components(range(n), edges)
    for regime in _regimes(monkeypatch):
        assert _cc(spark, range(n), edges) == want, regime


def test_cc_random_graph(spark, monkeypatch):
    rng = random.Random(7)
    n = 80
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    _run(spark, monkeypatch, n, edges)


def test_cc_path_graph_high_diameter(spark, monkeypatch):
    # a 30-vertex path: needs ~log rounds of doubling-free propagation;
    # exercises the convergence loop well past one iteration
    _run(spark, monkeypatch, 30, [(i, i + 1) for i in range(29)])


def test_cc_isolated_and_self_loops(spark, monkeypatch):
    _run(spark, monkeypatch, 10, [(0, 0), (3, 4), (4, 3)])


def test_cc_no_edges(spark, monkeypatch):
    _run(spark, monkeypatch, 5, [])


def _random_graph(seed: int, to_id):
    """Vertices 0..59 minus a few; edges over 0..69, so some endpoints are
    not vertices; plus self-loops and duplicated and reversed edges."""
    rng = random.Random(seed)
    vertices = [to_id(i) for i in range(60) if rng.random() > 0.1]
    edges = [(rng.randrange(70), rng.randrange(70)) for _ in range(40)]
    edges += [(i, i) for i in rng.sample(range(70), 3)]
    edges += rng.sample(edges, 5) + [(b, a) for a, b in rng.sample(edges, 5)]
    return vertices, [(to_id(a), to_id(b)) for a, b in edges]


@pytest.mark.parametrize(
    "id_type, to_id", [("long", int), ("int", int), ("string", str)]
)
def test_cc_regimes_match_union_find(spark, monkeypatch, id_type, to_id):
    # string ids compare as strings ("10" < "9"), in Spark and the reference
    graphs = [_random_graph(seed, to_id) for seed in (1, 2)]
    ids = [to_id(i) for i in range(4)]
    graphs.append((ids, []))
    for vertices, edges in graphs:
        want = _union_find_components(vertices, edges)
        for regime in _regimes(monkeypatch):
            assert _cc(spark, vertices, edges, id_type) == want, regime


def test_cc_null_endpoint_drops_the_edge(spark, monkeypatch):
    """An edge with a null endpoint connects nothing: 1 stays isolated and 4,
    seen only on such an edge, is not a vertex."""
    edges = [(1, None), (None, 2), (2, 3), (4, None)]
    for regime in _regimes(monkeypatch):
        assert _cc(spark, [1, 2, 3], edges) == {1: 1, 2: 2, 3: 2}, regime


def test_cc_max_iter_bounds_both_regimes(spark, monkeypatch):
    """Both regimes run the same rounds: a 30-vertex path settles in exactly
    as many rounds as the one-task solver needs, and one round fewer raises
    instead of returning labels that have not settled."""
    import pandas as pd

    path = [(i, i + 1) for i in range(29)]
    pdf = pd.DataFrame(path, columns=["_s", "_d"])
    rounds = 1
    while True:
        try:
            graph._component_solver(rounds)(pdf)
            break
        except RuntimeError:
            rounds += 1
    assert rounds > 2  # the bound is exercised, not a one-round graph
    v = spark.createDataFrame([(i,) for i in range(30)], "id long")
    e = spark.createDataFrame(path, "src long, dst long")
    for regime in _regimes(monkeypatch):
        got = connected_components(v, e, max_iter=rounds).collect()
        assert {(r["id"], r["component"]) for r in got} == {
            (i, 0) for i in range(30)
        }, regime
        unsettled = f"still changing after {rounds - 1} rounds"
        with pytest.raises(Exception, match=unsettled):
            connected_components(v, e, max_iter=rounds - 1)


def test_cc_solver_unpickles_without_the_package(tmp_path):
    """The one-task solver ships by value: a Python process that cannot
    import this package unpickles and runs it."""
    from pyspark import cloudpickle

    blob = tmp_path / "solver.pkl"
    blob.write_bytes(cloudpickle.dumps(graph._component_solver(25)))
    script = (
        "import pickle, sys\n"
        "import pandas as pd\n"
        "f = pickle.loads(open(sys.argv[1], 'rb').read())\n"
        "out = f(pd.DataFrame({'_s': [3, 1, 7], '_d': [2, 3, 7]}))\n"
        "assert not any(m.startswith('gridmr_spark') for m in sys.modules)\n"
        "print(sorted(zip(out['id'].tolist(), out['component'].tolist())))\n"
    )
    env = {"PATH": "/usr/bin:/bin", "HOME": str(tmp_path)}
    res = subprocess.run(
        [sys.executable, "-c", script, str(blob)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "[(1, 1), (2, 1), (3, 1), (7, 7)]"


def test_cc_partition_invariant(spark, monkeypatch):
    # same labeling regardless of how the edge list is partitioned
    rng = random.Random(11)
    n = 50
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    for regime in _regimes(monkeypatch):
        results = []
        for parts in (1, 7):
            e = spark.createDataFrame(edges, "src long, dst long").repartition(parts)
            results.append(
                sorted(
                    (r["id"], r["component"])
                    for r in connected_components(vertices, e).collect()
                )
            )
        assert results[0] == results[1], regime


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
