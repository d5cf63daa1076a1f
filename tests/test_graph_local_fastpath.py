"""The r7 scale-adaptive graph fast paths: the single-task numpy
implementations must match the distributed iterative rounds exactly on
random multigraphs (duplicates, self-loops, disconnected nodes, both
directions), and the row probe must route small graphs local."""

import random

import pytest

import tdei_backend_service_spark.operators.graph as G
from tdei_backend_service_spark.core import route


def _canon(df):
    return sorted(map(tuple, df.toPandas().itertuples(index=False)))


def _rand_graph(spark, rng, weighted=True):
    n = rng.randint(3, 120)
    m = rng.randint(1, 300)
    rows = [(rng.randint(0, n), rng.randint(0, n), rng.randint(1, 50))
            for _ in range(m)]
    e = spark.createDataFrame(rows, "orig_node_id long, dest_node_id long, w long")
    seeds = spark.createDataFrame(
        [(rng.randint(0, n),) for _ in range(rng.randint(1, 4))], "node long")
    return e, seeds


@pytest.mark.parametrize("directed", [False, True])
def test_hop_and_network_distance_local_matches(spark, monkeypatch, directed):
    rng = random.Random(21)
    for _ in range(2):
        e, seeds = _rand_graph(spark, rng)
        hops = rng.randint(0, 10)
        for func in (G.hop_distance, G.network_distance):
            monkeypatch.setitem(route.BOUNDS, "graph_edges", 10**9)
            a = _canon(func(e, seeds, hops, directed=directed))
            monkeypatch.setitem(route.BOUNDS, "graph_edges", -1)
            b = _canon(func(e, seeds, hops, directed=directed))
            assert a == b, func.__name__


def test_kcore_local_matches(spark, monkeypatch):
    rng = random.Random(22)
    e, _ = _rand_graph(spark, rng)
    for k in (1, 2, 3):
        monkeypatch.setitem(route.BOUNDS, "graph_edges", 10**9)
        a = _canon(G.kcore(e, k=k))
        monkeypatch.setitem(route.BOUNDS, "graph_edges", -1)
        b = _canon(G.kcore(e, k=k))
        assert a == b


def test_pagerank_local_matches(spark, monkeypatch):
    rng = random.Random(23)
    for n_iter in (0, 3, 5):
        e, _ = _rand_graph(spark, rng)
        monkeypatch.setitem(route.BOUNDS, "graph_edges", 10**9)
        a = _canon(G.pagerank(e, n_iter=n_iter))
        monkeypatch.setitem(route.BOUNDS, "graph_edges", -1)
        b = _canon(G.pagerank(e, n_iter=n_iter))
        assert a == b


@pytest.mark.parametrize("directed", [False, True])
def test_null_seed_matches_on_both_paths(spark, monkeypatch, directed):
    """A NULL seed reaches nothing on either path: the local folds must
    not mint a node for it, and the distributed layer 0 must not carry
    a NULL row."""
    e = spark.createDataFrame([(1, 2, 3), (2, 3, 4), (5, 6, 1)],
                              "orig_node_id long, dest_node_id long, w long")
    seeds = spark.createDataFrame([(1,), (None,)], "node long")
    for func in (G.hop_distance, G.network_distance):
        monkeypatch.setitem(route.BOUNDS, "graph_edges", 10**9)
        a = _canon(func(e, seeds, 5, directed=directed))
        monkeypatch.setitem(route.BOUNDS, "graph_edges", 0)
        b = _canon(func(e, seeds, 5, directed=directed))
        assert a == b, func.__name__
        assert [r[0] for r in a] == [1, 2, 3], func.__name__


def test_bound_zero_routes_empty_graph_distributed(spark, monkeypatch):
    """Bound 0 forces the distributed rounds even when the edge
    relation is empty (count 0 <= bound 0 used to pick the local
    kernels)."""
    def no_kernel(df):
        return "MapInPandas" not in \
            df._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setitem(route.BOUNDS, "graph_edges", 0)
    e = spark.createDataFrame([], "orig_node_id long, dest_node_id long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    hops = G.hop_distance(e, seeds, 3)
    dist = G.network_distance(e, seeds, 3)
    core = G.kcore(e, k=1)
    pr = G.pagerank(e, n_iter=2)
    assert all(map(no_kernel, (hops, dist, core, pr)))
    assert _canon(hops) == [(1, 0)]
    assert _canon(dist) == [(1, 0)]
    assert _canon(core) == []
    assert _canon(pr) == []
