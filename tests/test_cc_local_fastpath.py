"""The r7 scale-adaptive CC collapse: the single-task union-find fast
path must be bit-identical to the distributed min-label rounds on the
same pair graph, for both long node ids and struct sort keys, and the
row-probe must route small graphs local / large graphs distributed."""

import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

import tdei_backend_service_spark.operators.graph as G
from tdei_backend_service_spark.core import route

STRUCT = "struct<ds:int,t:int,n:decimal(38,0),s:string>"


def _canon(df):
    return sorted(map(str, df.toPandas().itertuples(index=False)))


def _both_paths(pairs, monkeypatch):
    monkeypatch.setitem(route.BOUNDS, "cc_edges", 10**9)
    local_stats = {}
    local = _canon(G._cc_labels(pairs, local_stats))
    monkeypatch.setitem(route.BOUNDS, "cc_edges", -1)
    dist_stats = {}
    dist = _canon(G._cc_labels(pairs, dist_stats))
    assert local_stats.get("local") is True
    assert "local" not in dist_stats
    return local, dist


def test_local_matches_distributed_long_ids(spark, monkeypatch):
    rng = random.Random(11)
    for _ in range(3):
        n, m = rng.randint(2, 200), rng.randint(1, 500)
        rows = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)]
        pairs = spark.createDataFrame(rows, "l_rank long, r_rank long")
        local, dist = _both_paths(pairs, monkeypatch)
        assert local == dist


def test_local_matches_distributed_struct_ranks(spark, monkeypatch):
    rng = random.Random(12)
    rows = []
    for _ in range(120):
        def mk():
            k = rng.randint(0, 40)
            return (rng.randint(0, 1), rng.randint(0, 1), Decimal(k), str(k))
        rows.append((mk(), mk()))
    pairs = spark.createDataFrame(rows, f"l_rank {STRUCT}, r_rank {STRUCT}")
    local, dist = _both_paths(pairs, monkeypatch)
    assert local == dist


def test_local_path_chain_min_label(spark, monkeypatch):
    # a 0-1-2-...-49 chain must collapse to label 0 everywhere
    monkeypatch.setitem(route.BOUNDS, "cc_edges", 10**9)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(49)],
                                  "l_rank long, r_rank long")
    out = G._cc_labels(pairs).toPandas()
    assert len(out) == 50
    assert set(out["label"]) == {0}


def test_empty_pairs_both_paths(spark, monkeypatch):
    empty = spark.createDataFrame([], "l_rank long, r_rank long")
    local, dist = _both_paths(empty, monkeypatch)
    assert local == dist == []


def test_bound_zero_routes_empty_pairs_distributed(spark, monkeypatch):
    # bound 0 forces the distributed rounds, even for an empty graph
    monkeypatch.setitem(route.BOUNDS, "cc_edges", 0)
    empty = spark.createDataFrame([], "l_rank long, r_rank long")
    stats = {}
    assert _canon(G._cc_labels(empty, stats)) == []
    assert "local" not in stats
