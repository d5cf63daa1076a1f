"""core/route: every size-routed site obeys the one bounds table. With
every bound at 0 each of the ten sites takes its distributed (or
no-broadcast) path without a probe job, and the banded-hamming local
route decides and fills its cache with a single count."""

import pytest
from pyspark.sql import functions as F

from tdei_backend_service_spark.core import join as J, route
from tdei_backend_service_spark.datagen import synth_edges_df, synth_zones_df
from tdei_backend_service_spark.exceptions import InputException
from tdei_backend_service_spark.operators import graph as G, trajectory as TR
from tdei_backend_service_spark.pipeline import dedup as D
from tdei_backend_service_spark.streaming import zones as Z


def _no_kernel(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "MapInPandas" not in plan


def _edges(spark):
    return spark.createDataFrame([(1, 2, 3), (2, 3, 4), (3, 1, 2), (5, 6, 1)],
                                 "orig_node_id long, dest_node_id long, w long")


def _seeds(spark):
    return spark.createDataFrame([(1,)], "node long")


def _join_site(spark):
    side = J.GeomSide(df=synth_edges_df(spark, 20), pk="edge_id",
                      kind="line", geom_col="geometry")
    return J._maybe_broadcast_geoms(side) is None


def _text_site(spark):
    docs = spark.createDataFrame([(0, "a quick brown fox jumps"),
                                  (1, "a quick brown fox jumped")],
                                 "doc_id long, text string")
    _, caches, bcast = D._minhash_losers(docs, "text", "doc_id", 0.7, 64, 8,
                                         5, None, None)
    for c in caches:
        c.unpersist()
    return bcast is None


def _zone_site(spark):
    with pytest.raises(InputException, match="broadcast bound"):
        Z.zone_membership_udf(spark, synth_zones_df(spark, 5))
    return True


def _map_match_site(spark):
    pings = spark.createDataFrame([(0.1, 0.1)], "lon double, lat double")
    return TR._cand_arrays_map_only(pings, synth_edges_df(spark, 20), 100.0,
                                    17, "lon", "lat") is None


def _cc_site(spark):
    stats = {}
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "l_rank long, r_rank long")
    assert sorted(G._cc_labels(pairs, stats).collect()) == \
        [(1, 1), (2, 1), (3, 1)]
    return "local" not in stats


def _hash_pairs_site(spark):
    df = spark.createDataFrame([(1, 5), (2, 5), (3, 7)],
                               "image_id long, phash long")
    pairs, cache = D._hash_pairs(df, "phash", "image_id", 3, 64)
    # 5 and 5 share all four bands, 5 and 7 (hamming 1) the upper three
    ok = _no_kernel(pairs) and sorted(pairs.collect()) == \
        [(1, 2)] * 4 + [(1, 3)] * 3 + [(2, 3)] * 3
    cache.unpersist()
    return ok


SITES = {
    "join": _join_site,
    "minhash_texts": _text_site,
    "zones": _zone_site,
    "map_match": _map_match_site,
    "hop_distance":
        lambda s: _no_kernel(G.hop_distance(_edges(s), _seeds(s), 3)),
    "network_distance":
        lambda s: _no_kernel(G.network_distance(_edges(s), _seeds(s), 3)),
    "pagerank": lambda s: _no_kernel(G.pagerank(_edges(s), 2)),
    "kcore": lambda s: _no_kernel(G.kcore(_edges(s), 2)),
    "cc_labels": _cc_site,
    "hash_pairs": _hash_pairs_site,
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_every_bound_zero_takes_distributed_path(spark, monkeypatch, site):
    for k in route.BOUNDS:
        monkeypatch.setitem(route.BOUNDS, k, 0)
    seen = []
    fits, single = route.fits_broadcast, route.single_task

    def spy_fits(*args, **kwargs):
        seen.append(fits(*args, **kwargs))
        return seen[-1]

    def spy_single(*args, **kwargs):
        seen.append(single(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(route, "fits_broadcast", spy_fits)
    monkeypatch.setattr(route, "single_task", spy_single)
    assert SITES[site](spark)
    assert seen and all(r is False or r is None for r in seen)


def test_force_distributed_keeps_zone_limits(monkeypatch):
    for k, v in list(route.BOUNDS.items()):
        monkeypatch.setitem(route.BOUNDS, k, v)
    route.force_distributed()
    assert all(v == 0 for k, v in route.BOUNDS.items()
               if not k.startswith("zone_"))
    assert route.BOUNDS["zone_rows"] > 0 and route.BOUNDS["zone_bytes"] > 0


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_hash_pairs_local_route_runs_one_count(spark, monkeypatch):
    """The local route's only action before its kernel is one exact
    count over the persisted signatures: it decides the route and fills
    the cache. The Spark jobs it launches equal those of persisting and
    counting an equal relation (a bounded probe plus a second count
    launch more)."""
    monkeypatch.setitem(route.BOUNDS, "hash_pairs_rows", 10**9)
    df = spark.createDataFrame([(i, i * 7919) for i in range(200)],
                               "image_id long, phash long")
    (pairs, cache), n = _jobs(spark, "route-hash-pairs",
                              lambda: D._hash_pairs(df, "phash", "image_id",
                                                    3, 64))
    assert not _no_kernel(pairs)
    cache.unpersist()
    ref = df.select("image_id", F.col("phash").alias("_ref")).persist()
    _, n_ref = _jobs(spark, "route-hash-pairs-ref", ref.count)
    ref.unpersist()
    assert n == n_ref
