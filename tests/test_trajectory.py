"""Trajectory operators (operators/trajectory.py): map-match hysteresis
semantics, map-only vs distributed candidate-stage parity, exact-integer
trip geometry, OD endpoint selection, and the coverage anti join."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F, types as T

from tdei_backend_service_spark.core import cells, geom, route
from tdei_backend_service_spark.core.schema import EDGES_SCHEMA, ZONES_SCHEMA
from tdei_backend_service_spark.operators.trajectory import (
    coverage_gaps, map_match, od_matrix, trip_geo_stats)


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


_PING_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
])


def _pings(spark, rows):
    return spark.createDataFrame(rows, _PING_SCHEMA)


def _edges(spark, lats, lon0=0.0, lon1=1.0):
    """One horizontal edge per entry of ``lats`` (edge_id = index)."""
    rows = [(k, 2 * k, 2 * k + 1,
             geom.wkb_linestring([(lon0, la), (lon1, la)]),
             {}, "t-edges") for k, la in enumerate(lats)]
    return spark.createDataFrame(rows, EDGES_SCHEMA)


def _rect_zone(spark, zid, x0, y0, x1, y1):
    return (zid, [0, 1, 2, 3],
            geom.wkb_polygon([(x0, y0), (x1, y0), (x1, y1),
                              (x0, y1), (x0, y0)]),
            {}, "t-zones")


# ---------------------------------------------------------------------------
# map_match
# ---------------------------------------------------------------------------

def _mm_rows(spark, rows, edges, **kw):
    out = map_match(_pings(spark, rows), edges, "t-edges", **kw)
    return {r["event_id"]: r for r in out.collect()}


def test_map_match_hysteresis_absorbs_flap(spark):
    # two parallel edges 200 m apart (0.0018095... deg); pings alternate
    # slightly nearer one then the other, always within keep_within of
    # the previous nearest -> matched never flaps off edge 0
    la0, la1 = 47.0, 47.0 + 200.0 / cells.M_PER_DEG_LAT
    edges = _edges(spark, [la0, la1])
    mid = (la0 + la1) / 2
    eps = 5.0 / cells.M_PER_DEG_LAT  # 5 m
    rows = [
        (1, _ts(0), 10, 0.5, la0 + eps),   # nearest 0 (on top of it)
        (1, _ts(1), 11, 0.5, mid + eps),   # nearest 1 by 5 m, prev=0 at ~105 m
        (1, _ts(2), 12, 0.5, mid - eps),   # nearest 0 again
        (1, _ts(3), 13, 0.5, la1),         # ON edge 1; prev nearest=0 at 200 m
    ]
    out = _mm_rows(spark, rows, edges, cutoff_m=500.0, keep_within_m=150.0)
    assert [out[k]["nearest_edge_id"] for k in (10, 11, 12, 13)] == [0, 1, 0, 1]
    # 11 keeps prev nearest 0 (105 m <= 150); 12's prev nearest is 1
    # (95 m <= 150) so it keeps 1; 13's prev nearest 0 is 200 m > 150
    assert [out[k]["matched_edge_id"] for k in (10, 11, 12, 13)] == [0, 0, 1, 1]


def test_map_match_no_candidates_and_cross_user(spark):
    edges = _edges(spark, [47.0])
    far = 47.0 + 5000.0 / cells.M_PER_DEG_LAT
    rows = [
        (1, _ts(0), 1, 0.5, 47.0),
        (1, _ts(1), 2, 0.5, far),        # no edge within cutoff
        (1, _ts(2), 3, 0.5, 47.0),       # prev NEAREST is null -> own nearest
        (2, _ts(0), 4, 0.5, 47.0),       # window is per user
    ]
    out = _mm_rows(spark, rows, edges, cutoff_m=1000.0)
    assert out[2]["nearest_edge_id"] is None
    assert out[2]["matched_edge_id"] is None
    assert out[2]["n_cand"] == 0
    assert out[3]["matched_edge_id"] == 0
    assert out[4]["matched_edge_id"] == 0


def test_map_match_keep_within_must_not_exceed_cutoff(spark):
    edges = _edges(spark, [47.0])
    with pytest.raises(ValueError):
        map_match(_pings(spark, []), edges, "t-edges",
                  cutoff_m=100.0, keep_within_m=200.0)


def test_map_match_distributed_parity(spark, monkeypatch):
    # a 0-row or a 64-byte broadcast bound (the five edges carry 205
    # WKB bytes) rejects the broadcast path; the distributed candidate
    # join must produce identical output
    import tdei_backend_service_spark.operators.trajectory as TR
    lats = [47.0 + k * 0.002 for k in range(5)]
    edges = _edges(spark, lats)
    rows = [(i % 3, _ts(i), i, 0.3 + (i % 7) * 0.05,
             47.0 + ((i * 37) % 100) / 10_000.0) for i in range(60)]
    kw = dict(cutoff_m=400.0, keep_within_m=250.0)
    fast = _mm_rows(spark, rows, edges, **kw)
    probe = TR._cand_arrays_map_only
    for bound in (("geom_rows", 0), ("geom_bytes", 64)):
        took = []

        def spy(*args, **kwargs):
            took.append(probe(*args, **kwargs))
            return took[-1]

        with monkeypatch.context() as m:
            m.setitem(route.BOUNDS, *bound)
            m.setattr(TR, "_cand_arrays_map_only", spy)
            slow = _mm_rows(spark, rows, edges, **kw)
        assert took == [None], bound
        assert fast.keys() == slow.keys()
        for k in fast:
            for c in ("nearest_edge_id", "matched_edge_id", "n_cand"):
                assert fast[k][c] == slow[k][c], (bound, k, c)


# ---------------------------------------------------------------------------
# trip_geo_stats
# ---------------------------------------------------------------------------

def test_trip_geo_stats_exact_integer_length(spark):
    # step length replicated with the exact same float expression; the
    # session boundary contributes no step
    rows = [
        (1, _ts(0), 1, 0.0, 47.0),
        (1, _ts(1), 2, 0.001, 47.0),      # pure dx
        (1, _ts(2), 3, 0.001, 47.002),    # pure dy
        (1, _ts(59, 59), 4, 0.5, 47.5),   # gap > 600 s -> new session
        (2, _ts(0), 5, 0.0, 0.0),
    ]
    out = {(r["user_id"], r["session_seq"]): r
           for r in trip_geo_stats(_pings(spark, rows), gap_s=600).collect()}

    def step(dlon, dlat):
        dx, dy = dlon * 111320.0, dlat * 110540.0
        return math.floor(math.sqrt(dx * dx + dy * dy) * 1000.0)

    s1 = out[(1, 1)]
    assert s1["n_pings"] == 3 and s1["first_ping"] == 1
    assert s1["span_us"] == 120_000_000
    assert s1["len_mm"] == (step(0.001 - 0.0, 0.0)
                            + step(0.001 - 0.001, 47.002 - 47.0))
    assert out[(1, 2)]["len_mm"] == 0 and out[(1, 2)]["n_pings"] == 1
    assert out[(2, 1)]["len_mm"] == 0


def test_trip_geo_stats_single_exchange(spark):
    rows = [(i % 3, _ts(i % 50), i, float(i) / 1000.0, 47.0)
            for i in range(120)]
    plan = trip_geo_stats(_pings(spark, rows))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---------------------------------------------------------------------------
# od_matrix
# ---------------------------------------------------------------------------

def test_od_matrix_endpoints_and_zone_drop(spark):
    # city-scale zones (0.05 deg) so the default cell depth covers them
    zones = spark.createDataFrame(
        [_rect_zone(spark, 0, 0.0, 0.0, 0.05, 0.05),
         _rect_zone(spark, 1, 0.1, 0.0, 0.15, 0.05)], ZONES_SCHEMA)
    rows = [
        # trip A: zone 0 -> zone 1 (middle ping is noise)
        (1, _ts(0), 1, 0.025, 0.025),
        (1, _ts(1), 2, 0.075, 0.025),
        (1, _ts(2), 3, 0.125, 0.025),
        # trip B (new session): stays in zone 1
        (1, _ts(40), 4, 0.105, 0.025), (1, _ts(41), 5, 0.145, 0.025),
        # trip C: destination outside every zone -> dropped
        (2, _ts(0), 6, 0.025, 0.025), (2, _ts(1), 7, 0.9, 0.9),
        # trip D: another 0 -> 1
        (3, _ts(0), 8, 0.005, 0.005), (3, _ts(1), 9, 0.105, 0.045),
    ]
    out = {(r["o_zone"], r["d_zone"]): r["n_trips"]
           for r in od_matrix(_pings(spark, rows), zones, "t-zones",
                              gap_s=600).collect()}
    assert out == {(0, 1): 2, (1, 1): 1}


def test_od_matrix_ts_tie_breaks_by_id(spark):
    # identical timestamps: (ts, event_id) is the total order, so the
    # smallest id is the origin and the largest the destination
    zones = spark.createDataFrame(
        [_rect_zone(spark, 0, 0.0, 0.0, 0.05, 0.05),
         _rect_zone(spark, 1, 0.1, 0.0, 0.15, 0.05)], ZONES_SCHEMA)
    rows = [(1, _ts(0), 5, 0.125, 0.025), (1, _ts(0), 3, 0.025, 0.025)]
    out = od_matrix(_pings(spark, rows), zones, "t-zones").collect()
    assert [(r["o_zone"], r["d_zone"], r["n_trips"]) for r in out] \
        == [(0, 1, 1)]


# ---------------------------------------------------------------------------
# coverage_gaps
# ---------------------------------------------------------------------------

def test_coverage_gaps_anti_join(spark):
    edges = _edges(spark, [47.0])
    near = 47.0 + 100.0 / cells.M_PER_DEG_LAT
    far = 47.0 + 900.0 / cells.M_PER_DEG_LAT
    off_lon = 47.0  # beside the segment's lon span: nearest point is
    # the endpoint (1.0, 47.0), ~110 km away -> a gap
    rows = [(1, _ts(0), 1, 0.5, near), (1, _ts(1), 2, 0.5, far),
            (1, _ts(2), 3, 2.0, off_lon)]
    out = coverage_gaps(_pings(spark, rows), edges, "t-edges",
                        pk="event_id", cutoff_m=300.0)
    assert sorted(r["event_id"] for r in out.collect()) == [2, 3]
    # wider cutoff covers the 900 m point too
    out2 = coverage_gaps(_pings(spark, rows), edges, "t-edges",
                         pk="event_id", cutoff_m=1000.0)
    assert sorted(r["event_id"] for r in out2.collect()) == [3]


# ---------------------------------------------------------------------------
# trip_segments / speed_pixels
# ---------------------------------------------------------------------------

def test_trip_segments_steps_and_session_gap(spark):
    from tdei_backend_service_spark.operators.trajectory import trip_segments
    rows = [
        (1, _ts(0), 1, 0.0, 47.0),
        (1, _ts(1), 2, 0.001, 47.0),
        (1, _ts(2), 3, 0.001, 47.002),
        (1, _ts(59, 59), 4, 0.5, 47.5),   # gap > 600 s -> no step
        (2, _ts(0), 5, 0.0, 0.0),         # lone ping -> no step
    ]
    segs = {r["seg_id"]: r for r in
            trip_segments(_pings(spark, rows), gap_s=600).collect()}
    assert sorted(segs) == [2, 3]
    s2 = segs[2]
    assert (s2["lon0"], s2["lat0"], s2["lon1"], s2["lat1"]) \
        == (0.0, 47.0, 0.001, 47.0)
    assert s2["dt_us"] == 60_000_000 and s2["session_seq"] == 1

    # step sum reconstructs trip_geo_stats len_mm (same rule, same trip)
    def step(dlon, dlat):
        dx, dy = dlon * 111320.0, dlat * 110540.0
        return math.floor(math.sqrt(dx * dx + dy * dy) * 1000.0)

    stats = {(r["user_id"], r["session_seq"]): r["len_mm"] for r in
             trip_geo_stats(_pings(spark, rows), gap_s=600).collect()}
    got = sum(step(r["lon1"] - r["lon0"], r["lat1"] - r["lat0"])
              for r in segs.values())
    assert got == stats[(1, 1)]


def _ref_pix(lon, lat, zp):
    n = 1 << zp
    fx = (lon + 180.0) / 360.0 * n
    fy = (1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n
    return math.floor(fx), math.floor(fy)


def test_speed_pixels_matches_bruteforce(spark):
    from tdei_backend_service_spark.operators.trajectory import speed_pixels
    # pseudo-random walk per user incl. a zero-duration pair (dropped)
    rows = []
    eid = 0
    for u in range(3):
        for i in range(20):
            eid += 1
            lon = ((eid * 2654435761) % 10000) / 1e6
            lat = 47.0 + ((eid * 40503 + 12345) % 10000) / 1e6
            sec = i * 60 + (u * 17) % 30
            if i == 10:
                sec -= 60  # duplicate timestamp with the previous fix
            rows.append((u, _ts(sec // 60, sec % 60), eid, lon, lat))
    zp = 13 + 4
    # python reference: per-user (ts, id) order, same-session steps
    exp: dict[tuple, list] = {}
    by_u: dict[int, list] = {}
    for u, ts, e, lon, lat in rows:
        by_u.setdefault(u, []).append((ts, e, lon, lat))
    for u, fixes in by_u.items():
        fixes.sort()
        for (t0, _, lo0, la0), (t1, e1, lo1, la1) in zip(fixes, fixes[1:]):
            dt = int((t1 - t0).total_seconds() * 1e6)
            if dt <= 0:
                continue
            dx, dy = (lo1 - lo0) * 111320.0, (la1 - la0) * 110540.0
            mm = math.floor(math.sqrt(dx * dx + dy * dy) * 1000.0)
            mmps = math.floor(mm * 1e6 / dt)
            exp.setdefault(_ref_pix(lo1, la1, zp), []).append(mmps)
    out = speed_pixels(_pings(spark, rows), 13, 16, gap_s=21600,
                       speed_div=16).collect()
    assert {(r["gx"], r["gy"]) for r in out} == set(exp)
    for r in out:
        v = exp[(r["gx"], r["gy"])]
        assert r["n_steps"] == len(v) and r["sum_mmps"] == sum(v)
        assert r["n"] == min(255, (sum(v) // len(v)) // 16)
        assert (r["tile_x"], r["tile_y"]) == (r["gx"] // 16, r["gy"] // 16)
        assert (r["px_x"], r["px_y"]) == (r["gx"] % 16, r["gy"] % 16)


def test_speed_pixels_rejects_bad_div(spark):
    from tdei_backend_service_spark.operators.trajectory import speed_pixels
    with pytest.raises(ValueError, match="speed_div"):
        speed_pixels(_pings(spark, []), 13, 16, speed_div=0)


# ---------------------------------------------------------------------------
# stay_points / co_location
# ---------------------------------------------------------------------------

_M_LAT = 110540.0


def _ts_s(sec):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)


def test_stay_points_linked_runs(spark):
    from tdei_backend_service_spark.operators.trajectory import stay_points
    d100 = 100.0 / _M_LAT
    rows = [
        (1, _ts_s(0), 1, 0.0, 47.0),
        (1, _ts_s(3600), 2, 0.0, 47.0 + d100),       # 100 m step
        (1, _ts_s(7200), 3, 0.0, 47.0 + 2 * d100),   # 100 m step (drift!)
        (1, _ts_s(7800), 4, 0.05, 47.0),             # ~3.7 km jump -> break
        (1, _ts_s(8100), 5, 0.05, 47.0 + d100 / 2),  # 5-min run: too short
    ]
    out = stay_points(_pings(spark, rows), radius_m=150.0,
                      min_duration_s=3600).collect()
    assert len(out) == 1
    r = out[0]
    # linked-step rule: total drift 200 m > radius, but every STEP is
    # 100 m <= 150 m, so the three pings are ONE dwell
    assert (r["user_id"], r["n_pings"], r["anchor_id"]) == (1, 3, 1)
    assert r["span_us"] == 7_200_000_000
    assert (r["lon"], r["lat"]) == (0.0, 47.0)
    assert r["start_us"] + r["span_us"] == r["end_us"]


def test_stay_points_max_gap_breaks(spark):
    from tdei_backend_service_spark.operators.trajectory import stay_points
    rows = [(2, _ts_s(0), 6, 0.0, 47.0), (2, _ts_s(3570), 7, 0.0, 47.0)]
    no_gap = stay_points(_pings(spark, rows), radius_m=150.0,
                         min_duration_s=1800).collect()
    assert len(no_gap) == 1 and no_gap[0]["n_pings"] == 2
    gapped = stay_points(_pings(spark, rows), radius_m=150.0,
                         min_duration_s=1800, max_gap_s=1800).collect()
    assert gapped == []  # the 59.5-min silence splits the dwell


def test_co_location_semantics(spark):
    from tdei_backend_service_spark.operators.trajectory import co_location
    d = lambda m: m / _M_LAT  # meters -> degrees latitude
    rows = [
        (1, _ts_s(0), 1, 0.0, 47.0),
        (2, _ts_s(300), 2, 0.0, 47.0 + d(50)),    # pairs with 1 and 5
        (2, _ts_s(1200), 3, 0.0, 47.0 + d(50)),   # dt 1200 s > 600 -> no
        (3, _ts_s(100), 4, 0.0, 47.0 + d(500)),   # 500 m > 100 -> no
        (1, _ts_s(350), 5, 0.0, 47.0 + d(60)),    # same user as 1: skip 1-5
        # bucket-straddling pair: buckets 0 and 1, dt 551 s <= 600
        (5, _ts_s(599), 7, 1.0, 47.0),
        (6, _ts_s(1150), 8, 1.0, 47.0 + d(10)),
    ]
    pings = _pings(spark, rows)
    got = {(r["id_a"], r["id_b"]) for r in
           co_location(pings, radius_m=100.0, window_s=600,
                       pairs=True).collect()}
    assert got == {(1, 2), (5, 2), (7, 8)}
    agg = {(r["user_a"], r["user_b"]): r for r in
           co_location(pings, radius_m=100.0, window_s=600).collect()}
    assert set(agg) == {(1, 2), (5, 6)}
    r12 = agg[(1, 2)]
    base_us = int(_ts_s(0).replace(
        tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert r12["n_encounters"] == 2
    assert r12["first_us"] == base_us
    assert r12["last_us"] == base_us + 350_000_000


def test_co_location_matches_bruteforce(spark):
    """Randomized parity with the O(n^2) definition: users' pings pair
    iff |dt| <= window AND the floored-mm planar distance <= radius —
    the padded cover x bucket-triple candidates must surface every
    true pair exactly once."""
    from tdei_backend_service_spark.operators.trajectory import co_location
    rng = __import__("numpy").random.default_rng(23)
    rows = []
    for i in range(60):
        user = int(rng.integers(0, 6))
        x = float(rng.integers(0, 41)) * 0.5   # 0.5 m grid, <= 20 m
        y = float(rng.integers(0, 41)) * 0.5
        sec = int(rng.integers(0, 2401))
        rows.append((user, _ts_s(sec), i + 1,
                     x / cells.M_PER_DEG_LON_EQ, 47.0 + y / _M_LAT))
    got = {(r["id_a"], r["id_b"]) for r in
           co_location(_pings(spark, rows), radius_m=5.0, window_s=600,
                       pairs=True).collect()}
    want = set()
    for ua, ta, ia, loa, laa in rows:
        for ub, tb, ib, lob, lab in rows:
            if not ua < ub:
                continue
            if abs((ta - tb).total_seconds()) > 600:
                continue
            dx = (lob - loa) * cells.M_PER_DEG_LON_EQ
            dy = (lab - laa) * _M_LAT
            if math.floor(math.sqrt(dx * dx + dy * dy) * 1000.0) <= 5000:
                want.add((ia, ib))
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# edge_usage / co_travelers
# ---------------------------------------------------------------------------

def test_edge_usage_rollup(spark):
    from tdei_backend_service_spark.operators.trajectory import edge_usage
    edges = _edges(spark, [47.0, 47.01])  # two horizontal edges ~1.1km apart
    near0 = 47.0 + 20.0 / _M_LAT
    near1 = 47.01 + 20.0 / _M_LAT
    rows = [
        (1, _ts_s(0), 1, 0.5, near0),
        (1, _ts_s(60), 2, 0.5, near0),
        (2, _ts_s(120), 3, 0.5, near0),
        (2, _ts_s(180), 4, 0.5, near1),
        (3, _ts_s(240), 5, 0.5, 47.5),   # no edge within cutoff -> drops
    ]
    out = {r["edge_id"]: r for r in
           edge_usage(_pings(spark, rows), edges, "t-edges",
                      cutoff_m=300.0, keep_within_m=100.0).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_pings"] == 3 and out[0]["n_users"] == 2
    assert out[0]["last_us"] - out[0]["first_us"] == 120_000_000
    assert out[1]["n_pings"] == 1 and out[1]["n_users"] == 1


def test_co_travelers_jaccard(spark):
    from tdei_backend_service_spark.operators.trajectory import co_travelers
    # zoom-17 tile width ~0.00275 deg; place pings at tile centers
    n = 1 << 17
    cell_lon = lambda i: (i + 0.5) * 360.0 / n - 180.0 + 122.0  # distinct tiles
    rows, eid = [], 0
    # user 1 visits cells 0..3; user 2 visits 2..5 (common {2,3});
    # user 3 visits cell 2 only (below min_common)
    for u, cs in ((1, range(0, 4)), (2, range(2, 6)), (3, [2])):
        for c in cs:
            eid += 1
            rows.append((u, _ts_s(eid), eid, cell_lon(c), 47.0))
            # duplicate ping in the same cell: distinct-set semantics
            eid += 1
            rows.append((u, _ts_s(eid), eid, cell_lon(c), 47.0))
    out = co_travelers(_pings(spark, rows), 17, min_common=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["user_a"], r["user_b"]) == (1, 2)
    assert (r["n_common"], r["n_a"], r["n_b"]) == (2, 4, 4)
    assert r["jaccard_pm"] == 2000 // 6  # floor(1000*2/6) = 333


def test_co_travelers_cell_cap_drops_hub(spark):
    from tdei_backend_service_spark.operators.trajectory import co_travelers
    n = 1 << 17
    cell_lon = lambda i: (i + 0.5) * 360.0 / n - 180.0 + 122.0
    rows, eid = [], 0
    # cells 0 and 1 shared by users 1,2 only; hub cell 9 visited by all
    for u in (1, 2, 3, 4):
        for c in ([0, 1, 9] if u in (1, 2) else [9]):
            eid += 1
            rows.append((u, _ts_s(eid), eid, cell_lon(c), 47.0))
    uncapped = {(r["user_a"], r["user_b"]): r["n_common"] for r in
                co_travelers(_pings(spark, rows), 17,
                             min_common=1).collect()}
    assert uncapped[(1, 2)] == 3 and len(uncapped) == 6  # all pairs via hub
    capped = {(r["user_a"], r["user_b"]): r["n_common"] for r in
              co_travelers(_pings(spark, rows), 17, min_common=1,
                           max_users_per_cell=2).collect()}
    assert capped == {(1, 2): 2}  # hub cell dropped BEFORE pairing


def test_zone_visits_episodes(spark):
    from tdei_backend_service_spark.operators.trajectory import zone_visits
    zones = spark.createDataFrame(
        [_rect_zone(spark, 0, 0.0, 0.0, 0.01, 0.01),
         _rect_zone(spark, 1, 0.005, 0.005, 0.015, 0.015)], ZONES_SCHEMA)
    rows = [
        (1, _ts_s(0), 1, 0.002, 0.002),        # zone 0
        (1, _ts_s(600), 2, 0.0075, 0.0075),    # overlap: zones 0 AND 1
        (1, _ts_s(1200), 3, 0.002, 0.003),     # zone 0
        (1, _ts_s(4800), 4, 0.002, 0.002),     # zone 0, 60-min gap
        (1, _ts_s(5100), 5, 0.012, 0.012),     # zone 1 only
        (2, _ts_s(0), 6, 0.002, 0.002),        # zone 0, other user
        (2, _ts_s(300), 7, 0.03, 0.03),        # outside every zone
    ]
    out = zone_visits(_pings(spark, rows), zones, "t-zones",
                      max_gap_s=1800)
    eps = {(r["user_id"], r["zone_id"], r["visit_seq"]): r
           for r in out.collect()}
    assert len(eps) == 5
    v = eps[(1, 0, 1)]  # first zone-0 visit: pings 1..3
    assert v["n_pings"] == 3
    assert v["span_us"] == 1_200_000_000
    assert v["exit_us"] - v["enter_us"] == v["span_us"]
    assert eps[(1, 0, 2)]["n_pings"] == 1  # after the 60-min gap
    # the overlap ping opens an independent zone-1 episode stream
    assert eps[(1, 1, 1)]["n_pings"] == 1
    assert eps[(1, 1, 1)]["enter_us"] - v["enter_us"] == 600_000_000
    assert eps[(1, 1, 2)]["n_pings"] == 1  # 75-min silence splits zone 1
    assert eps[(2, 0, 1)]["n_pings"] == 1


# ---------------------------------------------------------------------------
# cos(lat) local metric across the trajectory tier
# ---------------------------------------------------------------------------

def test_trajectory_metric_lat_flips(spark, monkeypatch):
    """metric_lat on the meter-denominated trajectory ops. Fixtures use
    purely-longitudinal displacements at 60N (cos = 0.5 exactly up to
    fp), so every local distance is exactly half the equator reading:
    * map_match / coverage_gaps: a vertical edge 900 m-equator east of
      the pings (450 m local) against a 600 m cutoff — nearest under
      the local metric on BOTH candidate paths, a gap at the equator.
    * trip_geo_stats / speed_pixels: len_mm and speed halve exactly.
    * stay_points / co_location: a 180 m-equator lon step (90 m local)
      against a 100 m radius — one dwell/encounter locally, none at
      the equator."""
    import numpy as np
    from tdei_backend_service_spark.operators.trajectory import (
        co_location, speed_pixels, stay_points)

    lat = 60.0
    coslat = float(np.cos(np.radians(lat)))
    dx900 = 900.0 / cells.M_PER_DEG_LON_EQ
    vedge = spark.createDataFrame(
        [(0, 0, 1, geom.wkb_linestring([(0.1 + dx900, lat - 0.01),
                                        (0.1 + dx900, lat + 0.01)]),
          {}, "t-edges")], EDGES_SCHEMA)
    rows = [(1, _ts(0), 10, 0.1, lat), (1, _ts(1), 11, 0.1, lat)]

    for patched in (False, True):
        if patched:
            monkeypatch.setitem(route.BOUNDS, "geom_rows", 0)
        eq = _mm_rows(spark, rows, vedge, cutoff_m=600.0)
        lc = _mm_rows(spark, rows, vedge, cutoff_m=600.0, metric_lat=lat)
        assert eq[10]["nearest_edge_id"] is None
        assert lc[10]["nearest_edge_id"] == 0 and lc[10]["n_cand"] == 1
        gaps_eq = coverage_gaps(_pings(spark, rows), vedge, "t-edges",
                                pk="event_id", cutoff_m=600.0).count()
        gaps_lc = coverage_gaps(_pings(spark, rows), vedge, "t-edges",
                                pk="event_id", cutoff_m=600.0,
                                metric_lat=lat).count()
        assert (gaps_eq, gaps_lc) == (2, 0)
        monkeypatch.undo()

    # trip length: one 900 m-equator lon step
    walk = [(2, _ts(0), 20, 0.1, lat), (2, _ts(1), 21, 0.1 + dx900, lat)]
    eq_len = trip_geo_stats(_pings(spark, walk)).collect()[0]["len_mm"]
    lc_len = trip_geo_stats(_pings(spark, walk),
                            metric_lat=lat).collect()[0]["len_mm"]
    assert eq_len == math.floor(900.0 * 1000 / 1e-0) // 1  # 900 m in mm
    assert lc_len == math.floor(900.0 * coslat * 1000)
    sp_eq = speed_pixels(_pings(spark, walk), 15, 256).collect()[0]
    sp_lc = speed_pixels(_pings(spark, walk), 15, 256,
                         metric_lat=lat).collect()[0]
    assert sp_eq["sum_mmps"] == eq_len * 1_000_000 // (60 * 1_000_000)
    assert sp_lc["sum_mmps"] == lc_len * 1_000_000 // (60 * 1_000_000)

    # dwell + encounter radius flips: 180 m equator / 90 m local
    dx180 = 180.0 / cells.M_PER_DEG_LON_EQ
    drift = [(3, _ts(0), 30, 0.2, lat), (3, _ts(10), 31, 0.2 + dx180, lat)]
    assert stay_points(_pings(spark, drift), radius_m=100.0,
                       min_duration_s=300).count() == 0
    st = stay_points(_pings(spark, drift), radius_m=100.0,
                     min_duration_s=300, metric_lat=lat).collect()
    assert len(st) == 1 and st[0]["n_pings"] == 2
    pair = [(4, _ts(0), 40, 0.3, lat), (5, _ts(1), 41, 0.3 + dx180, lat)]
    assert co_location(_pings(spark, pair), radius_m=100.0,
                       window_s=600).count() == 0
    enc = co_location(_pings(spark, pair), radius_m=100.0, window_s=600,
                      metric_lat=lat).collect()
    assert len(enc) == 1 and enc[0]["n_encounters"] == 1
