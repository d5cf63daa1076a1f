"""union_dataset's candidate machinery without Python workers: the
Catalyst grid key and padded cover must equal the numpy grid
(cells.lonlat_to_xy), the plan must hold exactly one inner self-join
and no Python evaluation node, and the survivors must equal a numpy
brute-force min-winner on adversarial inputs."""

import re
from decimal import Decimal, InvalidOperation

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from tdei_backend_service_spark.core import cells
from tdei_backend_service_spark.operators.union_dataset import (
    _grid_key_cover, union_dataset)
from tdei_backend_service_spark.pipeline.curation import split_leak_audit

SCHEMA = ("image_id string, dataset_id string, phash long, caption string,"
          " lon double, lat double")


def _depth(prox, lat0=0.0):
    return int(np.clip(cells.depth_for_radius_m(2.0 * max(prox, 0.5), lat0),
                       1, 23))


def _np_key(lon, lat, depth):
    x, y = cells.lonlat_to_xy(np.asarray(lon), np.asarray(lat), depth)
    return (x << depth) | y


def _np_cover(lon, lat, prox, lat0=0.0):
    depth = _depth(prox, lat0)
    pl = cells.meters_to_deg_lon(prox, lat0)
    pa = cells.meters_to_deg_lat(prox)
    corners = [_np_key(lon + dx, lat + dy, depth)
               for dx in (-pl, pl) for dy in (-pa, pa)]
    return [{int(c[i]) for c in corners} for i in range(len(lon))]


def _check_keys(spark, lon, lat, prox, lat0=0.0):
    lon, lat = np.asarray(lon, float), np.asarray(lat, float)
    cell_of, cover_of = _grid_key_cover(prox, lat0)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got = df.select(cell_of("lon", "lat").alias("c"),
                    cover_of("lon", "lat").alias("v")).toPandas()
    key = _np_key(lon, lat, _depth(prox, lat0))
    cover = _np_cover(lon, lat, prox, lat0)
    assert got["c"].tolist() == key.tolist()
    for i, v in enumerate(got["v"]):
        assert len(v) == len(set(v)) and set(v) == cover[i], (lon[i], lat[i])
        assert key[i] in cover[i]  # the point's own cell is covered


def _edge_points(prox, lat0=0.0):
    """Exact cell boundaries, boundaries one pad away (a corner lands on
    the edge), and the +-180 / +-90 clip edges."""
    depth = _depth(prox, lat0)
    pl = cells.meters_to_deg_lon(prox, lat0)
    pa = cells.meters_to_deg_lat(prox)
    k = np.arange(-3, 4)
    bx = -122.0 - (-122.0 + 180.0) % (360.0 / (1 << depth)) \
        + k * 360.0 / (1 << depth)
    by = 47.0 - (47.0 + 90.0) % (180.0 / (1 << depth)) \
        + k * 180.0 / (1 << depth)
    lon = np.r_[bx, bx - pl, bx + pl, [-180.0, 180.0, -180.0 + pl / 2,
                                       180.0 - pl / 2, 0.0, 179.9999999]]
    lat = np.r_[by, by - pa, by + pa, [-90.0, 90.0, -90.0 + pa / 2,
                                       90.0 - pa / 2, 0.0, -89.9999999]]
    n = min(lon.size, lat.size)
    return np.r_[lon[:n], lon[:n][::-1]], np.r_[lat[:n], lat[:n]]


def test_grid_keys_match_numpy_at_edges(spark):
    # proximities at the invariant's limit: 2*prox exactly one cell's
    # lat extent, so the pad is exactly half a cell
    limits = [cells.cell_lat_m(d) / 2.0 for d in (16, 19, 21)]
    for prox in (0.5, 1.0, 2.0, 37.5, *limits):
        lon, lat = _edge_points(prox)
        _check_keys(spark, lon, lat, prox)
    lon, lat = _edge_points(2.0, 60.0)
    _check_keys(spark, lon, lat, 2.0, lat0=60.0)


_lon = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
_lat = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(_lon, _lat), min_size=1, max_size=40),
       st.sampled_from([0.5, 2.0, 25.0, cells.cell_lat_m(20) / 2.0]),
       st.sampled_from([0.0, 47.6]))
def test_grid_keys_match_numpy_prop(spark, pts, prox, lat0):
    _check_keys(spark, [p[0] for p in pts], [p[1] for p in pts], prox, lat0)


# -- plan shape ---------------------------------------------------------------

_JOIN = re.compile(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                   r"BroadcastNestedLoopJoin|CartesianProduct)")
_TYPE = re.compile(r"\b(Inner|Cross|LeftOuter|RightOuter|FullOuter|"
                   r"LeftSemi|LeftAnti|ExistenceJoin)\b")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _join_types(plan):
    return [_TYPE.search(line).group(1) for line in plan.splitlines()
            if _JOIN.search(line)]


def _frame(spark, rows):
    return spark.createDataFrame(pd.DataFrame(
        rows, columns=["image_id", "dataset_id", "phash", "caption",
                       "lon", "lat"]), schema=SCHEMA)


def test_union_plan_one_self_join_no_python(spark):
    rows = [(f"img-{i}", "ds-a" if i % 2 else "ds-b", i % 3, "c",
             -122.3 + i * 1e-6, 47.6) for i in range(12)]
    df = _frame(spark, rows)
    other = _frame(spark, rows[:5])
    cases = [(df, df, False), (df, other, True)]
    for one, two, has_union in cases:
        plan = _plan(union_dataset(one, "ds-a", two, "ds-b"))
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        types = _join_types(plan)
        assert types.count("Inner") == 1, types
        assert "LeftAnti" not in types, types
        assert ("Union" in plan) == has_union
    # every other caller of the grid keys is Python-free too
    pings = spark.createDataFrame(pd.DataFrame({
        "user_id": [1, 2], "event_id": [1, 2], "lon": [-122.3, -122.3],
        "lat": [47.6, 47.6],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-01"])}))
    from tdei_backend_service_spark.operators.trajectory import co_location
    for out in (co_location(pings, radius_m=5.0),
                split_leak_audit(df.withColumn("split", df.dataset_id))):
        plan = _plan(out)
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


# -- survivors vs a numpy brute force -----------------------------------------

def _rank(pk, ds, one):
    """The engine's rank struct for the pks used here (plain integers
    or text): (dataset, numeric-first, numeric value, text)."""
    try:
        n = Decimal(pk)
    except InvalidOperation:
        n = None
    return (0 if ds == one else 1, 0 if n is not None else 1,
            n if n is not None else Decimal(0), pk)


def _brute_min_winner(rows_one, one, rows_two, two, prox):
    """Survivors (pk, dataset_id) by the documented rule: a row loses
    iff a strictly smaller-ranked row with equal (phash, caption) lies
    within ``prox`` meters — distance computed with the engine's ops."""
    rows = [r for r in rows_one if r[1] == one] + \
        [r for r in rows_two if r[1] == two]
    if one == two:
        rows = list({(r[0], r[1]): r for r in rows}.values())
    rk = [_rank(r[0], r[1], one) for r in rows]
    lon = np.array([np.nan if r[4] is None else r[4] for r in rows])
    lat = np.array([np.nan if r[5] is None else r[5] for r in rows])
    sx, sy = cells.M_PER_DEG_LON_EQ, cells.M_PER_DEG_LAT
    keep = []
    for i, r in enumerate(rows):
        d = np.sqrt(((lon[i] - lon) * sx) ** 2 + ((lat[i] - lat) * sy) ** 2)
        lost = any(rk[j] < rk[i] and rows[j][2] == r[2]
                   and rows[j][3] == r[3] and d[j] <= prox
                   for j in range(len(rows)))
        if not lost:
            keep.append((r[0], r[1]))
    return sorted(keep)


def _edge_pairs(prox):
    """(proximity, [(lat0, lat_at, lat_beyond)]) where lat_at lies at
    EXACTLY the returned proximity north of lat0 under the engine's
    distance ops, and lat_beyond one ulp further. The offset is a
    multiple of the ulp in [32, 64), so lat_at - lat0 is exact for any
    lat0 there; lat0 sits mid-cell, on a cell edge, and straddling one."""
    sy = cells.M_PER_DEG_LAT
    ulp = 2.0 ** -47
    delta = round(prox / sy / ulp) * ulp
    prox = float(delta * sy)
    ext = 180.0 / (1 << _depth(prox))
    edge = -90.0 + np.ceil((47.6 + 90.0) / ext) * ext
    out = []
    for lat0 in (47.6, edge, edge - round(delta / 2 / ulp) * ulp):
        at = lat0 + delta
        beyond = np.nextafter(at, 90.0)
        assert np.sqrt(((lat0 - at) * sy) ** 2) == prox
        assert np.sqrt(((lat0 - beyond) * sy) ** 2) > prox
        out.append((lat0, at, beyond))
    return prox, out


def _adversarial_rows(prox):
    pks = ["9", "10", "007", "7", "abc", "img-1", "-3", "0010", "b", "a"]
    rows = []
    for i, pk in enumerate(pks):  # same spot, same payload: one cluster
        ds = "ds-a" if i % 3 else "ds-b"
        rows.append((pk, ds, 1, "x", -122.3, 47.6))
    prox, pairs = _edge_pairs(prox)
    for i, (lat0, at, beyond) in enumerate(pairs):
        lon = -122.2 - i * 1e-3
        rows += [(f"e{i}", "ds-a", 2, "y", lon, lat0),
                 (f"f{i}", "ds-b", 2, "y", lon, at),       # exactly prox
                 (f"g{i}", "ds-b", 3, "y", lon, lat0),
                 (f"h{i}", "ds-a", 3, "y", lon, beyond)]   # just beyond
    rows.append(("n1", "ds-a", 1, "x", None, 47.6))       # no position
    rows.append(("n1", "ds-b", 1, "x", -122.3, 47.6))     # same pk, ds-b
    rows.append(("far", "ds-b", 1, "x", 10.0, -30.0))
    return prox, rows


def _survivors(df):
    return sorted(map(tuple, df.select("image_id", "dataset_id").collect()))


def test_union_matches_brute_force_min_winner(spark):
    for nominal in (0.5, 2.0):
        prox, rows = _adversarial_rows(nominal)
        df = _frame(spark, rows)
        half = _frame(spark, [r for r in rows if r[1] == "ds-b"])
        cases = [(df, "ds-a", df, "ds-b"), (df, "ds-b", df, "ds-a"),
                 (df, "ds-a", df, "ds-a"),       # a dataset with itself
                 (df, "ds-a", half, "ds-b"),     # two distinct frames
                 (half, "ds-b", df, "ds-a")]
        for one, id_one, two, id_two in cases:
            want = _brute_min_winner(rows, id_one, rows, id_two, prox)
            got = _survivors(union_dataset(one, id_one, two, id_two,
                                           proximity=prox))
            assert got == want, (prox, id_one, id_two)
        # the boundary pairs really sit on the rule's edge
        want = _brute_min_winner(rows, "ds-a", rows, "ds-b", prox)
        for i in range(3):
            assert ("f%d" % i, "ds-b") not in want
            assert ("h%d" % i, "ds-a") in want
