import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tdei_backend_service_spark.core import geom
from tdei_backend_service_spark.core.compiler import InputException
from tdei_backend_service_spark.core.schema import EDGES_SCHEMA, IMAGES_SCHEMA
from tdei_backend_service_spark.operators.spatial_join import spatial_join

M_LAT = geom.M_PER_DEG_LAT

# three horizontal edges at lat 47.65/47.66/47.67, lon -122.33..-122.31
EDGE_LATS = [47.65, 47.66, 47.67]
LON0, LON1 = -122.33, -122.31


def _edges_pdf():
    rows = []
    for i, la in enumerate(EDGE_LATS):
        rows.append({
            "edge_id": i, "orig_node_id": 2 * i, "dest_node_id": 2 * i + 1,
            "geometry": geom.wkb_linestring([(LON0, la), (LON1, la)]),
            "props": {"highway": "footway"},
            "dataset_id": "ds-target",
        })
    return pd.DataFrame(rows)


def _images_pdf():
    """Images at exact perpendicular offsets (1 m / 3 m / 10 m) north of
    each edge's midpoint (FIXTURES.md T4 spatial-join fixture). Edge 2
    gets no nearby images (left-join passthrough check)."""
    rows = []
    mid = (LON0 + LON1) / 2
    k = 0
    for i, la in enumerate(EDGE_LATS[:2]):
        for off_m, hw in [(1.0, "street_lamp"), (3.0, "street_lamp"), (10.0, "bench")]:
            rows.append({
                "image_id": f"img-{k:04d}", "bytes": None, "w": 8, "h": 8,
                "fmt": "png", "caption": f"cap {k}", "phash": k,
                "lon": mid + i * 1e-4, "lat": la + off_m / M_LAT,
                "props": {"highway": hw, "ada_compliant": "true"},
                "dataset_id": "ds-source",
            })
            k += 1
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def tables(spark):
    edges = spark.createDataFrame(_edges_pdf(), schema=EDGES_SCHEMA).cache()
    images = spark.createDataFrame(_images_pdf(), schema=IMAGES_SCHEMA).cache()
    return edges, images


BUF2 = "ST_Intersects(ST_Buffer(geometry_target, 2), geometry_source)"
BUF5 = "ST_Intersects(ST_Buffer(geometry_target, 5), geometry_source)"


def _run(edges, images, cond, aggs, **kw):
    out = spatial_join(edges, "edge", "ds-target", images, "point", "ds-source",
                       cond, aggs, **kw)
    return {r["edge_id"]: r["props"] for r in out.collect()}


def test_buffer2_only_1m_matches(tables):
    edges, images = tables
    props = _run(edges, images, BUF2, ["ARRAY_AGG(image_id) as imgs"])
    assert len(props) == 3  # one row per target feature (O2e)
    assert json.loads(props[0]["ext:imgs"]) == ["img-0000"]
    assert json.loads(props[1]["ext:imgs"]) == ["img-0003"]
    # zero-match target passes through untouched (O2d invariant)
    assert props[2] == {"highway": "footway"}


def test_buffer5_includes_3m(tables):
    edges, images = tables
    props = _run(edges, images, BUF5, ["ARRAY_AGG(image_id) as imgs"])
    assert sorted(json.loads(props[0]["ext:imgs"])) == ["img-0000", "img-0001"]
    assert sorted(json.loads(props[1]["ext:imgs"])) == ["img-0003", "img-0004"]
    assert "ext:imgs" not in props[2]


def test_source_filter_in_on_clause(tables):
    # filter restricts matches, not target rows (interfaces.ts:318-323);
    # example filter from spatial-query.test.ts:136-137
    edges, images = tables
    props = _run(edges, images, BUF5, ["ARRAY_AGG(image_id) as lamps"],
                 join_filter_source="highway = 'street_lamp'")
    assert len(props) == 3
    assert sorted(json.loads(props[0]["ext:lamps"])) == ["img-0000", "img-0001"]


def test_target_filter_keeps_all_targets(tables):
    edges, images = tables
    props = _run(edges, images, BUF5, ["count(image_id) as n"],
                 join_filter_target="highway = 'residential'")
    # no edge is residential -> no matches anywhere, but all 3 rows remain
    assert len(props) == 3
    assert all(p.get("ext:n") == "0" for p in props.values())


def test_count_zero_for_unmatched(tables):
    edges, images = tables
    props = _run(edges, images, BUF2, ["count(image_id) as n"])
    assert props[0]["ext:n"] == "1"
    assert props[2]["ext:n"] == "0"  # COUNT over null-padded row is 0, grafted


def test_multiple_aggregates(tables):
    edges, images = tables
    props = _run(edges, images, BUF5,
                 ["ARRAY_AGG(image_id) as imgs", "count(*) as n",
                  "min(caption) as first_cap"])
    assert props[0]["ext:n"] == "2"
    assert props[0]["ext:first_cap"] == "cap 0"
    assert "ext:imgs" in props[0]


def test_no_aggregates_passthrough(tables):
    edges, images = tables
    out = spatial_join(edges, "edge", "ds-target", images, "point", "ds-source",
                       BUF2, [])
    assert out.count() == 3
    assert out.columns == edges.columns


def test_invalid_dimension_errors(tables):
    edges, images = tables
    with pytest.raises(InputException):
        spatial_join(edges, "nope", "ds-target", images, "point", "ds-source", BUF2, [])
    with pytest.raises(InputException):
        # point is source-only (interfaces.ts:189-207)
        spatial_join(images, "point", "ds-source", edges, "line", "ds-target", BUF2, [])


def test_angle_predicate_cross_join(spark):
    # target: horizontal edges; source: one parallel, one perpendicular
    t = spark.createDataFrame(_edges_pdf(), schema=EDGES_SCHEMA)
    rows = [
        {"edge_id": 100, "orig_node_id": 0, "dest_node_id": 1,
         "geometry": geom.wkb_linestring([(LON0, 47.9), (LON1, 47.9)]),  # parallel
         "props": {"highway": "residential"}, "dataset_id": "ds-source"},
        {"edge_id": 101, "orig_node_id": 2, "dest_node_id": 3,
         "geometry": geom.wkb_linestring([(LON0, 47.9), (LON0, 47.99)]),  # perpendicular
         "props": {"highway": "residential"}, "dataset_id": "ds-source"},
    ]
    s = spark.createDataFrame(pd.DataFrame(rows), schema=EDGES_SCHEMA)
    out = spatial_join(t, "edge", "ds-target", s, "line", "ds-source",
                       "degrees(ST_Angle(geometry_target, geometry_source)) < 30",
                       ["ARRAY_AGG(_id) as near_edges"])
    props = {r["edge_id"]: r["props"] for r in out.collect()}
    # every target matches ONLY the parallel source edge, despite distance
    for i in range(3):
        assert json.loads(props[i]["ext:near_edges"]) == [100]


def test_virtual_columns_u_v(tables):
    edges, images = tables
    out = spatial_join(images.withColumnRenamed("dataset_id", "dsid")
                       .withColumn("dataset_id", F.lit("ds-x")).drop("dsid"),
                       "node", "ds-x",
                       edges.withColumn("dataset_id", F.lit("ds-y")),
                       "line", "ds-y", BUF5,
                       ["ARRAY_AGG(_u_id) as us", "ARRAY_AGG(_v_id) as vs"])
    props = {r["image_id"]: r["props"] for r in out.collect()}
    # img-0000 is 1 m from edge 0 -> orig/dest node ids 0/1
    assert json.loads(props["img-0000"]["ext:us"]) == [0]
    assert json.loads(props["img-0000"]["ext:vs"]) == [1]


def test_reference_exact_fixture_strings(spark, tables):
    """The reference's exact test parameters (spatial-query.test.ts:7-24,
    129-151) parse and execute end-to-end: combined buffer+angle
    condition with odd whitespace, ext:-prefixed and plain props
    aggregates, and both join filters."""
    edges, images = tables
    # fixture 1: edge x edge, buffer 2 AND angle < 30, whitespace inside
    # degrees( ST_Angle( ... ) ) exactly as the reference writes it
    out = spatial_join(
        edges, "edge", "ds-target", edges, "line", "ds-target",
        "ST_Intersects(ST_Buffer(geometry_target, 2), geometry_source) "
        "and degrees( ST_Angle(geometry_target, geometry_source) ) < 30 ",
        ["ARRAY_AGG(_id) as SDOT_curb_ramp_id",
         "ARRAY_AGG(_u_id) as source_id",
         "ARRAY_AGG(_v_id) as dest_id"])
    rows = {r.edge_id: r.props for r in out.collect()}
    # each edge matches itself (distance 0, angle 0): self-pair included
    assert json.loads(rows[0]["ext:SDOT_curb_ramp_id"]) == [0]
    assert json.loads(rows[0]["ext:source_id"]) == [0]
    assert json.loads(rows[0]["ext:dest_id"]) == [1]

    # fixture 2: edge x point with both filters (spatial-query.test.ts:129-151)
    out2 = spatial_join(
        edges, "edge", "ds-target", images, "point", "ds-source",
        "ST_Intersects(ST_Buffer(geometry_target, 5), geometry_source)",
        ["ARRAY_AGG(highway) as lamps",
         "ARRAY_AGG(ext:ada_compliant) as ada"],
        join_filter_target="highway='footway'",
        join_filter_source="highway='street_lamp'")
    props = {r.edge_id: r.props for r in out2.collect()}
    assert len(props) == 3
    assert json.loads(props[0]["ext:lamps"]) == ["street_lamp", "street_lamp"]
    assert json.loads(props[0]["ext:ada"]) == ["true", "true"]


def test_point_target_direction_bruteforce(spark):
    """node-target x line-source (the swapped-pad path: the point table is
    never exploded; the geometry side carries the pad) == brute force."""
    rng = np.random.default_rng(77)
    n_img, n_edge = 150, 12
    img = pd.DataFrame({
        "image_id": [f"i{k}" for k in range(n_img)],
        "bytes": None, "w": 8, "h": 8, "fmt": "png", "caption": "",
        "phash": 0,
        "lon": rng.uniform(-122.35, -122.25, n_img),
        "lat": rng.uniform(47.6, 47.7, n_img),
        "props": [{} for _ in range(n_img)], "dataset_id": "P",
    })
    eg = []
    for e in range(n_edge):
        x0, y0 = rng.uniform(-122.35, -122.25), rng.uniform(47.6, 47.7)
        eg.append({"edge_id": e, "orig_node_id": 0, "dest_node_id": 1,
                   "geometry": geom.wkb_linestring(
                       [(x0, y0), (x0 + rng.uniform(-0.01, 0.01),
                                   y0 + rng.uniform(-0.01, 0.01))]),
                   "props": {}, "dataset_id": "E"})
    images = spark.createDataFrame(img, schema=IMAGES_SCHEMA)
    edges = spark.createDataFrame(pd.DataFrame(eg), schema=EDGES_SCHEMA)
    R = 200.0
    out = spatial_join(images, "node", "P", edges, "line", "E",
                       f"ST_DWithin(geometry_target, geometry_source, {R})",
                       ["ARRAY_AGG(_id) as es"])
    got = {r["image_id"]: sorted(json.loads(r["props"].get("ext:es", "[]")))
           for r in out.collect()}
    g = geom.parse_wkb_batch([e["geometry"] for e in eg])
    lon = img.lon.to_numpy()
    lat = img.lat.to_numpy()
    for k in range(n_img):
        d = geom.point_polyline_dist(np.full(n_edge, lon[k]),
                                     np.full(n_edge, lat[k]),
                                     np.arange(n_edge, dtype=np.int64), g)
        exp = sorted(int(e) for e in np.flatnonzero(d <= R + 1e-9))
        assert got[f"i{k}"] == exp


def test_zone_target_pip_join(spark):
    """Polygon target x point source with unbuffered ST_Intersects ->
    point-in-polygon semantics (interior counts, distance-0 boundary)."""
    from tdei_backend_service_spark.core.schema import ZONES_SCHEMA
    from tdei_backend_service_spark.datagen import synth_zones_pandas

    zones = spark.createDataFrame(synth_zones_pandas(9, dataset_id="ds-z"),
                                  schema=ZONES_SCHEMA)
    # points: center of zone 0, center of zone 4, far outside all zones
    zp = synth_zones_pandas(9)
    g = geom.parse_wkb_batch(zp.geometry)
    centers = []
    for i in (0, 4):
        c = g.coords[g.offsets[i]:g.offsets[i + 1]][:4]
        centers.append(c.mean(axis=0))
    rows = [
        {"image_id": "in-z0", "bytes": None, "w": 1, "h": 1, "fmt": "png",
         "caption": "", "phash": 0, "lon": centers[0][0], "lat": centers[0][1],
         "props": {}, "dataset_id": "ds-p"},
        {"image_id": "in-z4", "bytes": None, "w": 1, "h": 1, "fmt": "png",
         "caption": "", "phash": 1, "lon": centers[1][0], "lat": centers[1][1],
         "props": {}, "dataset_id": "ds-p"},
        {"image_id": "outside", "bytes": None, "w": 1, "h": 1, "fmt": "png",
         "caption": "", "phash": 2, "lon": -100.0, "lat": 10.0,
         "props": {}, "dataset_id": "ds-p"},
    ]
    pts = spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)
    out = spatial_join(zones, "zone", "ds-z", pts, "point", "ds-p",
                       "ST_Intersects(geometry_target, geometry_source)",
                       ["ARRAY_AGG(image_id) as imgs"])
    props = {r["zone_id"]: r["props"] for r in out.collect()}
    assert len(props) == 9
    assert "in-z0" in json.loads(props[0].get("ext:imgs", "[]"))
    assert "in-z4" in json.loads(props[4].get("ext:imgs", "[]"))
    all_imgs = [i for p in props.values()
                for i in json.loads(p.get("ext:imgs", "[]"))]
    assert "outside" not in all_imgs


def test_property_random_vs_bruteforce(spark):
    """Randomized parity: two-phase join == brute-force O(n^2) refine."""
    rng = np.random.default_rng(123)
    n_img, n_edge = 300, 25
    lon = rng.uniform(-122.35, -122.25, n_img)
    lat = rng.uniform(47.6, 47.7, n_img)
    img = pd.DataFrame({
        "image_id": [f"i{k}" for k in range(n_img)],
        "bytes": None, "w": 8, "h": 8, "fmt": "png",
        "caption": "", "phash": 0, "lon": lon, "lat": lat,
        "props": [{} for _ in range(n_img)], "dataset_id": "A",
    })
    eg = []
    for e in range(n_edge):
        x0 = rng.uniform(-122.35, -122.25)
        y0 = rng.uniform(47.6, 47.7)
        pts = [(x0, y0)]
        for _ in range(rng.integers(1, 4)):
            pts.append((pts[-1][0] + rng.uniform(-0.005, 0.005),
                        pts[-1][1] + rng.uniform(-0.005, 0.005)))
        eg.append({"edge_id": e, "orig_node_id": 0, "dest_node_id": 1,
                   "geometry": geom.wkb_linestring(pts), "props": {},
                   "dataset_id": "B"})
    edges = spark.createDataFrame(pd.DataFrame(eg), schema=EDGES_SCHEMA)
    images = spark.createDataFrame(img, schema=IMAGES_SCHEMA)

    R = 150.0
    out = spatial_join(edges, "edge", "B", images, "point", "A",
                       f"ST_DWithin(geometry_target, geometry_source, {R})",
                       ["ARRAY_AGG(image_id) as imgs"])
    got = {r["edge_id"]: sorted(json.loads(r["props"].get("ext:imgs", "[]")))
           for r in out.collect()}

    # brute force
    g = geom.parse_wkb_batch([e["geometry"] for e in eg])
    exp: dict[int, list[str]] = {e: [] for e in range(n_edge)}
    for e in range(n_edge):
        d = geom.point_polyline_dist(lon, lat, np.full(n_img, e, dtype=np.int64), g)
        exp[e] = sorted(f"i{k}" for k in np.flatnonzero(d <= R + 1e-9))
    assert got == exp


def test_broadcast_geoms_byte_bounded(spark, monkeypatch):
    # fat WKB rows: the row cap passes but the byte estimate must refuse
    # the driver-side collect
    from tdei_backend_service_spark.core import join as J, route
    from tdei_backend_service_spark.datagen import synth_edges_df
    edges = synth_edges_df(spark, 50)
    side = J.GeomSide(df=edges, pk="edge_id", kind="line", geom_col="geometry")
    assert J._maybe_broadcast_geoms(side) is not None
    monkeypatch.setitem(route.BOUNDS, "geom_bytes", 100)
    assert J._maybe_broadcast_geoms(side) is None


def _naive_cover_index(g, box, depth, pad_deg):
    """The pre-r3 per-geometry driver loop, kept as the parity reference
    for build_cover_index."""
    from tdei_backend_service_spark.core import cells
    cell_lists: dict[int, list[int]] = {}
    npts = g.n_points()
    for i in range(len(g)):
        if npts[i] == 0:
            continue
        if g.kinds[i] == geom.WKB_POLYGON or npts[i] == 1:
            cs = cells.cover_bbox(box[i, 0] - pad_deg, box[i, 1] - pad_deg,
                                  box[i, 2] + pad_deg, box[i, 3] + pad_deg,
                                  depth)
        else:
            c = g.coords[g.offsets[i]:g.offsets[i + 1]]
            _, cs = cells.cover_segments(c[:-1, 0], c[:-1, 1],
                                         c[1:, 0], c[1:, 1], depth, pad_deg)
            cs = np.unique(cs)
        for v in cs:
            cell_lists.setdefault(int(v), []).append(i)
    return {k: sorted(v) for k, v in cell_lists.items()}


def test_build_cover_index_parity_and_gate():
    """Vectorized cover index == the old per-geometry loop on a random
    mix of points, multi-segment lines, and polygons; the entry gate
    estimates before materializing and declines oversized covers."""
    from tdei_backend_service_spark.core import join as J
    rng = np.random.default_rng(11)
    wkbs = []
    for i in range(200):
        x = -122.33 + rng.random() * 0.02
        y = 47.64 + rng.random() * 0.02
        kind = i % 3
        if kind == 0:  # single point as a 1-vertex line (bbox cover path)
            wkbs.append(geom.wkb_linestring([(x, y), (x, y)]))
        elif kind == 1:  # multi-segment polyline
            pts = [(x + rng.random() * 2e-3, y + rng.random() * 2e-3)
                   for _ in range(rng.integers(2, 6))]
            wkbs.append(geom.wkb_linestring(pts))
        else:  # polygon
            w, h = rng.random() * 1e-3, rng.random() * 1e-3
            wkbs.append(geom.wkb_polygon(
                [(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)]))
    g = geom.parse_wkb_batch(wkbs)
    box = geom.geom_bbox(g)
    for depth, pad in ((16, 0.0), (17, 5e-4), (14, 2e-3)):
        got = J.build_cover_index(g, box, depth, pad)
        assert got is not None
        got_sorted = {k: sorted(int(v) for v in arr)
                      for k, arr in got.to_dict().items()}
        assert got_sorted == _naive_cover_index(g, box, depth, pad)
        # vectorized probe parity: each cell returns exactly its group
        pt, gi = got.probe(got.cells)
        probe_view = {int(got.cells[p]): [] for p in pt}
        for p, gidx in zip(pt, gi):
            probe_view[int(got.cells[p])].append(int(gidx))
        assert {k: sorted(v) for k, v in probe_view.items()} == got_sorted
        # misses return no candidates
        miss = np.array([-1, 2**62], dtype=np.int64)
        mp, mg = got.probe(miss)
        assert mp.size == 0 and mg.size == 0
    # the gate: a tiny cap must decline without materializing
    assert J.build_cover_index(g, box, 17, 5e-4, max_entries=10) is None


def test_fused_probe_matches_join_path(spark, monkeypatch):
    """Differential (ADVICE r2 low #3): the fused zero-shuffle point
    probe must equal the two-phase join path row-for-row on a randomized
    fixture with polygon AND line targets plus carried source columns."""
    from tdei_backend_service_spark.core import route
    from tdei_backend_service_spark.datagen import (synth_edges_df,
                                                    synth_images_df,
                                                    synth_zones_df)
    imgs = synth_images_df(spark, 1200, with_bytes=False, dataset_id="ds-a")
    aggs = ["count(*) as n", "ARRAY_AGG(_id) as ids"]

    for targets, dim, dsid in ((synth_edges_df(spark, 50, dataset_id="ds-e"),
                                "edge", "ds-e"),
                               (synth_zones_df(spark, 25, dataset_id="ds-z"),
                                "zone", "ds-z")):
        pred = "ST_DWithin(geometry_target, geometry_source, 150)"
        fused = spatial_join(targets, dim, dsid, imgs, "point", "ds-a",
                             pred, aggs).collect()
        monkeypatch.setitem(route.BOUNDS, "geom_rows", 0)
        joined = spatial_join(targets, dim, dsid, imgs, "point", "ds-a",
                              pred, aggs).collect()
        monkeypatch.undo()
        pk = "edge_id" if dim == "edge" else "zone_id"
        fa = {r[pk]: (r["props"].get("ext:n"),
                      sorted(json.loads(r["props"].get("ext:ids", "[]"))))
              for r in fused}
        jb = {r[pk]: (r["props"].get("ext:n"),
                      sorted(json.loads(r["props"].get("ext:ids", "[]"))))
              for r in joined}
        assert fa == jb and len(fa) > 0
        assert any(v[0] is not None for v in fa.values())  # non-trivial


def test_fused_probe_cover_gate_falls_back(spark, monkeypatch):
    """When the cover-entry gate declines, two_phase_join silently runs
    the distributed path and the answer is unchanged."""
    from tdei_backend_service_spark.core import join as J
    from tdei_backend_service_spark.datagen import synth_edges_df, synth_images_df
    imgs = synth_images_df(spark, 400, with_bytes=False, dataset_id="ds-a")
    edges = synth_edges_df(spark, 30, dataset_id="ds-e")
    pred = "ST_DWithin(geometry_target, geometry_source, 100)"
    base = spatial_join(edges, "edge", "ds-e", imgs, "point", "ds-a",
                        pred, ["count(*) as n"]).collect()
    monkeypatch.setattr(J, "COVER_INDEX_MAX_ENTRIES", 0)
    gated = spatial_join(edges, "edge", "ds-e", imgs, "point", "ds-a",
                         pred, ["count(*) as n"]).collect()
    key = lambda rows: {r["edge_id"]: r["props"].get("ext:n") for r in rows}
    assert key(base) == key(gated)


def test_st_contains_and_within_zone_point(spark):
    """ST_Contains(zone, point) / ST_Within(point, zone): interior
    points match, outside points don't, and both spellings agree
    (PostGIS: ST_Within(a, b) == ST_Contains(b, a),
    reference interfaces.ts:278-279 accepts any boolean predicate)."""
    from tdei_backend_service_spark.core.schema import ZONES_SCHEMA
    from tdei_backend_service_spark.datagen import synth_zones_pandas

    zones = spark.createDataFrame(synth_zones_pandas(9, dataset_id="ds-z"),
                                  schema=ZONES_SCHEMA)
    zp = synth_zones_pandas(9)
    g = geom.parse_wkb_batch(zp.geometry)
    centers = []
    for i in (0, 4):
        c = g.coords[g.offsets[i]:g.offsets[i + 1]][:4]
        centers.append(c.mean(axis=0))

    def pt(iid, lon, lat, ph):
        return {"image_id": iid, "bytes": None, "w": 1, "h": 1,
                "fmt": "png", "caption": "", "phash": ph, "lon": lon,
                "lat": lat, "props": {}, "dataset_id": "ds-p"}

    pts = spark.createDataFrame(pd.DataFrame([
        pt("in-z0", centers[0][0], centers[0][1], 0),
        pt("in-z4", centers[1][0], centers[1][1], 1),
        pt("outside", -100.0, 10.0, 2)]), schema=IMAGES_SCHEMA)

    def run(cond):
        out = spatial_join(zones, "zone", "ds-z", pts, "point", "ds-p",
                           cond, ["ARRAY_AGG(image_id) as imgs"])
        return {r["zone_id"]: sorted(json.loads(
                    r["props"].get("ext:imgs", "[]")))
                for r in out.collect()}

    got_c = run("ST_Contains(geometry_target, geometry_source)")
    got_w = run("ST_Within(geometry_source, geometry_target)")
    assert got_c == got_w
    assert got_c[0] == ["in-z0"] and got_c[4] == ["in-z4"]
    assert all(v == [] for z, v in got_c.items() if z not in (0, 4))


def test_st_contains_matches_intersects_on_interior_points(spark):
    """On a fixture with no boundary points, ST_Contains(zone, pt)
    must equal unbuffered ST_Intersects(zone, pt) — randomized parity
    over the quad zones."""
    from tdei_backend_service_spark.core.schema import ZONES_SCHEMA
    from tdei_backend_service_spark.datagen import synth_zones_pandas

    rng = np.random.default_rng(5)
    zones = spark.createDataFrame(synth_zones_pandas(9, dataset_id="zz"),
                                  schema=ZONES_SCHEMA)
    zp = synth_zones_pandas(9)
    g = geom.parse_wkb_batch(zp.geometry)
    lo = g.coords.min(axis=0) - 0.02
    hi = g.coords.max(axis=0) + 0.02
    n = 250
    pdf = pd.DataFrame({
        "image_id": [f"p{k}" for k in range(n)], "bytes": None,
        "w": 1, "h": 1, "fmt": "png", "caption": "", "phash": 0,
        "lon": rng.uniform(lo[0], hi[0], n),
        "lat": rng.uniform(lo[1], hi[1], n),
        "props": [{} for _ in range(n)], "dataset_id": "pp"})
    pts = spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)

    def run(cond):
        out = spatial_join(zones, "zone", "zz", pts, "point", "pp", cond,
                           ["ARRAY_AGG(image_id) as imgs"])
        return {r["zone_id"]: sorted(json.loads(
                    r["props"].get("ext:imgs", "[]")))
                for r in out.collect()}

    assert run("ST_Contains(geometry_target, geometry_source)") == \
        run("ST_Intersects(geometry_target, geometry_source)")


def test_st_contains_validation_errors(tables):
    """Contained side must be points; args must be the two bare
    geometry sides."""
    edges, images = tables
    with pytest.raises(InputException, match="contained side"):
        _run(edges, images,
             "ST_Within(geometry_target, geometry_source)",
             ["count(*) as n"]).collect()
    with pytest.raises(InputException):
        _run(edges, images,
             "ST_Contains(geometry_target, geometry_target)",
             ["count(*) as n"])
    with pytest.raises(InputException):
        _run(edges, images,
             "ST_Contains(ST_Buffer(geometry_target, 5), geometry_source)",
             ["count(*) as n"])


def test_metric_lat_local_scaling_known_geometry(spark):
    """Opt-in cos(lat) local metric on a known geometry at 47.6N: two
    points 0.01 deg of lon apart are 1113.2 m under the pinned equator
    convention but 1113.2*cos(47.6) = 750.6 m locally — an 800 m
    ST_DWithin matches only under metric_lat. Both paths exercised:
    the fused broadcast probe AND the distributed join (broadcast
    probe monkeypatched off via the row cap)."""
    from tdei_backend_service_spark.core import cells as C
    from tdei_backend_service_spark.core import route
    from tdei_backend_service_spark.core.schema import EDGES_SCHEMA

    lat = 47.6
    # one short horizontal edge; one point 0.01 deg east of its end
    edges = spark.createDataFrame(pd.DataFrame([{
        "edge_id": 1, "orig_node_id": 1, "dest_node_id": 2,
        "geometry": geom.wkb_linestring([(-122.31, lat), (-122.309, lat)]),
        "props": {}, "dataset_id": "dl"}]), schema=EDGES_SCHEMA)
    img = pd.DataFrame([{
        "image_id": "p", "bytes": None, "w": 1, "h": 1, "fmt": "png",
        "caption": "", "phash": 0, "lon": -122.299, "lat": lat,
        "props": {}, "dataset_id": "dp"}])
    pts = spark.createDataFrame(img, schema=IMAGES_SCHEMA)
    cond = ("ST_Intersects(ST_Buffer(geometry_target, 800), "
            "geometry_source)")

    def n_matched(metric_lat, **kw):
        out = spatial_join(edges, "edge", "dl", pts, "point", "dp", cond,
                           ["count(*) as n"], metric_lat=metric_lat, **kw)
        return int(out.collect()[0]["props"].get("ext:n", "0"))

    # kernel-level check of both metrics on the same pair
    g = geom.parse_wkb_batch(
        [geom.wkb_linestring([(-122.31, lat), (-122.309, lat)])])
    import numpy as np
    d_eq = geom.point_polyline_dist(
        np.array([-122.299]), np.array([lat]),
        np.array([0]), g, 0.0)[0]
    d_loc = geom.point_polyline_dist(
        np.array([-122.299]), np.array([lat]),
        np.array([0]), g, lat)[0]
    assert abs(d_eq - 0.01 * C.M_PER_DEG_LON_EQ) < 1e-6
    assert abs(d_loc - 0.01 * C.M_PER_DEG_LON_EQ
               * np.cos(np.radians(lat))) < 1e-6

    # fused-probe path (tiny vector side broadcasts)
    assert n_matched(None) == 0
    assert n_matched(lat) == 1
    # distributed path (broadcast gated off): same answers
    old = route.BOUNDS["geom_rows"]
    try:
        route.BOUNDS["geom_rows"] = 0
        assert n_matched(None) == 0
        assert n_matched(lat) == 1
    finally:
        route.BOUNDS["geom_rows"] = old

    # depth picker honors the lat axis takeover past ~60 deg
    assert C.depth_for_radius_m(100.0, 75.0) <= \
        C.depth_for_radius_m(100.0, 0.0)


# ---------------------------------------------------------------------------
# ST_Crosses / ST_Touches (line-line relate)
# ---------------------------------------------------------------------------

def _lines_df(spark, rows, dataset_id):
    pdf = pd.DataFrame([
        {"edge_id": i, "orig_node_id": 2 * i, "dest_node_id": 2 * i + 1,
         "geometry": geom.wkb_linestring(pts), "props": {},
         "dataset_id": dataset_id}
        for i, pts in enumerate(rows)])
    return spark.createDataFrame(pdf, schema=EDGES_SCHEMA)


def test_spatial_join_crosses_touches(spark):
    """ST_Crosses/ST_Touches through the full public API. Targets: a
    horizontal line, one ending exactly ON the source (T-junction), one
    collinear-overlapping, one disjoint. Source: one vertical line.
    Expected: crosses matches ONLY the proper crossing; touches ONLY
    the T-junction (collinear overlap is ST_Overlaps -> neither)."""
    y0 = 47.6505
    targets = _lines_df(spark, [
        [(-122.31, y0), (-122.29, y0)],         # proper cross
        [(-122.31, y0), (-122.30, y0)],         # T-junction (endpoint on)
        [(-122.30, y0 - 0.002), (-122.30, y0 + 0.002)],  # collinear overlap
        [(-122.28, y0), (-122.27, y0)],         # disjoint
    ], "ds-t")
    source = _lines_df(spark, [
        [(-122.30, y0 - 0.005), (-122.30, y0 + 0.005)],
    ], "ds-s")

    def n_of(cond):
        out = spatial_join(targets, "edge", "ds-t", source, "line", "ds-s",
                           cond, ["count(*) as n"])
        return {r["edge_id"]: r["props"].get("ext:n") for r in out.collect()}

    got_c = n_of("ST_Crosses(geometry_target, geometry_source)")
    assert got_c == {0: "1", 1: "0", 2: "0", 3: "0"}
    got_t = n_of("ST_Touches(geometry_target, geometry_source)")
    assert got_t == {0: "0", 1: "1", 2: "0", 3: "0"}
    # symmetric argument order compiles to the same result
    got_c2 = n_of("ST_Crosses(geometry_source, geometry_target)")
    assert got_c2 == got_c
    # point side rejected
    imgs = spark.createDataFrame(_images_pdf(), schema=IMAGES_SCHEMA)
    with pytest.raises(InputException, match="line dimensions"):
        spatial_join(targets, "edge", "ds-t", imgs, "point", "ds-source",
                     "ST_Crosses(geometry_target, geometry_source)",
                     ["count(*) as n"]).collect()
