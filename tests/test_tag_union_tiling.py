import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tdei_backend_service_spark.core import cells, geom
from tdei_backend_service_spark.core.compiler import InputException
from tdei_backend_service_spark.core.schema import EDGES_SCHEMA, IMAGES_SCHEMA
from tdei_backend_service_spark.datagen import synth_images_df
from tdei_backend_service_spark.operators.tag_road import dataset_tag_road
from tdei_backend_service_spark.operators.tiling import assign_tiles, tile_stats
from tdei_backend_service_spark.operators.union_dataset import union_dataset

M_LAT = geom.M_PER_DEG_LAT


def _img_row(i, lon, lat, dataset_id="ds-a", phash=None, caption=None):
    return {"image_id": f"img-{i:04d}", "bytes": None, "w": 8, "h": 8,
            "fmt": "png", "caption": caption or f"cap {i}",
            "phash": phash if phash is not None else i,
            "lon": lon, "lat": lat, "props": {}, "dataset_id": dataset_id}


# ---------------------------------------------------------------------------
# O3 kNN tagging
# ---------------------------------------------------------------------------

def test_tag_road_known_nearest(spark):
    """FIXTURES.md T4 kNN fixture: unique known nearest edges, one tie
    broken by lowest edge_id, and an image beyond the cutoff."""
    edges = pd.DataFrame([
        {"edge_id": 0, "orig_node_id": 0, "dest_node_id": 1,
         "geometry": geom.wkb_linestring([(-122.33, 47.65), (-122.31, 47.65)]),
         "props": {"highway": "footway"}, "dataset_id": "ds-e"},
        {"edge_id": 1, "orig_node_id": 2, "dest_node_id": 3,
         "geometry": geom.wkb_linestring([(-122.33, 47.66), (-122.31, 47.66)]),
         "props": {"highway": "residential"}, "dataset_id": "ds-e"},
        # edge 2 is coincident with edge 1: a bit-exact distance tie for
        # any image near it -> winner must be the lower edge_id (1)
        {"edge_id": 2, "orig_node_id": 4, "dest_node_id": 5,
         "geometry": geom.wkb_linestring([(-122.33, 47.66), (-122.31, 47.66)]),
         "props": {"highway": "steps"}, "dataset_id": "ds-e"},
    ])
    mid = -122.32
    imgs = pd.DataFrame([
        _img_row(0, mid, 47.65 + 5 / M_LAT),          # 5 m from edge 0
        _img_row(1, mid, 47.66 - 3 / M_LAT),          # 3 m from edge 1
        _img_row(2, mid, 47.66 + 2 / M_LAT),          # 2 m from coincident edges 1&2 -> tie -> edge 1
        _img_row(3, mid, 47.69),                      # ~3.3 km, beyond cutoff
    ])
    e = spark.createDataFrame(edges, schema=EDGES_SCHEMA)
    im = spark.createDataFrame(imgs, schema=IMAGES_SCHEMA)
    out = dataset_tag_road(im, "ds-a", e, "ds-e", attrs=["highway"], cutoff_m=600.0)
    rows = {r.image_id: r for r in out.collect()}
    assert rows["img-0000"].nearest_edge_id == 0
    assert abs(rows["img-0000"].nearest_dist_m - 5.0) < 0.05
    assert rows["img-0000"].props["tag:highway"] == "footway"
    assert rows["img-0001"].nearest_edge_id == 1
    assert rows["img-0001"].props["tag:highway"] == "residential"
    assert rows["img-0002"].nearest_edge_id == 1  # exact tie -> lowest edge_id
    assert rows["img-0002"].props["tag:highway"] == "residential"
    assert rows["img-0003"].nearest_edge_id is None  # untagged beyond cutoff
    assert "tag:highway" not in rows["img-0003"].props
    assert len(rows) == 4  # every target row present exactly once


def test_tag_road_matches_bruteforce(spark):
    """Randomized parity: ring-expansion kNN == brute force argmin."""
    rng = np.random.default_rng(5)
    n_img, n_edge = 200, 15
    imgs = pd.DataFrame([
        _img_row(i, rng.uniform(-122.35, -122.25), rng.uniform(47.6, 47.7))
        for i in range(n_img)])
    eg = []
    for e in range(n_edge):
        x0 = rng.uniform(-122.35, -122.25)
        y0 = rng.uniform(47.6, 47.7)
        eg.append({"edge_id": e, "orig_node_id": 0, "dest_node_id": 1,
                   "geometry": geom.wkb_linestring(
                       [(x0, y0), (x0 + rng.uniform(-0.01, 0.01),
                                   y0 + rng.uniform(-0.01, 0.01))]),
                   "props": {}, "dataset_id": "ds-e"})
    e_df = spark.createDataFrame(pd.DataFrame(eg), schema=EDGES_SCHEMA)
    i_df = spark.createDataFrame(imgs, schema=IMAGES_SCHEMA)
    cutoff = 800.0
    out = dataset_tag_road(i_df, "ds-a", e_df, "ds-e", cutoff_m=cutoff)
    got = {r.image_id: (r.nearest_edge_id, r.nearest_dist_m) for r in out.collect()}

    g = geom.parse_wkb_batch([r["geometry"] for r in eg])
    lon = imgs.lon.to_numpy()
    lat = imgs.lat.to_numpy()
    dists = np.stack([geom.point_polyline_dist(lon, lat, np.full(n_img, e, dtype=np.int64), g)
                      for e in range(n_edge)])  # (n_edge, n_img)
    assert len(got) == n_img
    n_checked = 0
    for i in range(n_img):
        d = dists[:, i]
        jbest = int(np.argmin(d))
        iid = f"img-{i:04d}"
        if d[jbest] > cutoff:
            assert got[iid][0] is None
        else:
            assert got[iid][0] == jbest, (iid, got[iid], jbest, d[jbest])
            assert abs(got[iid][1] - d[jbest]) < 1e-6
            n_checked += 1
    assert n_checked > 50  # fixture actually exercises matches


# ---------------------------------------------------------------------------
# O4 union + proximity dedup
# ---------------------------------------------------------------------------

def test_union_dedup_expected_cardinality(spark):
    """FIXTURES.md T4 union fixture: |A| + |B| - D at default proximity,
    near-misses at 1.5x proximity survive."""
    nA, nB, D = 40, 30, 10
    A = spark.createDataFrame(
        pd.DataFrame([_img_row(i, -122.3 + i * 1e-3, 47.65, "ds-A") for i in range(nA)]),
        schema=IMAGES_SCHEMA)
    # first D rows of B duplicate A rows (same phash+caption, jitter < prox/2);
    # next 5 are near-misses at 1.5x proximity; rest unique
    rows = []
    prox = 0.5
    for j in range(nB):
        if j < D:
            rows.append(_img_row(1000 + j, -122.3 + j * 1e-3,
                                 47.65 + (prox / 2) / M_LAT, "ds-B",
                                 phash=j, caption=f"cap {j}"))
        elif j < D + 5:
            src = j - D + D  # duplicate content of A row j
            rows.append(_img_row(1000 + j, -122.3 + src * 1e-3,
                                 47.65 + (prox * 1.5) / M_LAT, "ds-B",
                                 phash=src, caption=f"cap {src}"))
        else:
            rows.append(_img_row(1000 + j, -122.2 + j * 1e-3, 47.68, "ds-B"))
    B = spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)
    out = union_dataset(A, "ds-A", B, "ds-B")
    got = out.collect()
    assert len(got) == nA + nB - D
    # survivors of duplicate pairs are the dataset-one copies
    surviving_ids = {r.image_id for r in got}
    for i in range(D):
        assert f"img-{i:04d}" in surviving_ids
        assert f"img-{1000 + i:04d}" not in surviving_ids


def test_union_dedup_identical_location_lat_sweep(spark):
    """Regression (ADVICE r2, union_dataset.py:113): the 4-corner padded
    cover derived depth from proximity (extent >= pad) instead of
    2*proximity (extent >= 2*pad), so for ~69% of lat positions an
    identical-location pair at proximity=2.0 missed its own cell and BOTH
    rows survived. Sweep lats across many cell boundaries and require one
    survivor per pair, at proximities on each side of the old clip point."""
    for prox in (2.0, 1.3, 5.0):
        rows = []
        for i, lat in enumerate(np.linspace(47.60, 47.61, 120)):
            rows.append(_img_row(i, -122.35, float(lat), "ds-A",
                                 phash=7, caption="same"))
            rows.append(_img_row(1000 + i, -122.35, float(lat), "ds-B",
                                 phash=7, caption="same"))
        df = spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)
        out = union_dataset(df, "ds-A", df, "ds-B", proximity=prox)
        assert out.count() == 120, f"proximity={prox}"


def test_union_dedup_same_spot_different_pixels_survive(spark):
    A = spark.createDataFrame(pd.DataFrame([_img_row(0, -122.3, 47.65, "ds-A", phash=1)]),
                              schema=IMAGES_SCHEMA)
    B = spark.createDataFrame(pd.DataFrame([_img_row(1, -122.3, 47.65, "ds-B", phash=2)]),
                              schema=IMAGES_SCHEMA)
    assert union_dataset(A, "ds-A", B, "ds-B").count() == 2


def test_union_proximity_type_check(spark):
    A = spark.createDataFrame(pd.DataFrame([_img_row(0, -122.3, 47.65, "ds-A")]),
                              schema=IMAGES_SCHEMA)
    with pytest.raises(InputException):
        union_dataset(A, "ds-A", A, "ds-A", proximity="abc")


def test_union_proximity_only_match(spark):
    """match_on=() = the reference's pure-proximity merge: different
    pixels at the same spot DO merge, per content.tdei_union_dataset
    geometry semantics."""
    prox = 0.5
    A = spark.createDataFrame(pd.DataFrame([_img_row(0, -122.3, 47.65, "ds-A", phash=1)]),
                              schema=IMAGES_SCHEMA)
    B = spark.createDataFrame(pd.DataFrame([
        _img_row(1, -122.3, 47.65 + (prox * 0.5) / M_LAT, "ds-B", phash=2),
        _img_row(2, -122.3, 47.65 + (prox * 3) / M_LAT, "ds-B", phash=3)]),
        schema=IMAGES_SCHEMA)
    out = union_dataset(A, "ds-A", B, "ds-B", match_on=())
    ids = sorted(r.image_id for r in out.collect())
    assert ids == ["img-0000", "img-0002"]  # near row merged, far row kept


def test_union_chain_collapse(spark):
    # a~b, b~c within proximity: only the smallest survives the chain
    prox = 0.5
    step = (prox * 0.8) / M_LAT
    A = spark.createDataFrame(pd.DataFrame([
        _img_row(0, -122.3, 47.65, "ds-A", phash=7, caption="x")]),
        schema=IMAGES_SCHEMA)
    B = spark.createDataFrame(pd.DataFrame([
        _img_row(1, -122.3, 47.65 + step, "ds-B", phash=7, caption="x"),
        _img_row(2, -122.3, 47.65 + 2 * step, "ds-B", phash=7, caption="x")]),
        schema=IMAGES_SCHEMA)
    out = union_dataset(A, "ds-A", B, "ds-B")
    ids = sorted(r.image_id for r in out.collect())
    assert ids == ["img-0000"]


def test_union_cc_vs_min_winner(spark):
    """The differentiating chain: ranks a < c < b with matches a~b and
    b~c only. min_winner keeps {a, c} (c has no smaller MATCH); exact CC
    keeps {a} (one survivor per transitive cluster)."""
    prox = 0.5
    A = spark.createDataFrame(pd.DataFrame([
        _img_row(0, -122.3, 47.65, "ds-A", phash=7, caption="x")]),        # a
        schema=IMAGES_SCHEMA)
    B = spark.createDataFrame(pd.DataFrame([
        _img_row(1, -122.3, 47.65 + (prox * 1.6) / M_LAT, "ds-B",          # c
                 phash=7, caption="x"),
        _img_row(2, -122.3, 47.65 + (prox * 0.8) / M_LAT, "ds-B",          # b
                 phash=7, caption="x")]),
        schema=IMAGES_SCHEMA)
    mw = sorted(r.image_id for r in
                union_dataset(A, "ds-A", B, "ds-B").collect())
    cc = sorted(r.image_id for r in
                union_dataset(A, "ds-A", B, "ds-B", collapse="cc").collect())
    assert mw == ["img-0000", "img-0001"]
    assert cc == ["img-0000"]


def test_union_cc_matches_min_winner_on_simple_dups(spark):
    """On direct-duplicate fixtures (no chains) both rules agree — the
    FIXTURES.md cardinality |A|+|B|-D holds for either."""
    nA, nB, D = 20, 15, 5
    A = spark.createDataFrame(
        pd.DataFrame([_img_row(i, -122.3 + i * 1e-3, 47.65, "ds-A")
                      for i in range(nA)]), schema=IMAGES_SCHEMA)
    rows = []
    for j in range(nB):
        if j < D:
            rows.append(_img_row(1000 + j, -122.3 + j * 1e-3,
                                 47.65 + 0.2 / M_LAT, "ds-B",
                                 phash=j, caption=f"cap {j}"))
        else:
            rows.append(_img_row(1000 + j, -122.2 + j * 1e-3, 47.68, "ds-B"))
    B = spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)
    mw = {r.image_id for r in union_dataset(A, "ds-A", B, "ds-B").collect()}
    cc = {r.image_id for r in
          union_dataset(A, "ds-A", B, "ds-B", collapse="cc").collect()}
    assert mw == cc and len(mw) == nA + nB - D


def test_tag_road_map_only_matches_join_path(spark, monkeypatch):
    """Differential: the zero-shuffle map-only path (broadcastable edges)
    and the DataFrame join path must produce identical tags on a
    randomized fixture — same nearest ids, distances, grafted props."""
    import numpy as np

    from tdei_backend_service_spark.core import route
    from tdei_backend_service_spark.datagen import (synth_edges_df,
                                                    synth_images_df)
    imgs = synth_images_df(spark, 1500, with_bytes=False, dataset_id="ds-a")
    edges = synth_edges_df(spark, 60, dataset_id="ds-e")
    a = dataset_tag_road(imgs, "ds-a", edges, "ds-e",
                         attrs=["highway"], cutoff_m=120.0)
    rows_a = {r.image_id: r for r in a.collect()}
    monkeypatch.setitem(route.BOUNDS, "geom_rows", 0)  # force join path
    b = dataset_tag_road(imgs, "ds-a", edges, "ds-e",
                         attrs=["highway"], cutoff_m=120.0)
    rows_b = {r.image_id: r for r in b.collect()}
    assert set(rows_a) == set(rows_b) and len(rows_a) == 1500
    n_tagged = 0
    for k, ra in rows_a.items():
        rb = rows_b[k]
        assert ra.nearest_edge_id == rb.nearest_edge_id, k
        assert ra.props == rb.props, k
        if ra.nearest_dist_m is None:
            assert rb.nearest_dist_m is None
        else:
            n_tagged += 1
            assert abs(ra.nearest_dist_m - rb.nearest_dist_m) < 1e-9, k
    assert n_tagged > 0  # the fixture must actually exercise tagging


def test_union_numeric_pk_rank(spark):
    """Numeric pks rank numerically: image_id 9 beats 10 (a string-concat
    rank would order "10" < "9"; ADVICE r1)."""
    def row(i, ds):
        return {"image_id": str(i), "bytes": None, "w": 8, "h": 8,
                "fmt": "png", "caption": "x", "phash": 7,
                "lon": -122.3, "lat": 47.65, "props": {}, "dataset_id": ds}
    A = spark.createDataFrame(pd.DataFrame([row(9, "ds-A")]),
                              schema=IMAGES_SCHEMA)
    B = spark.createDataFrame(pd.DataFrame([row(10, "ds-A")]),
                              schema=IMAGES_SCHEMA)
    out = union_dataset(A, "ds-A", B, "ds-A")
    assert [r.image_id for r in out.collect()] == ["9"]


def test_union_cc_long_chain_converges(spark):
    """Pointer jumping makes cc rounds logarithmic: a 120-link duplicate
    chain (diameter 120 > the old 32-round linear cap) collapses to one
    survivor."""
    prox = 0.5
    step = (prox * 0.8) / M_LAT
    n = 121
    A = spark.createDataFrame(pd.DataFrame(
        [_img_row(0, -122.3, 47.65, "ds-A", phash=7, caption="x")]),
        schema=IMAGES_SCHEMA)
    B = spark.createDataFrame(pd.DataFrame(
        [_img_row(i, -122.3, 47.65 + i * step, "ds-B", phash=7, caption="x")
         for i in range(1, n)]), schema=IMAGES_SCHEMA)
    out = union_dataset(A, "ds-A", B, "ds-B", collapse="cc")
    assert [r.image_id for r in out.collect()] == ["img-0000"]


# ---------------------------------------------------------------------------
# tiling
# ---------------------------------------------------------------------------

def test_tile_assignment_matches_kernel(spark):
    df = synth_images_df(spark, 500, with_bytes=False)
    out = assign_tiles(df, 14).select("lon", "lat", "tile_x", "tile_y", "tile_key").collect()
    lon = np.array([r.lon for r in out])
    lat = np.array([r.lat for r in out])
    tx, ty = cells.lonlat_to_tile(lon, lat, 14)
    assert np.array_equal(tx, np.array([r.tile_x for r in out]))
    assert np.array_equal(ty, np.array([r.tile_y for r in out]))
    assert np.array_equal(cells.tile_key(14, tx, ty),
                          np.array([r.tile_key for r in out]))


def test_tile_boundary_half_open(spark):
    z = 10
    n = 1 << z
    lon_edge = -180.0 + 360.0 / n
    df = spark.createDataFrame(
        pd.DataFrame([_img_row(0, lon_edge, 0.0)]), schema=IMAGES_SCHEMA)
    r = assign_tiles(df, z).select("tile_x").first()
    assert r.tile_x == 1  # west edge belongs to the eastern tile


def test_tile_stats_counts(spark):
    df = synth_images_df(spark, 1000, with_bytes=False)
    stats = tile_stats(df, z=12)
    total = stats.agg(F.sum("n_rows")).first()[0]
    assert total == 1000
    assert stats.filter(F.col("n_rows") <= 0).count() == 0


def test_tile_pyramid_levels_consistent(spark):
    """Every pyramid level's totals equal the row count, each level has
    <= the previous level's tile count, and halving the base level by
    hand reproduces level z-1 exactly."""
    from tdei_backend_service_spark.operators.tiling import tile_pyramid
    rows = [_img_row(i, -122.3 + (i % 57) * 1e-3, 47.60 + (i % 41) * 1e-3)
            for i in range(800)]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)
    out = tile_pyramid(df, 15, 12).collect()
    by_z = {}
    for r in out:
        by_z.setdefault(r.z, {})[(r.tile_x, r.tile_y)] = r.n
    assert sorted(by_z) == [12, 13, 14, 15]
    for z, tiles in by_z.items():
        assert sum(tiles.values()) == 800, z
    for z in (15, 14, 13):
        manual = {}
        for (x, y), n in by_z[z].items():
            manual[(x // 2, y // 2)] = manual.get((x // 2, y // 2), 0) + n
        assert manual == by_z[z - 1]
    assert len(by_z[12]) <= len(by_z[13]) <= len(by_z[14]) <= len(by_z[15])


def test_incremental_union_semantics(spark):
    """incremental_union_dataset: batch records lose to a committed
    record within proximity sharing the payload keys (no rank rule) or
    to the min-winner rule within the drop; payload mismatches and
    out-of-proximity records survive. Corpus is the narrow
    (lon, lat, phash, caption) relation — no ids."""
    from tdei_backend_service_spark.operators.union_dataset import \
        incremental_union_dataset
    m = 1.0 / geom.M_PER_DEG_LAT
    corpus = spark.createDataFrame(pd.DataFrame(
        [(0.0, 0.0, 7, "c"), (1.0, 0.0, 8, "c")],
        columns=["lon", "lat", "phash", "caption"]))
    rows = [
        (10, 0.0, 0.3 * m, 7, "c"),    # 0.3 m from corpus, same payload -> loses
        (11, 0.0, 0.3 * m, 9, "c"),    # same spot, different phash -> survives
        (12, 0.0, 3.0 * m, 5, "c"),    # in-batch pair winner -> survives
        (13, 0.0, 3.3 * m, 5, "c"),    # in-batch pair loser (larger id)
        (14, 0.0, 10.0 * m, 7, "c"),   # same payload, 10 m away -> survives
        (15, 1.0, 0.2 * m, 8, "x"),    # caption differs -> survives
    ]
    batch = spark.createDataFrame(pd.DataFrame(
        rows, columns=["image_id", "lon", "lat", "phash", "caption"]))
    out = incremental_union_dataset(batch, corpus)
    assert sorted(r.image_id for r in out.collect()) == [11, 12, 14, 15]


def test_incremental_union_bad_proximity(spark):
    from tdei_backend_service_spark.operators.union_dataset import \
        incremental_union_dataset
    corpus = spark.createDataFrame(pd.DataFrame(
        [(0.0, 0.0, 1, "c")], columns=["lon", "lat", "phash", "caption"]))
    batch = spark.createDataFrame(pd.DataFrame(
        [(1, 0.0, 0.0, 1, "c")],
        columns=["image_id", "lon", "lat", "phash", "caption"]))
    with pytest.raises(InputException):
        incremental_union_dataset(batch, corpus, proximity="close")


# -- property-based parity vs a pure-python reference ---------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_coord_m = st.integers(0, 200)  # decimeters -> 0..20 m grid
_pt = st.tuples(_coord_m, _coord_m, st.sampled_from([1, 2, 3]))
_union_batch = st.lists(st.tuples(st.integers(0, 10_000), _pt),
                        min_size=1, max_size=25, unique_by=lambda t: t[0])
_union_corpus = st.lists(_pt, min_size=0, max_size=15)


def _lonlat(xdm: int, ydm: int) -> tuple:
    return (xdm / 10.0 / cells.M_PER_DEG_LON_EQ,
            ydm / 10.0 / cells.M_PER_DEG_LAT)


def _dist_m(a: tuple, b: tuple) -> float:
    # EXACTLY the operator's formula (same op order, float64 throughout)
    return (((a[0] - b[0]) * cells.M_PER_DEG_LON_EQ) ** 2
            + ((a[1] - b[1]) * cells.M_PER_DEG_LAT) ** 2) ** 0.5


@settings(max_examples=6, deadline=None)
@given(_union_batch, _union_corpus)
def test_incremental_union_matches_bruteforce(spark, rows, corpus_pts):
    """Randomized parity with the O(n^2) definition on a 0.1 m grid:
    a batch record loses iff some corpus record within 0.5 m shares its
    phash, or some SMALLER-pk batch record does — so the padded 4-corner
    cell cover must surface every true pair."""
    from tdei_backend_service_spark.operators.union_dataset import \
        incremental_union_dataset
    brows = [(pk, *_lonlat(x, y), ph, "c") for pk, (x, y, ph) in rows]
    crows = [(*_lonlat(x, y), ph, "c") for x, y, ph in corpus_pts]
    batch = spark.createDataFrame(pd.DataFrame(
        brows, columns=["image_id", "lon", "lat", "phash", "caption"]))
    corpus = spark.createDataFrame(
        pd.DataFrame(crows, columns=["lon", "lat", "phash", "caption"]),
        schema="lon double, lat double, phash bigint, caption string")
    got = sorted(r.image_id for r in
                 incremental_union_dataset(batch, corpus).collect())
    pts = {pk: (_lonlat(x, y), ph) for pk, (x, y, ph) in rows}
    want = sorted(
        pk for pk, (p, ph) in pts.items()
        if not any(cph == ph and _dist_m(p, (clon, clat)) <= 0.5
                   for clon, clat, cph, _ in crows)
        and not any(pk2 < pk and ph2 == ph and _dist_m(p, p2) <= 0.5
                    for pk2, (p2, ph2) in pts.items()))
    assert got == want


def test_knn_join_ranked_k(spark):
    """knn_join: ranked top-k within cutoff — known distance order,
    coincident-edge tie broken by edge_id, fewer-than-k emits fewer
    rows, beyond-cutoff emits none, attrs carried per rank."""
    from tdei_backend_service_spark.operators.tag_road import knn_join
    edges = pd.DataFrame([
        {"edge_id": 0, "orig_node_id": 0, "dest_node_id": 1,
         "geometry": geom.wkb_linestring([(-122.33, 47.65), (-122.31, 47.65)]),
         "props": {"highway": "footway"}, "dataset_id": "ds-e"},
        {"edge_id": 1, "orig_node_id": 2, "dest_node_id": 3,
         "geometry": geom.wkb_linestring([(-122.33, 47.66), (-122.31, 47.66)]),
         "props": {"highway": "residential"}, "dataset_id": "ds-e"},
        {"edge_id": 2, "orig_node_id": 4, "dest_node_id": 5,
         "geometry": geom.wkb_linestring([(-122.33, 47.66), (-122.31, 47.66)]),
         "props": {"highway": "steps"}, "dataset_id": "ds-e"},
    ])
    mid = -122.32
    imgs = pd.DataFrame([
        # 111 m above edge 0, ~994 m below edges 1&2 -> order 0, 1, 2
        _img_row(0, mid, 47.65 + 111 / M_LAT),
        _img_row(1, mid, 47.69),  # >= 3.3 km from everything
    ])
    e = spark.createDataFrame(edges, schema=EDGES_SCHEMA)
    im = spark.createDataFrame(imgs, schema=IMAGES_SCHEMA)
    out = knn_join(im, "ds-a", e, "ds-e", k=3, attrs=["highway"],
                   cutoff_m=1500.0).collect()
    by_rank = {(r["image_id"], r["knn_rank"]): r for r in out}
    assert len(out) == 3 and all(r["image_id"] == "img-0000" for r in out)
    assert by_rank[("img-0000", 1)]["edge_id"] == 0
    assert by_rank[("img-0000", 1)]["_attr_highway"] == "footway"
    # coincident edges 1 and 2: exact tie -> lower edge_id first
    assert by_rank[("img-0000", 2)]["edge_id"] == 1
    assert by_rank[("img-0000", 3)]["edge_id"] == 2
    assert abs(by_rank[("img-0000", 1)]["dist_m"] - 111.0) < 0.5
    d2, d3 = (by_rank[("img-0000", 2)]["dist_m"],
              by_rank[("img-0000", 3)]["dist_m"])
    assert d2 == d3  # coincident geometry: bit-exact tie

    # k=2 truncates the same candidate order
    out2 = knn_join(im, "ds-a", e, "ds-e", k=2, cutoff_m=1500.0).collect()
    assert sorted(r["edge_id"] for r in out2) == [0, 1]


def test_knn_join_agrees_with_tag_road_at_k1(spark):
    """rank-1 of knn_join == dataset_tag_road's nearest over the synth
    fixture (same candidate generation, same tie-break)."""
    from tdei_backend_service_spark.datagen import (synth_edges_df,
                                                    synth_images_df)
    from tdei_backend_service_spark.operators.tag_road import knn_join
    imgs = synth_images_df(spark, 800, with_bytes=False, dataset_id="ds-a")
    edges = synth_edges_df(spark, 50, dataset_id="ds-e")
    tag = dataset_tag_road(imgs, "ds-a", edges, "ds-e", cutoff_m=400.0)
    k1 = knn_join(imgs, "ds-a", edges, "ds-e", k=1, cutoff_m=400.0)
    t = {r["image_id"]: r["nearest_edge_id"] for r in tag.collect()
         if r["nearest_edge_id"] is not None}
    k = {r["image_id"]: r["edge_id"] for r in k1.collect()}
    assert t == k


def test_incremental_tile_counts_merge_equals_recompute(spark):
    """Additive tile maintenance: committed(corpus) + drop agg ==
    recompute over corpus+drop, and a pyramid rebuilt from the merged
    base equals the recomputed pyramid level."""
    from tdei_backend_service_spark.datagen import synth_images_df
    from tdei_backend_service_spark.operators.tiling import (
        assign_tiles, incremental_tile_counts, tile_pyramid)

    corpus = synth_images_df(spark, 3000, with_bytes=False, seed=1)
    drop = synth_images_df(spark, 700, with_bytes=False, seed=2)
    committed = (assign_tiles(corpus, 15).groupBy("tile_x", "tile_y")
                 .agg(F.count(F.lit(1)).alias("n")))
    merged = incremental_tile_counts(committed, drop, 15)
    full = (assign_tiles(corpus.unionByName(drop), 15)
            .groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))
    key = lambda r: (r["tile_x"], r["tile_y"], r["n"])
    assert sorted(map(key, merged.collect())) == \
        sorted(map(key, full.collect()))

    # coarser level from the merged base == recomputed coarser level
    both = corpus.unionByName(drop)
    pyr = {(r["tile_x"], r["tile_y"]): r["n"]
           for r in tile_pyramid(both, 15, 14)
           .filter(F.col("z") == 14).collect()}
    up = {(r["tile_x"] // 2, r["tile_y"] // 2): 0 for r in merged.collect()}
    for r in merged.collect():
        up[(r["tile_x"] // 2, r["tile_y"] // 2)] += r["n"]
    assert up == pyr


def test_tile_top_terms_tie_break_and_split(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from tdei_backend_service_spark.operators.tiling import tile_top_terms
    z = 15
    n = 1 << z
    tl = lambda i: (i + 0.5) * 360.0 / n - 180.0
    rows = [
        # tile A: 'park' x2, 'zebra' x2 -> tie, smallest term wins;
        # punctuation/case fold into the same split law
        {"caption": "Park! zebra", "lon": tl(100), "lat": 47.0},
        {"caption": "zebra,PARK", "lon": tl(100), "lat": 47.0},
        # tile B: clear majority + empty-token stripping
        {"caption": "  dog--dog  cat ", "lon": tl(300), "lat": 47.0},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = {r["tile_x"]: r for r in tile_top_terms(df, z).collect()}
    a = next(v for v in out.values() if v["n_total_terms"] == 4)
    assert (a["term"], a["n_term"]) == ("park", 2)  # tie -> min term
    b = next(v for v in out.values() if v["n_total_terms"] == 3)
    assert (b["term"], b["n_term"]) == ("dog", 2)


def test_incremental_tile_terms_flips_winner(spark):
    """The drop flips a tile's dominant term (counts merge, then the
    top-1 recomputes only there); an untouched tile keeps its
    committed row; result equals the full recompute."""
    import pandas as pd
    from tdei_backend_service_spark.operators.tiling import (
        incremental_tile_terms, tile_term_counts, tile_top_terms)
    z = 15
    n = 1 << z
    tl = lambda i: (i + 0.5) * 360.0 / n - 180.0
    mk = lambda rows: spark.createDataFrame(pd.DataFrame(
        [{"caption": c, "lon": tl(x), "lat": 47.0} for c, x in rows]))
    committed = mk([("park park zebra", 100), ("dog", 300)])
    drop = mk([("zebra zebra", 100)])  # tile A: zebra 3 > park 2
    out = incremental_tile_terms(
        drop, tile_term_counts(committed, z),
        tile_top_terms(committed, z), z)
    got = {(r["tile_x"], r["tile_y"]):
           (r["term"], r["n_term"], r["n_total_terms"])
           for r in out.collect()}
    full = {(r["tile_x"], r["tile_y"]):
            (r["term"], r["n_term"], r["n_total_terms"])
            for r in tile_top_terms(
                mk([("park park zebra", 100), ("dog", 300),
                    ("zebra zebra", 100)]), z).collect()}
    assert got == full
    assert sorted(v[0] for v in got.values()) == ["dog", "zebra"]
    a = next(v for v in got.values() if v[0] == "zebra")
    assert (a[1], a[2]) == (3, 5)


def test_tag_road_metric_lat_winner_flip_all_paths(spark, monkeypatch):
    """cos(lat) local metric on kNN tagging: a vertical edge (lon
    displacement, distance scales by cos) vs a horizontal edge (lat
    displacement, metric-invariant) chosen so the NEAREST edge flips
    between the equator convention and the local metric at 47.6N --
    900 m-equator lon offset reads 606.9 m locally, beating the 750 m
    lat edge. A second point sits past the cutoff at the equator but
    inside it locally. All three plans must agree: map-only probe
    (broadcastable edges), distributed candidate join (broadcast gated
    off), and ring expansion (deep cells force k_cover > 2); knn_join
    rank-1 must match too."""
    from tdei_backend_service_spark.core import cells as C
    from tdei_backend_service_spark.core import route
    from tdei_backend_service_spark.operators.tag_road import knn_join

    lat = 47.6
    coslat = np.cos(np.radians(lat))
    x0, y0 = -122.30, lat
    dx = 900.0 / C.M_PER_DEG_LON_EQ          # 900 m equator / 606.9 m local
    dy = 750.0 / C.M_PER_DEG_LAT             # 750 m in both metrics
    edges = pd.DataFrame([
        {"edge_id": 0, "orig_node_id": 0, "dest_node_id": 1,   # vertical
         "geometry": geom.wkb_linestring([(x0 + dx, y0 - 0.01),
                                          (x0 + dx, y0 + 0.01)]),
         "props": {"highway": "footway"}, "dataset_id": "ds-e"},
        {"edge_id": 1, "orig_node_id": 2, "dest_node_id": 3,   # horizontal
         "geometry": geom.wkb_linestring([(x0 - 0.01, y0 + dy),
                                          (x0 + 0.01, y0 + dy)]),
         "props": {"highway": "residential"}, "dataset_id": "ds-e"},
    ])
    imgs = pd.DataFrame([
        _img_row(0, x0, y0),                       # the winner-flip point
        # 2.2 km east of the vertical edge at the equator (beyond the
        # 1.6 km cutoff; edge 1 reads 2124 m), 1484 m locally (inside
        # it, and 52 m nearer than edge 1's local 1536 m)
        _img_row(1, x0 + dx + 2200.0 / C.M_PER_DEG_LON_EQ, y0),
    ])
    e = spark.createDataFrame(edges, schema=EDGES_SCHEMA)
    im = spark.createDataFrame(imgs, schema=IMAGES_SCHEMA)

    def run(metric_lat, **kw):
        out = dataset_tag_road(im, "ds-a", e, "ds-e", attrs=["highway"],
                               cutoff_m=1600.0, metric_lat=metric_lat, **kw)
        return {r.image_id: r for r in out.collect()}

    def check_equator(rows):
        assert rows["img-0000"].nearest_edge_id == 1
        assert abs(rows["img-0000"].nearest_dist_m - 750.0) < 0.05
        assert rows["img-0000"].props["tag:highway"] == "residential"
        assert rows["img-0001"].nearest_edge_id is None

    def check_local(rows):
        assert rows["img-0000"].nearest_edge_id == 0
        assert abs(rows["img-0000"].nearest_dist_m - 900.0 * coslat) < 0.05
        assert rows["img-0000"].props["tag:highway"] == "footway"
        assert rows["img-0001"].nearest_edge_id == 0
        assert abs(rows["img-0001"].nearest_dist_m - 2200.0 * coslat) < 0.05

    # path 1: map-only broadcast probe (tiny edge side)
    check_equator(run(None))
    check_local(run(lat))
    # path 2: distributed one-candidate join
    monkeypatch.setitem(route.BOUNDS, "geom_rows", 0)
    check_equator(run(None))
    check_local(run(lat))
    # path 3: ring expansion (deep cells: cell_m << cutoff -> k_cover > 2)
    deep = C.depth_for_radius_m(1600.0, lat) + 3
    check_equator(run(None, depth=deep))
    check_local(run(lat, depth=deep))
    monkeypatch.undo()

    # knn_join rank-1 agrees with tag_road under both metrics
    for ml in (None, lat):
        want = {k: r.nearest_edge_id for k, r in run(ml).items()
                if r.nearest_edge_id is not None}
        got = {r["image_id"]: r["edge_id"]
               for r in knn_join(im, "ds-a", e, "ds-e", k=1, cutoff_m=1600.0,
                                 metric_lat=ml).collect()}
        assert got == want
    # and rank-2 under the local metric is the 750 m lat edge
    k2 = knn_join(im, "ds-a", e, "ds-e", k=2, cutoff_m=1600.0,
                  metric_lat=lat).collect()
    r2 = {(r["image_id"], r["knn_rank"]): r["edge_id"] for r in k2}
    assert r2[("img-0000", 1)] == 0 and r2[("img-0000", 2)] == 1


def test_union_dedup_metric_lat_flip(spark):
    """cos(lat) local metric on proximity dedup: duplicate pairs are
    lon-separated so the SAME pair reads 0.668 m at the equator (no
    merge at proximity 0.5) and 0.450 m locally at 47.6N (merge); a
    control pair at 0.30 m equator merges under both. The incremental
    path must agree with the batch path under both metrics."""
    from tdei_backend_service_spark.operators.union_dataset import (
        incremental_union_dataset)

    lat = 47.6
    flip = 6e-6            # deg lon: 0.668 m equator / 0.450 m local
    both = 2.7e-6          # deg lon: 0.300 m equator / 0.203 m local
    A = spark.createDataFrame(pd.DataFrame([
        _img_row(0, -122.30, lat, "ds-A", phash=7, caption="x"),
        _img_row(1, -122.20, lat, "ds-A", phash=8, caption="y"),
    ]), schema=IMAGES_SCHEMA)
    B = spark.createDataFrame(pd.DataFrame([
        _img_row(100, -122.30 + flip, lat, "ds-B", phash=7, caption="x"),
        _img_row(101, -122.20 + both, lat, "ds-B", phash=8, caption="y"),
    ]), schema=IMAGES_SCHEMA)

    def ids(df):
        return sorted(r.image_id for r in df.select("image_id").collect())

    assert ids(union_dataset(A, "ds-A", B, "ds-B")) == [
        "img-0000", "img-0001", "img-0100"]
    assert ids(union_dataset(A, "ds-A", B, "ds-B", metric_lat=lat)) == [
        "img-0000", "img-0001"]

    corpus = A.select("lon", "lat", "phash", "caption")
    assert ids(incremental_union_dataset(B, corpus)) == ["img-0100"]
    assert ids(incremental_union_dataset(B, corpus, metric_lat=lat)) == []
