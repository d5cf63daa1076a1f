"""Trajectory operators: map matching, geo trip stats, OD matrices,
coverage gaps.

The reference service tags STATIC features with road information
(dataset_tag_road, /root/reference/src/service/services/
dataset-road-tag-service.ts:28-40); a transportation-data pipeline at
100 TB also carries MOVING observations — GPS ping streams from data
collectors. This module is the sequence-aware extension of the O3 kNN
machinery:

* ``map_match`` — snap each ping of an ordered trajectory to a road
  edge. Per ping the candidate set is every edge within ``cutoff_m``
  (padded-cover completeness, exactly dataset_tag_road's guarantee);
  the matched edge applies one-step hysteresis — keep the PREVIOUS
  ping's nearest edge when it is still within ``keep_within_m`` —
  which suppresses the nearest-edge flapping that raw per-point
  snapping produces between parallel roads. The transition rule reads
  only the lag of the raw nearest edge (never the chosen edge), so the
  operator stays one window pass instead of a sequential scan, and the
  whole rule is expressible in ANSI SQL for the oracle.
* ``trip_geo_stats`` — gap-sessionized trips (operators/temporal.
  sessionize) with exact-integer geometry: per trip the planar path
  length is summed in integer millimeters (each step floors to mm
  BEFORE the sum, so the result is independent of partitioning and
  addition order — float sums are not).
* ``od_matrix`` — trip origin/destination zone counts: first/last ping
  per trip through the REAL polygon PIP join (core/join.two_phase_join)
  against a zone table.
* ``coverage_gaps`` — points with NO source edge within ``cutoff_m``:
  the spatial ANTI join (the complement of dataset_tag_road's tagged
  set, e.g. collected images too far from any known sidewalk edge).
  No argmin is computed — candidates within the cutoff directly
  anti-join the target side.

Scale shape: candidate generation is the zero-shuffle broadcast-index
probe when the edge side fits a broadcast (road networks are tiny next
to ping corpora), falling back to the padded-cover distributed join;
the only unavoidable exchange is the per-entity window (any engine
must co-locate a trajectory to order it). Distances use the same
vectorized numpy kernels as O3 (core/geom.point_polyline_dist), so
map_match results are consistent with dataset_tag_road to the bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.window import Window

from ..core import cells, geom
from ..core.ingest import cover_geometry
from .temporal import _us, sessionize

__all__ = ["map_match", "trip_geo_stats", "od_matrix", "coverage_gaps",
           "trip_segments", "speed_pixels", "stay_points", "co_location",
           "edge_usage", "co_travelers", "zone_visits"]


def _metric(metric_lat: float | None) -> tuple[float, float]:
    """(lat0, cos) for the opt-in cos(lat) local metric — the same
    contract as spatial_join/tag_road/union_dataset. Every
    meter-denominated operator in this module takes ``metric_lat``;
    the tile/PIP operators (co_travelers, od_matrix, zone_visits)
    carry no meters and deliberately do not."""
    lat0 = float(metric_lat) if metric_lat is not None else 0.0
    return lat0, max(float(np.cos(np.radians(lat0))), 1e-6)


# ---------------------------------------------------------------------------
# candidate generation: per-ping sorted (dist, edge) arrays
# ---------------------------------------------------------------------------

def _cand_arrays_map_only(pings: DataFrame, edges: DataFrame,
                          cutoff_m: float, depth: int,
                          lon_col: str, lat_col: str,
                          lat0: float = 0.0) -> DataFrame | None:
    """Zero-shuffle candidate stage: broadcast a padded cell->edge cover
    index (core/join.build_cover_index, the same structure
    tag_road._tag_map_only probes) and emit per ping the edge ids and
    exact distances of EVERY edge within ``cutoff_m``, sorted by
    (dist, edge_id). Returns None when the edge side exceeds the
    broadcast cover cap — callers fall back to the distributed join."""
    from ..core import join as _J
    cap = _J.BROADCAST_GEOM_MAX_ROWS
    rows = edges.select("edge_id", "geometry").limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    wkbs = [bytes(r[1]) for r in rows]
    g = geom.parse_wkb_batch(wkbs)
    box = geom.geom_bbox(g)
    edge_ids = np.array([r[0] for r in rows], dtype=np.int64)
    pad_deg = max(cells.meters_to_deg_lat(cutoff_m),
                  cells.meters_to_deg_lon(cutoff_m, lat0))
    cell_index = _J.build_cover_index(g, box, depth, pad_deg,
                                      _J.COVER_INDEX_MAX_ENTRIES)
    if cell_index is None:
        return None

    bc = pings.sparkSession.sparkContext.broadcast({
        "index": cell_index,
        "coords": g.coords, "offsets": g.offsets, "kinds": g.kinds,
        "box": box, "edge_ids": edge_ids,
    })
    coslat = max(float(np.cos(np.radians(lat0))), 1e-6)
    pad_lon = cutoff_m / (cells.M_PER_DEG_LON_EQ * coslat) * (1 + 1e-6) + 1e-9
    pad_lat = cutoff_m / cells.M_PER_DEG_LAT * (1 + 1e-6) + 1e-9
    schema = T.StructType(list(pings.schema.fields) + [
        T.StructField("cand_edges", T.ArrayType(T.LongType())),
        T.StructField("cand_dists", T.ArrayType(T.DoubleType()))])

    def _probe(batches):
        v = bc.value
        gg = geom.RaggedGeoms(v["coords"], v["offsets"], v["kinds"])
        ix, bx, eids = v["index"], v["box"], v["edge_ids"]
        for pdf in batches:
            n = len(pdf)
            ce: list = [[] for _ in range(n)]
            cd: list = [[] for _ in range(n)]
            if n:
                px = pdf[lon_col].to_numpy(np.float64)
                py = pdf[lat_col].to_numpy(np.float64)
                cell = cells.encode(px, py, depth)
                pt, cand = ix.probe(cell)
                if pt.size:
                    keep = ((px[pt] >= bx[cand, 0] - pad_lon)
                            & (px[pt] <= bx[cand, 2] + pad_lon)
                            & (py[pt] >= bx[cand, 1] - pad_lat)
                            & (py[pt] <= bx[cand, 3] + pad_lat))
                    pt, cand = pt[keep], cand[keep]
                if pt.size:
                    d = geom.point_polyline_dist(px[pt], py[pt], cand, gg,
                                                 lat0)
                    ok = d <= cutoff_m
                    pt, cand, d = pt[ok], cand[ok], d[ok]
                if pt.size:
                    # per ping ascending (dist, edge_id) — the same total
                    # order tag_road's argmin struct uses
                    order = np.lexsort((eids[cand], d, pt))
                    pt, cand, d = pt[order], cand[order], d[order]
                    for i, c, dist in zip(pt, eids[cand], d):
                        ce[i].append(int(c))
                        cd[i].append(float(dist))
            res = pdf.copy()
            res["cand_edges"] = ce
            res["cand_dists"] = cd
            yield res

    return pings.mapInPandas(_probe, schema)


def _cand_arrays_distributed(pings: DataFrame, edges: DataFrame,
                             cutoff_m: float, depth: int, pk: str,
                             lon_col: str, lat_col: str,
                             lat0: float = 0.0) -> DataFrame:
    """Distributed candidate stage (tag_road's one-candidate-join shape):
    the EDGE covers take the ``cutoff_m`` pad, pings encode to one cell
    each, a single equi-join + JVM envelope prefilter + exact distance,
    then one groupBy(pk) collects the sorted candidate arrays. Pings
    with no candidate re-attach by left join (empty arrays)."""
    from .tag_road import _dist_udf
    coslat = max(float(np.cos(np.radians(lat0))), 1e-6)
    env_cols = ["gmin_lon", "gmin_lat", "gmax_lon", "gmax_lat"]
    padded = (cover_geometry(edges, depth, cutoff_m / coslat, out_col="_cov",
                             with_envelope=True)
              .withColumn("cell", F.explode("_cov"))
              .select("cell", "edge_id", *env_cols, "geometry"))
    pad_lon = cutoff_m / (cells.M_PER_DEG_LON_EQ * coslat) * (1 + 1e-6) + 1e-9
    pad_lat = cutoff_m / cells.M_PER_DEG_LAT * (1 + 1e-6) + 1e-9

    @F.pandas_udf(T.LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(cells.encode(lon.to_numpy(np.float64),
                                      lat.to_numpy(np.float64), depth))

    dist = _dist_udf(None, lat0)
    cand = (pings.select(pk, F.col(lon_col).alias("_lon"),
                         F.col(lat_col).alias("_lat"))
            .withColumn("cell", _enc.asNondeterministic()(
                F.col("_lon"), F.col("_lat")))
            .join(padded, "cell").drop("cell")
            .filter((F.col("_lon") >= F.col("gmin_lon") - pad_lon)
                    & (F.col("_lon") <= F.col("gmax_lon") + pad_lon)
                    & (F.col("_lat") >= F.col("gmin_lat") - pad_lat)
                    & (F.col("_lat") <= F.col("gmax_lat") + pad_lat))
            .withColumn("dist_m", dist(F.col("_lon"), F.col("_lat"),
                                       F.col("geometry")))
            .filter(F.col("dist_m") <= cutoff_m))
    agg = (cand.groupBy(pk)
           .agg(F.sort_array(F.collect_list(
               F.struct(F.col("dist_m"), F.col("edge_id")))).alias("_c"))
           .select(pk,
                   F.transform("_c", lambda s: s["edge_id"])
                   .alias("cand_edges"),
                   F.transform("_c", lambda s: s["dist_m"])
                   .alias("cand_dists")))
    empty_e = F.array().cast("array<bigint>")
    empty_d = F.array().cast("array<double>")
    return (pings.join(agg, pk, "left")
            .withColumn("cand_edges", F.coalesce("cand_edges", empty_e))
            .withColumn("cand_dists", F.coalesce("cand_dists", empty_d)))


# ---------------------------------------------------------------------------
# map matching
# ---------------------------------------------------------------------------

def map_match(pings: DataFrame, edges_df: DataFrame,
              edge_dataset_id: str | None = None, *,
              key_col: str = "user_id", ts_col: str = "ts",
              id_col: str = "event_id",
              lon_col: str = "lon", lat_col: str = "lat",
              cutoff_m: float = 600.0,
              keep_within_m: float | None = None,
              depth: int | None = None,
              metric_lat: float | None = None) -> DataFrame:
    """Snap each ping of a per-``key_col`` trajectory (ordered by
    ``ts_col`` then ``id_col``) to a road edge.

    Output = pings plus ``nearest_edge_id`` (raw per-point argmin over
    edges within ``cutoff_m``; null when none), ``matched_edge_id``
    (the hysteresis-smoothed assignment) and ``n_cand``. The transition
    rule: keep the previous ping's NEAREST edge when its exact distance
    to the current ping is within ``keep_within_m`` (default: cutoff);
    otherwise take the current nearest. Reading the lag of the raw
    nearest (not of the chosen edge) keeps the rule non-recursive —
    one window pass, no sequential scan — while still absorbing the
    flap between parallel edges. Determinism: argmin and candidate
    order tie-break on (dist, edge_id), a total order.

    ``metric_lat`` opts into the cos(lat) local metric (the engine-wide
    contract): candidate distances scale lon meters by cos, pads/depth
    widen by 1/cos.
    """
    if keep_within_m is None:
        keep_within_m = cutoff_m
    if keep_within_m > cutoff_m:
        raise ValueError("keep_within_m must be <= cutoff_m (candidate "
                         "sets are only complete within the cutoff)")
    lat0, _ = _metric(metric_lat)
    if depth is None:
        depth = int(np.clip(cells.depth_for_radius_m(max(cutoff_m, 1.0),
                                                     lat0),
                            cells.RES_GRID[7], cells.RES_GRID[10]))
    edges = edges_df
    if edge_dataset_id is not None:
        edges = edges.filter(F.col("dataset_id") == edge_dataset_id)

    with_cand = _cand_arrays_map_only(pings, edges, cutoff_m, depth,
                                      lon_col, lat_col, lat0)
    if with_cand is None:
        with_cand = _cand_arrays_distributed(pings, edges, cutoff_m, depth,
                                             id_col, lon_col, lat_col,
                                             lat0)

    us = _us(pings, ts_col)
    w = Window.partitionBy(key_col).orderBy(us.asc(), F.col(id_col).asc())
    nearest = F.when(F.size("cand_edges") > 0,
                     F.element_at("cand_edges", 1))
    prev_e = F.lag(F.col("nearest_edge_id")).over(w)
    out = with_cand.withColumn("nearest_edge_id", nearest)
    out = out.withColumn("_prev_e", prev_e)
    prev_dist = F.when(
        F.col("_prev_e").isNotNull() & (F.size("cand_edges") > 0),
        F.element_at(F.map_from_arrays("cand_edges", "cand_dists"),
                     F.col("_prev_e")))
    matched = (F.when(prev_dist <= F.lit(float(keep_within_m)),
                      F.col("_prev_e"))
               .otherwise(F.col("nearest_edge_id")))
    return (out.withColumn("matched_edge_id", matched)
            .withColumn("n_cand", F.size("cand_edges").cast("long"))
            .drop("_prev_e", "cand_edges", "cand_dists"))


# ---------------------------------------------------------------------------
# trip statistics
# ---------------------------------------------------------------------------

def trip_geo_stats(pings: DataFrame, *,
                   key_col: str = "user_id", ts_col: str = "ts",
                   id_col: str = "event_id",
                   lon_col: str = "lon", lat_col: str = "lat",
                   gap_s: int = 21600,
                   metric_lat: float | None = None) -> DataFrame:
    """Gap-sessionized trips with exact-integer geometry rollups.

    Output: (key, session_seq, n_pings, first_ping, span_us, len_mm) —
    ``len_mm`` is the planar path length in whole millimeters, each
    inter-ping step floored to mm BEFORE the sum. Summing integers
    makes the result independent of addition order (a float sum is
    not), so the answer is identical across partitionings and engines.
    Steps use the engine's planar scale (core/cells constants):
    dx = dlon * 111320, dy = dlat * 110540, step = sqrt(dx*dx + dy*dy).

    Plan: ONE exchange on ``key_col`` feeds the sessionize window, the
    lag columns, and the (key, session) aggregate (the groupBy keys are
    a superset of the window partition key — no second exchange).
    """
    _, coslat = _metric(metric_lat)
    s = sessionize(pings, key_col, ts_col, id_col, gap_s)
    us = _us(pings, ts_col)
    w = Window.partitionBy(key_col).orderBy(us.asc(), F.col(id_col).asc())
    dx = (F.col(lon_col) - F.lag(F.col(lon_col)).over(w)) \
        * F.lit(cells.M_PER_DEG_LON_EQ * coslat)
    dy = (F.col(lat_col) - F.lag(F.col(lat_col)).over(w)) \
        * F.lit(cells.M_PER_DEG_LAT)
    same = F.lag(F.col("session_seq")).over(w) == F.col("session_seq")
    step_mm = F.when(same, F.floor(F.sqrt(dx * dx + dy * dy)
                                   * F.lit(1000.0))).otherwise(F.lit(0))
    return (s.withColumn("_step_mm", step_mm)
            .groupBy(key_col, "session_seq")
            .agg(F.count(F.lit(1)).alias("n_pings"),
                 F.min(id_col).alias("first_ping"),
                 (F.max(us) - F.min(us)).cast("long").alias("span_us"),
                 F.sum("_step_mm").cast("long").alias("len_mm")))


def trip_segments(pings: DataFrame, *,
                  key_col: str = "user_id", ts_col: str = "ts",
                  id_col: str = "event_id",
                  lon_col: str = "lon", lat_col: str = "lat",
                  gap_s: int = 21600) -> DataFrame:
    """Consecutive same-trip ping pairs as directed segments — the
    polyline form of a trajectory, ready for raster burn-in
    (operators/raster.segment_pixels) or any per-step analysis.

    Output: one row per step (key, session_seq, seg_id, lon0, lat0,
    lon1, lat1, dt_us) where ``seg_id`` is the DESTINATION ping's id
    (unique across the corpus because ping ids are) and ``dt_us`` the
    integer step duration. Steps that cross a session gap are dropped
    — a trip's polyline never spans the gap, matching trip_geo_stats'
    len_mm accounting (same window, same session rule).

    Plan: the ONE unavoidable exchange on ``key_col`` (any engine must
    co-locate a trajectory to order it) feeds sessionize, every lag,
    and the same-session filter; downstream consumers see a plain
    narrow relation."""
    s = sessionize(pings, key_col, ts_col, id_col, gap_s)
    us = _us(pings, ts_col)
    w = Window.partitionBy(key_col).orderBy(us.asc(), F.col(id_col).asc())
    same = F.lag(F.col("session_seq")).over(w) == F.col("session_seq")
    return (s.select(F.col(key_col), F.col("session_seq"),
                     F.col(id_col).alias("seg_id"),
                     F.lag(F.col(lon_col)).over(w).alias("lon0"),
                     F.lag(F.col(lat_col)).over(w).alias("lat0"),
                     F.col(lon_col).alias("lon1"),
                     F.col(lat_col).alias("lat1"),
                     (us - F.lag(us).over(w)).cast("long").alias("dt_us"),
                     same.alias("_same"))
            .filter(F.col("_same")).drop("_same"))


def speed_pixels(pings: DataFrame, z: int, px: int, *,
                 speed_div: int = 1, gap_s: int = 21600,
                 key_col: str = "user_id", ts_col: str = "ts",
                 id_col: str = "event_id",
                 lon_col: str = "lon", lat_col: str = "lat",
                 metric_lat: float | None = None) -> DataFrame:
    """Mean-step-speed raster: every trip step lands its integer speed
    (mm/s, the trip_geo_stats planar-mm scale over the exact integer
    dt_us) on the DESTINATION ping's lattice pixel; the pixel value is
    the floored mean over steps, scaled by ``speed_div`` and clipped
    at 255 — a speed heat-map layer that composes with encode_tiles /
    zonal_stats / combine_pixel_counts exactly like a density layer
    (it emits the same (z, …, n) relation, n = the pixel VALUE).

    All arithmetic is integer-or-exact-double (each step floors to mm
    and to mm/s BEFORE aggregation; the mean is pure integer DIV over
    the summed mm/s), so the layer is independent of partitioning and
    engine. Zero-length steps keep speed 0; zero-DURATION steps
    (same-timestamp fixes) are dropped — speed is undefined, and both
    engines must agree on the drop rather than divide by zero.

    Plan: the trajectory exchange (trip_segments) then ONE pixel
    aggregate — identical shape to pixel_counts plus the window."""
    from .raster import _log2_px
    p = _log2_px(px)
    speed_div = int(speed_div)
    if speed_div < 1:
        raise ValueError("speed_div must be a positive integer")
    _, coslat = _metric(metric_lat)
    segs = trip_segments(pings, key_col=key_col, ts_col=ts_col,
                         id_col=id_col, lon_col=lon_col, lat_col=lat_col,
                         gap_s=gap_s).filter(F.col("dt_us") > 0)
    dx = (F.col("lon1") - F.col("lon0")) \
        * F.lit(cells.M_PER_DEG_LON_EQ * coslat)
    dy = (F.col("lat1") - F.col("lat0")) * F.lit(cells.M_PER_DEG_LAT)
    step_mm = F.floor(F.sqrt(dx * dx + dy * dy) * F.lit(1000.0))
    mmps = F.floor((step_mm * F.lit(1000000.0)) / F.col("dt_us"))
    gx, gy, _ = cells.tile_expr(F.col("lon1"), F.col("lat1"), z + p)
    return (segs.select(gx.cast("long").alias("gx"),
                        gy.cast("long").alias("gy"),
                        mmps.cast("long").alias("_mmps"))
            .groupBy("gx", "gy")
            .agg(F.count(F.lit(1)).alias("n_steps"),
                 F.sum("_mmps").alias("sum_mmps"))
            .select(F.lit(int(z)).cast("int").alias("z"),
                    (F.col("gx") / px).cast("int").alias("tile_x"),
                    (F.col("gy") / px).cast("int").alias("tile_y"),
                    "gx", "gy",
                    (F.col("gx") % px).cast("int").alias("px_x"),
                    (F.col("gy") % px).cast("int").alias("px_y"),
                    F.col("n_steps").cast("long").alias("n_steps"),
                    F.col("sum_mmps").cast("long").alias("sum_mmps"),
                    F.least(
                        F.lit(255).cast("long"),
                        F.expr(f"(sum_mmps DIV n_steps) DIV {speed_div}")
                        .cast("long")).alias("n")))


def edge_usage(pings: DataFrame, edges_df: DataFrame,
               edge_dataset_id: str | None = None, *,
               key_col: str = "user_id", ts_col: str = "ts",
               id_col: str = "event_id",
               lon_col: str = "lon", lat_col: str = "lat",
               cutoff_m: float = 600.0,
               keep_within_m: float | None = None,
               metric_lat: float | None = None) -> DataFrame:
    """Road-segment usage statistics: map-match every ping (the full
    hysteresis rule), then roll up per matched edge — ping count,
    DISTINCT collector count, and the first/last observation epoch.
    The aggregate view a transportation agency actually serves from
    matched trajectories (which sidewalks/streets are covered, by how
    many collectors, how recently) — the trajectory analogue of the
    reference's per-edge spatial-join aggregates (O2).

    Unmatched pings (no edge within ``cutoff_m``) drop — they are
    coverage_gaps' output, not usage. Plan: map_match's single window
    exchange + ONE per-edge hash aggregate (countDistinct expands to
    the exact two-phase distinct; edge cardinality is small, so the
    exchange is narrow)."""
    mm = map_match(pings, edges_df, edge_dataset_id, key_col=key_col,
                   ts_col=ts_col, id_col=id_col, lon_col=lon_col,
                   lat_col=lat_col, cutoff_m=cutoff_m,
                   keep_within_m=keep_within_m, metric_lat=metric_lat)
    us = _us(mm, ts_col)
    return (mm.filter(F.col("matched_edge_id").isNotNull())
            .groupBy(F.col("matched_edge_id").alias("edge_id"))
            .agg(F.count(F.lit(1)).alias("n_pings"),
                 F.countDistinct(F.col(key_col)).alias("n_users"),
                 F.min(us).cast("long").alias("first_us"),
                 F.max(us).cast("long").alias("last_us")))


def co_travelers(pings: DataFrame, z: int, *, min_common: int = 2,
                 key_col: str = "user_id",
                 lon_col: str = "lon", lat_col: str = "lat",
                 max_users_per_cell: int | None = None) -> DataFrame:
    """Trajectory similarity as cell-visit-set overlap: for every pair
    of keys sharing at least ``min_common`` distinct zoom-``z`` tiles,
    the intersection size, both set sizes, and the integer-permille
    Jaccard floor(1000 * |A n B| / |A u B|) — companion mining over
    WHERE users go (set semantics; when matters, use co_location).

    All arithmetic is integer (set counts + one integer DIV), so the
    operator carries a full oracle. The tile coords materialize in the
    distinct projection, so the self-join key is a plain attribute —
    never the asinh tile expression (inferred join filters would
    re-inline it; see cells._part1by1_expr).

    Scale: distinct (key, cell) visits -> self equi-join on the cell ->
    per-pair count. A cell visited by k keys emits k^2/2 pair rows —
    inherent to set-overlap semantics; ``max_users_per_cell`` (optional)
    drops cells hotter than the cap BEFORE pairing, trading exactness
    on mega-hub cells (a cell every collector visits identifies no one
    — the IDF intuition) for a hard per-cell bound. The contract query
    runs uncapped."""
    gx, gy, _ = cells.tile_expr(F.col(lon_col), F.col(lat_col), z)
    visits = (pings.select(F.col(key_col).alias("_k"),
                           gx.cast("long").alias("_gx"),
                           gy.cast("long").alias("_gy"))
              .distinct())
    if max_users_per_cell is not None:
        ok = (visits.groupBy("_gx", "_gy")
              .agg(F.count(F.lit(1)).alias("_nu"))
              .filter(F.col("_nu") <= int(max_users_per_cell))
              .select("_gx", "_gy"))
        visits = visits.join(ok, ["_gx", "_gy"], "left_semi")
    counts = visits.groupBy("_k").agg(F.count(F.lit(1)).alias("_nc"))
    a = visits.select(F.col("_k").alias("user_a"), "_gx", "_gy")
    b = visits.select(F.col("_k").alias("user_b"), "_gx", "_gy")
    inter = (a.join(b, ["_gx", "_gy"])
             .filter(F.col("user_a") < F.col("user_b"))
             .groupBy("user_a", "user_b")
             .agg(F.count(F.lit(1)).alias("n_common"))
             .filter(F.col("n_common") >= int(min_common)))
    return (inter
            .join(counts.select(F.col("_k").alias("user_a"),
                                F.col("_nc").alias("n_a")), "user_a")
            .join(counts.select(F.col("_k").alias("user_b"),
                                F.col("_nc").alias("n_b")), "user_b")
            .select("user_a", "user_b", "n_common", "n_a", "n_b",
                    F.expr("(n_common * 1000) DIV (n_a + n_b - n_common)")
                    .cast("long").alias("jaccard_pm")))


def stay_points(pings: DataFrame, *, radius_m: float = 100.0,
                min_duration_s: int = 300, max_gap_s: int | None = None,
                key_col: str = "user_id", ts_col: str = "ts",
                id_col: str = "event_id",
                lon_col: str = "lon", lat_col: str = "lat",
                metric_lat: float | None = None) -> DataFrame:
    """Dwell (stop) detection: maximal runs of consecutive pings where
    every step stays within ``radius_m`` of its predecessor (and, when
    ``max_gap_s`` is set, within that time gap), kept when the run
    spans at least ``min_duration_s`` — where a collector lingered,
    the stop-extraction pass every trajectory pipeline runs before
    OD/visit analysis.

    This is the LINKED-STEP dwell rule (each ping near its
    predecessor), not anchor-radius: a slow drift whose individual
    steps stay under the radius chains into one dwell. The linked rule
    is one window pass (cumsum of step-breaks — the sessionize trick
    applied to space) and therefore exact in any engine; anchor-radius
    needs a sequential scan. Steps compare in floored integer
    millimeters against an integer threshold, so both engines agree at
    every boundary.

    Output per dwell: (key, dwell_seq, n_pings, start_us, end_us,
    span_us, anchor_id, lon, lat) — anchor is the dwell's smallest
    ping id (ids are unique, so min is deterministic), coords are that
    ping's. Plan: ONE key exchange (the trajectory window) + the
    group-by on the same key (no second exchange needed by semantics;
    Catalyst reuses the partitioning)."""
    _, coslat = _metric(metric_lat)
    radius_mm = int(round(float(radius_m) * 1000.0))
    dur_us = int(min_duration_s) * 1_000_000
    us = _us(pings, ts_col)
    w = Window.partitionBy(key_col).orderBy(us.asc(), F.col(id_col).asc())
    dx = (F.col(lon_col) - F.lag(F.col(lon_col)).over(w)) \
        * F.lit(cells.M_PER_DEG_LON_EQ * coslat)
    dy = (F.col(lat_col) - F.lag(F.col(lat_col)).over(w)) \
        * F.lit(cells.M_PER_DEG_LAT)
    step_mm = F.floor(F.sqrt(dx * dx + dy * dy) * F.lit(1000.0))
    dt_us = us - F.lag(us).over(w)
    brk = F.lag(us).over(w).isNull() | (step_mm > F.lit(radius_mm))
    if max_gap_s is not None:
        brk = brk | (dt_us > F.lit(int(max_gap_s) * 1_000_000))
    marked = pings.select(
        F.col(key_col), F.col(id_col), F.col(lon_col), F.col(lat_col),
        us.alias("_us"),
        F.sum(brk.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("dwell_seq"))
    return (marked.groupBy(key_col, "dwell_seq")
            .agg(F.count(F.lit(1)).alias("n_pings"),
                 F.min("_us").cast("long").alias("start_us"),
                 F.max("_us").cast("long").alias("end_us"),
                 F.min(F.col(id_col)).alias("anchor_id"),
                 F.min_by(F.col(lon_col), F.col(id_col)).alias("lon"),
                 F.min_by(F.col(lat_col), F.col(id_col)).alias("lat"))
            .withColumn("span_us",
                        (F.col("end_us") - F.col("start_us")).cast("long"))
            .filter(F.col("span_us") >= F.lit(dur_us))
            .withColumn("dwell_seq", F.col("dwell_seq").cast("long")))


def co_location(pings: DataFrame, *, radius_m: float = 100.0,
                window_s: int = 600, key_col: str = "user_id",
                ts_col: str = "ts", id_col: str = "event_id",
                lon_col: str = "lon", lat_col: str = "lat",
                pairs: bool = False,
                metric_lat: float | None = None) -> DataFrame:
    """Space-time encounter join: ping pairs from two DIFFERENT keys
    within ``radius_m`` planar meters AND ``window_s`` seconds of each
    other — companion detection / contact tracing, the trajectory
    analogue of O2's spatial join with time added to the key.

    Candidates come from an equi-join on (cell, time-bucket): one side
    carries its exact cell (union_dataset's padded-cover machinery,
    operators/union_dataset._grid_key_cover — completeness proven
    there), the other explodes its padded 4-corner cover x the bucket
    triple {b-1, b, b+1} (bucket width = window, so a qualifying pair
    can differ by at most one bucket). Exact refine: integer |dt| and
    the floored-millimeter planar distance against an integer
    threshold — both engine-exact. Each unordered ping pair survives
    exactly once (key_a < key_b picks the orientation; cover cells are
    distinct and the bucket triple is distinct, so the join emits one
    candidate row per pair per orientation at most).

    ``pairs=True`` returns per-encounter rows (id_a, id_b, dt_us,
    dist_mm); default aggregates per key pair (n_encounters, first_us,
    last_us). Scale: one shuffled equi-join on narrow rows + one
    aggregate; a (cell, bucket) holding k pings of each side emits
    O(k^2) candidates — inherent to encounter semantics (the OUTPUT is
    quadratic in co-located density), so pick the radius/window the
    analysis needs, not larger."""
    from .union_dataset import _grid_key_cover
    lat0, coslat = _metric(metric_lat)
    cell_of, cover_of = _grid_key_cover(float(radius_m), lat0)
    radius_mm = int(round(float(radius_m) * 1000.0))
    w_us = int(window_s) * 1_000_000
    us = _us(pings, ts_col)
    base = (pings.select(F.col(key_col).alias("_k"),
                         F.col(id_col).alias("_id"),
                         F.col(lon_col).alias("_lon"),
                         F.col(lat_col).alias("_lat"),
                         us.cast("long").alias("_us"))
            # integer DIV, not float division: a float-rounded bucket at
            # an exact boundary would break the +-1 bucket completeness
            .withColumn("_bkt", F.expr(f"_us DIV {w_us}")))
    a = (base.withColumn("_cells", cover_of("_lon", "_lat"))
         .withColumn("_jcell", F.explode("_cells")).drop("_cells")
         .withColumn("_jbkt", F.explode(F.array(
             F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1)))
         .select(F.col("_k").alias("_ka"), F.col("_id").alias("_ida"),
                 F.col("_lon").alias("_lona"), F.col("_lat").alias("_lata"),
                 F.col("_us").alias("_usa"), "_jcell", "_jbkt"))
    b = (base.withColumn("_cell", cell_of("_lon", "_lat"))
         .select(F.col("_k").alias("_kb"), F.col("_id").alias("_idb"),
                 F.col("_lon").alias("_lonb"), F.col("_lat").alias("_latb"),
                 F.col("_us").alias("_usb"), "_cell", "_bkt"))
    dxm = (F.col("_lonb") - F.col("_lona")) \
        * F.lit(cells.M_PER_DEG_LON_EQ * coslat)
    dym = (F.col("_latb") - F.col("_lata")) * F.lit(cells.M_PER_DEG_LAT)
    dist_mm = F.floor(F.sqrt(dxm * dxm + dym * dym) * F.lit(1000.0))
    enc = (a.join(b, (F.col("_jcell") == F.col("_cell"))
                  & (F.col("_jbkt") == F.col("_bkt")))
           .filter((F.col("_ka") < F.col("_kb"))
                   & (F.abs(F.col("_usa") - F.col("_usb")) <= F.lit(w_us))
                   & (dist_mm <= F.lit(radius_mm)))
           .select(F.col("_ka").alias("user_a"),
                   F.col("_kb").alias("user_b"),
                   F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"),
                   (F.col("_usb") - F.col("_usa")).cast("long")
                   .alias("dt_us"),
                   dist_mm.cast("long").alias("dist_mm"),
                   F.col("_usa"), F.col("_usb")))
    if pairs:
        return enc.drop("_usa", "_usb")
    return (enc.groupBy("user_a", "user_b")
            .agg(F.count(F.lit(1)).alias("n_encounters"),
                 F.min(F.least(F.col("_usa"), F.col("_usb")))
                 .cast("long").alias("first_us"),
                 F.max(F.greatest(F.col("_usa"), F.col("_usb")))
                 .cast("long").alias("last_us")))


# ---------------------------------------------------------------------------
# geofence visit episodes
# ---------------------------------------------------------------------------

def zone_visits(pings: DataFrame, zones_df: DataFrame,
                zone_dataset_id: str | None = None, *,
                max_gap_s: int = 21600,
                key_col: str = "user_id", ts_col: str = "ts",
                id_col: str = "event_id",
                lon_col: str = "lon", lat_col: str = "lat",
                depth: int | None = None) -> DataFrame:
    """Geofence visit episodes: per (key, zone) the maximal runs of
    in-zone pings separated by at most ``max_gap_s`` — enter/exit
    timestamps, ping count, and span per visit. The enter/exit event
    log a curb-management or zone-analytics consumer derives from the
    reference's zone tables (the episode view over od_matrix's same
    PIP machinery: od_matrix keeps trip ENDPOINTS, zone_visits keeps
    the full membership timeline).

    Zone membership comes from the real polygon PIP join
    (core/join.two_phase_join — broadcast for any realistic zone
    table); episodes are the sessionize cumsum applied per (key,
    zone), so a ping visiting overlapping zones contributes one
    episode stream per zone independently. All thresholds compare in
    integer microseconds — full SQL oracle.

    Plan: the PIP join's one exchange on the point side, then ONE
    window + same-key aggregate exchange on (key, zone_id)."""
    from ..core.compiler import compile_join_condition
    from ..core.join import GeomSide, two_phase_join
    zones = zones_df
    if zone_dataset_id is not None:
        zones = zones.filter(F.col("dataset_id") == zone_dataset_id)
    us = _us(pings, ts_col)
    pts = pings.select(F.col(key_col), F.col(id_col),
                       us.cast("long").alias("_us"),
                       F.col(lon_col).alias("lon"),
                       F.col(lat_col).alias("lat"))
    pred = compile_join_condition(
        "ST_Intersects(geometry_target, geometry_source)")
    pairs = two_phase_join(
        GeomSide(df=zones, pk="zone_id", kind="polygon",
                 geom_col="geometry"),
        GeomSide(df=pts, pk=id_col, kind="point",
                 carry=[key_col, "_us"]),
        pred, depth=depth)
    inz = pairs.select(F.col(f"s_{key_col}").alias(key_col),
                       F.col("t_zone_id").alias("zone_id"),
                       F.col(f"s_{id_col}").alias(id_col),
                       F.col("s__us").alias("_us"))
    gap_us = int(max_gap_s) * 1_000_000
    w = Window.partitionBy(key_col, "zone_id") \
        .orderBy(F.col("_us").asc(), F.col(id_col).asc())
    brk = (F.lag("_us").over(w).isNull()
           | ((F.col("_us") - F.lag("_us").over(w)) > F.lit(gap_us)))
    marked = inz.withColumn(
        "visit_seq",
        F.sum(brk.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (marked.groupBy(key_col, "zone_id", "visit_seq")
            .agg(F.count(F.lit(1)).alias("n_pings"),
                 F.min("_us").cast("long").alias("enter_us"),
                 F.max("_us").cast("long").alias("exit_us"))
            .withColumn("visit_seq", F.col("visit_seq").cast("long"))
            .withColumn("span_us",
                        (F.col("exit_us") - F.col("enter_us"))
                        .cast("long")))


# ---------------------------------------------------------------------------
# origin/destination matrix
# ---------------------------------------------------------------------------

def od_matrix(pings: DataFrame, zones_df: DataFrame,
              zone_dataset_id: str | None = None, *,
              key_col: str = "user_id", ts_col: str = "ts",
              id_col: str = "event_id",
              lon_col: str = "lon", lat_col: str = "lat",
              gap_s: int = 21600,
              depth: int | None = None) -> DataFrame:
    """Trip origin/destination counts between zones.

    Trips come from gap sessionization; each trip's FIRST and LAST ping
    (by (ts, id) — a total order) assign to zones through the real
    polygon point-in-polygon join (core/join.two_phase_join, the same
    path the O2 spatial join runs), then one aggregate counts trips per
    (o_zone, d_zone). Trips whose endpoint falls in no zone are dropped
    (inner PIP), matching the SQL definition.

    Plan: one exchange on ``key_col`` (sessionize window + endpoint
    argmin/argmax share it), a broadcast PIP join for any realistic
    zone table, one exchange on (o_zone, d_zone).
    """
    from ..core.compiler import compile_join_condition
    from ..core.join import GeomSide, two_phase_join
    zones = zones_df
    if zone_dataset_id is not None:
        zones = zones.filter(F.col("dataset_id") == zone_dataset_id)

    s = sessionize(pings, key_col, ts_col, id_col, gap_s)
    us = _us(pings, ts_col)
    pt = F.struct(us.alias("us"), F.col(id_col).alias("id"),
                  F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat"))
    # (us, id) is a total order, so min/max of the struct select the
    # first/last ping; (key, session_seq) is the deterministic trip key
    trips = (s.groupBy(key_col, "session_seq")
             .agg(F.min(pt).alias("o"), F.max(pt).alias("d")))
    ends = trips.select(
        key_col, "session_seq",
        F.explode(F.array(
            F.struct(F.lit("o").alias("which"),
                     F.col("o.lon").alias("lon"), F.col("o.lat").alias("lat")),
            F.struct(F.lit("d").alias("which"),
                     F.col("d.lon").alias("lon"), F.col("d.lat").alias("lat")),
        )).alias("e")).select(key_col, "session_seq",
                              "e.which", "e.lon", "e.lat")
    ends = ends.withColumn(
        "_pk", F.concat_ws(":", F.col(key_col).cast("string"),
                           F.col("session_seq").cast("string"),
                           F.col("which")))
    pred = compile_join_condition(
        "ST_Intersects(geometry_target, geometry_source)")
    pairs = two_phase_join(
        GeomSide(df=zones, pk="zone_id", kind="polygon",
                 geom_col="geometry"),
        GeomSide(df=ends, pk="_pk", kind="point",
                 carry=[key_col, "session_seq", "which"]),
        pred, depth=depth)
    z = pairs.select(F.col(f"s_{key_col}").alias(key_col),
                     F.col("s_session_seq").alias("session_seq"),
                     F.col("s_which").alias("which"),
                     F.col("t_zone_id").alias("zone_id"))
    o = z.filter(F.col("which") == "o").select(
        key_col, "session_seq", F.col("zone_id").alias("o_zone"))
    d = z.filter(F.col("which") == "d").select(
        key_col, "session_seq", F.col("zone_id").alias("d_zone"))
    return (o.join(d, [key_col, "session_seq"])
            .groupBy("o_zone", "d_zone")
            .agg(F.count(F.lit(1)).alias("n_trips")))


# ---------------------------------------------------------------------------
# coverage gaps (spatial anti join)
# ---------------------------------------------------------------------------

def coverage_gaps(points: DataFrame, edges_df: DataFrame,
                  edge_dataset_id: str | None = None, *,
                  pk: str = "image_id",
                  lon_col: str = "lon", lat_col: str = "lat",
                  cutoff_m: float = 300.0,
                  depth: int | None = None,
                  metric_lat: float | None = None) -> DataFrame:
    """Points with NO edge within ``cutoff_m`` — the spatial anti join.

    The candidate stage is dataset_tag_road's one-candidate-join shape
    (edge covers padded by the cutoff, points encode to one cell, JVM
    envelope prefilter, exact vectorized distance), but instead of an
    argmin the within-cutoff candidates LEFT-ANTI join the point table:
    no per-point aggregation, no tag-back join — a covered point is
    dropped on first proof, an uncovered point never shuffles at all
    beyond the anti join itself. Padded-cover completeness guarantees
    no false gap: every edge within the cutoff produces its candidate
    row.
    """
    from .tag_road import _dist_udf
    lat0, coslat = _metric(metric_lat)
    if depth is None:
        depth = int(np.clip(cells.depth_for_radius_m(max(cutoff_m, 1.0),
                                                     lat0),
                            cells.RES_GRID[7], cells.RES_GRID[10]))
    edges = edges_df
    if edge_dataset_id is not None:
        edges = edges.filter(F.col("dataset_id") == edge_dataset_id)

    env_cols = ["gmin_lon", "gmin_lat", "gmax_lon", "gmax_lat"]
    padded = (cover_geometry(edges, depth, cutoff_m / coslat, out_col="_cov",
                             with_envelope=True)
              .withColumn("cell", F.explode("_cov"))
              .select("cell", "edge_id", *env_cols, "geometry"))
    pad_lon = cutoff_m / (cells.M_PER_DEG_LON_EQ * coslat) * (1 + 1e-6) + 1e-9
    pad_lat = cutoff_m / cells.M_PER_DEG_LAT * (1 + 1e-6) + 1e-9

    @F.pandas_udf(T.LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(cells.encode(lon.to_numpy(np.float64),
                                      lat.to_numpy(np.float64), depth))

    dist = _dist_udf(None, lat0)
    covered = (points.select(pk, F.col(lon_col).alias("_lon"),
                             F.col(lat_col).alias("_lat"))
               .withColumn("cell", _enc.asNondeterministic()(
                   F.col("_lon"), F.col("_lat")))
               .join(padded, "cell").drop("cell")
               .filter((F.col("_lon") >= F.col("gmin_lon") - pad_lon)
                       & (F.col("_lon") <= F.col("gmax_lon") + pad_lon)
                       & (F.col("_lat") >= F.col("gmin_lat") - pad_lat)
                       & (F.col("_lat") <= F.col("gmax_lat") + pad_lat))
               .withColumn("_d", dist(F.col("_lon"), F.col("_lat"),
                                      F.col("geometry")))
               .filter(F.col("_d") <= cutoff_m)
               .select(pk))
    return points.join(covered, pk, "left_anti")
