"""Multi-resolution integer cell index (vectorized numpy).

This is the engine's spatial access path. The reference
(TDEI-backend-service) relies on PostGIS GiST indexes over
pre-materialized EPSG:3857 geometry columns (see
/root/reference/src/service/interface/interfaces.ts:192-198 — every
spatial predicate runs on the `_3857` columns). Spark has no spatial
index, so we replace the index probe with a **cell equi-join**: every
feature is encoded to integer cell IDs at several resolutions at ingest
(write-time cost, read-time win — the same philosophy as the reference's
pre-materialized projection), and candidate pairs come from a plain hash
join on the cell column, which Catalyst plans as broadcast or shuffle
hash join.

Cell scheme
-----------
An equirectangular grid: at resolution ``r`` the world
(lon in [-180,180), lat in [-90,90)) is divided into ``2^r x 2^r`` cells.
A cell ID packs the resolution and the Morton (Z-order) interleave of the
(x, y) grid coordinates into one int64::

    cell_id = (r << 58) | morton2(x, y)        # r <= 29

Z-order keeps spatially-near cells numerically near, which compresses
well in parquet (delta encoding) and gives cheap range covers. The
resolution ladder mirrors H3 res 7-10 cell sizes (the north_rule's
"H3 (res 7-10)"): logical res 7/8/9/10 map to grid depths chosen so the
equator cell edge is ~1.2 km / 600 m / 150 m / 75 m.

Pure numpy on int64/uint64 arrays — safe to call inside Arrow-batched
pandas UDFs (no per-row Python).
"""

from __future__ import annotations

import numpy as np

# Logical resolution ladder: H3-res-like name -> grid depth (bits/axis).
# Equator cell edge at depth d is 360/2^d degrees (~111.32 km per degree).
RES_GRID: dict[int, int] = {
    5: 11,   # ~19.6 km  (partition-level prefix)
    7: 15,   # ~1.22 km  (H3 r7 ~ 1.2 km edge)
    8: 16,   # ~611 m    (H3 r8 ~ 460 m)
    9: 18,   # ~153 m    (H3 r9 ~ 175 m)
    10: 19,  # ~76 m     (H3 r10 ~ 65 m)
}
MAX_DEPTH = 29

# Rough meters-per-degree at the equator (equirectangular model; the
# reference's EPSG:3857 predicates are likewise only metric near the
# equator — ST_Buffer(geom_3857, 2) means "2 m" at lat 0).
M_PER_DEG_LAT = 110_540.0
M_PER_DEG_LON_EQ = 111_320.0


def meters_to_deg_lat(m: float) -> float:
    return m / M_PER_DEG_LAT


def meters_to_deg_lon(m: float, lat: float = 0.0) -> float:
    return m / (M_PER_DEG_LON_EQ * max(np.cos(np.radians(lat)), 1e-6))


def cell_size_deg(depth: int) -> float:
    """Edge length of a cell at grid depth ``depth``, in degrees."""
    return 360.0 / (1 << depth)


def cell_lat_m(depth: int) -> float:
    """Meters of a cell's LAT extent (the tighter axis: lat spans 180 deg
    over 2^depth cells, half the lon extent in degrees)."""
    return (180.0 / (1 << depth)) * M_PER_DEG_LAT


def depth_for_radius_m(radius_m: float, lat: float = 0.0) -> int:
    """Deepest grid depth whose cell extent is >= ``radius_m`` meters on
    BOTH axes, so one neighbor ring always covers a distance predicate
    of ``radius_m`` (no false-negative candidates). At the equator the
    lat axis is the tighter one; under the opt-in local metric
    (``lat`` != 0) the lon axis shrinks by cos(lat) and takes over past
    ~60 deg, so both axes are checked.

    Envelope (pinned by the property test): the result clips to
    [1, MAX_DEPTH], so the extent guarantee SATURATES at the ends —
    radii above half the world's local lon span (~20,000 km * cos(lat),
    e.g. ~4,800 km at 76 deg) still return depth 1, whose extent is
    below the radius. No caller's CORRECTNESS rests on the guarantee
    there: join/trajectory covers pad by explicit degrees (complete at
    any depth), tag_road's ring expansion settles on the exact
    guaranteed radius, and union's 4-corner cover hard-fails its
    invariant check rather than missing candidates. Sub-centimeter
    radii likewise pin at MAX_DEPTH."""
    r = max(radius_m, 1e-9)
    d_lat = np.floor(np.log2(180.0 * M_PER_DEG_LAT / r))
    coslat = max(np.cos(np.radians(lat)), 1e-6)
    d_lon = np.floor(np.log2(360.0 * M_PER_DEG_LON_EQ * coslat / r))
    return int(np.clip(min(d_lat, d_lon), 1, MAX_DEPTH))


# ---------------------------------------------------------------------------
# Morton (Z-order) interleave, vectorized
# ---------------------------------------------------------------------------

_B = [
    np.uint64(0x5555555555555555),
    np.uint64(0x3333333333333333),
    np.uint64(0x0F0F0F0F0F0F0F0F),
    np.uint64(0x00FF00FF00FF00FF),
    np.uint64(0x0000FFFF0000FFFF),
]


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 into even bit positions."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & _B[4]
    v = (v | (v << np.uint64(8))) & _B[3]
    v = (v | (v << np.uint64(4))) & _B[2]
    v = (v | (v << np.uint64(2))) & _B[1]
    v = (v | (v << np.uint64(1))) & _B[0]
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & _B[0]
    v = (v | (v >> np.uint64(1))) & _B[1]
    v = (v | (v >> np.uint64(2))) & _B[2]
    v = (v | (v >> np.uint64(4))) & _B[3]
    v = (v | (v >> np.uint64(8))) & _B[4]
    v = (v | (v >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
    return v


def morton2(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (_part1by1(np.asarray(y)) << np.uint64(1)) | _part1by1(np.asarray(x))


def unmorton2(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = np.asarray(m, dtype=np.uint64)
    return _unpart1by1(m), _unpart1by1(m >> np.uint64(1))


# ---------------------------------------------------------------------------
# Catalyst-expression encoders (bit-compatible with the numpy kernels)
# ---------------------------------------------------------------------------
#
# Ingest-time enrichment runs over every row of every table, so keeping
# it inside whole-stage codegen (no ArrowEvalPython node, no Python
# workers in the write path) matters at 100 TB. The expressions below
# replay the exact numpy op sequences: identical IEEE double steps for
# the grid math, identical magic-bits interleave in int64 (all
# intermediates < 2^63, so signed arithmetic is exact). The numpy
# kernels stay as the batch-side implementations for UDF interiors
# (covers, ring expansion) and as the property-test oracle for these.


def _part1by1_expr(v):
    """Column version of _part1by1: spread low 32 bits to even positions.

    The tree references its input twice per round, so it grows 2^rounds
    when inlined — fine inside a straight projection (whole-stage
    codegen CSE keeps it cheap; measured 2.7x faster than the Arrow UDF
    for ingest), but NEVER use the result as a join key or in a column a
    join consumes: inferred isnotnull filters re-inline the full tree
    and the join stage slows ~10x (measured at 16M rows). A join key
    that only has to be equal where the cells are equal does not need
    the Morton order: the packed ``(x << depth) | y`` grid key of
    operators/union_dataset._grid_key_cover is a small Catalyst tree
    and needs no Python worker. (A 1-element-transform 'let' avoids the
    blowup but drops the whole projection out of codegen — measured 2x
    slower than this form.)"""
    from pyspark.sql import functions as F
    masks = [0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F,
             0x00FF00FF00FF00FF, 0x0000FFFF0000FFFF]
    for shift, mask in zip((16, 8, 4, 2, 1), reversed(masks)):
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def xy_expr(lon, lat, depth: int):
    """(x, y) long Columns of the grid coordinates at ``depth`` — same
    floor/clip as lonlat_to_xy (clamp before floor; equivalent because
    the clip bounds are integers)."""
    from pyspark.sql import functions as F
    n = 1 << depth
    fx = (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))
    fy = (lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))
    x = F.floor(F.least(F.greatest(fx, F.lit(0.0)), F.lit(float(n) - 0.5)))
    y = F.floor(F.least(F.greatest(fy, F.lit(0.0)), F.lit(float(n) - 0.5)))
    return x, y


def xy_sql(lon: str, lat: str, depth: int) -> tuple[str, str]:
    """SQL text of xy_expr's (x, y) for column names or SQL expressions
    ``lon``/``lat`` — the same IEEE op sequence as lonlat_to_xy, with
    every literal a double (``D``). One F.expr parse costs one py4j
    call; the same tree built from Column functions costs ~50, which
    operators that build grid keys on every call pay in plan
    construction."""
    n = float(1 << depth)

    def axis(v: str, off: float, span: float) -> str:
        return (f"floor(least(greatest(({v} + {off!r}D) / {span!r}D"
                f" * {n!r}D, 0.0D), {n - 0.5!r}D))")

    return axis(lon, 180.0, 360.0), axis(lat, 90.0, 180.0)


def encode_expr(lon, lat, depth: int):
    """int64 cell-ID Column at grid ``depth`` (== encode())."""
    from pyspark.sql import functions as F
    x, y = xy_expr(lon, lat, depth)
    code = F.shiftleft(_part1by1_expr(y), 1).bitwiseOR(_part1by1_expr(x))
    return F.lit(depth << 58).bitwiseOR(code)


def tile_float_expr(lon, lat, z: int):
    """PRE-FLOOR float tile coordinates (fx, fy) at zoom ``z`` — the
    web-mercator tile formula without the quantizing floor/clamp.
    Operators that interpolate ALONG the lattice (raster.
    segment_pixels lerps between segment endpoints in pixel units)
    need the continuous coordinates so the floor happens once, at the
    very end of the arithmetic; quantizing the endpoints first would
    snap the whole segment to its endpoints' pixel centers. Same
    projection as ``tile_expr`` (never a second one): fx/fy here
    floored IS tile_expr's (xt, yt) everywhere the clamps don't bind
    (all fixtures sit mid-latitude / mid-longitude)."""
    from pyspark.sql import functions as F
    n = 1 << z
    la = F.least(F.greatest(lat, F.lit(-85.05112878)), F.lit(85.05112878))
    fx = (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))
    fy = ((F.lit(1.0) - F.asinh(F.tan(F.radians(la))) / F.lit(float(np.pi)))
          / F.lit(2.0) * F.lit(float(n)))
    return fx, fy


def tile_expr(lon, lat, z: int):
    """(tile_x, tile_y, tile_key) Columns at zoom ``z`` (== lonlat_to_tile
    + tile_key). The y formula uses asinh(tan(lat)) like the numpy
    kernel; both engines' asinh agree to <=1 ulp, and nothing sits
    within ~1e-12 deg of a tile edge in any fixture, so assignments are
    identical."""
    from pyspark.sql import functions as F
    n = 1 << z
    fx, fy = tile_float_expr(lon, lat, z)
    xt = F.floor(F.least(F.greatest(fx, F.lit(0.0)), F.lit(float(n) - 0.5)))
    yt = F.floor(F.least(F.greatest(fy, F.lit(0.0)), F.lit(float(n) - 0.5)))
    code = F.shiftleft(_part1by1_expr(yt), 1).bitwiseOR(_part1by1_expr(xt))
    return xt, yt, F.lit(z << 58).bitwiseOR(code)


# ---------------------------------------------------------------------------
# Encode / decode
# ---------------------------------------------------------------------------


def lonlat_to_xy(lon: np.ndarray, lat: np.ndarray, depth: int) -> tuple[np.ndarray, np.ndarray]:
    n = np.int64(1) << np.int64(depth)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


def xy_to_cell(x: np.ndarray, y: np.ndarray, depth: int) -> np.ndarray:
    code = morton2(x.astype(np.uint64), y.astype(np.uint64))
    return ((np.uint64(depth) << np.uint64(58)) | code).astype(np.int64)


def encode(lon: np.ndarray, lat: np.ndarray, depth: int) -> np.ndarray:
    """lon/lat arrays -> int64 cell IDs at grid ``depth``."""
    x, y = lonlat_to_xy(lon, lat, depth)
    return xy_to_cell(x, y, depth)


def cell_depth(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.uint64) >> np.uint64(58)).astype(np.int64)


def cell_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    code = np.asarray(cell, dtype=np.uint64) & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))
    x, y = unmorton2(code)
    return x.astype(np.int64), y.astype(np.int64)


def cell_parent(cell: np.ndarray, parent_depth: int) -> np.ndarray:
    """Ancestor of each cell at a shallower depth (prefix truncation)."""
    d = cell_depth(cell)
    x, y = cell_xy(cell)
    shift = (d - parent_depth).astype(np.int64)
    if np.any(shift < 0):
        raise ValueError("parent_depth deeper than cell depth")
    return xy_to_cell(x >> shift, y >> shift, parent_depth)


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(min_lon, min_lat, max_lon, max_lat) arrays for each cell."""
    d = cell_depth(cell).astype(np.float64)
    x, y = cell_xy(cell)
    n = np.power(2.0, d)
    w, h = 360.0 / n, 180.0 / n
    min_lon = x * w - 180.0
    min_lat = y * h - 90.0
    return min_lon, min_lat, min_lon + w, min_lat + h


# ---------------------------------------------------------------------------
# Neighborhoods & covers
# ---------------------------------------------------------------------------


def ring_offsets(k: int) -> np.ndarray:
    """(dx, dy) offsets of the hollow ring at distance exactly k (k=0 -> origin)."""
    if k == 0:
        return np.zeros((1, 2), dtype=np.int64)
    offs = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if max(abs(dx), abs(dy)) == k:
                offs.append((dx, dy))
    return np.asarray(offs, dtype=np.int64)


def disk_offsets(k: int) -> np.ndarray:
    """All (dx, dy) with Chebyshev distance <= k ((2k+1)^2 offsets)."""
    g = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(g, g)
    return np.stack([dx.ravel(), dy.ravel()], axis=1)


def neighbors(cell: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """For each cell, the valid neighbor cells at the given (dx,dy) offsets.

    Returns shape (len(cell), len(offsets)); out-of-range y is marked -1
    (caller filters), x wraps around the antimeridian.
    """
    d = cell_depth(cell)
    if cell.size and not np.all(d == d.flat[0]):
        raise ValueError("mixed-depth neighbor query")
    depth = int(d.flat[0]) if cell.size else 0
    n = np.int64(1) << np.int64(depth)
    x, y = cell_xy(cell)
    nx = (x[:, None] + offsets[None, :, 0]) % n
    ny = y[:, None] + offsets[None, :, 1]
    valid = (ny >= 0) & (ny < n)
    out = xy_to_cell(nx, np.clip(ny, 0, n - 1), depth)
    out[~valid] = -1
    return out


def cover_bbox(min_lon: float, min_lat: float, max_lon: float, max_lat: float,
               depth: int, cap: int = 4_000_000) -> np.ndarray:
    """All cells at ``depth`` intersecting the closed bbox (superset cover)."""
    x0, y0 = lonlat_to_xy(np.array([min_lon]), np.array([min_lat]), depth)
    x1, y1 = lonlat_to_xy(np.array([max_lon]), np.array([max_lat]), depth)
    xs = np.arange(x0[0], x1[0] + 1, dtype=np.int64)
    ys = np.arange(y0[0], y1[0] + 1, dtype=np.int64)
    if xs.size * ys.size > cap:
        raise ValueError(f"bbox cover of {xs.size * ys.size} cells exceeds cap {cap}; use a shallower depth")
    gx, gy = np.meshgrid(xs, ys)
    return xy_to_cell(gx.ravel(), gy.ravel(), depth)


def cover_segments(x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray,
                   depth: int, pad_deg: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """Superset cell cover of line segments, optionally padded (e.g. by a
    buffer radius in degrees). Vectorized per segment via bbox walks.

    Returns (seg_index, cell_id) pair arrays — ready to build an exploded
    (feature, cell) candidate table. A superset cover can only introduce
    false-positive candidates (removed by the exact refine phase), never
    false negatives, provided ``pad_deg`` >= the predicate's buffer.
    """
    if np.size(x0) == 0:
        empty = np.array([], dtype=np.int64)
        return empty, empty
    lon_a = np.minimum(x0, x1) - pad_deg
    lon_b = np.maximum(x0, x1) + pad_deg
    lat_a = np.minimum(y0, y1) - pad_deg
    lat_b = np.maximum(y0, y1) + pad_deg
    ax, ay = lonlat_to_xy(lon_a, lat_a, depth)
    bx, by = lonlat_to_xy(lon_b, lat_b, depth)
    nx = (bx - ax + 1)
    ny = (by - ay + 1)
    counts = nx * ny
    seg_idx = np.repeat(np.arange(x0.size, dtype=np.int64), counts)
    # local offsets within each segment's cell rectangle
    local = np.arange(counts.sum(), dtype=np.int64) - np.repeat(np.concatenate([[0], np.cumsum(counts)[:-1]]), counts)
    w = np.repeat(nx, counts)
    cx = np.repeat(ax, counts) + local % w
    cy = np.repeat(ay, counts) + local // w
    return seg_idx, xy_to_cell(cx, cy, depth)


# ---------------------------------------------------------------------------
# Web-Mercator slippy tiles (raster<->vector tiling)
# ---------------------------------------------------------------------------


def lonlat_to_tile(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Standard slippy-map tile (x, y) at zoom z. Deterministic convention:
    west/north tile edges inclusive (floor of the continuous coordinate),
    lat clamped to the Web-Mercator domain.
    """
    n = np.int64(1) << np.int64(z)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    xt = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_rad = np.radians(lat)
    yt = np.floor((1.0 - np.arcsinh(np.tan(lat_rad)) / np.pi) / 2.0 * n).astype(np.int64)
    np.clip(xt, 0, n - 1, out=xt)
    np.clip(yt, 0, n - 1, out=yt)
    return xt, yt


def tile_key(z: int, xt: np.ndarray, yt: np.ndarray) -> np.ndarray:
    """Single int64 tile key: (z << 58) | morton2(x, y)."""
    return ((np.uint64(z) << np.uint64(58)) | morton2(xt.astype(np.uint64), yt.astype(np.uint64))).astype(np.int64)
