"""Geo-visual dedup: drop images that are BOTH co-located and visually
near-duplicate — the A+B flagship composing the geospatial tier's
proximity machinery (union-query-service.ts:21-41 semantics, the padded
4-corner cell cover from operators/union_dataset.py) with the image
tier's REAL decode path (pixels -> recomputed perceptual hash, nothing
read from stored metadata).

A record loses iff a record with a smaller ``pk`` exists within
``radius_m`` meters whose recomputed 64-bit ahash is within
``max_hamming`` bits (the min-winner rule, one pass, no iteration).

Scale shape (the plan you'd run at 100 TB):
* decode is MAP-ONLY — blobs are read once and reduced to a narrow
  (pk, phash, lon, lat) relation before anything shuffles; bytes never
  cross an exchange;
* candidates come from the radius-derived cell grid (depth chosen so a
  padded window spans <= 2 cells per axis — cover completeness per
  operators/union_dataset._grid_key_cover), so pair generation is an
  equi-join on cell, never all-pairs; the cell keys are Catalyst
  expressions, so no Python worker runs after the decode;
* the hamming verify is JVM ``bit_count(xor)`` and runs INSIDE the join
  condition, before the pair distinct — non-matching candidates die in
  whole-stage codegen without materializing;
* the narrow frame is persisted for its two join sides and released
  after the loser ids are checkpointed (the dedup-tier cache-lifetime
  rule, pipeline/dedup._finalize_losers).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, functions as F, types as T

from ..codecs.image import ahash64, decode_image, encode_image
from ..core import cells
from .union_dataset import _grid_key_cover

_KEYED_SCHEMA_FMT = "{pk} {pk_type}, phash long, lon double, lat double"


def decode_phash_points(df: DataFrame, pk: str = "image_id") -> DataFrame:
    """(pk, recomputed phash, lon, lat) from the blobs — one map-only
    pass; undecodable rows are dropped (they cannot lose visually)."""
    pk_type = dict(df.dtypes)[pk]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, lons, lats = [], [], [], []
            for rid, blob, fmt, lo, la in zip(pdf[pk], pdf["bytes"],
                                              pdf["fmt"], pdf["lon"],
                                              pdf["lat"]):
                try:
                    img = decode_image(blob, fmt)
                except (NotImplementedError, ValueError):
                    continue
                ids.append(rid)
                hashes.append(ahash64(img))
                lons.append(float(lo))
                lats.append(float(la))
            yield pd.DataFrame({
                pk: ids,
                "phash": pd.array(hashes, dtype="int64"),
                "lon": pd.array(lons, dtype="float64"),
                "lat": pd.array(lats, dtype="float64"),
            })

    return (df.select(pk, "bytes", "fmt", "lon", "lat")
            .mapInPandas(gen, schema=_KEYED_SCHEMA_FMT.format(
                pk=pk, pk_type=pk_type)))


def brightness_pixel_sums(images: DataFrame, z: int, px: int, *,
                          lon_col: str = "lon",
                          lat_col: str = "lat") -> DataFrame:
    """The MERGEABLE form of the brightness layer: every geotagged
    blob is decoded ONCE (map-only — bytes never shuffle) and reduced
    to (lon, lat, pixel-value sum, pixel count); the corpus then
    aggregates into the zoom-``z``/``px`` raster lattice as the raw
    per-pixel (ps, np) totals. (ps, np) is a monoid under addition, so
    committed and drop relations merge by full-outer add
    (``merge_brightness_sums``) — the integer-mean DIVISION happens
    only at render (``brightness_pixels``), which is what makes the
    layer incrementally maintainable (a clipped mean is not a monoid).

    Output: (z, tile_x, tile_y, gx, gy, px_x, px_y, ps, np). Plan: one
    MapInPandas decode pass + ONE partial-aggregated exchange."""
    from .raster import _log2_px
    p = _log2_px(px)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lons, lats, sums, ns = [], [], [], []
            for blob, fmt, lo, la in zip(pdf["bytes"], pdf["fmt"],
                                         pdf[lon_col], pdf[lat_col]):
                try:
                    img = decode_image(blob, fmt)
                except (NotImplementedError, ValueError):
                    continue
                lons.append(float(lo))
                lats.append(float(la))
                sums.append(int(img.astype(np.int64).sum()))
                ns.append(int(img.size))
            yield pd.DataFrame({
                "lon": pd.array(lons, dtype="float64"),
                "lat": pd.array(lats, dtype="float64"),
                "px_sum": pd.array(sums, dtype="int64"),
                "n_px": pd.array(ns, dtype="int64"),
            })

    decoded = (images.select(F.col(lon_col).alias("lon"),
                             F.col(lat_col).alias("lat"), "bytes", "fmt")
               .mapInPandas(
                   gen, schema="lon double, lat double, "
                               "px_sum long, n_px long"))
    gx, gy, _ = cells.tile_expr(F.col("lon"), F.col("lat"), z + p)
    return (decoded
            .select(gx.cast("long").alias("gx"),
                    gy.cast("long").alias("gy"), "px_sum", "n_px")
            .groupBy("gx", "gy")
            .agg(F.sum("px_sum").alias("ps"), F.sum("n_px").alias("np"))
            .select(F.lit(z).cast("int").alias("z"),
                    (F.col("gx") / px).cast("int").alias("tile_x"),
                    (F.col("gy") / px).cast("int").alias("tile_y"),
                    "gx", "gy",
                    (F.col("gx") % px).cast("int").alias("px_x"),
                    (F.col("gy") % px).cast("int").alias("px_y"),
                    F.col("ps").cast("long"), F.col("np").cast("long")))


def pixels_from_sums(pixsums: DataFrame) -> DataFrame:
    """(ps, np) totals -> the pixel_counts-shaped integer-mean layer
    (n = least(255, ps DIV np)), composing with encode_tiles /
    zonal_stats / focal_sum / hotspots like any density layer."""
    return pixsums.select(
        "z", "tile_x", "tile_y", "gx", "gy", "px_x", "px_y",
        F.least(F.expr("ps DIV np"), F.lit(255)).cast("long").alias("n"))


def brightness_pixels(images: DataFrame, z: int, px: int, *,
                      lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Mean decoded brightness per map pixel: each occupied pixel's
    value is the integer mean ``least(255, sum(px_sum) DIV
    sum(n_px))`` over every image whose location falls in it — the
    visual analogue of the density layer (WHERE images are bright/dark
    rather than how many). Integer DIV keeps the layer under the
    hash-exact oracle; see brightness_pixel_sums for the plan."""
    return pixels_from_sums(
        brightness_pixel_sums(images, z, px, lon_col=lon_col,
                              lat_col=lat_col))


def merge_brightness_sums(a: DataFrame, b: DataFrame,
                          px: int) -> DataFrame:
    """Pixel-wise add of two (ps, np) brightness-sum relations — the
    monoid that makes the visual layer live-maintainable. Full-outer
    on the pixel key over the two NONZERO relations, missing side
    counts (0, 0)."""
    key = ["z", "gx", "gy"]
    ja = a.select(*key, F.col("ps").alias("_pa"), F.col("np").alias("_na"))
    jb = b.select(*key, F.col("ps").alias("_pb"), F.col("np").alias("_nb"))
    z = F.lit(0).cast("long")
    merged = (ja.join(jb, key, "full_outer")
              .select(*key,
                      (F.coalesce("_pa", z) + F.coalesce("_pb", z))
                      .cast("long").alias("ps"),
                      (F.coalesce("_na", z) + F.coalesce("_nb", z))
                      .cast("long").alias("np")))
    return merged.select(
        "z",
        (F.col("gx") / px).cast("int").alias("tile_x"),
        (F.col("gy") / px).cast("int").alias("tile_y"),
        "gx", "gy",
        (F.col("gx") % px).cast("int").alias("px_x"),
        (F.col("gy") % px).cast("int").alias("px_y"),
        "ps", "np")


def incremental_brightness_tiles(committed_sums: DataFrame,
                                 committed_tiles: DataFrame,
                                 drop: DataFrame, z: int, px: int, *,
                                 lon_col: str = "lon",
                                 lat_col: str = "lat",
                                 fmt: str = "png") -> DataFrame:
    """Maintain the rendered brightness layer when an image drop
    lands: decode ONLY the drop, merge its (ps, np) totals into the
    committed sums, and re-encode ONLY the tiles the drop touches —
    untouched tiles keep committed bytes via anti-join
    (incremental_raster_tiles' shape with the brightness monoid), so
    decode/encode work is proportional to the drop, not the corpus,
    yet the result is bit-identical to a full re-render."""
    from .raster import encode_tiles
    dsum = brightness_pixel_sums(drop, z, px, lon_col=lon_col,
                                 lat_col=lat_col)
    affected = dsum.select("z", "tile_x", "tile_y").distinct()
    csum_aff = committed_sums.join(affected, ["z", "tile_x", "tile_y"],
                                   "left_semi")
    merged_aff = merge_brightness_sums(csum_aff, dsum, px)
    new_tiles = encode_tiles(pixels_from_sums(merged_aff), px, fmt)
    untouched = committed_tiles.join(affected, ["z", "tile_x", "tile_y"],
                                     "left_anti")
    return untouched.unionByName(new_tiles)


def brightness_raster(images: DataFrame, z: int, px: int, *,
                      lon_col: str = "lon", lat_col: str = "lat",
                      fmt: str = "png") -> DataFrame:
    """Geotagged blobs -> rendered mean-brightness PNG tiles at zoom
    ``z`` (brightness_pixels + raster.encode_tiles)."""
    from .raster import encode_tiles
    return encode_tiles(
        brightness_pixels(images, z, px, lon_col=lon_col,
                          lat_col=lat_col), px, fmt)


def tile_gallery(images: DataFrame, z: int, px: int, *,
                 id_col: str = "image_id",
                 lon_col: str = "lon", lat_col: str = "lat",
                 fmt: str = "png") -> DataFrame:
    """Visual browse layer: ONE representative image per occupied
    zoom-``z`` tile — the deterministic min-``id_col`` record — decoded
    and nearest-neighbor-resampled to a ``px x px`` grayscale thumbnail
    tile (the map-preview / gallery layer a 10^12-image atlas serves
    next to its density layers).

    Plan (blobs NEVER shuffle): pass 1 aggregates the narrow
    (tile, id) projection to one winner id per tile; pass 2 joins the
    winner relation BACK against the corpus broadcast-side (an
    explicit broadcast — a shuffle hash join would move the blobs), so
    only the ~one-row-per-tile survivors are ever decoded. Resampling
    is index arithmetic (``src = floor(dst * src_dim / px)``), exact in
    integer SQL for closed-form fixtures.

    Scale bound: the broadcast is one narrow row (two longs + the id)
    per OCCUPIED tile — fine through ~10^7 tiles (hundreds of MB). A
    planetary z15 gallery (~10^8+ occupied tiles) should instead read
    the corpus from the tile-partitioned store (io/tile_store layout),
    where the winner resolves map-side within each tile partition and
    no join exists at all.

    Output: (z, tile_x, tile_y, w, h, fmt, bytes, image_id)."""
    tx, ty, _ = cells.tile_expr(F.col(lon_col), F.col(lat_col), z)
    reps = (images
            .select(tx.cast("long").alias("_tx"), ty.cast("long").alias("_ty"),
                    F.col(id_col))
            .groupBy("_tx", "_ty")
            .agg(F.min(id_col).alias(id_col)))
    picked = images.select(id_col, "bytes", "fmt").join(
        F.broadcast(reps), id_col)
    return _render_tile_thumbs(picked, z, px, id_col, fmt)


def _render_tile_thumbs(picked: DataFrame, z: int, px: int,
                        id_col: str, fmt: str) -> DataFrame:
    """Decode + nearest-neighbor thumbnail each (``_tx``, ``_ty``,
    id, bytes, fmt) winner row into a ``px x px`` tile (tile_gallery's
    render stage, shared with incremental_gallery). Map-only;
    undecodable winners drop their tile."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            txs, tys, ids, blobs = [], [], [], []
            for blob, rfmt, tx, ty, rid in zip(pdf["bytes"], pdf["fmt"],
                                               pdf["_tx"], pdf["_ty"],
                                               pdf[id_col]):
                try:
                    img = decode_image(blob, rfmt)
                except (NotImplementedError, ValueError):
                    continue
                if img.ndim == 3:
                    img = img[:, :, 0]
                h, w = img.shape
                ri = (np.arange(px) * h) // px
                ci = (np.arange(px) * w) // px
                thumb = np.ascontiguousarray(img[np.ix_(ri, ci)])
                txs.append(int(tx))
                tys.append(int(ty))
                ids.append(int(rid))
                blobs.append(encode_image(thumb, fmt))
            yield pd.DataFrame({
                "z": pd.array([z] * len(txs), dtype="int32"),
                "tile_x": pd.array(txs, dtype="int32"),
                "tile_y": pd.array(tys, dtype="int32"),
                "w": pd.array([px] * len(txs), dtype="int32"),
                "h": pd.array([px] * len(txs), dtype="int32"),
                "fmt": [fmt] * len(txs),
                "bytes": blobs,
                id_col: pd.array(ids, dtype="int64"),
            })

    return picked.mapInPandas(
        gen, schema=f"z int, tile_x int, tile_y int, w int, h int, "
                    f"fmt string, bytes binary, {id_col} long")


def incremental_gallery(drop: DataFrame, committed: DataFrame,
                        z: int, px: int, *,
                        id_col: str = "image_id",
                        lon_col: str = "lon", lat_col: str = "lat",
                        fmt: str = "png") -> DataFrame:
    """Maintain the browse layer when a new image drop lands:
    re-thumbnail ONLY the tiles whose winner changes. ``committed`` is
    the stored gallery layer (tile_gallery / this function's output);
    min-id winners nest, so the merged winner per tile is simply
    ``min(committed winner, drop winner)`` — a tile changes iff it is
    new or the drop holds a smaller id. Changed winners decode FROM
    THE DROP (the corpus blobs are never read again; the committed
    layer contributes only its narrow winner ids and its kept bytes),
    so decode/encode work is proportional to the drop's won tiles, not
    the corpus, yet the result equals a full rebuild over the union
    (merge == recompute, oracle-pinned).

    One documented divergence from a full rebuild: a tile whose
    COMMITTED winner was undecodable is absent from the committed
    layer, so a drop record wins it here, while a rebuild would pick
    the (undecodable) corpus id and leave the tile absent — the
    incremental path strictly improves coverage in that case."""
    tx, ty, _ = cells.tile_expr(F.col(lon_col), F.col(lat_col), z)
    dwin = (drop
            .select(tx.cast("long").alias("_tx"),
                    ty.cast("long").alias("_ty"), F.col(id_col))
            .groupBy("_tx", "_ty")
            .agg(F.min(id_col).alias(id_col)))
    cwin = committed.select(
        F.col("tile_x").cast("long").alias("_tx"),
        F.col("tile_y").cast("long").alias("_ty"),
        F.col(id_col).alias("_cid"))
    changed = (dwin.join(cwin, ["_tx", "_ty"], "left")
               .filter(F.col("_cid").isNull()
                       | (F.col(id_col) < F.col("_cid")))
               .select("_tx", "_ty", id_col))
    changed = changed.localCheckpoint()  # read twice (render + anti)
    picked = drop.select(id_col, "bytes", "fmt").join(
        F.broadcast(changed), id_col)
    new_tiles = _render_tile_thumbs(picked, z, px, id_col, fmt)
    untouched = committed.join(
        changed.select(F.col("_tx").cast("int").alias("tile_x"),
                       F.col("_ty").cast("int").alias("tile_y")),
        ["tile_x", "tile_y"], "left_anti")
    return untouched.unionByName(new_tiles)


def gallery_pyramid(images: DataFrame, z_base: int, z_min: int, px: int, *,
                    id_col: str = "image_id",
                    lon_col: str = "lon", lat_col: str = "lat",
                    fmt: str = "png") -> DataFrame:
    """Multi-zoom browse layer: ``tile_gallery`` at every zoom in
    ``[z_min, z_base]`` from ONE corpus pass — the overview build for
    representative thumbnails (mosaic_tiles/pyramid_pixel_counts play
    this role for density layers).

    The min-id winner nests under integer halving: the winner of a
    parent tile IS the min of its children's winners (every image in
    the parent sits in some child), so coarser levels roll up the
    NARROW (tile, id) relation — the corpus is scanned once and blobs
    never shuffle. A winner that holds several zooms (common: coarse
    levels reuse deep winners) is decoded and thumbnailed ONCE — the
    distinct-winner relation drives the decode, and the per-id thumb
    joins back to every (zoom, tile) row broadcast-side.

    Output: (z, tile_x, tile_y, w, h, fmt, bytes, image_id)."""
    if z_min > z_base:
        raise ValueError("z_min must be <= z_base")
    tx, ty, _ = cells.tile_expr(F.col(lon_col), F.col(lat_col), z_base)
    base = (images
            .select(tx.cast("long").alias("_tx"),
                    ty.cast("long").alias("_ty"), F.col(id_col))
            .groupBy("_tx", "_ty").agg(F.min(id_col).alias(id_col)))
    # the base winner relation feeds every pyramid level, the distinct-
    # winner probe, AND the final attach join — materialize the NARROW
    # relation once (the dedup-tier lineage rule) so the corpus is
    # scanned exactly twice total (winner agg + blob fetch), not once
    # per union branch
    base = base.localCheckpoint()
    levels = [base.select(F.lit(z_base).cast("int").alias("z"),
                          "_tx", "_ty", id_col)]
    cur = base
    for z in range(z_base - 1, z_min - 1, -1):
        cur = (cur.groupBy((F.col("_tx") / 2).cast("long").alias("_tx"),
                           (F.col("_ty") / 2).cast("long").alias("_ty"))
               .agg(F.min(id_col).alias(id_col)))
        levels.append(cur.select(F.lit(z).cast("int").alias("z"),
                                 "_tx", "_ty", id_col))
    winners = levels[0]
    for lv in levels[1:]:
        winners = winners.unionByName(lv)
    distinct_ids = winners.select(id_col).distinct()
    picked = images.select(id_col, "bytes", "fmt").join(
        F.broadcast(distinct_ids), id_col)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for blob, rfmt, rid in zip(pdf["bytes"], pdf["fmt"],
                                       pdf[id_col]):
                try:
                    img = decode_image(blob, rfmt)
                except (NotImplementedError, ValueError):
                    continue
                if img.ndim == 3:
                    img = img[:, :, 0]
                h, w = img.shape
                ri = (np.arange(px) * h) // px
                ci = (np.arange(px) * w) // px
                ids.append(int(rid))
                blobs.append(encode_image(
                    np.ascontiguousarray(img[np.ix_(ri, ci)]), fmt))
            yield pd.DataFrame({id_col: pd.array(ids, dtype="int64"),
                                "_thumb": blobs})

    thumbs = picked.mapInPandas(
        gen, schema=f"{id_col} long, _thumb binary")
    return (winners.join(F.broadcast(thumbs), id_col)
            .select("z",
                    F.col("_tx").cast("int").alias("tile_x"),
                    F.col("_ty").cast("int").alias("tile_y"),
                    F.lit(px).cast("int").alias("w"),
                    F.lit(px).cast("int").alias("h"),
                    F.lit(fmt).alias("fmt"),
                    F.col("_thumb").alias("bytes"),
                    F.col(id_col).cast("long").alias(id_col)))


def viewport_similar(images: DataFrame, query_hash: int,
                     bbox: tuple[float, float, float, float], k: int,
                     pk: str = "image_id",
                     caption_token: str | None = None,
                     caption_col: str = "caption") -> DataFrame:
    """Visual similarity search scoped to a geographic viewport: the
    top-``k`` images inside ``bbox`` ranked by hamming distance between
    ``query_hash`` and the perceptual hash RECOMPUTED from the decoded
    pixels (ties broken by ``pk`` — a deterministic total order).
    ``caption_token`` (optional) restricts to records whose caption
    contains the token case-insensitively — the three-tier atlas
    search (WHERE x what-it-says x what-it-looks-like) in one query.

    Plan shape, inside-out: the bbox filter runs FIRST against the raw
    lon/lat columns (Catalyst pushes it to the scan, so at 10^12 images
    only viewport rows are ever fetched, let alone decoded), the
    caption predicate is a JVM string filter on the same scan (both
    cheap filters precede the decode), the decode is one map-only pass
    over the survivors, the distance is JVM ``bit_count(xor)``, and
    the sort+limit plans as TakeOrderedAndProject — per-partition
    heaps of k, no global sort. Returns (pk, hamming)."""
    minx, miny, maxx, maxy = bbox
    vp = images.filter(F.col("lon").between(minx, maxx)
                       & F.col("lat").between(miny, maxy))
    if caption_token is not None:
        vp = vp.filter(F.contains(F.lower(F.col(caption_col)),
                                  F.lit(caption_token.lower())))
    hashed = decode_phash_points(vp, pk)
    return (hashed.select(
        pk,
        F.bit_count(F.col("phash").bitwiseXOR(F.lit(int(query_hash))))
        .cast("long").alias("hamming"))
        .orderBy("hamming", pk).limit(k))


def geo_visual_losers(keyed: DataFrame, radius_m: float, max_hamming: int,
                      pk: str = "image_id",
                      release_cache: bool = True) -> DataFrame:
    """Loser ids over a (pk, phash, lon, lat) relation. ``pk`` must be
    orderable (the smaller value wins); exposed separately so stored
    narrow relations (e.g. a committed corpus's phash table) can reuse
    the rule without re-decoding."""
    from ..pipeline.dedup import _finalize_losers

    keyed = keyed.select(pk, "phash", "lon", "lat")
    own_caches = []
    if keyed.storageLevel.useMemory or keyed.storageLevel.useDisk:
        pass  # caller already persisted
    else:
        keyed = keyed.persist()
        own_caches.append(keyed)

    cell_of, cover_of = _grid_key_cover(radius_m)
    left = (keyed.withColumn("cell", F.explode(
                cover_of("lon", "lat")))
            .select(F.col(pk).alias("l_pk"), F.col("phash").alias("l_ph"),
                    F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"),
                    "cell"))
    right = (keyed.withColumn("cell", cell_of("lon", "lat"))
             .select(F.col(pk).alias("r_pk"), F.col("phash").alias("r_ph"),
                     F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat"),
                     "cell"))

    sx = cells.M_PER_DEG_LON_EQ
    sy = cells.M_PER_DEG_LAT
    cond = ((left.cell == right.cell)
            & (F.col("l_pk") > F.col("r_pk"))
            & (F.bit_count(F.col("l_ph").bitwiseXOR(F.col("r_ph")))
               <= max_hamming))
    losers = (left.join(right, cond)
              .filter(F.sqrt(F.pow((F.col("l_lon") - F.col("r_lon")) * sx, 2)
                             + F.pow((F.col("l_lat") - F.col("r_lat")) * sy, 2))
                      <= radius_m)
              .select(F.col("l_pk").alias(pk)).distinct())
    return _finalize_losers(losers, own_caches, release_cache)


def incremental_geo_visual(batch: DataFrame, corpus: DataFrame,
                           radius_m: float = 5.0, max_hamming: int = 8,
                           pk: str = "image_id",
                           release_cache: bool = True) -> DataFrame:
    """Admit a NEW image drop against an already-committed corpus
    without re-pairing history — the geo-visual tier's member of the
    incremental-ingest family (pipeline/dedup.incremental_hash_neardup,
    operators/union_dataset.incremental_union_dataset, ...).

    ``corpus`` is the stored NARROW (phash, lon, lat) relation of prior
    survivors (ids irrelevant: the corpus is already published, so a
    batch record loses to ANY corpus match — no id rule); ``batch``
    carries blobs and decodes once. Batch-internal duplicates fall to
    the ordinary min-winner rule. Cost: one decode pass over the DROP,
    a cover-explode of the drop against the corpus's cell relation, and
    the drop's self-join — the committed corpus is never self-paired,
    so admission cost tracks drop size, not corpus size."""
    from ..pipeline.dedup import _finalize_losers

    keyed_b = decode_phash_points(batch, pk).persist()
    cell_of, cover_of = _grid_key_cover(radius_m)

    left = (keyed_b.withColumn("cell", F.explode(
                cover_of("lon", "lat")))
            .select(F.col(pk).alias("l_pk"), F.col("phash").alias("l_ph"),
                    F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"),
                    "cell"))
    right = (corpus.select("phash", "lon", "lat")
             .withColumn("cell", cell_of("lon", "lat"))
             .select(F.col("phash").alias("r_ph"),
                     F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat"),
                     "cell"))
    sx = cells.M_PER_DEG_LON_EQ
    sy = cells.M_PER_DEG_LAT
    cond = ((left.cell == right.cell)
            & (F.bit_count(F.col("l_ph").bitwiseXOR(F.col("r_ph")))
               <= max_hamming))
    corpus_losers = (left.join(right, cond)
                     .filter(F.sqrt(
                         F.pow((F.col("l_lon") - F.col("r_lon")) * sx, 2)
                         + F.pow((F.col("l_lat") - F.col("r_lat")) * sy, 2))
                         <= radius_m)
                     .select(F.col("l_pk").alias(pk)).distinct())
    batch_losers = geo_visual_losers(keyed_b, radius_m, max_hamming, pk,
                                     release_cache=False)
    losers = _finalize_losers(corpus_losers.unionByName(batch_losers)
                              .distinct(), [keyed_b], release_cache)
    return batch.join(losers, pk, "left_anti")


def geo_visual_dedup(images: DataFrame, radius_m: float = 5.0,
                     max_hamming: int = 8, pk: str = "image_id",
                     release_cache: bool = True) -> DataFrame:
    """Survivors of the co-located visual near-dup rule (see module
    docstring). Returns the ORIGINAL rows (full width) minus losers —
    the anti-join runs on the narrow id relation only."""
    keyed = decode_phash_points(images, pk)
    losers = geo_visual_losers(keyed, radius_m, max_hamming, pk,
                               release_cache)
    return images.join(losers, pk, "left_anti")
