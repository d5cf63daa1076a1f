"""O4 union_dataset — concatenate two datasets, merging near-duplicates.

Reference: ``content.tdei_union_dataset(tdei_dataset_id_one,
tdei_dataset_id_two, proximity)`` with proximity defaulting to **0.5**
(/root/reference/src/service/services/union-query-service.ts:32-37,
default at :34; numeric type check at :27-30; params
/root/reference/src/services.json:77-96). The merge rule for the image
payload follows BASELINE.json: two records merge when they lie within
``proximity`` meters AND carry the same pixels — phash equality plus
caption equality (input_hint per-row invariants).

Spark plan:
  A.unionByName(B) -> self-pair candidates via an equi-join on
  (phash, cell) where one side's cell cover is padded by ``proximity``
  (neighbor cells included, so boundary-straddling duplicates are never
  missed) -> exact distance refine -> survivor selection: a row is
  dropped iff it matches a strictly "smaller" row (dataset one preferred,
  then lowest image_id — deterministic). phash in the join key keeps the
  candidate explosion tiny: only true duplicate groups ever pair up.

The min-winner rule collapses duplicate chains in one pass without an
iterative connected-components job — at 10^12 rows an iterative CC over
near-duplicate clusters would dominate the query; duplicate clusters are
tiny (bounded by upload multiplicity), and within ``proximity`` of each
other the min-winner and CC answers agree on cluster survivors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core import cells
from ..core.compiler import InputException
from .graph import _cc_losers

DEFAULT_PROXIMITY_M = 0.5


def _grid_key_cover(proximity: float, lat0: float = 0.0):
    """(cell, padded-cover) Column builders for a proximity radius —
    the candidate machinery union_dataset, incremental_union_dataset,
    co_location, geo_visual and the curation leak audit share. Each
    maps the lon and lat column names to a Column: the packed grid key
    ``(x << depth) | y`` (cell) or the keys of the padded window
    (cover). The keys only ever join with keys from this helper at the
    same depth; no caller stores them. ``lat0`` != 0 opts into the cos(lat) local
    metric (same contract as spatial_join/tag_road): the lon pad widens
    by 1/cos and the depth choice checks both axes in local meters.

    Depth from 2*proximity: the 4-corner cover is complete only when the
    padded window (width 2*pad) spans <= 2 cells per axis, i.e. cell
    extent >= 2*pad on BOTH axes. depth_for_radius_m(r) guarantees the
    lat extent (the tighter axis) >= r meters, so feed it 2*proximity —
    deriving from proximity alone left extent in [pad, 2*pad) and the
    corners could straddle the point's own cell (ADVICE r2: identical-
    location pairs survived for ~69% of lat positions at proximity=2).
    Lower bound 1 (not the usual r5 prefix): only clipping the depth
    DOWN preserves the extent guarantee.

    Catalyst expressions, not Arrow UDFs: the grid is cells.xy_sql's
    floor/clip (the SQL text of cells.xy_expr, == cells.lonlat_to_xy),
    and the key is a shift and an OR of it — a small tree, unlike the
    Morton interleave of cells.encode_expr, so the isnotnull filters
    Catalyst infers on a join key stay cheap, and no Python worker
    runs. As SQL text each key is one py4j call to build, not ~50,
    which union jobs pay on every dispatch. The padded cover is the
    distinct keys of the 4 padded corners — valid because the depth
    choice guarantees cell extent >= 2*pad PER AXIS (each axis pads by
    its own degree reach — the proximity disk's bbox is
    [lon +- pad_lon] x [lat +- pad_lat]; a shared max-pad would
    overflow the lat half-extent once the local metric inflates the
    lon pad), so the padded bbox spans at most 2 cells per axis and
    the corners land in every spanned cell (incl. the point's own)."""
    depth = int(np.clip(cells.depth_for_radius_m(2.0 * max(proximity, 0.5),
                                                 lat0), 1, 23))
    pad_lon = cells.meters_to_deg_lon(proximity, lat0)
    pad_lat = cells.meters_to_deg_lat(proximity)
    if pad_lat > 90.0 / (1 << depth) or pad_lon > 180.0 / (1 << depth):
        raise RuntimeError(
            f"union_dataset cover invariant violated: pads "
            f"({pad_lon}, {pad_lat}) deg exceed the half-cell extents "
            f"({180.0 / (1 << depth)}, {90.0 / (1 << depth)}) at depth "
            f"{depth} — the 4-corner cover would miss candidate cells")

    def key_sql(lon: str, lat: str) -> str:
        x, y = cells.xy_sql(lon, lat, depth)
        return f"shiftleft({x}, {depth}) | {y}"

    def cell(lon: str, lat: str):
        return F.expr(key_sql(lon, lat))

    def cover(lon: str, lat: str):
        return F.expr("array_distinct(array(" + ", ".join(
            key_sql(f"({lon} + {dx!r}D)", f"({lat} + {dy!r}D)")
            for dx in (-pad_lon, pad_lon)
            for dy in (-pad_lat, pad_lat)) + "))")

    return cell, cover


def union_dataset(df_one: DataFrame, dataset_id_one: str,
                  df_two: DataFrame, dataset_id_two: str,
                  proximity: float | None = None,
                  pk: str = "image_id",
                  match_on: tuple = ("phash", "caption"),
                  collapse: str = "min_winner",
                  metric_lat: float | None = None) -> DataFrame:
    """``match_on`` lists the equality keys a pair must share besides
    proximity. Default (phash, caption) implements the image-payload
    invariants from BASELINE.json; pass ``()`` for the reference's pure
    proximity merge (OSW features carry no phash) — candidates then come
    from the cell join alone, so keep proximity small (default 0.5 m),
    exactly the reference's default regime.

    ``collapse`` picks the survivor rule for duplicate groups:
    * ``min_winner`` (default): drop a row iff a strictly smaller
      matching row exists. One pass, no iteration — the scale choice.
      On rank-interleaved chains it can keep more than one row per
      transitive cluster.
    * ``cc``: exact connected components via min-label propagation —
      exactly one survivor (the minimum) per transitive cluster.
      Iterative (duplicate clusters are tiny, so a handful of rounds),
      for workloads needing strict cluster semantics.

    ``metric_lat`` opts into the cos(lat) local metric (the
    spatial_join/tag_road contract): pair distances scale lon meters
    by cos(metric_lat), candidate pads widen by 1/cos. Default keeps
    the pinned equator convention.
    """
    if proximity is None:
        proximity = DEFAULT_PROXIMITY_M
    if isinstance(proximity, str) or not isinstance(proximity, (int, float)):
        # mirrors union-query-service.ts:27-30 (non-numeric proximity)
        raise InputException("proximity must be a number")
    proximity = float(proximity)

    # One relation, one read: the service and the incremental self-union
    # pass the same frame twice, and one filter for both ids reads it
    # once instead of once per Union branch.
    same = df_one is df_two or df_one.sameSemantics(df_two)
    if same:
        both = df_one.filter(
            F.col("dataset_id").isin(dataset_id_one, dataset_id_two))
    else:
        both = (df_one.filter(F.col("dataset_id") == dataset_id_one)
                .unionByName(
                    df_two.filter(F.col("dataset_id") == dataset_id_two)))
    # unioning a dataset with itself (or overlapping inputs) duplicates
    # identical rows outright; collapse them before proximity dedup
    if dataset_id_one == dataset_id_two:
        both = both.dropDuplicates([pk, "dataset_id"])

    # rank: dataset one wins, then lowest pk. A struct sort key, not a
    # string concat: numeric pks compare numerically (id 9 beats 10 —
    # lexicographic would rank "10" < "9"; ADVICE r1, union_dataset.py:80),
    # non-numeric pks compare as strings, and the two regimes never mix
    # (the `t` field orders numeric before non-numeric).
    num = F.expr(f"try_cast(`{pk}` AS decimal(38,0))")
    both = both.withColumn(
        "_rank", F.struct(
            F.when(F.col("dataset_id") == dataset_id_one, F.lit(0))
             .otherwise(F.lit(1)).alias("ds"),
            F.when(num.isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("t"),
            F.coalesce(num, F.lit(0).cast("decimal(38,0)")).alias("n"),
            F.col(pk).cast("string").alias("s")))

    lat0 = float(metric_lat) if metric_lat is not None else 0.0
    cell_of, cover_of = _grid_key_cover(proximity, lat0)
    keys = [k for k in match_on if k in both.columns]
    left = both.select(*[F.col(k).alias(f"l_{k}") for k in keys],
                       F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"),
                       F.col("_rank").alias("l_rank"),
                       F.explode(cover_of("lon", "lat")).alias("cell"))
    right = both.select(*[F.col(k).alias(f"r_{k}") for k in keys],
                        F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat"),
                        F.col("_rank").alias("r_rank"),
                        cell_of("lon", "lat").alias("cell"))

    sx = cells.M_PER_DEG_LON_EQ * float(np.cos(np.radians(lat0)))
    sy = cells.M_PER_DEG_LAT
    cond = (left.cell == right.cell) & (left.l_rank > right.r_rank)
    for k in keys:
        cond = cond & (F.col(f"l_{k}") == F.col(f"r_{k}"))
    matched = (left.join(right, cond)  # each unordered matching pair once
               .filter(
                   F.sqrt(F.pow((F.col("l_lon") - F.col("r_lon")) * sx, 2)
                          + F.pow((F.col("l_lat") - F.col("r_lat")) * sy, 2))
                   <= proximity))

    if collapse == "cc":
        losers = _cc_losers(matched.select("l_rank", "r_rank").distinct())
    else:
        losers = matched.select(F.col("l_rank").alias("_rank")).distinct()

    # Catalyst pushes a left_anti join through a Union (one candidate
    # plan per branch) but not a left join, so mark the losers and keep
    # the unmarked rows.
    marked = losers.withColumn("_lost", F.lit(True))
    return (both.join(marked, ["_rank"], "left")
            .filter(F.col("_lost").isNull()).drop("_rank", "_lost"))


def incremental_union_dataset(batch: DataFrame, corpus: DataFrame,
                              proximity: float | None = None,
                              pk: str = "image_id",
                              match_on: tuple = ("phash", "caption"),
                              release_cache: bool = True,
                              metric_lat: float | None = None) -> DataFrame:
    """Admit a NEW drop into an already-unioned dataset without
    re-pairing history — the O4 analogue of
    pipeline/dedup.incremental_hash_neardup for the geospatial tier.
    A batch record loses when
      * a corpus record within ``proximity`` meters shares all
        ``match_on`` payload keys — the corpus always wins (its records
        are already published), so there is no rank comparison on this
        path; or
      * it loses the ordinary union_dataset min-winner rule WITHIN the
        batch (so one drop carrying its own near-duplicates still
        admits one winner per group).

    ``corpus`` needs only the narrow (lon, lat, *match_on) relation —
    ids and ranks are never read; in a real pipeline that is a column
    projection of the committed dataset, pruned at the parquet scan.

    Scale shape: one padded-cover explode over the batch, a
    (cell, *keys) candidate equi-join against the corpus relation,
    exact distance refine, per-id distinct — the committed corpus is
    never self-paired, keeping each drop O(|batch| + touched corpus
    cells). Duplicate floods cannot make a corpus cell hot on the
    match keys because the corpus is itself a union survivor set:
    within ``proximity``, its records differ in payload keys by
    invariant.

    ``metric_lat`` opts into the cos(lat) local metric on both the
    cross (batch-vs-corpus) and within-batch rules, same contract as
    union_dataset."""
    if proximity is None:
        proximity = DEFAULT_PROXIMITY_M
    if isinstance(proximity, str) or not isinstance(proximity, (int, float)):
        raise InputException("proximity must be a number")
    proximity = float(proximity)

    lat0 = float(metric_lat) if metric_lat is not None else 0.0
    cell_of, cover_of = _grid_key_cover(proximity, lat0)
    keys = [k for k in match_on
            if k in batch.columns and k in corpus.columns]
    # persist the narrow batch projection: the cross path, the
    # self-union's two sides, and the final anti-join otherwise each
    # re-print (and re-analyze) the full upstream batch plan — a 5-way
    # union fixture ballooned the physical plan to ~14k lines before
    # this cache collapsed every reference to one InMemoryRelation
    narrow = batch.select(pk, *keys, "lon", "lat").persist()
    b = (narrow
         .withColumn("cell", F.explode(cover_of("lon", "lat")))
         .select(F.col(pk),
                 *[F.col(k).alias(f"l_{k}") for k in keys],
                 F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"),
                 "cell"))
    c = (corpus.select(*keys, "lon", "lat")
         .withColumn("cell", cell_of("lon", "lat"))
         .select(*[F.col(k).alias(f"r_{k}") for k in keys],
                 F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat"),
                 "cell"))
    joined = b.join(c, "cell")
    for k in keys:
        joined = joined.filter(F.col(f"l_{k}") == F.col(f"r_{k}"))
    sx = cells.M_PER_DEG_LON_EQ * float(np.cos(np.radians(lat0)))
    sy = cells.M_PER_DEG_LAT
    cross = (joined.filter(
        F.sqrt(F.pow((F.col("l_lon") - F.col("r_lon")) * sx, 2)
               + F.pow((F.col("l_lat") - F.col("r_lat")) * sy, 2))
        <= proximity).select(pk))

    # within-batch min-winner rule: self-union of the drop (the
    # dataset_id column is overwritten with a synthetic tag so the
    # operator works on drops that carry any — or no — dataset id)
    b_ds = narrow.withColumn("dataset_id", F.lit("_batch"))
    within_surv = union_dataset(b_ds, "_batch", b_ds, "_batch",
                                proximity=proximity, pk=pk,
                                match_on=match_on,
                                metric_lat=metric_lat).select(pk)
    within = narrow.select(pk).join(within_surv, pk, "left_anti")

    losers = cross.unionByName(within).distinct()
    # same lifetime rule as the dedup family: materialize the narrow
    # loser ids, release the batch cache (dedup._finalize_losers)
    from ..pipeline.dedup import _finalize_losers
    losers = _finalize_losers(losers, [narrow], release_cache)
    return batch.join(losers, pk, "left_anti")
