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

import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core import cells
from ..core.compiler import InputException

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


def _driver_rss_mb() -> float:
    """Current driver-process resident set (MiB) from /proc — the stress
    harness charts this per cc round to prove localCheckpoint keeps the
    logical plan (and thus driver heap) flat across iterations."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        pass
    return float("nan")


def _cc_losers(pairs: DataFrame, stats: dict | None = None) -> DataFrame:
    """Non-minimum members of every connected component as (_rank)
    rows — ``_cc_labels`` filtered to label != node (the component
    minimum is always its own label)."""
    labels = _cc_labels(pairs, stats)
    return (labels.filter(F.col("label") != F.col("node"))
            .select(F.col("node").alias("_rank")))


#: Row bound for the single-task component collapse: at or below this
#: many symmetrized match edges the component graph is collapsed by one
#: in-executor union-find pass (exact min-label, same fixpoint) instead
#: of O(log d) distributed rounds — a candidate-pair graph of a few
#: hundred thousand rows should not pay per-round shuffle latency.
#: Parameterized for cluster tuning (set 0 to force the distributed
#: path); above the bound the distributed rounds run unchanged.
_CC_LOCAL_MAX_EDGES = int(os.environ.get(
    "TDEI_CC_LOCAL_MAX_EDGES", str(2_000_000)))


def _cc_labels_local(edges: DataFrame, stats: dict | None) -> DataFrame:
    """Single-task exact collapse of a SMALL (row-probed) match graph:
    union-find with attach-under-minimum, so every root is its
    component's minimum sort key — bit-identical to the distributed
    min-label fixpoint, computed in one executor task with no driver
    collect. Handles the same label domains as the distributed rounds
    (numeric / string / struct sort keys; struct fields compare
    field-wise with NULL ordered first, matching Spark's ordering)."""
    from pyspark.sql import types as T

    dtype = edges.schema["a"].dataType
    out_schema = T.StructType([T.StructField("node", dtype),
                               T.StructField("label", dtype)])
    names = ([f.name for f in dtype.fields]
             if isinstance(dtype, T.StructType) else None)

    def fold(pdfs):
        import pandas as pd

        def canon(v):
            # struct rows arrive as dicts; tuples are hashable + ordered
            return tuple(v[n] for n in names) if names is not None else v

        def okey(v):
            # Spark ordering: a NULL struct field sorts before any value
            if names is None:
                return v
            return tuple((0,) if f is None else (1, f) for f in v)

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in pdfs:
            for a, b in zip(pdf["a"], pdf["b"]):
                a, b = canon(a), canon(b)
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if okey(ra) <= okey(rb):
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        if parent:
            nodes = list(parent)
            labels = [find(n) for n in nodes]
            if names is not None:
                nodes = [dict(zip(names, n)) for n in nodes]
                labels = [dict(zip(names, l)) for l in labels]
            yield pd.DataFrame({"node": nodes, "label": labels})

    return (edges.coalesce(1).mapInPandas(fold, out_schema)
            .localCheckpoint(eager=False))


def _cc_labels(pairs: DataFrame, stats: dict | None = None) -> DataFrame:
    """Exact connected components by min-label propagation over the
    match graph (nodes = the unique ``_rank`` sort keys). Returns a
    (node, label) row per node that appears in ``pairs``, where label
    is the component's minimum node id — the survivor-policy layer
    (dedup keep_by) ranks members within each label group.

    Each round combines neighbor-min propagation with pointer jumping
    (label-of-label), so the fixpoint arrives in O(log diameter) rounds
    — a 2^64-long chain would converge inside the 64-round cap. If the
    cap is somehow hit without convergence, raise instead of silently
    returning labels that would violate the documented one-survivor-per-
    cluster contract (ADVICE r1, union_dataset.py:150).

    ``stats``, if given, receives {"rounds": n, "rss_mb": [per-round
    driver RSS]} so the stress harness (tools/cc_stress.py) can assert
    O(log d) rounds and flat driver memory (VERDICT r3 next #4)."""
    edges = (pairs.select(F.col("l_rank").alias("a"), F.col("r_rank").alias("b"))
             .unionByName(pairs.select(F.col("r_rank").alias("a"),
                                       F.col("l_rank").alias("b"))))
    # localCheckpoint, not persist: each round's plan references
    # `labels` three times, so without lineage truncation the logical
    # plan grows 3^rounds and the driver OOMs while analyzing round ~8.
    # Checkpointing materializes the rows AND cuts the plan — the same
    # fix GraphFrames uses for iterative label propagation.
    edges = edges.localCheckpoint()
    # scale-adaptive collapse (guide §2: derive the plan from input
    # size, don't pay distributed-round latency on small graphs): the
    # count is a metadata-cheap job over the just-checkpointed blocks
    if _CC_LOCAL_MAX_EDGES > 0 and edges.count() <= _CC_LOCAL_MAX_EDGES:
        if stats is not None:
            stats.setdefault("rss_mb", []).append(_driver_rss_mb())
            stats["rounds"] = stats.get("rounds", 0) + 1
            stats["local"] = True
        return _cc_labels_local(edges, stats)
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    # Round shape (optimization r7): ONE join + ONE partial-aggregated
    # min exchange per round, over the union graph
    #     edges ∪ (node -> label) ∪ (label -> node) ∪ (node -> node).
    # min-label over that graph is simultaneously neighbor-min
    # propagation, pointer jumping (label[label[a]] arrives via the
    # node->label edge) and child-push (label-holders absorb their
    # children's labels via the reversed edge), so it contracts at
    # least as fast per round as the former 3-join plan while running
    # a single shuffle pair. The tagged self-edge delivers each node's
    # OWN previous label to its group, which both keeps the update
    # monotone (new <= old) and lets the round detect convergence
    # exactly — count(new != old) as a second tiny aggregate over the
    # checkpointed round frame — replacing the former join + count
    # job. Labels stay fully generic (numeric or struct sort keys).
    # The lazy localCheckpoint is materialized by the convergence
    # aggregate: one Spark job per round.
    changed = 1
    fwd = edges.withColumn("_self", F.lit(False))
    for _ in range(64):
        ptr = labels.select(F.col("node").alias("a"),
                            F.col("label").alias("b"),
                            F.lit(False).alias("_self"))
        rev = labels.select(F.col("label").alias("a"),
                            F.col("node").alias("b"),
                            F.lit(False).alias("_self"))
        own = labels.select(F.col("node").alias("a"),
                            F.col("node").alias("b"),
                            F.lit(True).alias("_self"))
        rnd = (fwd.unionByName(ptr).unionByName(rev).unionByName(own)
               .join(labels.withColumnRenamed("node", "b"), "b")
               .groupBy("a")
               .agg(F.min("label").alias("label"),
                    F.min(F.when(F.col("_self"), F.col("label")))
                    .alias("_old"))
               .localCheckpoint(eager=False))
        changed = int(rnd.agg(F.sum(
            F.when(~F.col("label").eqNullSafe(F.col("_old")), 1).otherwise(0))
        ).first()[0] or 0)
        labels = rnd.select(F.col("a").alias("node"), "label")
        if stats is not None:
            stats.setdefault("rss_mb", []).append(_driver_rss_mb())
            stats["rounds"] = stats.get("rounds", 0) + 1
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            "union_dataset(collapse='cc') label propagation did not "
            "converge within 64 rounds — refusing to return a partial "
            "collapse (one-survivor-per-cluster contract)")
    return labels
