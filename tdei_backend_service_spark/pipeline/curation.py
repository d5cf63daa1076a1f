"""Corpus-curation operators a training-data pipeline runs after
cleaning/dedup: sequence packing (fill fixed token budgets for training
batches) and deterministic stratified sampling (per-domain eval/holdout
sets).

Scale shape: both are ONE shuffle each — packing exchanges on the shard
key and runs a window cumsum inside each shard; sampling exchanges on
the stratification key and takes a bounded row_number prefix. No Python
anywhere (pure Catalyst window functions), no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

PACK_SCRAMBLE = 2654435761  # Knuth multiplicative constant (32-bit)


def pack_documents(df: DataFrame, budget: int, n_shards: int = 8,
                   token_col: str = "n_tokens", id_col: str = "doc_id") -> DataFrame:
    """Assign every document to a training pack of ~``budget`` tokens.

    Document-boundary BLOCK packing, the standard distributed
    approximation of greedy sequence packing: documents are sharded
    (``id % n_shards`` — deterministic, balanced for dense ids), ordered
    by id within the shard, and a document belongs to the pack in which
    its first token lands: ``pack = (cumsum - n_tokens) // budget``.
    Exactly reproducible as a SQL window cumsum, so the operator carries
    a full DuckDB oracle; a document longer than ``budget`` occupies (at
    least) its own pack. Output adds (shard, pack_id, pack_offset) where
    pack_offset is the document's first-token offset within its pack.

    One exchange on the shard key; the window runs per shard partition.
    At 10^12 docs you raise ``n_shards`` to the write parallelism you
    want — pack ids are local to a shard by construction, so shards
    never coordinate."""
    shard = (F.col(id_col) % F.lit(n_shards)).alias("shard")
    w = (Window.partitionBy("shard").orderBy(F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum(F.col(token_col)).over(w) - F.col(token_col))
    budget = int(budget)
    return (df.withColumn("shard", shard)
            .withColumn("_start", start)
            # integer `div`, not double division: a shard's token cumsum
            # can exceed 2^53 at 10^12-doc scale, where float division
            # would mis-assign boundary documents
            .withColumn("pack_id", F.expr(f"_start div {budget}"))
            .withColumn("pack_offset", F.col("_start") % F.lit(budget))
            .drop("_start"))


def filter_top_fraction(df: DataFrame, score_col: str, key_col: str,
                        num: int = 1, den: int = 2,
                        id_col: str = "doc_id") -> DataFrame:
    """Per-key quality-percentile cut: keep each key's top ``num/den``
    fraction of rows by ``score_col`` (descending; ties on the id) —
    the "keep the best half of every domain" filter a webtext pipeline
    runs on its quality scores. The keep rule is pure INTEGER
    arithmetic, ``rank * den <= n * num``, so the survivor set is exact
    in any engine (no float percentile boundary).

    One exchange on the key; both windows share the partitioning."""
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(score_col).desc(), F.col(id_col).asc()))
    n = Window.partitionBy(key_col)
    # cast the rank (IntegerType) to long BEFORE multiplying: past
    # ~2^31/den rows in one key the 32-bit product would wrap and
    # silently mis-filter (ADVICE r4)
    return (df.withColumn("_rk", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(n))
            .filter(F.col("_rk").cast("long") * F.lit(int(den))
                    <= F.col("_n") * F.lit(int(num)))
            .drop("_rk", "_n"))


# the affine scramble multiplies (id + seed) by the 32-bit Knuth
# constant in int64: ids above this bound overflow 2^63 and Spark
# (non-ANSI) wraps while ANSI engines raise/diverge — the scramble path
# validates the bound instead of claiming universal parity (ADVICE r4)
SCRAMBLE_MAX_ID = (1 << 63) // PACK_SCRAMBLE - 1  # ~3.49e9


def _sample_order_key(id_col: str, seed: int, method: str):
    if method == "scramble":
        return ((F.col(id_col) + F.lit(seed)) * F.lit(PACK_SCRAMBLE)) % F.lit(1 << 32)
    if method == "xxhash64":
        # pmod keeps the key non-negative; xxhash64 is a real avalanche
        # hash, so stride-patterned ids (every 5th doc, sharded ids)
        # cannot bias the sample the way an affine map can
        return F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 32))
    raise ValueError(f"unknown sample method {method!r}")


def sample_per_key(df: DataFrame, key_col: str, k: int,
                   id_col: str = "doc_id", seed: int = 7,
                   method: str = "xxhash64") -> DataFrame:
    """Deterministic stratified sample: k rows per ``key_col`` value,
    ranked by a seeded integer hash of the id — a fixed pseudo-random
    permutation, so eval/holdout sets are reproducible across runs.
    Ties (hash collisions) break on the id.

    ``method`` picks the permutation:
    * ``"xxhash64"`` (default, the production path): a true avalanche
      hash of (id, seed). Arithmetic-progression or strided id patterns
      — common after sharded ingest — land uniformly; any id range.
    * ``"scramble"``: the affine Knuth multiplicative scramble
      ``((id + seed) * 2654435761) mod 2^32`` — bit-identical in ANY
      SQL engine (that is what the DuckDB contract oracle pins), but an
      affine map sends arithmetic progressions to arithmetic
      progressions, so adversarial id strides can bias the sample; ids
      must stay <= SCRAMBLE_MAX_ID (validated) or int64 wraps.

    Same plan either way: one exchange on the stratification key, a
    row_number prefix inside each partition."""
    if method == "scramble":
        # fail loudly where ANSI engines would diverge, instead of
        # silently returning a Spark-only sample. The guard is a FILTER
        # over the input (a projected-then-dropped check column would be
        # pruned away unevaluated), and it must see every row — a
        # wrapped id reorders its whole key partition, not just itself.
        check = (F.col(id_col) >= F.lit(-seed)) & \
                (F.col(id_col) <= F.lit(SCRAMBLE_MAX_ID - seed))
        df = df.filter(F.when(check, F.lit(True)).otherwise(
            F.raise_error(F.concat(
                F.lit("sample_per_key(method='scramble') id out of "
                      f"range [0, {SCRAMBLE_MAX_ID - seed}]: "),
                F.col(id_col).cast("string")))))
    order = _sample_order_key(id_col, seed, method)
    w = Window.partitionBy(key_col).orderBy(order.asc(), F.col(id_col).asc())
    return (df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k).drop("_rk"))


def global_shuffle(df: DataFrame, id_col: str = "doc_id", seed: int = 7,
                   method: str = "xxhash64", n_buckets: int = 1024,
                   pos_col: str = "shuffle_pos") -> DataFrame:
    """Deterministic global corpus shuffle — the reproducible training
    order every run of a data pipeline must agree on: every row gets a
    dense position 0..n-1 equal to its rank under (seeded hash of id,
    id). Same seed -> same order, on any cluster, any partitioning.

    A naive ROW_NUMBER over a global ORDER BY is a single-partition
    window — a non-starter at 10^12 rows. This is the distributed
    two-phase rank instead:

    1. bucket = hash-key div (2^32 / n_buckets) — a RANGE bucket from
       the TOP BITS of the uniform order key, so no sampled range
       boundaries (repartitionByRange's sampling) enter the result;
    2. ONE exchange on the bucket, row_number within each bucket
       (window partitioned by bucket, ordered by key then id);
    3. bucket counts (n_buckets rows, collected) -> driver cumsum ->
       per-bucket offsets rejoined as a broadcast map;
    4. position = offset[bucket] + rank_in_bucket - 1.

    Because the key is a uniform hash, bucket skew is O(n/n_buckets)
    whp; raise n_buckets to the write parallelism you want. ``method``
    as in sample_per_key: xxhash64 (production default) or the affine
    scramble (cross-engine oracle; ids range-validated)."""
    if method == "scramble":
        check = (F.col(id_col) >= F.lit(-seed)) & \
                (F.col(id_col) <= F.lit(SCRAMBLE_MAX_ID - seed))
        df = df.filter(F.when(check, F.lit(True)).otherwise(
            F.raise_error(F.concat(
                F.lit("global_shuffle(method='scramble') id out of "
                      f"range [0, {SCRAMBLE_MAX_ID - seed}]: "),
                F.col(id_col).cast("string")))))
    n_buckets = int(n_buckets)
    span = (1 << 32) // n_buckets  # order keys are uniform in [0, 2^32)
    order = _sample_order_key(id_col, seed, method)
    keyed = df.withColumn("_k", order) \
              .withColumn("_b", F.expr(f"_k div {span}"))
    # bucket counts need no window — a partial-aggregated count over the
    # narrow bucket column (the corpus is scanned twice, like any
    # zipWithIndex-shaped rank; the count pass reads one derived column)
    counts = {r["_b"]: r["n"] for r in
              keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    offsets, acc = [], 0
    for b in sorted(counts):
        offsets.append((b, acc))
        acc += counts[b]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets or [(0, 0)],
                                   "_b long, _off long")
    w = Window.partitionBy("_b").orderBy(F.col("_k").asc(),
                                         F.col(id_col).asc())
    ranked = (keyed.join(F.broadcast(off_df), "_b")
              .withColumn("_rk", F.row_number().over(w).cast("long")))
    return (ranked.withColumn(pos_col, F.col("_off") + F.col("_rk") - 1)
            .drop("_k", "_b", "_rk", "_off"))


def mix_domains(df: DataFrame, key_col: str,
                weights: dict[str, tuple[int, int]],
                id_col: str = "doc_id", seed: int = 7,
                default: tuple[int, int] = (1, 1),
                method: str = "xxhash64",
                copy_col: str = "copy") -> DataFrame:
    """Weighted domain-mixture resampling — the curation op that turns a
    raw per-source corpus into a target training mixture: each key (a
    source/domain) is up- or down-sampled to a RATIONAL target rate
    ``num/den`` (its entry in ``weights``; ``default`` for absent keys).

    Exact integer keep rule (no float sampling, no RNG at run time):
    rows are ranked 1..n within their key by a seeded hash permutation
    (``method`` as in sample_per_key — xxhash64 for production,
    scramble for cross-engine oracles), and row rk is emitted

        copies(rk) = floor(rk*num/den) - floor((rk-1)*num/den)

    times, tagged ``copy_col`` = 0..copies-1. The telescoping sum makes
    each key's output EXACTLY floor(n*num/den) rows; down-sampling
    (num < den) emits an unbiased deterministic subset (copies in
    {0,1}), up-sampling (num > den) spreads the extra replicas evenly
    across the permutation instead of replicating a prefix. The same
    rule in any engine yields the same rows — the contract oracle pins
    it on the documents corpus.

    Scale shape: ONE exchange (the window on the stratification key),
    then a pure map explode; replicas never shuffle. At 10^12 docs a
    skewed domain is one window partition — pre-split giant domains
    with a salted sub-key upstream if one source exceeds an executor."""
    num_expr, den_expr = F.lit(int(default[0])), F.lit(int(default[1]))
    for key, (num, den) in sorted(weights.items()):
        if num < 0 or den <= 0:
            raise ValueError(f"weight for {key!r} must be num>=0, den>0")
        num_expr = F.when(F.col(key_col) == key, F.lit(int(num))).otherwise(num_expr)
        den_expr = F.when(F.col(key_col) == key, F.lit(int(den))).otherwise(den_expr)
    order = _sample_order_key(id_col, seed, method)
    w = Window.partitionBy(key_col).orderBy(order.asc(), F.col(id_col).asc())
    # rank cast to long BEFORE multiplying (see filter_top_fraction)
    rk = F.row_number().over(w).cast("long")
    copies = (F.expr("(_rk * _num) div _den") - F.expr("((_rk - 1) * _num) div _den"))
    # F.sequence(0, -1) DESCENDS, so empty-copy rows must short-circuit
    # to an empty array (explode drops them) instead of reaching sequence
    reps = F.when(F.col("_copies") >= 1,
                  F.sequence(F.lit(0).cast("long"),
                             F.col("_copies") - F.lit(1))) \
            .otherwise(F.array().cast("array<bigint>"))
    return (df.withColumn("_rk", rk)
            .withColumn("_num", num_expr.cast("long"))
            .withColumn("_den", den_expr.cast("long"))
            .withColumn("_copies", copies)
            .withColumn(copy_col, F.explode(reps))
            .drop("_rk", "_num", "_den", "_copies"))


# geo_split's scramble pre-reduces the hash unit modulo this prime, so
# ANY non-negative int64 unit stays inside the int64 multiply envelope
# ((SPLIT_MOD - 1 + seed) * PACK_SCRAMBLE ~ 2.7e15) with no range guard
SPLIT_MOD = 999983  # largest prime < 10^6
SPLIT_PPM = 1_000_000


def geo_split(df: DataFrame, splits: dict[str, float],
              depth: int = 16, lon_col: str = "lon", lat_col: str = "lat",
              group_col: str | None = None, seed: int = 7,
              method: str = "xxhash64", out_col: str = "split") -> DataFrame:
    """Leakage-aware train/val/test assignment by SPATIAL BLOCK (or any
    grouping key): every record in the same depth-``depth`` grid cell —
    or with the same ``group_col`` value — gets the same split label,
    so co-located records (the same scene photographed twice, near-
    duplicate crops of one storefront) can never straddle an eval
    boundary. Random per-row splitting leaks exactly those pairs; a
    geotagged training corpus needs the split unit to be the PLACE.

    The unit is the (ix, iy) grid cell at ``depth`` (same axis
    geometry as core/cells.py: 360/2^d deg lon x 180/2^d deg lat;
    depth 16 ~ 611 m x 306 m blocks at the equator), packed as
    ix * 2^32 + iy — no Morton interleave, so the unit is replicable
    in plain SQL. Cell-level blocking is a guarantee about cells, not
    radii: a duplicate pair straddling a cell border can still split.
    For strict pair-level guarantees pass the near-dup CLUSTER id
    (pipeline/dedup.hash_cluster_dedup et al.) as ``group_col`` —
    then the split unit is the transitive duplicate class itself.

    ``splits`` maps name -> fraction; fractions must be positive and
    sum to 1. They convert to cumulative parts-per-million thresholds
    with the LAST split absorbing float rounding (mix_domains'
    telescoping rule), so the buckets partition [0, 1e6) exactly and
    every row gets exactly one label.

    ``method`` as in sample_per_key: ``xxhash64`` (default) is the
    production path — a real avalanche hash of (unit, seed), so split
    membership is uncorrelated with geography at every scale above the
    block size; ``scramble`` is the affine
    ``((unit % 999983 + seed) * 2654435761) % 1e6`` — bit-identical in
    any SQL engine (what the DuckDB contract row pins), with the usual
    affine caveat that regular unit strides map to regular bucket
    strides. With ``group_col`` + scramble the column must be integral
    (pmod keeps negatives consistent; mirror as ((x % m) + m) % m in
    ANSI SQL).

    Scale shape: a PURE NARROW MAP — two JVM floor ops (or the group
    column) + one hash + a CASE chain; no shuffle, no Python, no
    state, nothing driver-side. At 10^12 rows this is a projection
    fused into the scan, and the assignment is reproducible from
    (depth, seed, splits) alone — no split manifest to store."""
    if not splits:
        raise ValueError("geo_split: splits must be non-empty")
    names = list(splits)
    fracs = [float(splits[n]) for n in names]
    if any(f <= 0 for f in fracs):
        raise ValueError("geo_split: every split fraction must be > 0")
    if abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(
            f"geo_split: fractions must sum to 1, got {sum(fracs)}")
    cuts, acc = [], 0.0
    for i, f in enumerate(fracs):
        acc += f
        cuts.append(SPLIT_PPM if i == len(fracs) - 1
                    else int(round(acc * SPLIT_PPM)))
    if any(b <= a for a, b in zip(cuts, cuts[1:])) or cuts[0] <= 0:
        raise ValueError(
            f"geo_split: a split rounds to zero width in ppm: "
            f"{dict(zip(names, fracs))}")

    if group_col is not None:
        unit = F.col(group_col)
        if method == "scramble":
            kind = df.schema[group_col].dataType.typeName()
            if kind not in ("byte", "short", "integer", "long"):
                raise ValueError(
                    "geo_split(method='scramble') needs an integral "
                    f"group_col, got {kind}; use method='xxhash64'")
            unit = unit.cast("long")
    else:
        size = 360.0 / (1 << int(depth))
        ix = F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(size))
        iy = F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(size / 2.0))
        unit = ix * F.lit(1 << 32) + iy

    if method == "xxhash64":
        bkt = F.pmod(F.xxhash64(unit, F.lit(seed)), F.lit(SPLIT_PPM))
    elif method == "scramble":
        bkt = (((F.pmod(unit, F.lit(SPLIT_MOD)) + F.lit(seed))
                * F.lit(PACK_SCRAMBLE)) % F.lit(SPLIT_PPM))
    else:
        raise ValueError(f"unknown sample method {method!r}")

    label = None
    for name, cut in zip(names, cuts):
        cond = bkt < F.lit(cut)
        label = F.when(cond, name) if label is None else label.when(cond, name)
    return df.withColumn(out_col, label)


def split_leak_audit(df: DataFrame, split_col: str = "split",
                     proximity: float = 0.5, pk: str = "image_id",
                     match_on: tuple = ("phash", "caption"),
                     metric_lat: float | None = None) -> DataFrame:
    """Audit a split assignment for train/eval leakage: emit every
    near-duplicate pair — union_dataset's merge rule: within
    ``proximity`` meters AND equal on every ``match_on`` payload key —
    whose two sides carry DIFFERENT ``split_col`` labels. An empty
    result certifies the split is leak-free under that duplicate
    notion; a non-empty one lists exactly which records to move.
    geo_split's cell blocking makes leaks impossible for intra-cell
    duplicates, but a pair straddling a cell border (or a split made
    by any other tool) can leak — this is the check a training
    pipeline runs before freezing an eval set.

    Output: one row per unordered offending pair
    (pk_a, pk_b, split_a, split_b), pk_a < pk_b as strings
    (deterministic).

    Scale shape: identical to union_dataset's candidate stage — a
    padded-cover explode on one side, a (cell, *match_on) equi-join,
    exact distance refine. Candidates are banded by cell + payload
    keys, never all-pairs; ``metric_lat`` opts into the cos(lat)
    local metric with the same contract as union_dataset."""
    from ..operators.union_dataset import _grid_key_cover

    lat0 = float(metric_lat) if metric_lat is not None else 0.0
    cell_of, cover_of = _grid_key_cover(float(proximity), lat0)
    keys = [k for k in match_on if k in df.columns]
    narrow = df.select(pk, split_col, *keys, "lon", "lat")
    left = (narrow.withColumn("cell",
                              F.explode(cover_of("lon", "lat")))
            .select(F.col(pk).cast("string").alias("pk_a"),
                    F.col(split_col).alias("split_a"),
                    *[F.col(k).alias(f"l_{k}") for k in keys],
                    F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"),
                    "cell"))
    right = (narrow.withColumn("cell", cell_of("lon", "lat"))
             .select(F.col(pk).cast("string").alias("pk_b"),
                     F.col(split_col).alias("split_b"),
                     *[F.col(k).alias(f"r_{k}") for k in keys],
                     F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat"),
                     "cell"))
    import numpy as np
    from ..core import cells as _cells
    sx = _cells.M_PER_DEG_LON_EQ * float(np.cos(np.radians(lat0)))
    sy = _cells.M_PER_DEG_LAT
    cond = (left.cell == right.cell) & (left.pk_a < right.pk_b)
    for k in keys:
        cond = cond & (F.col(f"l_{k}") == F.col(f"r_{k}"))
    return (left.join(right, cond)
            .filter(F.sqrt(F.pow((F.col("l_lon") - F.col("r_lon")) * sx, 2)
                           + F.pow((F.col("l_lat") - F.col("r_lat")) * sy, 2))
                    <= float(proximity))
            .filter(F.col("split_a") != F.col("split_b"))
            .select("pk_a", "pk_b", "split_a", "split_b")
            .distinct())
