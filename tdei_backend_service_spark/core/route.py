"""Size routing: the one place that picks a local or a distributed plan
from the observed size of an input (guide §2).

* ``fits_broadcast`` — may a relation be collected to the driver? ONE
  bounded probe job scans at most ``cap + 1`` rows, counting them and
  summing their byte sizes in the same aggregation. Once the row cap
  passes, the limited frame IS the whole relation, so the byte sum is
  exact: no head-of-table sampling that size-skewed data could fool,
  and 500k multi-MB WKB rows cannot pass on their row count alone.
* ``single_task`` — at or below the bound, an already materialized
  (checkpointed or persisted) relation runs through one numpy fold in
  ONE executor task instead of paying per-round shuffle latency. Its
  exact count reads materialized blocks; for a persisted relation it
  is also the parallel pass that fills the cache before ``coalesce(1)``.

A bound <= 0 forces the distributed (no-broadcast) path and launches no
probe. ``BOUNDS`` is the engine's only table of size bounds; tests and
tools force a path by patching it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

#: every size bound the engine routes on
BOUNDS = {
    # vector side of a spatial join, map-match edges: rows and WKB
    # bytes collected to the driver
    "geom_rows": 500_000,
    "geom_bytes": 256 << 20,
    # minhash verify corpus broadcast: rows and text bytes
    "text_rows": 2_000_000,
    "text_bytes": 512 << 20,
    # single-task kernels: edge rows for hop_distance, network_distance,
    # pagerank and kcore; symmetrized match edges for the component
    # collapse; signature rows for the banded-hamming pair stage
    "graph_edges": 2_000_000,
    "cc_edges": 2_000_000,
    "hash_pairs_rows": 200_000,
    # streaming zone table: the broadcast is its only path, so above
    # these the table is refused — limits, not routes
    "zone_rows": 500_000,
    "zone_bytes": 256 << 20,
}


def force_distributed() -> None:
    """Zero every routing bound, so each site with a distributed twin
    takes it. The zone limits stay: at 0 every zone table is refused."""
    for k in BOUNDS:
        if not k.startswith("zone_"):
            BOUNDS[k] = 0


def fits_broadcast(df: DataFrame, site: str, size: Column) -> bool:
    """True iff ``df`` has at most ``BOUNDS[site + '_rows']`` rows and
    the sum of ``size`` over them is at most ``BOUNDS[site + '_bytes']``
    (one bounded probe job; none at a bound <= 0)."""
    cap = BOUNDS[f"{site}_rows"]
    if cap <= 0:
        return False
    n, total = (df.select(size.alias("_sz")).limit(cap + 1)
                .agg(F.count(F.lit(1)), F.sum("_sz")).first())
    return n <= cap and (total or 0) <= BOUNDS[f"{site}_bytes"]


def single_task(df: DataFrame, bound: str, fold, schema,
                counted: DataFrame | None = None) -> DataFrame | None:
    """``df.coalesce(1).mapInPandas(fold, schema)`` when ``counted``
    (default ``df``; already materialized) holds at most
    ``BOUNDS[bound]`` rows; None otherwise, so the caller runs its
    distributed rounds. ``df`` may be ``counted`` plus a few tagged rows
    (the graph folds' seeds) that the bound does not cover."""
    cap = BOUNDS[bound]
    if cap <= 0 or (df if counted is None else counted).count() > cap:
        return None
    return df.coalesce(1).mapInPandas(fold, schema)


def int64_columns(pdfs, *cols: str) -> list[np.ndarray]:
    """The named columns of a fold's pandas batches, each concatenated
    into one int64 array (empty when no batch arrives)."""
    parts: list[list[np.ndarray]] = [[] for _ in cols]
    for pdf in pdfs:
        for part, c in zip(parts, cols):
            part.append(pdf[c].to_numpy(dtype=np.int64))
    return [np.concatenate(p) if p else np.empty(0, np.int64)
            for p in parts]
