#!/usr/bin/env python
"""Adaptive skew-split exercise at bench scale (VERDICT r2 next #6).

The headline scaling job keeps its vector side broadcastable, so the
hot-cell deepening strata (core/join.py two_phase_join adaptive_skew)
previously ran only at fixture scale. This job builds the adversarial
case the strata exist for:

  * a NON-broadcastable vector target (> route.BOUNDS['geom_rows'] edges,
    so no geometry lookup, no fused probe — the real padded-cover cell
    join runs);
  * a point source with ~skew% of all rows landing in one city-core
    area (synth_images_df skew), far above the hot-cell threshold.

It times the ST_DWithin join with adaptive_skew on and off and verifies
EXACT per-edge-count parity between the two plans (the strata are a
pure re-partitioning of candidates — superset covers at both depths —
so answers must match row-for-row).

Usage: skew_job.py [cpus] [n_points] [n_edges]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 16
N_POINTS = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
N_EDGES = int(sys.argv[3]) if len(sys.argv) > 3 else 600_001


def main() -> None:
    from pyspark.sql import functions as F

    from tdei_backend_service_spark.core import join as J, route
    from tdei_backend_service_spark.datagen import (synth_edges_df,
                                                    synth_images_df)
    from tdei_backend_service_spark.operators.spatial_join import spatial_join
    from tdei_backend_service_spark.session import get_spark

    assert N_EDGES > route.BOUNDS["geom_rows"], \
        "vector side must defeat the broadcast gate for this exercise"

    spark = get_spark("skew", cpus=CPUS, shuffle_partitions=CPUS * 2)
    spark.sparkContext.setLogLevel("ERROR")

    points = synth_images_df(spark, N_POINTS, with_bytes=False,
                             parallelism=CPUS * 3)
    points.write.mode("overwrite").parquet("/tmp/_skew_pts")
    points = spark.read.parquet("/tmp/_skew_pts")
    edges = synth_edges_df(spark, N_EDGES)

    pred = "ST_DWithin(geometry_target, geometry_source, 50)"

    # report how many cells actually exceed the hot threshold at the
    # join depth (the same detection two_phase_join runs), so the JSON
    # proves the deepening strata engaged rather than trivially matching
    from pyspark.sql import types as T

    from tdei_backend_service_spark.core import cells as C

    depth = J.pick_depth(50.0)

    @F.pandas_udf(T.LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series(C.encode(lon.to_numpy(np.float64),
                                  lat.to_numpy(np.float64), depth))

    hot = (points.withColumn("cell", _enc(F.col("lon"), F.col("lat")))
           .groupBy("cell").count().filter(F.col("count") > 50_000).count())

    results = {}
    walls = {}
    for label, adaptive in (("adaptive", True), ("plain", False)):
        t0 = time.time()
        out = spatial_join(edges, "edge", "ds-a", points, "point", "ds-a",
                           pred, ["count(*) as n"],
                           adaptive_skew=adaptive,
                           skew_threshold_rows=50_000)
        rows = (out.select("edge_id",
                           F.col("props").getItem("ext:n").cast("bigint")
                           .alias("n")).collect())
        walls[label] = round(time.time() - t0, 2)
        results[label] = {r["edge_id"]: r["n"] for r in rows}

    parity = results["adaptive"] == results["plain"]
    matched = sum(1 for v in results["adaptive"].values() if v is not None)
    print(json.dumps({
        "cpus": CPUS, "n_points": N_POINTS, "n_edges": N_EDGES,
        "wall_adaptive_s": walls["adaptive"], "wall_plain_s": walls["plain"],
        "hot_cells_over_50k": hot, "join_depth": depth,
        "edges_with_matches": matched,
        "total_pairs": int(sum(v or 0 for v in results["adaptive"].values())),
        "parity": parity,
    }))
    if not parity:
        diff = {k: (results["adaptive"].get(k), results["plain"].get(k))
                for k in set(results["adaptive"]) | set(results["plain"])
                if results["adaptive"].get(k) != results["plain"].get(k)}
        print("PARITY FAILURE:", dict(list(diff.items())[:20]), file=sys.stderr)
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
