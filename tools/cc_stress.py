#!/usr/bin/env python
"""Stress the iterative connected-components collapse beyond planted
4-chains (VERDICT r3 next #4): a single PATH component of N members —
the worst-case diameter for label propagation — must

  * converge in O(log d) rounds (pointer jumping: ~log2(N), far under
    the 64-round raise cap),
  * match the closed form exactly (survivor = node 0, losers = all
    other N-1 nodes),
  * keep driver RSS flat across rounds (localCheckpoint cuts lineage;
    without it the 3x-self-referencing plan OOMs the driver ~round 8).

Usage: python tools/cc_stress.py [N] [cpus]   (default 100000 8)

Reference semantics being scaled:
/root/reference/src/service/services/union-query-service.ts:32-37
(duplicate collapse keeps one representative per matched cluster).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from tdei_backend_service_spark.operators.graph import _cc_losers
    from tdei_backend_service_spark.session import get_spark

    spark = get_spark("cc-stress", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # one path component: edges (i, i+1) for i in [0, n-1) — diameter n
    pairs = (spark.range(n - 1)
             .select(F.col("id").alias("l_rank"),
                     (F.col("id") + 1).alias("r_rank")))

    stats: dict = {}
    t0 = time.time()
    losers = _cc_losers(pairs, stats=stats)
    got = losers.agg(F.count("*").alias("n"), F.min("_rank").alias("lo"),
                     F.max("_rank").alias("hi")).first()
    wall = time.time() - t0

    ok_parity = (got["n"] == n - 1 and got["lo"] == 1 and got["hi"] == n - 1)
    rounds = stats.get("rounds", -1)
    rss = stats.get("rss_mb", [])
    # flat = last-round RSS within 25% of the post-round-1 level
    flat = (len(rss) >= 2 and rss[-1] <= rss[0] * 1.25 + 64)
    bound = math.ceil(math.log2(max(n, 2))) + 3

    print(json.dumps({
        "n_members": n, "rounds": rounds, "round_bound": bound,
        "rounds_ok": 0 < rounds <= bound, "parity_ok": ok_parity,
        "losers": int(got["n"]), "wall_s": round(wall, 1),
        "rss_mb_per_round": rss, "rss_flat": flat, "cpus": cpus,
    }))
    spark.stop()
    return 0 if (ok_parity and 0 < rounds <= bound and flat) else 1


if __name__ == "__main__":
    sys.exit(main())
