#!/usr/bin/env python
"""Dump `.explain("formatted")` for the r07-touched queries into
plans/r07/<query>_<suffix>.txt. Run from the round-start worktree with
suffix=before and from the final tree with suffix=after.

Streaming queries are excluded: their returned frame is a batch read
of the sink (building it would run the whole pipeline as a side
effect), and the r07 streaming change is the state-partition count a
query starts with (streaming/run.py), not a plan-shape change.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"
OUT = sys.argv[1] if len(sys.argv) > 1 else "plans/r07"
SUFFIX = sys.argv[2] if len(sys.argv) > 2 else "after"

QUERIES = [
    "connected_components", "union_cc", "hamming_cluster_dedup",
    "cluster_keep_best", "embedding_cluster_dedup", "geo_visual_dedup",
    "network_distance", "graph_hops", "kcore", "pagerank",
    "service_area", "corpus_report", "langid",
    "payload_invariants", "image_phash_dedup",
    "cross_modal_dedup", "simhash_dedup", "minhash_dedup",
    "incremental_minhash_dedup", "incremental_phash_dedup",
]


def main() -> None:
    import __spark_entry__ as E
    from tdei_backend_service_spark.session import get_spark

    spark = get_spark("plan-dump-r07", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    os.makedirs(OUT, exist_ok=True)
    for name in QUERIES:
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(OUT, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
