#!/usr/bin/env python
"""Streaming-dedup state-store scale probe (VERDICT r3 next #8): drive
the stateful first-seen-wins operator through >= 10^6 DISTINCT
fingerprints with the default HDFS-backed state store and record, per
micro-batch, the engine's own state metrics (rows total / updated) and
commit latencies — evidence that

  * state grows O(distinct keys): a duplicate-heavy second drop adds
    only its genuinely-new keys to numRowsTotal,
  * restart recovery stays bounded: the second drop runs from a fresh
    start() against the existing checkpoint, so its wall time includes
    the full state reload.

Usage: python tools/streaming_state_probe.py [n_keys] [cpus]
       (default 1000000 8)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        if p is None or not p.get("stateOperators"):
            continue
        so = p["stateOperators"][0]
        out.append({
            "batch_id": p.get("batchId"),
            "input_rows": p.get("numInputRows"),
            "state_rows_total": so.get("numRowsTotal"),
            "state_rows_updated": so.get("numRowsUpdated"),
            "state_commit_ms": so.get("commitTimeMs"),
            "state_mem_used_bytes": so.get("memoryUsedBytes"),
            "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
        })
    return out


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F, types as T

    from tdei_backend_service_spark.session import get_spark
    from tdei_backend_service_spark.streaming.dedup import run_dedup_ingest

    spark = get_spark("state-probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="state_probe_")
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])

    def docs(lo: int, hi: int, id_off: int = 0, suffix: str = ""):
        return (spark.range(lo, hi)
                .select((F.col("id") + id_off).alias("doc_id"),
                        F.concat(F.lit("document payload number "),
                                 F.col("id"), F.lit(suffix)).alias("text")))

    # drop 1: n distinct fingerprints, one file -> one micro-batch
    docs(0, n).coalesce(1).write.mode("overwrite").parquet(landing)
    t0 = time.time()
    q = run_dedup_ingest(spark, landing, out, ckpt, schema, timeout_s=600)
    wall1 = time.time() - t0
    prog1 = _progress(q)

    # drop 2 after a RESTART: 30% exact dups (state hits) + 10% new keys
    n_dup, n_new = (3 * n) // 10, n // 10
    (docs(0, n_dup, id_off=10 * n)
     .unionByName(docs(n, n + n_new))
     .coalesce(1).write.mode("append").parquet(landing))
    t0 = time.time()
    q2 = run_dedup_ingest(spark, landing, out, ckpt, schema, timeout_s=600)
    wall2 = time.time() - t0
    prog2 = _progress(q2)

    admitted = spark.read.parquet(out).count()
    final_state = prog2[-1]["state_rows_total"] if prog2 else None
    report = {
        "n_distinct_keys": n + n_new, "admitted_rows": admitted,
        "admitted_ok": admitted == n + n_new,
        "state_rows_final": final_state,
        "state_growth_is_new_keys_only":
            bool(prog2) and prog2[-1]["state_rows_updated"] == n_new,
        "drop1": {"wall_s": round(wall1, 1), "batches": prog1},
        "drop2_with_restart_recovery": {"wall_s": round(wall2, 1),
                                        "batches": prog2},
        "cpus": cpus,
    }
    print(json.dumps(report))
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)
    ok = (report["admitted_ok"]
          and final_state == n + n_new
          and report["state_growth_is_new_keys_only"])
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
