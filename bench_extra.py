#!/usr/bin/env python
"""Targeted per-query benchmark (guide §1.4): same methodology as
bench.py (noop sink, one shared session) but runs only the queries
named on the command line, optionally repeated, and can dump
`.explain("formatted")` plans. bench.py itself stays frozen for the
driver; numbers quoted in OPTIMIZATION_r07.md cite this file.

Usage:
  python bench_extra.py q1 q2 ...            # time queries once
  python bench_extra.py -n 3 q1 q2           # repeat, report min
  python bench_extra.py --explain DIR q1 ... # also write DIR/<q>.txt
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=1)
    ap.add_argument("--explain", default=None)
    args = ap.parse_args()

    import __spark_entry__ as E
    from tdei_backend_service_spark.session import get_spark

    spark = get_spark("tdei-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    out: dict[str, list[float]] = {}
    for name in args.queries:
        fn = qs[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(plan)
        samples = []
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = samples
        print(json.dumps({"query": name, "samples": samples,
                          "min": min(samples)}), flush=True)
    print(json.dumps({"total_min": round(sum(min(s) for s in out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
