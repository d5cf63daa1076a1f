#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare
row-count + schema + order-insensitive values (columns sorted by name,
rows sorted, exact equality — stricter than any hash).

Usage: check_oracle.py [sf_dir] [query,query,...] [--force-distributed]

``--force-distributed`` zeroes every routing bound in core/route.py
first, so each size-routed operator runs its distributed twin."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FORCE_DISTRIBUTED = "--force-distributed" in sys.argv
if FORCE_DISTRIBUTED:
    sys.argv.remove("--force-distributed")
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as E
    from tdei_backend_service_spark.core import route
    from tdei_backend_service_spark.session import get_spark

    if FORCE_DISTRIBUTED:
        route.force_distributed()

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    t_all = time.time()
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name:24s} rows-only: {len(sdf):6d} rows  ({t_spark:.1f}s)")
            if len(sdf) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        odf = con.execute(oracles[name]).df()
        a, b = canon(sdf), canon(odf)
        status = "OK"
        if len(a) != len(b):
            status = f"ROWCOUNT {len(a)} vs {len(b)}"
        elif list(a.columns) != list(b.columns):
            status = f"SCHEMA {list(a.columns)} vs {list(b.columns)}"
        elif [str(a[c].dtype) for c in a.columns] != [str(b[c].dtype) for c in b.columns]:
            # The driver's value hash is dtype-sensitive (e.g. DuckDB HUGEINT
            # surfaces as float64 while Spark SUM(BIGINT) stays int64), so a
            # dtype mismatch means a hash fail even with identical values.
            diffs = [f"{c}: {a[c].dtype} vs {b[c].dtype}"
                     for c in a.columns if str(a[c].dtype) != str(b[c].dtype)]
            status = f"DTYPE {'; '.join(diffs)}"
        else:
            for c in a.columns:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
                    av = av.astype(np.float64)
                    bv = bv.astype(np.float64)
                    both_nan = np.isnan(av) & np.isnan(bv)
                    eq = (av == bv) | both_nan
                else:
                    eq = av.astype(str) == bv.astype(str)
                if not eq.all():
                    i = int(np.flatnonzero(~eq)[0])
                    status = f"VALUES col={c} row={i}: {av[i]!r} vs {bv[i]!r}"
                    break
        print(f"  {name:24s} {status:40s} {len(a):6d} rows  ({t_spark:.1f}s)")
        if status != "OK":
            failures.append((name, status))

    spark.stop()
    print(f"\nwall {time.time() - t_all:.1f}s"
          + (" (forced distributed)" if FORCE_DISTRIBUTED else ""))
    if failures:
        print(f"\nFAILED: {len(failures)}")
        for n, s in failures:
            print(f"  {n}: {s}")
        return 1
    print("\nALL MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
