"""``query_suite``: repeated passes over contract queries from
``__spark_entry__.queries()`` — read-only batch queries (the dedup, UDF,
pair-join and graph hot spots) followed by queries that write and merge
into committed state (streaming sinks and checkpoints, the tile store)
and one re-delivered ingest drop.

Each query is built (``build`` phase: every job the program runs while
it constructs the DataFrame — eager probes, checkpoints, and for the
store queries the writes into sinks, checkpoints and stores) and then
materialized by a parquet write of its result (``exec`` phase). The
written result is compared afterwards with DuckDB running the query's
``oracle_sql()`` over the same generated tables.
"""

from __future__ import annotations

import os
import tempfile
import time

import numpy as np
import pandas as pd

from probes import dir_bytes

READ_QUERIES = (
    "hamming_cluster_dedup", "winnow_fingerprint", "network_distance",
    "co_travelers",
)
WRITE_QUERIES = (
    "streaming_tiles", "tile_viewport", "store_phash_dedup",
)
# a re-delivered drop: ids 0..63, every fourth one delivered twice, each
# id with its own 64-bit hash (pairwise hamming distance > 3, so no two
# ids are near-duplicates of each other). Fixed, not seeded.
REDELIVERED = "redelivered_hash_neardup"
_N_REDELIVERED = 64
FLOAT_RTOL = 1e-6
WARMUP_PASSES = 1


def _redelivered_drop() -> pd.DataFrame:
    ids = np.arange(_N_REDELIVERED, dtype=np.int64)
    h = [((int(i) + 1) * 11400714819323198485) % (1 << 61) for i in ids]
    hs = np.array(h, dtype=np.int64)
    x = np.bitwise_xor(hs[:, None], hs[None, :]).astype(np.uint64)
    ham = np.unpackbits(x.view(np.uint8), axis=1).reshape(len(ids), len(ids), 64).sum(-1)
    assert ham[~np.eye(len(ids), dtype=bool)].min() > 3
    rows = np.concatenate([ids, ids[::4]])
    return pd.DataFrame({"doc_id": rows, "h": hs[rows]})


class QuerySuite:
    name = "query_suite"
    queries = READ_QUERIES + WRITE_QUERIES + (REDELIVERED,)

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.records: list[dict] = []
        self.pass_bytes: list[int] = []
        self._pass = 0

    # ----------------------------------------------------------------------
    def setup(self) -> None:
        import __spark_entry__ as E
        from tdei_backend_service_spark.pipeline.dedup import hash_neardup
        self.fns = {q: E.queries()[q] for q in READ_QUERIES + WRITE_QUERIES}
        drop = self.spark.createDataFrame(_redelivered_drop())
        self.fns[REDELIVERED] = lambda spark, sf: hash_neardup(drop, "h", "doc_id")
        for _ in range(WARMUP_PASSES):
            self.run_round(list(self.queries), record=False)

    def rounds(self):
        while True:
            yield list(self.queries)

    def run_round(self, ops: list[str], record: bool = True) -> list[float]:
        self._pass += 1
        pass_dir = os.path.join(self.ctx.out_root, f"p{self._pass:03d}")
        os.makedirs(os.path.join(pass_dir, "tmp"))
        # the store paths take their sink/checkpoint/store directories from
        # tempfile.mkdtemp: point it into this pass so their bytes count
        tempfile.tempdir = os.path.join(pass_dir, "tmp")
        try:
            lat = [self.run_op(q, pass_dir, record) for q in ops]
        finally:
            tempfile.tempdir = self.ctx.tmp_dir
        if record:
            self.pass_bytes.append(dir_bytes(pass_dir))
        return lat

    def run_op(self, q: str, pass_dir: str, record: bool) -> float:
        tr = self.ctx.tracer
        out = os.path.join(pass_dir, q)
        tmp = tempfile.tempdir
        before = set(os.listdir(tmp)) if tr.on else set()
        m0 = tr.mark("build:" + q)
        t0 = time.perf_counter()
        df = self.fns[q](self.spark, self.ctx.tables_dir)
        t1 = time.perf_counter()
        m1 = tr.mark("exec:" + q)
        df.write.mode("overwrite").parquet(out)
        t2 = time.perf_counter()
        m2 = tr.mark(None)
        if record:
            rec = {"query": q, "path": out, "build_s": t1 - t0,
                   "exec_s": t2 - t1, "latency_s": t2 - t0}
            if tr.on:
                new = set(os.listdir(tmp)) - before
                rec["written_mb"] = (sum(dir_bytes(os.path.join(tmp, d)) for d in new)
                                     + dir_bytes(out)) / 1e6
                b = tr.between(m0, m1)
                rec.update(build_jobs=b["jobs"], spark=[b, tr.between(m1, m2)])
            self.records.append(rec)
        return t2 - t0

    def bytes_written(self) -> int:
        return sum(self.pass_bytes)

    # ----------------------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for q in self.queries:
            recs = [r for r in self.records if r["query"] == q]
            med = lambda k: float(np.median([r[k] for r in recs])) if recs and k in recs[0] else 0.0
            out[f"q.{q}.build_s"] = med("build_s")
            out[f"q.{q}.build_jobs"] = med("build_jobs")
            out[f"q.{q}.exec_s"] = med("exec_s")
            if q not in READ_QUERIES:
                out[f"q.{q}.written_mb"] = med("written_mb")
        return out

    # ----------------------------------------------------------------------
    def check(self) -> list[str]:
        import duckdb

        import __spark_entry__ as E
        oracles = E.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(self.ctx.tables_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(self.ctx.tables_dir, f)}'")
        want: dict[str, pd.DataFrame] = {}
        notes = []
        for r in self.records:
            q = r["query"]
            try:
                got = con.execute(f"SELECT * FROM '{r['path']}/*.parquet'").df()
                if q == REDELIVERED:
                    err = _check_redelivered(got)
                else:
                    if q not in want:
                        want[q] = _canon(con.execute(oracles[q]).df())
                    err = _compare(_canon(got), want[q])
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
            if err:
                notes.append(f"{q} ({os.path.basename(os.path.dirname(r['path']))}): {err}")
        con.close()
        return notes


def _check_redelivered(got: pd.DataFrame) -> str | None:
    """Near-dedup must never delete an id outright: every input id keeps
    at least one row (the drop holds no near-duplicate pair of distinct
    ids, so exactly one row per id is the right answer)."""
    lost = set(range(_N_REDELIVERED)) - set(int(v) for v in got["doc_id"])
    if lost:
        return f"{len(lost)} of {_N_REDELIVERED} ids lost every row (e.g. {sorted(lost)[:4]})"
    return None


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_bool_dtype(df[c]) or pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].astype(np.float64)
        else:
            df[c] = df[c].map(_norm)
    # sort on strings first and rounded floats after, so a last-digit
    # float difference cannot reorder rows
    keys = [c for c in df.columns if df[c].dtype == object]
    keys += [c for c in df.columns if df[c].dtype != object]
    tmp = df.assign(**{f"_k{i}": (df[c].round(6) if df[c].dtype != object else df[c])
                       for i, c in enumerate(keys)})
    tmp = tmp.sort_values([f"_k{i}" for i in range(len(keys))], kind="stable")
    return tmp[list(df.columns)].reset_index(drop=True)


def _norm(v) -> str:
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, (float, np.floating)):
        return repr(round(float(v), 9))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return "None" if v is None or v is pd.NaT else str(v)


def _compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if len(a) != len(b):
        return f"{len(a)} rows, oracle {len(b)}"
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype == object or b[c].dtype == object:
            bad = (a[c].astype(str) != b[c].astype(str)).to_numpy()
        else:
            bad = ~(np.isclose(x, y, rtol=FLOAT_RTOL, atol=1e-9)
                    | (np.isnan(x) & np.isnan(y)))
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return f"column {c}: {int(bad.sum())} values differ (row {i}: {x[i]!r} vs {y[i]!r})"
    return None

