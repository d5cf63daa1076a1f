#!/usr/bin/env python3
"""Seeded input generation for the benchmark.

    python3 perfbench/gen.py --seed 7

writes, under ``perfbench/data/inputs/``:

* ``tables/`` — the TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings`` that ``__spark_entry__.queries()`` and
  ``oracle_sql()`` read, at ``SF`` (row counts below);
* ``catalog/`` — the service catalog of ``service_jobs``: two image
  datasets with payload bytes (``ds-b`` carries planted duplicates of
  ``ds-a``), street-grid edges, zones and ``dataset_info`` blobs;
* ``catalog/truth.json`` — what the generator planted (duplicate count
  per dataset pair), read only by the correctness checks.

A ``SEED`` stamp makes a re-run with the same seed a no-op. The tables
always live at the same path and use the key ranges ``0..n-1`` whatever
the seed, so the payload blobs the program derives from part keys (the
part images ``store_phash_dedup`` reads) stay valid across seeds; they
are synthesized once per checkout into ``data/fixture_cache`` by a short
Spark run here (``SPARK_GRAFT_FIXTURE_CACHE`` points there), never inside
a measured run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
INPUTS = os.path.join(DATA, "inputs")
TABLES = os.path.join(INPUTS, "tables")
CATALOG = os.path.join(INPUTS, "catalog")
FIXTURE_CACHE = os.path.join(DATA, "fixture_cache")

SF = 0.01
# the service catalog: two image datasets, ds-b sharing N_DUP images
# (same pixels/phash/caption, coordinates jittered well inside the
# union's 0.5 m default proximity) with ds-a
N_IMAGES = {"ds-a": 3000, "ds-b": 2000}
N_DUP = 300
N_EDGES = {"ds-a": 100, "ds-b": 60}
N_ZONES = {"ds-a": 16, "ds-b": 9}
DUP_JITTER_DEG = 1e-6          # <= 0.16 m at the equator metric
B_ID_OFFSET = 10_000_000       # ds-b content ids never collide with ds-a

VOCAB = ("merge window customer spark part group stream filter the sort "
         "scan vector join query big hash column data agg table line small "
         "slow key fast order row value a batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def _days(rng, n, start: datetime, end: datetime) -> np.ndarray:
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return np.datetime64(start, "us") + d.astype("timedelta64[D]")


def tpch_tables(seed: int, sf: float = SF) -> dict[str, pa.Table]:
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 50)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})

    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, i64),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], n_cust).tolist()})

    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, i64),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})

    pk = np.arange(n_part)
    adj = np.array(["blue", "cold", "hot", "red", "small", "new", "old", "big"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pin"])
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                              "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0, f64)})

    ok = np.arange(n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime(1995, 1, 1),
                                      datetime(2001, 8, 1)), ts),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()})

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": pa.array(_days(rng, n_line, datetime(1995, 1, 2),
                                     datetime(2001, 11, 4)), ts)})

    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    span_us = 30 * 86400 * 10**6
    ev_ts = t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], n_ev).tolist(),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_doc)]
    # planted near-duplicates (an earlier doc + " dup") and exact copies
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n_doc) < 0.002):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    dk = np.arange(n_doc)
    out["documents"] = pa.table({
        "doc_id": pa.array(dk, i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P).tolist(),
        "source": [f"src{k % 20}" for k in dk],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    cent = rng.normal(size=(10, 64))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_emb)
    vec = rng.normal(scale=1 / 8.0, size=(n_emb, 64)) + 0.07 * cent[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
    return out


def _props(keys: list[str], cols: list[np.ndarray]) -> pa.Array:
    rows = [list(zip(keys, vals)) for vals in zip(*cols)]
    return pa.array(rows, pa.map_(pa.string(), pa.string()))


def service_catalog(seed: int) -> tuple[dict[str, pa.Table], dict]:
    """Image/edge/zone layers through the package's own fixture
    generator (``datagen``); ds-b's first N_DUP rows duplicate ds-a rows."""
    sys.path.insert(0, ROOT)
    from tdei_backend_service_spark.datagen.images import (
        _splitmix64, synth_edges_pandas, synth_images_pandas,
        synth_zones_pandas)

    n_a, n_b = N_IMAGES["ds-a"], N_IMAGES["ds-b"]
    a = synth_images_pandas(np.arange(n_a), seed=seed, dataset_id="ds-a",
                            props_as_map=False)
    b_ids = np.arange(B_ID_OFFSET, B_ID_OFFSET + n_b)
    dup_src = np.full(n_b, -1, dtype=np.int64)
    dup_src[:N_DUP] = (_splitmix64(np.arange(N_DUP, dtype=np.uint64)
                                   ^ np.uint64(seed + 99)) % np.uint64(n_a)
                       ).astype(np.int64)
    b = synth_images_pandas(b_ids, seed=seed, dataset_id="ds-b",
                            dup_src_ids=dup_src, jitter_deg=DUP_JITTER_DEG,
                            props_as_map=False)
    img_cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "lon", "lat"]
    images = []
    for df in (a, b):
        t = pa.Table.from_pandas(df[img_cols], preserve_index=False)
        t = t.append_column("props", _props(["highway", "ada_compliant"],
                                            [df.highway.to_numpy(),
                                             df.ada_compliant.to_numpy()]))
        images.append(t.append_column("dataset_id",
                                      pa.array(df.dataset_id.tolist(), pa.string())))

    def vector(pdf) -> pa.Table:
        cols = {c: pdf[c].tolist() for c in pdf.columns if c != "props"}
        keys = sorted({k for p in pdf.props for k in p})
        props = pa.array([[(k, p[k]) for k in keys if k in p] for p in pdf.props],
                         pa.map_(pa.string(), pa.string()))
        t = pa.table({k: v for k, v in cols.items() if k != "dataset_id"})
        t = t.append_column("props", props)
        return t.append_column("dataset_id", pa.array(cols["dataset_id"], pa.string()))

    edges = [vector(synth_edges_pandas(n, seed + i, ds))
             for i, (ds, n) in enumerate(N_EDGES.items())]
    zones = [vector(synth_zones_pandas(n, seed + i, ds))
             for i, (ds, n) in enumerate(N_ZONES.items())]
    # edges of ds-b get ids disjoint from ds-a's (the OSM export keys
    # ways by edge_id)
    e_b = edges[1]
    shift = N_EDGES["ds-a"]
    for c in ("edge_id", "orig_node_id", "dest_node_id"):
        i = e_b.schema.get_field_index(c)
        vals = np.asarray(e_b.column(c).to_numpy()) + (shift if c == "edge_id" else 2 * shift)
        e_b = e_b.set_column(i, c, pa.array(vals, pa.int64()))
    edges[1] = e_b
    info = pa.table({
        "dataset_id": ["ds-a", "ds-a", "ds-b"],
        "layer": ["node", "edge", "node"],
        "info_json": [json.dumps({"node_ver": "0.2", "seed": seed}),
                      json.dumps({"edge_ver": "0.2"}),
                      json.dumps({"node_ver": "0.2", "region": "b"})]})
    tables = {"images": pa.concat_tables(images),
              "edges": pa.concat_tables(edges),
              "zones": pa.concat_tables(zones),
              "dataset_info": info}
    truth = {"n_images": N_IMAGES, "n_dup": {"ds-a|ds-b": N_DUP},
             "n_edges": N_EDGES, "dup_jitter_deg": DUP_JITTER_DEG}
    return tables, truth


def _write_all(seed: int) -> None:
    tmp = INPUTS + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tables"))
    os.makedirs(os.path.join(tmp, "catalog"))
    for name, t in tpch_tables(seed).items():
        pq.write_table(t, os.path.join(tmp, "tables", f"{name}.parquet"))
    tables, truth = service_catalog(seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, "catalog", f"{name}.parquet"))
    with open(os.path.join(tmp, "catalog", "truth.json"), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(tmp, "SEED"), "w") as f:
        f.write(str(seed))
    shutil.rmtree(INPUTS, ignore_errors=True)
    os.rename(tmp, INPUTS)


def _synthesize_blobs() -> None:
    """Materialize the program's part-image blob fixture for TABLES (the
    one payload ``store_phash_dedup`` reads) into FIXTURE_CACHE: a Spark
    run of a few seconds, once per checkout."""
    sys.path.insert(0, ROOT)
    from tdei_backend_service_spark import fixtures_tpch as FX
    from tdei_backend_service_spark.session import get_spark
    spark = get_spark("perfbench-gen", cpus=os.cpu_count() or 4)
    try:
        FX.part_images(spark, TABLES).count()
    finally:
        stop_session(spark)


def isolate(run_dir: str) -> None:
    """Send every file Spark and the program make under ``run_dir`` —
    temp files, Spark's local dirs, the warehouse, the JVM's temp dir —
    for this process and the children it starts."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "warehouse", "out"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_FIXTURE_CACHE"] = FIXTURE_CACHE
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # both JVMs (spark-submit's launcher and the driver): no hsperfdata
    # file under /tmp, temp files under run_dir
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--driver-java-options", f"'{jvm_opts}'",
        "pyspark-shell"])


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (it would otherwise linger until this process ends)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def blob_cache_ready() -> bool:
    return os.path.exists(os.path.join(FIXTURE_CACHE, "READY"))


def ensure_inputs(seed: int) -> None:
    """Generate the inputs for ``seed`` unless they are already there;
    the blob fixtures are built in a child process so the caller stays
    free of a SparkSession. Call after ``isolate``."""
    stamp = os.path.join(INPUTS, "SEED")
    if not (os.path.exists(stamp) and open(stamp).read() == str(seed)):
        _write_all(seed)
    if not blob_cache_ready():
        shutil.rmtree(FIXTURE_CACHE, ignore_errors=True)
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--blobs-only"], check=True, cwd=ROOT,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(os.path.join(FIXTURE_CACHE, "READY"), "w") as f:
            f.write("ok")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--blobs-only", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.blobs_only:
        _synthesize_blobs()
        return 0
    if args.seed is None:
        ap.error("--seed is required")
    os.makedirs(DATA, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="gen-", dir=DATA)
    try:
        isolate(scratch)
        ensure_inputs(args.seed)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"seed": args.seed, "inputs": INPUTS,
                      "fixture_cache": FIXTURE_CACHE}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
