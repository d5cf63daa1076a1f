"""Checkpoint manifest: per-partition lineage + metrics, idempotent resume.

The reference has **no** resume story — a failed job reruns from scratch
(SURVEY.md §4; its only retry is blob-availability polling,
/root/reference/src/utility/utility.ts:8-32). The north_rule requires
better: every stage writes per-partition lineage + row/byte metrics to a
manifest so any partition can resume idempotently.

Design:
* output is parquet partitioned by deterministic keys (``dataset_id``,
  cell prefix, ...) — a partition's content is a pure function of input
  and keys, so re-running it is safe;
* writes use dynamic partition overwrite: a retried partition replaces
  its own files only, never touching committed siblings;
* after each partition lands, the manifest records
  ``{key, rows, bytes, status: committed}``; a stage is ``complete`` when
  all partitions committed;
* on resume, committed keys are anti-joined out of the input — only
  missing/failed partitions recompute — and a complete stage is skipped
  without touching Spark at all;
* manifest writes are atomic (tmp + rename), so a crash mid-update
  leaves the previous consistent state.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class Manifest:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.path = os.path.join(run_dir, "manifest.json")
        self.state = self._load()

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {"stages": {}}

    def _save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    # -- introspection -------------------------------------------------
    def stage(self, name: str) -> dict:
        return self.state["stages"].setdefault(
            name, {"status": "pending", "partitions": {}})

    def committed_keys(self, name: str) -> list[tuple]:
        return [tuple(json.loads(k)) for k, v in self.stage(name)["partitions"].items()
                if v.get("status") == "committed"]

    def is_complete(self, name: str) -> bool:
        return self.stage(name).get("status") == "complete"

    # -- execution -----------------------------------------------------
    def run_stage(self, name: str, df: DataFrame, keys: list[str],
                  out_subdir: str | None = None) -> dict:
        """Write ``df`` partitioned by ``keys`` under the run dir with
        per-partition commit records; skip already-committed partitions."""
        st = self.stage(name)
        st["keys"] = keys  # recorded so read_stage can declare key types
        # read_stage is addressed by OUTPUT DIRECTORY name; record it so a
        # stage written with out_subdir != name still resolves its keys
        # (ADVICE r3 low #1)
        st["out_subdir"] = out_subdir or name
        out_dir = os.path.join(self.run_dir, out_subdir or name)
        if st["status"] == "complete":
            return {"skipped": True, "out_dir": out_dir,
                    "partitions": len(st["partitions"])}

        spark = df.sparkSession
        committed = self.committed_keys(name)
        pending = df
        if committed:
            cdf = spark.createDataFrame(
                [tuple(str(v) for v in k) for k in committed], schema=keys)
            pending = df.withColumns(
                {f"_k_{c}": F.col(c).cast("string") for c in keys}
            ).join(
                F.broadcast(cdf.select(*[F.col(c).alias(f"_k_{c}") for c in keys])),
                [f"_k_{c}" for c in keys], "left_anti"
            ).drop(*[f"_k_{c}" for c in keys])

        t0 = time.time()
        (pending.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*keys).parquet(out_dir))
        wall = time.time() - t0

        # per-partition metrics from the WRITTEN files, not a re-execution
        # of the source plan: a parquet count is metadata-only (no second
        # end-to-end run of an expensive pipeline), and the recorded rows
        # reflect exactly what was committed even if the plan is
        # non-deterministic (ADVICE r1, manifest.py:100)
        committed_set = {tuple(k) for k in committed}
        counts = read_stage(spark, self.run_dir, out_subdir or name,
                            keys=keys) \
            .groupBy(*keys).count().collect()
        for row in counts:
            kvals = [str(row[c]) for c in keys]
            if tuple(kvals) in committed_set:
                continue  # keep the original commit record (incl. wall_s)
            pdir = os.path.join(out_dir, *[f"{c}={v}" for c, v in zip(keys, kvals)])
            nbytes = 0
            if os.path.isdir(pdir):
                for root, _dirs, files in os.walk(pdir):
                    nbytes += sum(os.path.getsize(os.path.join(root, fn))
                                  for fn in files if not fn.startswith("_"))
            st["partitions"][json.dumps(kvals)] = {
                "status": "committed", "rows": int(row["count"]),
                "bytes": nbytes, "wall_s": round(wall, 3),
            }
        st["status"] = "complete"
        st["out_dir"] = out_dir
        self._save()
        return {"skipped": False, "out_dir": out_dir,
                "partitions": len(st["partitions"]),
                "rows": int(sum(p["rows"] for p in st["partitions"].values())),
                "wall_s": wall}

    def fail_partition(self, name: str, key_values: list[str]) -> None:
        """Mark a partition failed (e.g. from a task-failure listener) so
        the next run recomputes exactly that key."""
        st = self.stage(name)
        st["partitions"][json.dumps([str(v) for v in key_values])] = {"status": "failed"}
        st["status"] = "pending"
        self._save()

    def metrics(self) -> dict:
        return self.state


def _partition_keys_from_layout(out_dir: str) -> list[str]:
    """Key names from the first chain of ``key=value`` directories under
    ``out_dir`` (the Hive layout the writer produces)."""
    keys: list[str] = []
    cur = out_dir
    while os.path.isdir(cur):
        sub = sorted(d for d in os.listdir(cur)
                     if "=" in d and os.path.isdir(os.path.join(cur, d)))
        if not sub:
            break
        keys.append(sub[0].split("=", 1)[0])
        cur = os.path.join(cur, sub[0])
    return keys


def read_stage(spark: SparkSession, run_dir: str, name: str,
               keys: list[str] | None = None) -> DataFrame:
    """Read a stage's committed output. Partition key values round-trip
    as the strings the manifest recorded (a numeric-looking dataset_id
    must not come back as bigint): the read passes an EXPLICIT schema —
    data fields from one committed file's footer plus the partition keys
    declared string — so no inference runs. The previous implementation
    toggled the session-global partitionColumnTypeInference conf, which
    raced concurrent readers on the same SparkSession and silently
    changed the read contract for unrelated callers (ADVICE r2 low #5).

    ``keys`` defaults to the key list the manifest recorded for the
    stage; passing it explicitly skips the manifest lookup. ``name`` is
    the OUTPUT DIRECTORY name: stages written with ``out_subdir != name``
    are found via the recorded ``out_subdir`` (ADVICE r3 low #1), and a
    manifest with no key record at all (pre-r3) falls back to deriving
    the key names from the ``key=value`` directory layout — partition
    values still come back as strings, never inferred bigint."""
    from pyspark.sql import types as T
    out_dir = os.path.join(run_dir, name)
    if keys is None:
        stages = Manifest(run_dir).state["stages"]
        # resolve by the DIRECTORY the stage actually wrote: prefer any
        # stage whose recorded out_subdir equals `name`; fall back to
        # the stage record named `name` only when its own out_subdir is
        # absent or matches — otherwise a stage named X that wrote
        # elsewhere would shadow the stage that wrote directory X
        # (ADVICE r4)
        st = next((s for s in stages.values()
                   if s.get("out_subdir") == name), None)
        if st is None:
            cand = stages.get(name)
            if cand is not None and cand.get("out_subdir") in (None, name):
                st = cand
        keys = (st or {}).get("keys") or []
    if not keys:
        # no record anywhere: derive key names from the directory layout
        # so the explicit-string contract still holds
        keys = _partition_keys_from_layout(out_dir)
    sample = None
    for root, _dirs, files in os.walk(out_dir):
        for fn in sorted(files):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                sample = os.path.join(root, fn)
                break
        if sample:
            break
    if sample is None or not keys:
        # empty stage or a pre-r3 manifest with no recorded keys: plain
        # read (nothing recorded that inference could contradict)
        return spark.read.parquet(out_dir)
    data_schema = spark.read.parquet(sample).schema
    full = T.StructType(
        [f for f in data_schema.fields if f.name not in keys]
        + [T.StructField(k, T.StringType()) for k in keys])
    return spark.read.schema(full).parquet(out_dir)
