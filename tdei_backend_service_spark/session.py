"""SparkSession factory with scale-oriented defaults.

Centralizes the configuration the engine relies on: AQE (runtime
re-planning + skew-join splitting), Arrow for pandas UDF transfer, and a
shuffle-partition count sized to the local core count (on a real cluster
this is set per-job from input size; AQE coalesces the excess). The core
count is ``cpus``, else ``$SPARK_GRAFT_CPUS``, else the CPUs this process
may run on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "tdei-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) * 2, 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): byte-targeted
        # coalescing (§2.2) was measured here and REGRESSED the
        # Arrow-UDF verify stages 3x — their cost is per row, not per
        # byte, so collapsing small exchanges to one task serializes
        # the Python work. Revisit only with per-stage evidence.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # big-table equi-joins (the kNN tag-back join is N x N on the pk):
        # shuffle-hash beats sort-merge here — no O(n log n) sort passes
        # over wide rows, and AQE still falls back when a side won't fit
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
