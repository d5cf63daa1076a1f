"""One runner for the engine's file-drop streaming queries.

The number of state-store partitions of a Structured Streaming query is
fixed at its first start from ``spark.sql.shuffle.partitions`` of the
session that starts it, and every micro-batch then pays one task and
one state-store commit per partition, however little state it holds.
So the right number tracks the keyed-state volume of the engine's
streaming operators (counts, session ranges, seen-flags per key), not
the session-wide shuffle setting sized for batch exchanges.

``run_stream`` starts each query from a child session
(``spark.newSession()``) that pins ``STATE_PARTITIONS`` on itself only:
the caller's session conf is never touched, so concurrent runs need no
lock and batch queries planned meanwhile keep their own partition
count. A query restarted on an existing checkpoint keeps the
checkpoint's partitioning; Spark ignores the conf then.

The child shares the caller's SparkContext and inherits every setting
given to the session builder (``session.get_spark``), but not conf set
at runtime on the caller's session (``spark.conf.set``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

#: state-store partition count for the engine's streaming queries
STATE_PARTITIONS = 8


def drain(q, timeout_s: float, sink: str):
    """Wait for an availableNow query to finish. One still active after
    ``timeout_s`` is stopped and raises TimeoutError: its sink is
    incomplete, and returning normally would surface downstream as an
    under-count."""
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"streaming query still active after {timeout_s}s — sink at "
            f"{sink} is partial; raise timeout_s for this input size")
    return q


def run_stream(spark, landing_dir: str, schema,
               plan: Callable[[DataFrame], DataFrame], out_dir: str,
               checkpoint_dir: str, timeout_s: float = 120):
    """Stream the parquet drops under ``landing_dir`` through ``plan``
    into an append-mode parquet sink at ``out_dir``, processing every
    available file, and return the drained StreamingQuery (its
    ``recentProgress`` holds the per-batch metrics)."""
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    stream = child.readStream.schema(schema).parquet(landing_dir)
    q = (plan(stream).writeStream.outputMode("append").format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    return drain(q, timeout_s, out_dir)
