"""Shared sizing for stateful streaming queries.

The number of state-store partitions of a Structured Streaming query is
fixed at its first start from ``spark.sql.shuffle.partitions`` — and
every micro-batch then pays one task + one state-store commit PER
PARTITION, regardless of how little state it holds. That cost is
proportional to the partition count, not the data, so the right number
tracks peak keyed-state volume / throughput of the deployment, not the
session-wide shuffle setting (which is sized for batch exchanges).

``stream_state_partitions`` scopes the conf around a streaming run: 8
partitions keep per-micro-batch commit overhead off the critical path
for the keyed-state volumes the engine's streaming operators hold
(counts / session ranges / seen-flags per key).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

#: state-store partition count for the engine's streaming queries
STREAM_STATE_PARTITIONS = 8

# serializes the set/restore pairs: without it two runs can interleave
# as A sets, B sets (saving A's pinned value as "old"), A restores,
# B restores — leaving the pinned value in the session for good
_CONF_LOCK = threading.RLock()


@contextmanager
def stream_state_partitions(spark, n: int | None = None):
    """Temporarily pin ``spark.sql.shuffle.partitions`` (the state
    partition count a newly started streaming query adopts) for the
    duration of a synchronous streaming run, restoring the session
    value afterwards. A query restarted on an existing checkpoint keeps
    the checkpoint's partitioning — Spark ignores the conf then — so
    wrapping restarts is harmless.

    The conf is session-global: concurrent runs wait for each other
    here, and batch queries planned on other threads while a run is
    inside the block see the pinned value."""
    key = "spark.sql.shuffle.partitions"
    with _CONF_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, str(n or STREAM_STATE_PARTITIONS))
        try:
            yield
        finally:
            spark.conf.set(key, old)
