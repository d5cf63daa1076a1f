"""Structured Streaming ingest: continuous arrival of geotagged image
records -> write-time enrichment -> partitioned table appends.

The reference is job-at-a-time (queue message -> one batch job; no
watermarks/windows/state — SURVEY.md §2.4), so the engine's streaming
surface is deliberately thin: a file-source stream (new parquet drops in
a landing directory) flows through the same ``encode_cells`` enrichment
and lands partitioned by dataset_id, with per-batch row metrics appended
to the lineage manifest via foreachBatch. The queue-driven job loop from
backend_service.dispatch wraps the same foreachBatch hook unchanged.

At scale this is the ingestion tier for a 10^12-row table: file-drop
micro-batches, append-only partitioned writes, exactly-once per batch id
(Spark's streaming commit log + the manifest's idempotent partition
keys).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .run import drain
from ..core.ingest import encode_cells
from ..core.schema import IMAGES_SCHEMA


def start_image_ingest(spark: SparkSession, landing_dir: str, table_dir: str,
                       checkpoint_dir: str, manifest_path: str | None = None):
    """Stream the parquet drops available under ``landing_dir`` into the
    enriched images table at ``table_dir``. Returns the started
    StreamingQuery, which stops once every available file is processed.
    """
    stream = (spark.readStream.schema(IMAGES_SCHEMA)
              .parquet(landing_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        enriched = encode_cells(batch_df)
        (enriched.write.mode("append").partitionBy("dataset_id")
         .parquet(table_dir))
        if manifest_path:
            n = enriched.count()
            entry = {"batch_id": batch_id, "rows": int(n), "ts": time.time()}
            with open(manifest_path, "a") as f:
                f.write(json.dumps(entry) + "\n")

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def ingest_available(spark: SparkSession, landing_dir: str, table_dir: str,
                     checkpoint_dir: str, manifest_path: str | None = None,
                     timeout_s: float = 120):
    """Synchronous convenience: process all available input, then return
    the drained StreamingQuery (TimeoutError past ``timeout_s``)."""
    os.makedirs(table_dir, exist_ok=True)
    return drain(start_image_ingest(spark, landing_dir, table_dir,
                                    checkpoint_dir, manifest_path),
                 timeout_s, table_dir)
