"""Streaming tile-count maintenance: the live ingestion path of the
raster/tile layer.

A geotagged event stream aggregates into per-(event-time-window, tile)
counts under a watermark — the Structured Streaming front end whose
sealed output rows feed ``operators/tiling.incremental_tile_counts`` /
``operators/raster.incremental_raster_tiles`` as the "drop" side, so a
live map layer stays correct without ever rescanning the committed
corpus. Tile assignment is the same pure-Catalyst ``cells.tile_expr``
the batch path uses; APPEND mode seals a (window, tile) cell exactly
once when the watermark passes the window end.

Scale shape: state is one count cell per (window, tile) — bounded by
active windows x occupied tiles (<= 4^z), independent of stream
length; late rows inside the delay still land before sealing, rows
beyond it are dropped by the engine, never revised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .run import run_stream
from ..core import cells


def windowed_tile_counts(stream: DataFrame, z: int,
                         window_size: str = "1 hour",
                         watermark_delay: str = "30 minutes",
                         ts_col: str = "ts", lon_col: str = "lon",
                         lat_col: str = "lat") -> DataFrame:
    """(window_start, window_end, tile_x, tile_y, n) per sealed window."""
    tx, ty, _ = cells.tile_expr(F.col(lon_col), F.col(lat_col), z)
    return (stream.withWatermark(ts_col, watermark_delay)
            .withColumn("tile_x", tx.cast("int"))
            .withColumn("tile_y", ty.cast("int"))
            .groupBy(F.window(F.col(ts_col), window_size),
                     "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "tile_x", "tile_y", "n"))


def run_tile_counts(spark, landing_dir: str, out_dir: str,
                    checkpoint_dir: str, schema, z: int,
                    window_size: str = "1 hour",
                    watermark_delay: str = "30 minutes",
                    timeout_s: float = 120):
    """Drive the streaming tile aggregation over available files to a
    parquet sink (append mode: only watermark-sealed windows land)."""
    return run_stream(
        spark, landing_dir, schema,
        lambda s: windowed_tile_counts(s, z, window_size, watermark_delay),
        out_dir, checkpoint_dir, timeout_s)
