"""Stateful streaming dedup: first-seen-wins across micro-batches.

The batch engine dedups a static corpus (pipeline/dedup.py); a training-
data INGESTION tier needs the streaming complement — records arrive
continuously and a record whose content fingerprint was already admitted
(in this or any earlier micro-batch) must be dropped. That is a custom
stateful operator, expressed the idiomatic Structured Streaming way:
``groupBy(fingerprint).applyInPandasWithState`` with one tiny keyed
state cell ("seen") per fingerprint.

Scale shape: state is partitioned by the fingerprint hash across
executors exactly like a shuffle key (RocksDB/HDFS state store at
cluster scale), the per-group state is one boolean + the winning id, and
each micro-batch touches only the fingerprints it contains. No global
structure, no driver state — the same layout Spark's own
dropDuplicates-with-watermark uses, but with the engine's normalization
and deterministic lowest-id winner semantics (matching
pipeline/dedup.exact_dedup, so a replayed corpus converges to the batch
answer).

Duplicates WITHIN one micro-batch collapse to the lowest id; duplicates
ACROSS batches are dropped by the state lookup. Without a watermark the
state is kept forever (exact dedup needs unbounded memory of the past by
definition); pass ``ttl_minutes`` to bound state for approximate
windows.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .run import run_stream


def streaming_exact_dedup(stream: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          ttl_minutes: int | None = None) -> DataFrame:
    """First-seen row per exact (whitespace-normalized, lowercased) text
    across the stream's lifetime. Returns the deduped stream (original
    columns, append mode).

    Same fingerprint + winner rule as pipeline/dedup.exact_dedup: md5 of
    the normalized text, lowest ``id_col`` wins inside a batch."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    keyed = stream.withColumn("_fp", F.md5(norm))

    out_schema = T.StructType([f for f in keyed.schema.fields
                               if f.name != "_fp"])
    out_cols = [f.name for f in out_schema.fields]
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def _dedup(key: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        if not seen:
            best = None  # one-row DataFrame slice (dtypes preserved)
            for pdf in pdfs:
                if not len(pdf):
                    continue
                cand = pdf.loc[[pdf[id_col].idxmin()]]
                if best is None or cand[id_col].iloc[0] < best[id_col].iloc[0]:
                    best = cand
            if best is not None:
                state.update((True,))
                # set only AFTER update: timeouts attach to existing state
                if ttl_minutes is not None:
                    state.setTimeoutDuration(ttl_minutes * 60_000)
                yield best[out_cols]
        else:
            for _ in pdfs:  # drain the iterator; everything is a dup
                pass
            if ttl_minutes is not None:  # refresh the window on re-sight
                state.setTimeoutDuration(ttl_minutes * 60_000)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if ttl_minutes is not None else GroupStateTimeout.NoTimeout)
    return (keyed.groupBy("_fp")
            .applyInPandasWithState(_dedup, out_schema, state_schema,
                                    "append", timeout))


def run_dedup_ingest(spark, landing_dir: str, out_dir: str,
                     checkpoint_dir: str, schema: T.StructType,
                     text_col: str = "text", id_col: str = "doc_id",
                     timeout_s: float = 120):
    """Drive the stateful dedup over available files to an append-only
    parquet sink. Exactly-once per micro-batch via the streaming commit
    log; re-running with the same checkpoint resumes with the state
    intact, so replays admit no duplicate."""
    return run_stream(
        spark, landing_dir, schema,
        lambda s: streaming_exact_dedup(s, text_col, id_col),
        out_dir, checkpoint_dir, timeout_s)
