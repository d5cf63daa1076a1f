"""streaming/run.py: every streaming run starts on a child session, so
the caller's session conf is never written, the state partition count
is ``run.STATE_PARTITIONS``, and concurrent runs need no lock."""

import datetime as dt
import os
import threading

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.conf import RuntimeConfig

from tdei_backend_service_spark.core import geom
from tdei_backend_service_spark.core.manifest import Manifest
from tdei_backend_service_spark.core.schema import ZONES_SCHEMA
from tdei_backend_service_spark.streaming import run as R, windows as W
from tdei_backend_service_spark.streaming.dedup import run_dedup_ingest
from tdei_backend_service_spark.streaming.raster import run_tile_counts
from tdei_backend_service_spark.streaming.windows import (run_session_counts,
                                                          run_windowed_counts)
from tdei_backend_service_spark.streaming.zones import run_zone_counts

EVENTS = T.StructType([T.StructField("event_id", T.LongType()),
                       T.StructField("ts", T.TimestampType()),
                       T.StructField("event_type", T.StringType())])
POINTS = T.StructType([T.StructField("ts", T.TimestampType()),
                       T.StructField("lon", T.DoubleType()),
                       T.StructField("lat", T.DoubleType())])
DOCS = T.StructType([T.StructField("doc_id", T.LongType()),
                     T.StructField("text", T.StringType())])


def _drop_events(spark, landing, rows):
    """rows of (hour, minute, key); max ts 12:40 seals [10,11), [11,12)."""
    pdf = pd.DataFrame([(i, dt.datetime(2024, 1, 1, h, m), k)
                        for i, (h, m, k) in enumerate(rows)],
                       columns=["event_id", "ts", "event_type"])
    spark.createDataFrame(pdf, schema=EVENTS).write.parquet(landing)


def _sealed_counts(spark, out):
    return {(r.window_start.hour, r.event_type): r.n
            for r in spark.read.parquet(out).collect()}


def test_runs_never_write_the_caller_conf(spark, tmp_path, monkeypatch):
    """The four run_* functions, the dedup run and Manifest.run_stage
    record no conf.set on the caller's session."""
    caller = spark._jsparkSession.conf()
    real_set = RuntimeConfig.set
    calls = []

    def spy(self, key, value):
        if self._jconf.equals(caller):
            calls.append(key)
        real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    d = str(tmp_path)
    _drop_events(spark, f"{d}/ev", [(10, 5, "A"), (12, 40, "B")])
    run_windowed_counts(spark, f"{d}/ev", f"{d}/w", f"{d}/wc", EVENTS)
    run_session_counts(spark, f"{d}/ev", f"{d}/s", f"{d}/sc", EVENTS)

    pts = pd.DataFrame([(dt.datetime(2024, 1, 1, 10, 5), 0.002, 0.002),
                        (dt.datetime(2024, 1, 1, 12, 40), 0.002, 0.002)],
                       columns=["ts", "lon", "lat"])
    spark.createDataFrame(pts, schema=POINTS).write.parquet(f"{d}/pt")
    run_tile_counts(spark, f"{d}/pt", f"{d}/t", f"{d}/tc", POINTS, 15)
    zone = geom.wkb_polygon([(0.0, 0.0), (0.01, 0.0), (0.01, 0.01),
                             (0.0, 0.01), (0.0, 0.0)])
    zones = spark.createDataFrame([(0, [0], zone, {}, "z")], ZONES_SCHEMA)
    run_zone_counts(spark, f"{d}/pt", f"{d}/z", f"{d}/zc", POINTS, zones, "z")

    spark.createDataFrame([(1, "a"), (2, "a")], DOCS).write.parquet(f"{d}/dl")
    run_dedup_ingest(spark, f"{d}/dl", f"{d}/dd", f"{d}/dc", DOCS)

    Manifest(f"{d}/run").run_stage(
        "stage", spark.createDataFrame([(1, "x"), (2, "y")], "v long, k string"),
        keys=["k"])

    assert calls == []
    # every run above wrote its sink
    assert _sealed_counts(spark, f"{d}/w") == {(10, "A"): 1}
    assert spark.read.parquet(f"{d}/s").count() == 1
    assert spark.read.parquet(f"{d}/t").count() == 1
    assert spark.read.parquet(f"{d}/z").count() == 1
    assert [r.doc_id for r in spark.read.parquet(f"{d}/dd").collect()] == [1]
    assert spark.read.parquet(f"{d}/run/stage").count() == 2


def test_state_partitions_come_from_run_module(spark, tmp_path, monkeypatch):
    """A patched STATE_PARTITIONS sizes the checkpoint's state store, and
    the caller's shuffle partition count stays its own, also while the
    query is being planned."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.setattr(R, "STATE_PARTITIONS", 3)
    seen = []
    plan = W.windowed_event_counts

    def spy(stream, *args):
        seen.append(spark.conf.get(key))
        return plan(stream, *args)

    monkeypatch.setattr(W, "windowed_event_counts", spy)
    d = str(tmp_path)
    _drop_events(spark, f"{d}/ev", [(10, 5, "A"), (12, 40, "B")])
    q = run_windowed_counts(spark, f"{d}/ev", f"{d}/w", f"{d}/wc", EVENTS)
    assert not q.isActive
    parts = [p for p in os.listdir(f"{d}/wc/state/0") if p.isdigit()]
    assert sorted(parts) == ["0", "1", "2"]
    assert seen == [before] and spark.conf.get(key) == before != "3"


def test_concurrent_runs_both_drain(spark, tmp_path):
    """Two runs started together on two threads each fill their own
    sink correctly; every wait is bounded."""
    d = str(tmp_path)
    want = {}
    for i in range(2):
        rows = [(10, 5, f"A{i}")] * (i + 1) + [(11, 10, f"B{i}"),
                                               (12, 40, "C")]
        _drop_events(spark, f"{d}/ev{i}", rows)
        want[i] = {(10, f"A{i}"): i + 1, (11, f"B{i}"): 1}
    errors = []

    def run(i):
        try:
            run_windowed_counts(spark, f"{d}/ev{i}", f"{d}/w{i}",
                                f"{d}/wc{i}", EVENTS, timeout_s=120)
        except Exception as e:  # surfaced in the main thread
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert not any(t.is_alive() for t in threads) and not errors
    for i in range(2):
        assert _sealed_counts(spark, f"{d}/w{i}") == want[i]
