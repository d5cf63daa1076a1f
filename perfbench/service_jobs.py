"""``service_jobs``: the reference service's own traffic, one closed-loop
client sending queue messages that cover all five services.

Each job runs validate -> ``backend_service.dispatch`` -> export (GeoJSON
through ``io.geojson``, or the OSM XML that ``osw_osm_query`` writes
itself) -> ``io.package`` zip and response, into its own directory. The
checks afterwards read only those files and compare them with numpy over
the generated catalog — never with the program's own helpers.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import struct
import time

import numpy as np
import pandas as pd

from probes import dir_bytes

SERVICES = ("bbox_intersect", "spatial_join", "dataset_tag_road",
            "union_dataset", "osw_osm_query")
DATASETS = ("ds-a", "ds-b")
REGION = (-122.35, 47.60, -122.25, 47.70)   # datagen's fixture region
# the services' default distance convention: equirectangular meters at
# the equator (core.cells), the one every oracle row pins
M_LON, M_LAT = 111_320.0, 110_540.0
BAND_M = 1e-3        # points this close to a cutoff or a tie are left out


# --------------------------------------------------------------------------
# message stream
# --------------------------------------------------------------------------

def message_round(seed: int, r: int, both: bool = True) -> list[dict]:
    """Round ``r`` of the seed's stream, in a seeded order: every service
    in both strata (ten jobs), or with ``both=False`` every service in
    one stratum, ``(seed + k) % 2`` for service ``k`` of ``SERVICES``
    (five jobs; the warm-up). Values are seeded; the two strata of a
    service split both datasets, both halves of every log-uniform range
    (bbox side, join distance, tag cutoff), both predicate forms, both
    aggregates and small and large union proximities, so every timed
    round covers all of them and does the same mix of work."""
    rng = np.random.Generator(np.random.PCG64([seed, r]))

    def log_u(half: int, lo: float, hi: float) -> float:
        f = (half + rng.uniform()) / 2
        return math.exp(math.log(lo) + f * (math.log(hi) - math.log(lo)))

    jobs = [(svc, h) for k, svc in enumerate(SERVICES)
            for h in ((0, 1) if both else ((seed + k) % 2,))]
    out = []
    for i in rng.permutation(len(jobs)):
        svc, half = jobs[i]
        ds, other = DATASETS[half], DATASETS[1 - half]
        if svc == "bbox_intersect":
            side = log_u(half, 0.004, 0.06)
            cx = rng.uniform(REGION[0], REGION[2] - side)
            cy = rng.uniform(REGION[1], REGION[3] - side)
            p = {"tdei_dataset_id": ds,
                 "bbox": f"{cx!r},{cy!r},{cx + side!r},{cy + side!r}"}
        elif svc == "spatial_join":
            d = round(log_u(half, 15, 250), 3)
            p = {"target_dataset_id": ds, "target_dimension": "edge",
                 "source_dataset_id": other, "source_dimension": "point",
                 "join_condition": (
                     f"ST_DWithin(geometry_target, geometry_source, {d})" if half
                     else f"ST_Intersects(ST_Buffer(geometry_target, {d}), "
                          f"geometry_source)"),
                 "aggregate": ["count(*) as n" if half else "array_agg(image_id) as ids"],
                 "_d": d}
            if rng.random() < 0.5:
                p["join_filter_source"] = "highway = 'footway'"
        elif svc == "dataset_tag_road":
            p = {"target_dataset_id": other, "source_dataset_id": other,
                 "cutoff_m": round(log_u(half, 20, 300), 3)}
        elif svc == "union_dataset":
            p = {"tdei_dataset_id_one": ds, "tdei_dataset_id_two": other}
            prox = (None, 0.5, 1.0, 2.0)[2 * half + int(rng.integers(0, 2))]
            if prox is not None:
                p["proximity"] = prox
        else:
            p = {"tdei_dataset_id": other}
        mid = f"r{r:03d}-{len(out)}"
        out.append({"messageId": mid, "messageType": str(svc),
                    "data": {"service": str(svc), "parameters": p,
                             "user_id": "perfbench"}})
    return out


# --------------------------------------------------------------------------
# the job loop
# --------------------------------------------------------------------------

class ServiceJobs:
    name = "service_jobs"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.records: list[dict] = []
        # warm-up jobs are checked too but count in no metric
        self.warm_records: list[dict] = []

    def setup(self) -> None:
        from tdei_backend_service_spark.backend_service import Catalog
        from tdei_backend_service_spark.core.ingest import (encode_cells,
                                                            encode_geom_meta)
        cat = self.ctx.catalog_dir
        rd = lambda n: self.spark.read.parquet(os.path.join(cat, f"{n}.parquet"))
        self.catalog = Catalog(
            images=encode_cells(rd("images")).cache(),
            edges=encode_geom_meta(rd("edges")).cache(),
            zones=encode_geom_meta(rd("zones")).cache(),
            dataset_info=rd("dataset_info").cache())
        for df in (self.catalog.images, self.catalog.edges,
                   self.catalog.zones, self.catalog.dataset_info):
            df.count()
        # the warm-up is the stream's round 0: every service once, in
        # one stratum (a cold first call of each service costs seconds)
        for msg in message_round(self.ctx.seed, 0, both=False):
            self.run_job(msg, self.warm_records)

    def rounds(self):
        """The rest of the seeded stream, one round (ten jobs) at a time."""
        r = 1
        while True:
            yield message_round(self.ctx.seed, r)
            r += 1

    def run_round(self, msgs: list[dict]) -> list[float]:
        return [self.run_job(m, self.records) for m in msgs]

    def run_job(self, msg: dict, records: list[dict]) -> float:
        from pyspark.sql import DataFrame

        from tdei_backend_service_spark.backend_service import (dispatch,
                                                                validate_request)
        from tdei_backend_service_spark.io.geojson import (export_geojson,
                                                           extract_dataset)
        from tdei_backend_service_spark.io.package import response_message

        tr = self.ctx.tracer
        out_dir = os.path.join(self.ctx.out_root, msg["messageId"])
        os.makedirs(out_dir)
        wire = json.loads(json.dumps(msg))
        wire["data"]["parameters"].pop("_d", None)
        t0 = time.perf_counter()
        m0 = tr.mark("dispatch:" + msg["messageType"])
        service, params = validate_request(wire)
        result = dispatch(self.catalog, wire)
        t1 = time.perf_counter()
        m1 = tr.mark("export:" + service)
        if isinstance(result, dict):
            ds = params["tdei_dataset_id"]
            names = {"images": "node", "edges": "edge", "zones": "zone"}
            extract_dataset({names[k]: v for k, v in result.items()}, ds,
                            out_dir,
                            layer_metadata=self.catalog.layer_metadata(ds))
        elif isinstance(result, DataFrame):
            export_geojson(result, out_dir, "result")
        else:
            shutil.move(result, os.path.join(out_dir, os.path.basename(result)))
        resp = response_message(msg["messageId"], service, out_dir, success=True)
        t2 = time.perf_counter()
        m2 = tr.mark()
        rec = {"msg": msg, "out_dir": out_dir, "resp": resp,
               "latency_s": t2 - t0, "dispatch_s": t1 - t0}
        if tr.on and records is self.records:
            d = tr.between(m0, m1, timed=True)
            e = tr.between(m1, m2, timed=True)
            rec.update(dispatch_jobs=d["jobs"], action_s=e["job_s"],
                       export_s=(t2 - t1) - e["job_s"], spark=[d, e])
        records.append(rec)
        return t2 - t0

    def bytes_written(self) -> int:
        return sum(dir_bytes(r["out_dir"]) for r in self.records)

    # ----------------------------------------------------------------------
    # per-layer metrics
    # ----------------------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for svc in SERVICES:
            recs = [r for r in self.records if r["msg"]["messageType"] == svc]
            med = lambda k: float(np.median([r[k] for r in recs])) if recs and k in recs[0] else 0.0
            out[f"svc.{svc}.dispatch_s"] = med("dispatch_s")
            out[f"svc.{svc}.dispatch_jobs"] = med("dispatch_jobs")
            out[f"svc.{svc}.action_s"] = med("action_s")
            out[f"svc.{svc}.export_s"] = med("export_s")
            out[f"svc.{svc}.p50_s"] = med("latency_s")
        out["svc.export_mb"] = self.bytes_written() / 1e6 / max(len(self.records), 1)
        return out

    # ----------------------------------------------------------------------
    # correctness
    # ----------------------------------------------------------------------

    def check(self) -> list[str]:
        """One message per job whose output is wrong."""
        truth = _CatalogTruth(self.ctx.catalog_dir)
        notes = []
        for r in self.warm_records + self.records:
            svc = r["msg"]["messageType"]
            try:
                err = getattr(truth, "check_" + svc)(
                    r["msg"]["data"]["parameters"], r["out_dir"], r["resp"])
            except Exception as e:  # a malformed output is a wrong one
                err = f"{type(e).__name__}: {e}"
            if err:
                notes.append(f"{r['msg']['messageId']} {svc}: {err}")
        return notes


# --------------------------------------------------------------------------
# independent checks over the generated catalog
# --------------------------------------------------------------------------

def _parse_wkb(blob: bytes) -> np.ndarray:
    """Vertices of a little-endian WKB LineString or Polygon (outer ring)."""
    kind = struct.unpack_from("<I", blob, 1)[0]
    off = 5
    if kind == 3:
        off += 4  # ring count; the fixtures have one ring
    n = struct.unpack_from("<I", blob, off)[0]
    return np.frombuffer(blob, dtype="<f8", count=2 * n, offset=off + 4).reshape(n, 2)


def _features(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["features"]


def _seg_dist_m(px, py, seg: np.ndarray) -> np.ndarray:
    """Distance in meters from points to a polyline, every pair."""
    x = px[:, None] * M_LON
    y = py[:, None] * M_LAT
    ax, ay = seg[:-1, 0][None, :] * M_LON, seg[:-1, 1][None, :] * M_LAT
    bx, by = seg[1:, 0][None, :] * M_LON, seg[1:, 1][None, :] * M_LAT
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    t = np.clip(((x - ax) * dx + (y - ay) * dy) / np.where(ll > 0, ll, 1), 0, 1)
    return np.hypot(x - (ax + t * dx), y - (ay + t * dy)).min(axis=1)


def _seg_hits_box(seg: np.ndarray, box) -> bool:
    """Liang-Barsky: does any segment of the polyline touch the closed box?"""
    x0, y0, x1, y1 = box
    for (ax, ay), (bx, by) in zip(seg[:-1], seg[1:]):
        t0, t1 = 0.0, 1.0
        ok = True
        for p, q in ((-(bx - ax), ax - x0), (bx - ax, x1 - ax),
                     (-(by - ay), ay - y0), (by - ay, y1 - ay)):
            if p == 0:
                if q < 0:
                    ok = False
                    break
            else:
                t = q / p
                if p < 0:
                    t0 = max(t0, t)
                else:
                    t1 = min(t1, t)
        if ok and t0 <= t1:
            return True
    return False


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 (the hash Spark's ``xxhash64`` applies to a string's UTF-8
    bytes with seed 42), as a signed 64-bit integer."""
    P1, P2, P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
    P4, P5, M = 9650029242287828579, 2870177450012600261, (1 << 64) - 1
    rotl = lambda x, r: ((x << r) | (x >> (64 - r))) & M

    def rnd(acc, lane):
        return (rotl((acc + lane * P2) & M, 31) * P1) & M

    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M, (seed + P2) & M, seed & M, (seed - P1) & M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = rnd(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & M
        for x in v:
            h = ((h ^ rnd(0, x)) * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        h = (rotl(h ^ rnd(0, int.from_bytes(data[i:i + 8], "little")), 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h = (rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * P1) & M, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h = (rotl(h ^ (data[i] * P5) & M, 11) * P1) & M
        i += 1
    h = ((h ^ (h >> 33)) * P2) & M
    h = ((h ^ (h >> 29)) * P3) & M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


class _CatalogTruth:
    def __init__(self, cat_dir: str) -> None:
        import pyarrow.parquet as pq
        self.images = pq.read_table(os.path.join(cat_dir, "images.parquet"),
                                    columns=["image_id", "phash", "caption",
                                             "lon", "lat", "props",
                                             "dataset_id"]).to_pandas()
        self.images["highway"] = [dict(p).get("highway") for p in self.images.props]
        e = pq.read_table(os.path.join(cat_dir, "edges.parquet")).to_pandas()
        e["xy"] = [_parse_wkb(b) for b in e.geometry]
        e["highway"] = [dict(p).get("highway") for p in e.props]
        self.edges = e
        z = pq.read_table(os.path.join(cat_dir, "zones.parquet")).to_pandas()
        z["xy"] = [_parse_wkb(b) for b in z.geometry]
        self.zones = z
        with open(os.path.join(cat_dir, "truth.json")) as f:
            self.truth = json.load(f)

    def _img(self, ds):
        return self.images[self.images.dataset_id == ds]

    def _edg(self, ds):
        return self.edges[self.edges.dataset_id == ds]

    # -- bbox membership -------------------------------------------------
    def check_bbox_intersect(self, p, out_dir, resp) -> str | None:
        box = tuple(float(v) for v in p["bbox"].split(","))
        ds = p["tdei_dataset_id"]
        im = self._img(ds)
        inside = ((im.lon >= box[0]) & (im.lon <= box[2])
                  & (im.lat >= box[1]) & (im.lat <= box[3]))
        want = {
            "node": set(im.image_id[inside]),
            "edge": {int(r.edge_id) for r in self._edg(ds).itertuples()
                     if _seg_hits_box(r.xy, box)},
            "zone": {int(r.zone_id) for r in self.zones[self.zones.dataset_id == ds].itertuples()
                     if r.xy[:, 0].min() <= box[2] and r.xy[:, 0].max() >= box[0]
                     and r.xy[:, 1].min() <= box[3] and r.xy[:, 1].max() >= box[1]},
        }
        key = {"node": "image_id", "edge": "edge_id", "zone": "zone_id"}
        for layer, ids in want.items():
            feats = _features(os.path.join(out_dir, f"osw.{layer}s.geojson"))
            got = [f["properties"][key[layer]] for f in feats]
            got = set(got) if layer == "node" else {int(v) for v in got}
            if got != ids:
                return (f"{layer}: {len(got)} features, expected {len(ids)} "
                        f"({len(got - ids)} extra, {len(ids - got)} missing)")
        if resp["data"]["success"] != any(want.values()):
            return "response success flag disagrees with the outputs"
        return None

    # -- per-edge DWithin counts / member ids -----------------------------
    def check_spatial_join(self, p, out_dir, resp) -> str | None:
        d = float(p["_d"])
        pts = self._img(p["source_dataset_id"])
        if "join_filter_source" in p:
            pts = pts[pts.highway == "footway"]
        feats = {int(f["properties"]["edge_id"]): f["properties"]
                 for f in _features(os.path.join(out_dir, "osw.results.geojson"))}
        edges = self._edg(p["target_dataset_id"])
        if set(feats) != {int(e) for e in edges.edge_id}:
            return f"{len(feats)} target rows, expected {len(edges)}"
        px, py = pts.lon.to_numpy(), pts.lat.to_numpy()
        ids = pts.image_id.to_numpy()
        for r in edges.itertuples():
            dist = _seg_dist_m(px, py, r.xy)
            sure = dist < d - BAND_M
            maybe = np.abs(dist - d) <= BAND_M
            props = feats[int(r.edge_id)]
            if "ext:n" in props:
                n = int(props["ext:n"])
                if not sure.sum() <= n <= sure.sum() + maybe.sum():
                    return f"edge {r.edge_id}: count {n}, expected {int(sure.sum())}"
            else:
                got = set(json.loads(props.get("ext:ids", "[]")))
                if not (set(ids[sure]) <= got <= set(ids[sure | maybe])):
                    return f"edge {r.edge_id}: {len(got)} ids, expected {int(sure.sum())}"
        return None

    # -- nearest edge ------------------------------------------------------
    def check_dataset_tag_road(self, p, out_dir, resp) -> str | None:
        cutoff = float(p["cutoff_m"])
        pts = self._img(p["target_dataset_id"])
        edges = self._edg(p["source_dataset_id"])
        feats = _features(os.path.join(out_dir, "osw.results.geojson"))
        got = {f["properties"]["image_id"]: f["properties"].get("nearest_edge_id")
               for f in feats}
        if len(feats) != len(pts) or set(got) != set(pts.image_id):
            return f"{len(feats)} rows, expected {len(pts)}"
        dist = np.stack([_seg_dist_m(pts.lon.to_numpy(), pts.lat.to_numpy(), xy)
                         for xy in edges.xy], axis=1)
        order = np.argsort(dist, axis=1, kind="stable")
        best = dist[np.arange(len(pts)), order[:, 0]]
        second = (dist[np.arange(len(pts)), order[:, 1]]
                  if dist.shape[1] > 1 else np.full(len(pts), np.inf))
        eid = edges.edge_id.to_numpy()[order[:, 0]]
        clear = (np.abs(best - cutoff) > BAND_M) & (second - best > BAND_M)
        bad = 0
        for iid, b, e, ok in zip(pts.image_id, best, eid, clear):
            if not ok:
                continue
            want = str(int(e)) if b <= cutoff else None
            bad += got[iid] != want
        return f"{bad} points with a wrong nearest edge" if bad else None

    # -- union survivors ---------------------------------------------------
    def check_union_dataset(self, p, out_dir, resp) -> str | None:
        one, two = p["tdei_dataset_id_one"], p["tdei_dataset_id_two"]
        a, b = self._img(one), self._img(two)
        d = self.truth["n_dup"]["ds-a|ds-b"]
        feats = _features(os.path.join(out_dir, "osw.results.geojson"))
        if len(feats) != len(a) + len(b) - d:
            return f"{len(feats)} survivors, expected |A|+|B|-D = {len(a) + len(b) - d}"
        # the survivor of each planted group is its dataset-one member with
        # the smallest id (min-winner rule), every other row survives alone
        both = pd.concat([a.assign(r=0), b.assign(r=1)])
        both = both.sort_values(["r", "image_id"])
        want = set(both.drop_duplicates(["phash", "caption"]).image_id)
        got = {f["properties"]["image_id"] for f in feats}
        if got != want:
            return f"survivor set differs ({len(got ^ want)} ids)"
        return None

    # -- OSM ids -----------------------------------------------------------
    def check_osw_osm_query(self, p, out_dir, resp) -> str | None:
        ds = p["tdei_dataset_id"]
        with open(os.path.join(out_dir, f"{ds}.osm")) as f:
            text = f.read()
        nodes = [int(v) for v in re.findall(r'<node id="(-?\d+)"', text)]
        ways = [int(v) for v in re.findall(r'<way id="(-?\d+)"', text)]
        want_nodes = sorted(xxhash64(i.encode()) for i in self._img(ds).image_id)
        if sorted(nodes) != want_nodes:
            return f"{len(nodes)} node ids, expected {len(want_nodes)}"
        if sorted(ways) != sorted(int(e) for e in self._edg(ds).edge_id):
            return f"{len(ways)} way ids, expected {len(self._edg(ds))}"
        if not resp["data"]["success"]:
            return "response reports failure"
        return None
