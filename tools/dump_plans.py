#!/usr/bin/env python
"""Dump formatted physical plans of the headline queries to PLANS.md —
the plan-quality evidence (pushdown, broadcast choices, codegen spans,
AQE) for review without re-running anything."""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.01"

COMMENTARY = {
    "bbox_points": "Pure scan+filter: every predicate reaches the parquet "
                   "scan (PushedFilters), no exchange, one WholeStageCodegen span.",
    "spatial_join_count": "Fused zero-shuffle candidates (broadcastable edge "
                          "side): one MapInPandas over the points probes a "
                          "broadcast padded cell->edge index, applies the "
                          "envelope prefilter, and evaluates the compiled "
                          "predicate inline; the only exchange is the tiny "
                          "post-partial per-edge aggregate; left join back "
                          "broadcasts. Falls back to the two-phase cell "
                          "equi-join when the vector side exceeds the "
                          "broadcast caps.",
    "knn_tag": "ZERO-shuffle kNN (broadcastable edge side): one "
               "MapInPandas over the target rows probes a broadcast "
               "cell->edges index and computes candidates, exact "
               "distances, and the (dist, edge_id) argmin per Arrow "
               "batch — no exchange anywhere in the plan. Falls back to "
               "the padded-cover broadcast join + min(struct) argmin "
               "when edges exceed the broadcast caps.",
    "union_dedup": "Union + dedup: equi-join keyed on (cell, phash, caption) "
                   "with Catalyst-only distance refine; anti-join removes losers.",
    "groupby_pricing": "Classic partial-agg: HashAggregate(partial) -> "
                       "exchange -> HashAggregate(final), all codegen.",
    "angle_join": "Pure-angle predicate: unbounded, so candidates are the "
                  "documented dataset cross join (what PostGIS executes for "
                  "this condition) with the SOURCE side broadcast — a "
                  "BroadcastNestedLoopJoin over narrow (pk, geometry-ref) "
                  "rows, refined by the compiled angle kernel; the per-edge "
                  "count aggregates partially before one tiny exchange.",
    "angle_buffer_join": "Buffer AND angle: the distance bound re-enables "
                         "the two-phase cell path — padded covers, cell "
                         "equi-join, envelope prefilter, then ONE refine "
                         "UDF evaluating distance + angle together.",
    "osm_ways": "XML way-line build entirely JVM-side (concat/transform "
                "over map_entries) — map-only, one WholeStageCodegen span, "
                "no Python, no exchange.",
    "geojson_lines": "Feature JSON: map-only, no exchange. Two "
                     "ArrowEvalPython nodes here — the FIRST synthesizes "
                     "the fixture's WKB (absent when geometry is already "
                     "stored); the operator itself contributes only the "
                     "WKB->GeoJSON decode; properties and framing are JVM "
                     "concat/to_json.",
    "embedding_topk": "Broadcast the queries, JVM-side dot/norm fold, "
                      "window top-k per query.",
    "bbox_edges": "Line-layer bbox: envelope range filter (parquet-stat "
                  "prunable gmin/gmax columns) below ONE exact segment-clip "
                  "refine UDF.",
    "tri_zone_pip": "Polygon PIP vs non-axis-aligned triangles through the "
                    "same fused probe: candidates + envelope prefilter + "
                    "exact PIP-aware distance refine in one map stage, "
                    "partial count before the single exchange.",
    "minhash_dedup": "LSH banding: explode bands -> bucket-stats groupBy "
                     "(map-side combined) feeding the hot-bucket star cap -> "
                     "clique self-join on (band,bucket) for normal buckets -> "
                     "Arrow Jaccard verify on candidates only -> anti-join.",
    "winnow_fingerprint": "Pure Catalyst fingerprint: one projection, no "
                          "Python, no exchange — the md5-gram/window-min/xor "
                          "pipeline stays in a single WholeStageCodegen span "
                          "via let-bound higher-order functions.",
    "cell_grid_agg": "Cell rollup: expression-level Morton encode in the "
                     "projection (codegen, no UDF), partial HashAggregate "
                     "before the one exchange.",
    "tile_assign": "Tile id from lon/lat in pure Catalyst (arcsinh form), "
                   "partial agg -> exchange -> final agg.",
    "tile_pyramid": "ONE corpus pass at base zoom, then integer-halving "
                    "rollups of the tiny per-tile table — each level is a "
                    "partial agg over the previous level, never the corpus.",
    "zone_pip_count": "PIP via the fused probe: broadcast zone index, "
                      "envelope prefilter, exact ray-cast refine in the map "
                      "stage; partial count before one tiny exchange.",
    "pagination": "ORDER BY + LIMIT-OFFSET cap 50: TakeOrderedAndProject, "
                  "no full sort.",
    "proj_filter_join": "Projection + filter pushed to both scans, "
                        "broadcast hash join on the small side.",
    "topk_customers": "Partial agg -> exchange -> TakeOrderedAndProject.",
    "events_rollup": "Partial agg with map-side combine over events.",
    "events_top_per_user": "Window rank per user partition: one exchange "
                           "on the partition key, codegen window.",
    "token_count": "Pure Catalyst tokenization (regexp splits), map-only.",
    "text_quality": "Quality score as one codegen projection, no Python.",
    "langid": "N-gram heuristic in Catalyst expressions + partial agg.",
    "fingerprint": "md5 of normalized text, map-only codegen.",
    "exact_dedup": "Hash-groupBy min-winner + broadcast anti-join back.",
    "simhash_dedup": "Signature UDF once (persisted), 4x16-bit band "
                     "explode, bucket stats with map-side combine, "
                     "bit_count hamming verify BEFORE the pair distinct.",
    "embedding_neardup": "N independent hyperplane band sets, bucket "
                         "equi-join candidates, JVM cast-first cosine "
                         "verify, star-capped hot buckets.",
    "ivf_topk": "Centroid assign as one Arrow UDF pass, bucketed int "
                "equi-join (probed centroids only), window top-k.",
    "union_cc": "Final collapse plan after pointer-jumped label "
                "propagation (the iterative rounds run eagerly with "
                "localCheckpoint lineage cuts; this is the surviving "
                "anti-join).",
    "decode_meta": "Real decode confined to ONE MapInPandas over "
                   "(id, bytes, fmt) — map-only, bytes never shuffle.",
    "image_phash_dedup": "Decode once (persisted after the MapInPandas), "
                         "then the generic banded-hamming LSH core: band "
                         "explode, bucket stats, bit_count verify, "
                         "anti-join. Bytes never pass an exchange.",
    "payload_invariants": "Decode + PSNR/phash verify in one MapInPandas; "
                          "filter on the boolean output.",
    "audio_features": "WAV parse + DSP in one MapInPandas, map-only.",
    "video_frames": "vraw parse + frame sample in MapInPandas + explode.",
    "pack_docs": "Sequence packing: token expression in codegen, ONE "
                 "exchange on the shard key, window cumsum + integer "
                 "div pack assignment inside each shard partition.",
    "sample_per_key": "Stratified sample: one exchange on the "
                      "stratification key, row_number window over the "
                      "seeded integer scramble, bounded prefix filter.",
    "ngram_top": "Bigram stats: transform-over-sequence n-gram build "
                 "in codegen, partial agg before the one exchange, "
                 "TakeOrderedAndProject top-k (no full sort).",
    "quantize_vecs": "Int8 quantization entirely in codegen "
                     "(transform/array_max/aggregate) — map-only, no "
                     "Python, no exchange.",
    "quality_filter": "Per-domain quality cut: score expression in "
                      "codegen, one exchange on the key, two windows "
                      "sharing the partitioning, integer rank filter.",
    "cross_modal_dedup": "Decode ONCE into a persisted narrow (id, "
                         "phash) frame; banded-hamming losers and exact "
                         "caption-fingerprint losers union (narrow ids "
                         "only) into one anti-join. Every MapInPandas "
                         "occurrence in the text is a cached-child "
                         "reprint of the single decode.",
    "incremental_phash_dedup": "Incremental ingest dedup: decode once; "
                               "corpus side collapses to DISTINCT "
                               "hashes per (band, bucket) before the "
                               "equi-join, bit_count verify before the "
                               "id distinct; within-batch losers union "
                               "in; one anti-join. History is never "
                               "re-paired against itself.",
    "incremental_union": "Geospatial incremental ingest: padded-cover "
                         "explode over the batch only, (cell, keys) "
                         "equi-join vs the corpus narrow relation, "
                         "exact distance refine; within-batch losers "
                         "from the ordinary union_dataset self-union. "
                         "The committed corpus is never self-paired.",
    "ivf_indexed_topk": "Persistent IVF: probed bucket ids become a "
                        "literal IN-list on the partition column — "
                        "PartitionFilters at the parquet scan, unprobed "
                        "buckets' files never open; broadcast query "
                        "join, window top-k.",
    "incremental_minhash_dedup": "Text-tier incremental dedup: batch "
                                 "signatures once (persisted), corpus "
                                 "signature relation band-explodes and "
                                 "dedups per (band, bucket, signature); "
                                 "zip_with component-agreement verify "
                                 "JVM-side before the id distinct; "
                                 "within-batch via ordinary "
                                 "minhash_dedup. Corpus texts never "
                                 "read.",
    "incremental_embedding_dedup": "Vector-side incremental dedup: one "
                                   "hyperplane-bucket UDF pass per "
                                   "side, (band, bucket) equi-join, "
                                   "exact cosine verify before the id "
                                   "distinct; within-batch losers from "
                                   "the shared _embedding_losers core.",
    "mix_domains": "Domain-mixture resampling: one exchange on the "
                   "stratification key, window rank, telescoping "
                   "integer copy rule in codegen, map-side explode of "
                   "the replica sequence.",
    "ivf_quantized_topk": "Int8 scan: bucket equi-join carries (codes, "
                          "scale) only; reconstruction + approx cosine "
                          "in codegen; window cut to rerank candidates; "
                          "narrow id-join back to float vectors for the "
                          "exact re-rank window.",
    "streaming_dedup": "UNSTARTED streaming plan (the template the "
                       "micro-batch engine instantiates): stateful "
                       "FlatMapGroupsInPandasWithState keyed by the md5 "
                       "fingerprint — state partitioned like a shuffle "
                       "key, one boolean+winner cell per key.",
    "windowed_events": "UNSTARTED streaming plan: EventTimeWatermark -> "
                       "windowed partial agg -> StateStoreRestore/Save -> "
                       "final agg — append-mode emission when the "
                       "watermark seals a window.",
    "map_match": "One key exchange feeds the trajectory window; the "
                 "candidate stage is the broadcast cover-index MapInPandas "
                 "probe (no shuffle for the edge side); the hysteresis "
                 "rule is a lag over the raw nearest edge — no sequential "
                 "scan, no second exchange.",
    "trip_segments": "THE one unavoidable trajectory exchange (co-locate "
                     "a user's pings to order them); lags + session "
                     "cumsum + same-session filter all ride that window; "
                     "downstream sees a narrow projected relation.",
    "speed_raster": "trip_segments' window exchange then ONE pixel "
                    "hash-aggregate (partial before the exchange); the "
                    "mm/floor/DIV arithmetic is whole-stage codegen.",
    "route_raster": "DDA burn-in: explode(sequence) is map-side over the "
                    "segment rows, then the (seg, pixel) distinct and the "
                    "pixel aggregate — two narrow-int exchanges — then "
                    "per-tile applyInPandas encode and the decode-stats "
                    "MapInPandas (bytes created after the shuffle).",
    "stay_points": "Same single key exchange as trip_stats: the "
                   "linked-step break rule is a cumsum window; the dwell "
                   "aggregate groups on the SAME key so Catalyst reuses "
                   "the partitioning (no second exchange).",
    "co_location": "Self encounter join: cover/cell Arrow UDFs evaluated "
                   "once each (asNondeterministic pins them), equi-join "
                   "on (cell, bucket) — broadcast at sf0.01, shuffle at "
                   "scale — with the integer |dt| + floored-mm refine "
                   "inside the join; one aggregate exchange after.",
    "graph_hops": "Iterative BFS: the surviving plan is the union of "
                  "checkpointed per-layer RDD scans — each round's join "
                  "ran eagerly with frontier-local anti-joins; no "
                  "geometric lineage growth reaches the final plan.",
    "network_distance": "Bellman-Ford fixpoint: final plan reads the "
                        "last checkpointed (node, dist) relation; each "
                        "round was one equi-join + one partial-agg min "
                        "exchange.",
    "triangle_count": "Oriented wedge join reads the checkpointed "
                      "oriented relation; tris checkpoints so the "
                      "3-corner union scans it instead of re-running "
                      "the join; one final count exchange.",
    "pagerank": "Final plan reads the checkpointed round-5 ranks; each "
                "round was one equi-join + one partial-aggregated sum — "
                "plan depth flat across iterations.",
    "kcore": "Peel fixpoint: final plan is one degree count over the "
             "checkpointed surviving edges; rounds cost one count + two "
             "semi-joins each, bounded by cascade depth.",
    "link_jaccard": "Wedge self-join on the checkpointed canon adjacency, "
                    "anti-join drops existing edges, broadcast degree "
                    "joins, integer score, TakeOrderedAndProject cut.",
    "tfidf_search": "tf checkpoints (bounded by query-term matches): ONE "
                    "corpus scan total; df folds from the tiny relation; "
                    "broadcast idf join; TakeOrderedAndProject.",
    "bm25_search": "Same single-scan shape as tfidf_search with dl "
                   "computed map-side before the explode; the cleared-"
                   "denominator saturation is one codegen DIV.",
    "viewport_tfidf": "bbox predicates reach the parquet scan "
                      "(PushedFilters) BEFORE tokenization; then the "
                      "tfidf single-scan shape over the scoped corpus.",
    "postings": "Within-doc array_distinct BEFORE the explode: the only "
                "exchange carries exactly the index rows; df + sorted "
                "posting string fold in one partial aggregate.",
    "cooccur_pmi": "Pairs generated map-side by nested transform-over-"
                   "sequence (no positional self-join); one pair-count "
                   "exchange; unigrams checkpointed once and broadcast "
                   "to both sides; TakeOrderedAndProject.",
    "service_area": "Composition: the kNN zero-shuffle map path feeds a "
                    "broadcast join against the 7-row BFS edge-hop "
                    "relation — no new exchange beyond the kernels'.",
    "connected_components": "Iterative min-label + pointer jumping: per "
                            "round one equi-join + partial-agg min and a "
                            "label self-join, lineage cut by "
                            "localCheckpoint — the displayed plan is the "
                            "converged labels scan (iterations already "
                            "materialized).",
    "zone_contains_count": "ST_Contains rides the fused zero-shuffle "
                           "probe: the 16-zone side broadcasts as a cell "
                           "cover index, one MapInPandas evaluates the "
                           "containment refine inline; only the per-zone "
                           "partial aggregate exchanges.",
    "dwithin_local_count": "Same fused probe under metric_lat: pads and "
                           "depth widen by 1/cos(47.6), the refine "
                           "scales lon meters by cos — plan shape "
                           "identical to the equator row.",
    "knn_local_tag": "Zero-shuffle map-only kNN under metric_lat: the "
                     "10-edge side broadcasts as a padded cover index "
                     "(pads widened by 1/cos), one MapInPandas emits the "
                     "argmin inline with the target rows — no exchange "
                     "at all before the output projection.",
    "union_local_dedup": "union_dataset plan unchanged under metric_lat: "
                         "per-axis padded 4-corner cover explode, "
                         "(cell, phash, caption) equi-join, JVM distance "
                         "refine with lon scaled by cos, anti-join of "
                         "min-winner losers.",
    "geo_split_assign": "PURE NARROW MAP: two JVM floors + the affine "
                        "scramble + a CASE chain inside one "
                        "WholeStageCodegen span over the parquet scan — "
                        "no exchange, no Python; at 10^12 rows this is "
                        "a projection fused into the scan.",
    "domain_split_assign": "Group-mode split: one substring+cast, the "
                           "scramble hash and the CASE chain in a "
                           "single codegen span over the scan — the "
                           "same no-exchange shape as the cell path.",
    "coverage_gaps_local": "Spatial anti join under metric_lat: edge "
                           "covers pad by cutoff/cos, points encode to "
                           "one cell, JVM envelope prefilter + Arrow "
                           "distance refine, then one left-anti join — "
                           "no aggregation, no tag-back.",
    "edge_cross_count": "ST_Crosses through the two-phase path at bound "
                        "0: unpadded cell covers equi-join, then ONE "
                        "refine UDF evaluating the vectorized line-line "
                        "relate (orientation quadruples + collinear "
                        "overlap + endpoint classification); per-edge "
                        "partial count before one tiny exchange.",
    "split_leak_pairs": "Same banded candidate shape as union_dedup: "
                        "cover explode on one side, (cell, phash, "
                        "caption) equi-join, distance refine, then the "
                        "split-label inequality filter and a distinct on "
                        "the pair ids — never all-pairs.",
}


def main() -> None:
    import __spark_entry__ as E
    from tdei_backend_service_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    out = ["# PLANS — physical plans of the headline queries (sf0.01)\n",
           "Generated by tools/dump_plans.py. What to look for: filters on the\n"
           "scan line (PushedFilters / PartitionFilters), BroadcastHashJoin for\n"
           "small sides, partial aggregation before exchanges, and wide\n"
           "WholeStageCodegen spans with Python confined to the refine UDFs.\n"]
    import tempfile

    from pyspark.sql import functions as F, types as T

    def _streaming_df(name):
        """Representative UNSTARTED streaming DataFrames — executing the
        contract query would only show the trivial sink scan; the plan
        that matters is the stateful streaming template itself."""
        if name == "streaming_dedup":
            from tdei_backend_service_spark.streaming.dedup import \
                streaming_exact_dedup
            schema = T.StructType([T.StructField("doc_id", T.LongType()),
                                   T.StructField("text", T.StringType())])
            land = tempfile.mkdtemp(prefix="plans_sd_")
            stream = spark.readStream.schema(schema).parquet(land)
            return streaming_exact_dedup(stream)
        if name == "windowed_events":
            from tdei_backend_service_spark.streaming.windows import \
                windowed_event_counts
            schema = T.StructType([T.StructField("event_id", T.LongType()),
                                   T.StructField("ts", T.TimestampType()),
                                   T.StructField("event_type", T.StringType())])
            land = tempfile.mkdtemp(prefix="plans_we_")
            stream = spark.readStream.schema(schema).parquet(land)
            return windowed_event_counts(stream)
        if name == "session_windows":
            from tdei_backend_service_spark.streaming.windows import \
                session_window_counts
            schema = T.StructType([T.StructField("event_id", T.LongType()),
                                   T.StructField("ts", T.TimestampType()),
                                   T.StructField("event_type", T.StringType())])
            land = tempfile.mkdtemp(prefix="plans_sw_")
            stream = spark.readStream.schema(schema).parquet(land)
            return session_window_counts(stream)
        if name == "streaming_tiles":
            from tdei_backend_service_spark.streaming.raster import \
                windowed_tile_counts
            schema = T.StructType([T.StructField("ts", T.TimestampType()),
                                   T.StructField("lon", T.DoubleType()),
                                   T.StructField("lat", T.DoubleType())])
            land = tempfile.mkdtemp(prefix="plans_st_")
            stream = spark.readStream.schema(schema).parquet(land)
            return windowed_tile_counts(stream, 15)
        return None

    # every bench.py headline query gets an audited plan (VERDICT r3 #2)
    names = []
    with open("/root/repo/bench.py") as bf:
        src = bf.read()
    start = src.index("headline = [")
    for m in re.finditer(r'"([a-z_0-9]+)"', src[start:src.index("]", start)]):
        names.append(m.group(1))
    for name in names:
        df = _streaming_df(name)
        if df is None:
            df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted") \
            if hasattr(df._sc._jvm, "PythonSQLUtils") else None
        if plan is None:
            plan = df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        # redact generated ids for stable diffs
        plan = re.sub(r"#\d+L?", "#x", plan)
        out.append(f"\n## {name}\n\n{COMMENTARY.get(name, '')}\n\n```\n{plan}\n```\n")
    with open("/root/repo/PLANS.md", "w") as f:
        f.writelines(out)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
