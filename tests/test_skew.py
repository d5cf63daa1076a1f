import pytest
from pyspark.sql import functions as F

from tdei_backend_service_spark.core import skew
from tdei_backend_service_spark.core.ingest import encode_cells
from tdei_backend_service_spark.datagen import synth_images_df


@pytest.fixture(scope="module")
def skewed(spark):
    # 60% of rows in the dense city-core cluster
    return encode_cells(
        synth_images_df(spark, 20_000, with_bytes=False, skew=0.6)).cache()


def test_histogram_and_hot_cells(skewed):
    hist = skew.cell_histogram(skewed, "cell_r8")
    assert hist.agg(F.sum("n_rows")).first()[0] == 20_000
    hot = skew.hot_cells(skewed, "cell_r8", threshold_rows=2_000)
    assert 1 <= len(hot) <= 4  # the dense cluster occupies a couple of r8 cells
    top = hist.orderBy(F.desc("n_rows")).first()
    assert top["cell"] in hot


def test_split_hot_cells_balances(skewed):
    hot = skew.hot_cells(skewed, "cell_r8", threshold_rows=2_000)
    before = skew.balance_report(skewed, "cell_r8")
    split = skew.split_hot_cells(skewed, hot, "cell_r8", extra_depth=3,
                                 out_col="cell_adaptive")
    after = skew.balance_report(split, "cell_adaptive")
    assert after["max"] < before["max"] / 4  # 4^3 children shrink the hot cell
    # cold rows keep their original cell
    kept = split.filter(~F.col("cell_r8").isin([int(h) for h in hot]))
    assert kept.filter(F.col("cell_adaptive") != F.col("cell_r8")).count() == 0
    # row count preserved
    assert split.count() == 20_000


def test_salted_repartition_spreads_hot(skewed, spark):
    hot = skew.hot_cells(skewed, "cell_r8", threshold_rows=2_000)
    # AQE coalescing merges tiny test partitions back together, hiding the
    # salt effect; disable it to observe the raw partitioning
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        out = skew.salted_repartition(skewed.select("image_id", "cell_r8"),
                                      "cell_r8", hot, factor=8)
        assert out.count() == 20_000
        # partition sizes: no single partition holds the whole hot cell
        sizes = out.withColumn("p", F.spark_partition_id()) \
                   .groupBy("p").count().collect()
        hot_n = skewed.filter(F.col("cell_r8").isin([int(h) for h in hot])).count()
        assert max(r["count"] for r in sizes) < hot_n
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def test_split_noop_without_hot(skewed):
    out = skew.split_hot_cells(skewed, [], "cell_r8")
    assert out is skewed


def test_auto_skew_picks_plan_from_histogram(spark, skewed, monkeypatch):
    """Differential wiring test (VERDICT r4 next #5): with the DEFAULT
    adaptive_skew="auto", the skewed fixture's sampled cell histogram
    selects the cell-split (Union) plan by itself, a uniform fixture
    keeps the plain single-join plan, and the auto plan's answer matches
    the plain plan exactly."""
    from tdei_backend_service_spark.core import route
    from tdei_backend_service_spark.core.compiler import compile_join_condition
    from tdei_backend_service_spark.core.join import GeomSide, two_phase_join
    from tdei_backend_service_spark.datagen import synth_edges_df, synth_images_df

    # force the distributed path: the fused/broadcast shortcuts would
    # answer before the skew decision is ever consulted
    monkeypatch.setitem(route.BOUNDS, "geom_rows", 0)

    edges = synth_edges_df(spark, 30)
    pred = compile_join_condition(
        "ST_DWithin(geometry_target, geometry_source, 120)")
    t = GeomSide(df=edges, pk="edge_id", kind="line", geom_col="geometry")
    s_skew = GeomSide(df=skewed, pk="image_id", kind="point")

    auto = two_phase_join(t, s_skew, pred, skew_threshold_rows=1_000,
                          skew_sample_frac=0.5)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan  # the histogram enabled the split plan

    plain = two_phase_join(t, s_skew, pred, adaptive_skew=False)
    a = {(r["t_edge_id"], r["s_image_id"]) for r in
         auto.select("t_edge_id", "s_image_id").collect()}
    p = {(r["t_edge_id"], r["s_image_id"]) for r in
         plain.select("t_edge_id", "s_image_id").collect()}
    assert a == p and len(a) > 0

    uniform = encode_cells(synth_images_df(spark, 5_000, with_bytes=False,
                                           skew=0.0))
    s_uni = GeomSide(df=uniform, pk="image_id", kind="point")
    flat = two_phase_join(t, s_uni, pred, skew_threshold_rows=1_000,
                          skew_sample_frac=0.5)
    plan_flat = flat._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan_flat  # uniform data keeps the plain plan


def test_adaptive_skew_join_parity(spark, skewed):
    """two_phase_join with adaptive cell-splitting returns EXACTLY the
    same pairs as the plain join on a heavily skewed fixture (and the
    hot path genuinely triggers at this threshold)."""
    from tdei_backend_service_spark.core.compiler import compile_join_condition
    from tdei_backend_service_spark.core.join import (GeomSide,
                                                      _hot_source_cells,
                                                      _side_cells, pick_depth,
                                                      two_phase_join)
    from tdei_backend_service_spark.datagen import synth_edges_df

    edges = synth_edges_df(spark, 30)
    pred = compile_join_condition(
        "ST_DWithin(geometry_target, geometry_source, 120)")
    t = GeomSide(df=edges, pk="edge_id", kind="line", geom_col="geometry")
    s = GeomSide(df=skewed, pk="image_id", kind="point")

    # the dense cluster must register as hot at this threshold
    d = pick_depth(pred.bound_m)
    sc = _side_cells(s, d, 0.0, "s")
    hot = _hot_source_cells(sc, sample_frac=0.5, threshold=1_000)
    assert hot

    plain = two_phase_join(t, s, pred)
    adaptive = two_phase_join(t, s, pred, adaptive_skew=True,
                              skew_threshold_rows=1_000,
                              skew_sample_frac=0.5)
    p = {(r["t_edge_id"], r["s_image_id"]) for r in
         plain.select("t_edge_id", "s_image_id").collect()}
    a = {(r["t_edge_id"], r["s_image_id"]) for r in
         adaptive.select("t_edge_id", "s_image_id").collect()}
    assert p == a and len(p) > 0
