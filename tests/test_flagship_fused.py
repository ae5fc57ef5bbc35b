"""Round-8 optimization: the fused flagship path (generate -> decode ->
tile -> map-side PIP assign -> per-(poly, image) partial rollup in one
mapInPandas) must be ROW-IDENTICAL to the round-7 Catalyst plan
(tile_images -> pip_join -> groupBy) for every corpus format, and the
plan must keep its shape guarantees (no coverage BroadcastHashJoin, no
Expand, caption join strategy unchanged)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from h3ronpy_spark.session import get_spark

    s = get_spark("local[4]", app_name="test_flagship_fused",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _legacy_flagship(spark, n_images, n_polygons, res, fmt="raw8", seed=42):
    """The round-7 plan, reconstructed from its building blocks."""
    from h3ronpy_spark.operators.spatial_join import pip_join
    from h3ronpy_spark.operators.tiling import tile_images
    from h3ronpy_spark.sources.images import synth_captions, synth_images
    from h3ronpy_spark.sources.polygons import synth_polygons

    if fmt == "png":
        from h3ronpy_spark.sources.images import synth_images_png
        from h3ronpy_spark.sources.png import register_png_codec

        register_png_codec()
        images = synth_images_png(spark, n_images, seed=seed)
    elif fmt == "jpeg":
        from h3ronpy_spark.sources.images import synth_images_jpeg
        from h3ronpy_spark.sources.jpeg import register_jpeg_codec

        register_jpeg_codec()
        images = synth_images_jpeg(spark, n_images, seed=seed)
    else:
        images = synth_images(spark, n_images, seed=seed)
    tiles = tile_images(images, res=res, nodata=0).drop("caption")
    polys = synth_polygons(spark, n_polygons, seed=seed)
    joined = pip_join(tiles, polys, res=res)
    per_img = joined.groupBy("poly_id", "image_id").agg(
        F.count("*").alias("n_tiles"), F.sum("px_value").alias("sum_px")
    )
    caps = F.broadcast(synth_captions(spark, n_images, seed=seed))
    return (
        per_img.join(caps, "image_id")
        .groupBy("poly_id")
        .agg(
            F.sum("n_tiles").alias("n_tiles"),
            F.count("*").alias("n_images"),
            F.sum("sum_px").alias("sum_px"),
            F.countDistinct("caption").alias("n_captions"),
        )
        .orderBy("poly_id")
    )


@pytest.mark.parametrize("fmt", ["raw8", "png", "jpeg"])
def test_fused_equals_legacy(spark, fmt):
    from h3ronpy_spark.plans.flagship import flagship
    from h3ronpy_spark.sources.images import unregister_codec

    try:
        a = sorted(
            map(tuple, flagship(spark, 2000, n_polygons=40, res=9,
                                fmt=fmt).collect())
        )
        b = sorted(map(tuple, _legacy_flagship(spark, 2000, 40, 9,
                                               fmt=fmt).collect()))
    finally:
        # suite isolation: flagship(fmt=...) registers the codec in the
        # GLOBAL registry (same cleanup as test_skew_and_codecs)
        unregister_codec("png")
        unregister_codec("jpeg")
    assert a == b and len(a) > 3


def test_fused_plan_shape(spark):
    """Fused plan: the coverage join is map-side and the caption rides
    the rollup rows (round 8) — NO joins at all, no Expand, exactly
    one Python stage (the fused kernel)."""
    from h3ronpy_spark.plans.flagship import flagship

    df = flagship(spark, 400, n_polygons=8, res=9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 0, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert "Expand" not in plan
    assert plan.count("MapInPandas") == 1, plan[:3000]


def test_fused_salt_falls_back(spark):
    """salt= requests the salted shuffle join — results must still be
    identical to the unsalted rollup."""
    from h3ronpy_spark.plans.flagship import flagship

    a = sorted(
        map(tuple, flagship(spark, 1000, n_polygons=20, res=9).collect())
    )
    b = sorted(
        map(
            tuple,
            flagship(spark, 1000, n_polygons=20, res=9, salt=4).collect(),
        )
    )
    assert a == b and len(a) > 0


def _stub_decoder():
    # a constant raster standing in for a plugged-in native decoder;
    # nested, so cloudpickle ships it by value (executor workers cannot
    # import this test module)
    def stub(blob, w, h, fmt):
        import numpy as np

        return np.full((int(h), int(w)), 170, np.uint8)

    return stub


def _own_coverage(spark, n_polygons, res, seed=42):
    from h3ronpy_spark.operators.spatial_join import polyfill_polygons
    from h3ronpy_spark.sources.polygons import synth_polygons

    cov = (
        polyfill_polygons(synth_polygons(spark, n_polygons, seed=seed), res,
                          compact=True)
        .withColumnRenamed("cell", "__poly_cell")
        .persist()
    )
    cov.count()
    return cov


def _index_entries(cov):
    from h3ronpy_spark.operators import spatial_join as SJ

    return sum(1 for v in SJ._COV_INDEX_CACHE.values() if v[0] is cov)


def test_over_budget_coverage_falls_back_without_collecting(
        spark, monkeypatch):
    """A coverage over the broadcast budget takes the Catalyst plan with
    unchanged rows, and is never collected into a coverage index."""
    from h3ronpy_spark.operators import spatial_join as SJ
    from h3ronpy_spark.plans.flagship import flagship

    want = sorted(map(tuple, flagship(spark, 1000, n_polygons=20,
                                      res=9).collect()))
    cov = _own_coverage(spark, 20, 9)
    monkeypatch.setattr(SJ, "BROADCAST_BUDGET_ROWS", cov.count() - 1)
    df = flagship(spark, 1000, n_polygons=20, res=9, coverage=cov)
    assert "Join" in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, df.collect())) == want and len(want) > 0
    assert _index_entries(cov) == 0
    cov.unpersist()


def test_warmed_index_is_the_one_flagship_reads(spark):
    """coverage_index(spark, cov) warms exactly the entry flagship
    uses: one cache entry, and building the plan runs no Spark job."""
    from h3ronpy_spark.operators.spatial_join import coverage_index
    from h3ronpy_spark.plans.flagship import flagship

    cov = _own_coverage(spark, 8, 9)
    coverage_index(spark, cov)
    sc = spark.sparkContext
    sc.setJobGroup("flagship_plan_build", "plan build only")
    try:
        df = flagship(spark, 400, n_polygons=8, res=9, coverage=cov)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(
        "flagship_plan_build")) == []
    assert _index_entries(cov) == 1
    assert df.count() > 0
    cov.unpersist()


def test_fused_leaves_no_persisted_coverage(spark):
    from h3ronpy_spark.plans.flagship import flagship

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        flagship(spark, 300, n_polygons=6, res=9).count()
    assert jsc.getPersistentRDDs().size() == before


def test_codec_override_reaches_the_salted_fallback(spark):
    """The override applies on both paths: the salted Catalyst fallback
    with a stub decoder gives the fused path's rows, and every pixel
    summed is the stub's."""
    from h3ronpy_spark.plans.flagship import flagship
    from h3ronpy_spark.sources.images import unregister_codec

    override = {"jpeg": _stub_decoder()}
    try:
        fused = sorted(map(tuple, flagship(
            spark, 800, n_polygons=12, res=9, fmt="jpeg",
            codec_override=override).collect()))
        salted = sorted(map(tuple, flagship(
            spark, 800, n_polygons=12, res=9, fmt="jpeg", salt=4,
            codec_override=override).collect()))
    finally:
        unregister_codec("jpeg")
    assert salted == fused and len(fused) > 0
    # (poly_id, n_tiles, n_images, sum_px, n_captions)
    assert all(r[3] == 170 * r[1] for r in fused)


def test_codec_override_restored_when_build_raises(spark, monkeypatch):
    import h3ronpy_spark.plans.flagship as FL
    from h3ronpy_spark.sources.images import codec_snapshot, unregister_codec
    from h3ronpy_spark.sources.jpeg import register_jpeg_codec

    seen = {}
    stub = _stub_decoder()

    def failing_tile_images(*args, **kwargs):
        seen.update(codec_snapshot())
        raise RuntimeError("tile build failed")

    monkeypatch.setattr(FL, "tile_images", failing_tile_images)
    register_jpeg_codec()
    before = codec_snapshot()
    try:
        with pytest.raises(RuntimeError, match="tile build failed"):
            FL.flagship(spark, 100, n_polygons=4, res=9, fmt="jpeg", salt=4,
                        codec_override={"jpeg": stub, "toy": stub})
        # the override was live during the build, and is gone after it
        assert seen["jpeg"] is stub and seen["toy"] is stub
        assert codec_snapshot() == before
    finally:
        unregister_codec("jpeg")
