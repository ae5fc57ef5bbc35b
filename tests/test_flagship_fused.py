"""Round-8 optimization: the fused flagship path (generate -> decode ->
tile -> map-side PIP assign -> per-(poly, image) partial rollup in one
mapInPandas) must be ROW-IDENTICAL to the round-7 Catalyst plan
(tile_images -> pip_join -> groupBy) for every corpus format, and the
plan must keep its shape guarantees (no coverage BroadcastHashJoin, no
Expand, no caption join on either path)."""

from __future__ import annotations

import numpy as np
import pandas as pd
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


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def test_fallback_tile_rows_carry_no_string(spark):
    """The salted fallback's tile stage emits (image, cell, px_value),
    all long: no per-image string rides the tile explode."""
    from h3ronpy_spark.plans.flagship import flagship

    df = flagship(spark, 400, n_polygons=8, res=9, salt=4)
    tile_stages = [
        [(a.name(), a.dataType().typeName()) for a in
         (n.output().apply(i) for i in range(n.output().size()))]
        for n in _nodes(df._jdf.queryExecution().optimizedPlan())
        if n.nodeName() == "MapInPandas"
        and "cell" in n.output().toString()
    ]
    assert tile_stages == [[("image", "long"), ("cell", "long"),
                            ("px_value", "long")]], tile_stages


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


def test_warmed_index_is_the_one_flagship_reads(spark, monkeypatch):
    """coverage_index(spark, cov) warms exactly the entry flagship
    uses: one cache entry, and building the plan runs no Spark job and
    builds no polygon DataFrame."""
    import h3ronpy_spark.plans.flagship as FL
    from h3ronpy_spark.operators.spatial_join import coverage_index
    from h3ronpy_spark.plans.flagship import flagship

    cov = _own_coverage(spark, 8, 9)
    coverage_index(spark, cov)
    sc = spark.sparkContext
    sc.setJobGroup("flagship_plan_build", "plan build only")
    with monkeypatch.context() as m:
        m.setattr(FL, "synth_polygons", None)  # calling it would raise
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


def test_fallback_coverages_stay_bounded(spark):
    """flagship(coverage=None) on the salted fallback keeps the coverage
    it persisted in pip_join's bounded registry: at most _OWN_COV_MAX
    stay persisted, and an evicted one's plan still runs."""
    from h3ronpy_spark.operators.spatial_join import _OWN_COV_MAX
    from h3ronpy_spark.plans.flagship import flagship

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    first = flagship(spark, 1000, n_polygons=20, res=9, salt=2)
    want = sorted(map(tuple, first.collect()))
    for k in range(1, _OWN_COV_MAX + 3):
        flagship(spark, 1000, n_polygons=20 + k, res=9, salt=2).count()
        assert jsc.getPersistentRDDs().size() - before <= _OWN_COV_MAX
    assert sorted(map(tuple, first.collect())) == want and want


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

    def failing_snapshot():
        # the snapshot flagship takes inside its one override block
        seen.update(codec_snapshot())
        raise RuntimeError("plan build failed")

    monkeypatch.setattr(FL, "codec_snapshot", failing_snapshot)
    register_jpeg_codec()
    before = codec_snapshot()
    try:
        with pytest.raises(RuntimeError, match="plan build failed"):
            FL.flagship(spark, 100, n_polygons=4, res=9, fmt="jpeg", salt=4,
                        codec_override={"jpeg": stub, "toy": stub})
        # the override was live during the build, and is gone after it
        assert seen["jpeg"] is stub and seen["toy"] is stub
        assert codec_snapshot() == before
    finally:
        unregister_codec("jpeg")


# --- late materialization: the fused kernel generates only the images
# that pass the footprint prefilter.  These drive _image_kernel in this
# process: inside Spark the generator is pickled by reference, so a
# driver-side spy would never see the workers' calls.

def _recording(gen):
    calls = []

    def spy(ids, seed):
        calls.append(np.array(ids))
        return gen(ids, seed)

    return spy, calls


def _center_index(ids, seed=42, res=9, rp=5):
    """footprint_index of a coverage made of the res-`res` cells holding
    the centres of these images (from the generated table's columns)."""
    from h3ronpy_spark.h3core.latlng import latlng_to_cell
    from h3ronpy_spark.h3core.rasterh3 import footprint_index
    from h3ronpy_spark.sources.images import gen_images_pdf, transforms_of_phash

    pdf = gen_images_pdf(np.asarray(ids, dtype=np.int64), seed)
    tf = transforms_of_phash(pdf["phash"].to_numpy(np.int64))
    lng = tf[:, 2] + tf[:, 0] * pdf["w"].to_numpy() / 2
    lat = tf[:, 5] + tf[:, 4] * pdf["h"].to_numpy() / 2
    return footprint_index(
        latlng_to_cell(np.radians(lat), np.radians(lng), res), rp)


def _survivors(chunk, fp_index, seed=42):
    """The chunk's ids that footprint_mask keeps, deciding from the
    generated table's own geometry columns."""
    from h3ronpy_spark.h3core.rasterh3 import footprint_mask
    from h3ronpy_spark.sources.images import gen_images_pdf, transforms_of_phash

    pdf = gen_images_pdf(chunk, seed)
    tf = transforms_of_phash(pdf["phash"].to_numpy(np.int64))
    return chunk[footprint_mask(tf, pdf["w"].to_numpy(), pdf["h"].to_numpy(),
                                fp_index)]


def _drive(batches, fp_index, seed=42):
    from h3ronpy_spark.plans.flagship import _image_kernel, _tile_rows
    from h3ronpy_spark.sources.images import gen_images_pdf

    spy, calls = _recording(gen_images_pdf)
    run = _image_kernel(spy, seed, {}, 9, _tile_rows, fp_index)
    out = list(run(iter(pd.DataFrame({"id": b}) for b in batches)))
    return calls, out


# two mapInPandas batches of 1500 ids: chunks 0..1024, 1024..1500,
# 1500..2524 and 2524..3000
_BATCHES = [np.arange(0, 1500, dtype=np.int64),
            np.arange(1500, 3000, dtype=np.int64)]
_CHUNKS = [c for b in _BATCHES for c in (b[:1024], b[1024:])]


def test_kernel_generates_only_the_survivors():
    fp_index = _center_index([10, 500, 2600])
    want = [_survivors(c, fp_index) for c in _CHUNKS]
    # the coverage reaches the first and last chunk, and leaves at
    # least one chunk without a survivor
    assert {10, 500} <= set(want[0]) and 2600 in want[3]
    assert any(w.size == 0 for w in want)
    calls, out = _drive(_BATCHES, fp_index)
    assert [c.tolist() for c in calls] == [w.tolist() for w in want
                                           if w.size]
    # the survivors' tile rows are the unpruned kernel's rows of the
    # same images, in the same order
    _, full = _drive(_BATCHES, None)
    full = pd.concat(full, ignore_index=True)
    kept = np.concatenate(want)
    got = pd.concat(out, ignore_index=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        got, full[full["image"].isin(kept)].reset_index(drop=True))


def test_kernel_chunk_without_survivor_generates_nothing():
    fp_index = _center_index([10])
    chunk = np.arange(1024, 2048, dtype=np.int64)
    assert _survivors(chunk, fp_index).size == 0
    calls, out = _drive([chunk], fp_index)
    assert calls == [] and out == []


def test_kernel_without_index_generates_every_id():
    calls, out = _drive(_BATCHES, None)
    assert [c.tolist() for c in calls] == [c.tolist() for c in _CHUNKS]
    ids = set(pd.concat(out)["image"])
    assert ids <= set(range(3000)) and len(ids) > 2900


@pytest.mark.parametrize("fmt", ["raw8", "png", "jpeg"])
def test_survivor_rows_equal_the_full_chunk_rows(fmt):
    """Generation is row-local: generating a subset of a chunk's ids
    gives byte-identical rows to the same rows of the whole chunk (the
    JPEG batch encoder groups images, and its bytes do not depend on the
    group)."""
    from h3ronpy_spark.plans.flagship import _FORMATS

    gen = _FORMATS[fmt][0]
    chunk = np.arange(5000, 6024, dtype=np.int64)
    pick = np.array([3, 64, 65, 200, 511, 1000, 1023])
    full = gen(chunk, 7).iloc[pick].reset_index(drop=True)
    pd.testing.assert_frame_equal(gen(chunk[pick], 7), full)
