"""The flagship pipeline (SURVEY.md §7 Phase 2).

decode images -> georeference -> tile to H3 cells (raster_to_dataframe
semantics) -> polyfill a polygon set -> PIP join the tiles to polygons on
the cell key -> per-polygon rollup.

Touches every layer: encode kernel, raster tiling, polyfill, map-side or
Catalyst join, hash aggregation.  This is `entry(spark)` and the bench
job.

One image producer serves both paths (_image_kernel): a mapInPandas over
spark.range ids that, per chunk of ids, generates the images it reads
(byte generation, JPEG encode included, stands in for the storage
read), decodes each through the codec registry snapshot (one per-image
codec per format) and tiles them.  An emitter
decides what the chunk's tiles become.

Default path (fused): one Python stage, no joins.  Late
materialization: each image's footprint comes from its geometry (phash,
w, h; sources.images.geometry_of_ids, the footprint columns a columnar
image table keeps beside its blob column), and only the images whose
footprint can reach the coverage (h3core.rasterh3.footprint_mask) are
generated, decoded and tiled.  Each tile is assigned to polygons by
probing the broadcast coverage index with its bit-math ancestors
(h3core.index.probe_ancestors, the condition pip_join's equi-join
evaluates) and rolled up per (poly, image); the caption rides those
rollup rows.  The coverage index is built once per coverage DataFrame
(operators.spatial_join.coverage_index) and cached, so a scan that
reuses one persisted coverage collects it once.

The footprint test is a provable superset: it works at a coarse
resolution rp, probes grid_disk(k=1) of the rp cells of each image's
corners and centre, and holds because tiling emits only cells whose
centroid lies in the footprint, a descendant centroid drifts at most one
rp cell from its rp-parent, and the farthest footprint point from a
sample stays within the measured slack of that drift (footprint_prefilter
states the bound).  rp is the finest resolution whose safe radius covers
the largest corpus image (MAX_SIDE_PX): res 5 for res-9 tiling.

Fallback: with `salt=`, or when operators.spatial_join.mapside_index
finds the coverage empty or over the broadcast budget, the producer
generates every image and emits plain tile rows (image long, cell long,
px_value long): no footprint mask, no string column.  They go through
pip_join's Catalyst equi-join and a groupBy to (poly, image); a small
mapInPandas over those rollup rows adds the caption from the image id
(sources.images.caption_of_ids).  A coverage the fallback polyfilled
itself (coverage=None) joins pip_join's bounded registry of the
coverages it persisted (operators.spatial_join._keep_coverage), so
repeated calls do not pile up persisted coverages.  The polygon
DataFrame is built only where it is read: that polyfill and the
fallback's pip_join.  The fallback is the independent check of the
fused path's footprint prefilter and map-side probe; both paths decode
with the same per-image codec.  test_fused_equals_legacy builds a third
reference plan from operators.tiling.tile_images.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial_join import (
    _keep_coverage,
    mapside_index,
    pip_join,
    polyfill_polygons,
)
from ..sources.images import (
    caption_of_ids,
    codec_snapshot,
    codecs_overridden,
    gen_images_jpeg_pdf,
    gen_images_pdf,
    gen_images_png_pdf,
)
from ..sources.jpeg import register_jpeg_codec
from ..sources.png import register_png_codec
from ..sources.polygons import synth_polygons

# fmt -> (corpus generator, codec registration).  The generators are the
# ones the synth_images* tables run, so pixels, payload bytes and
# phash/georef match those tables.
_FORMATS = {
    "raw8": (gen_images_pdf, lambda: None),
    "png": (gen_images_png_pdf, register_png_codec),
    "jpeg": (gen_images_jpeg_pdf, register_jpeg_codec),
}

def _footprint_index(spark, cov, res, res_list):
    """The coverage's footprint-prefilter index at the finest coarse
    resolution whose safe radius covers the largest synthetic image
    (MAX_SIDE_PX square; a larger image would be kept unpruned)."""
    from ..h3core.rasterh3 import footprint_prefilter_res, footprint_radius
    from ..operators.spatial_join import coverage_footprint_index
    from ..sources.images import MAX_SIDE_PX, PIXEL_DEG

    radius = footprint_radius(
        [PIXEL_DEG, 0.0, 0.0, 0.0, -PIXEL_DEG, 0.0],
        [MAX_SIDE_PX], [MAX_SIDE_PX],
    )[0]
    rp = footprint_prefilter_res(radius, min(res, res_list[-1]))
    return coverage_footprint_index(spark, cov, rp)


def _image_kernel(gen, seed, codecs, res, emit, fp_index=None):
    """The image producer of both flagship paths (module docstring): a
    mapInPandas function over `id` batches.  Per chunk of ids, when
    fp_index (h3core.rasterh3.footprint_index) is given, it keeps only
    the ids whose footprint can reach the coverage, deciding from each
    image's geometry (sources.images.geometry_of_ids) alone.  It then
    generates the kept images with gen(ids, seed), the stand-in for the
    storage read, decodes and tiles them, and yields emit(ids, pdf, img,
    vals, cells): ids and pdf are the generated rows, and img indexes
    them.  A chunk with no id left generates nothing; a chunk with no
    tile left, or whose emit returns None, yields nothing.

    The stage runs ONE task wave (big tasks — guide §2.2), so the
    kernel bounds per-worker memory itself by processing the id range
    in fixed-size chunks regardless of task size."""

    def one_chunk(ids):
        from ..h3core.rasterh3 import footprint_mask, rasters_to_cells_batch
        from ..sources.images import (
            decode_images_with,
            geometry_of_ids,
            transforms_of_phash,
        )

        if fp_index is not None:
            phash, w, h = geometry_of_ids(ids, seed)
            ids = ids[footprint_mask(transforms_of_phash(phash), w, h,
                                     fp_index)]
            if ids.size == 0:
                return None
        pdf = gen(ids, seed)
        bands = decode_images_with(
            codecs, {}, pdf["bytes"].tolist(),
            pdf["w"].to_numpy(np.int64), pdf["h"].to_numpy(np.int64),
            pdf["fmt"].tolist(),
        )
        img, vals, cells = rasters_to_cells_batch(
            bands, transforms_of_phash(pdf["phash"].to_numpy(np.int64)),
            res, nodata_value=0,
        )
        if cells.size == 0:
            return None
        return emit(ids, pdf, img, vals, cells)

    def run(batches):
        for b in batches:
            all_ids = b["id"].to_numpy(np.int64)
            # 1024-image chunks: large enough to amortize per-chunk
            # numpy overhead, small enough that the kernel's sample
            # arrays stay near-cache-resident with 32 concurrent
            # workers (the latlng._CHUNK lesson)
            for c0 in range(0, all_ids.size, 1024):
                out = one_chunk(all_ids[c0 : c0 + 1024])
                if out is not None:
                    yield out

    return run


def _rollup_emitter(bc, res_list):
    """The fused path's emitter: assign each tile to polygons through
    the broadcast coverage index and roll up per (poly, image), giving
    (image_id, poly_id, n_tiles, sum_px, caption) rows."""

    def emit(ids, pdf, img, vals, cells):
        from ..h3core import index as IDX

        cov_cells, cov_codes, attrs = bc.value
        src, pos = IDX.probe_ancestors(cells, cov_cells, res_list)
        if src.size == 0:
            return None
        ki = img[src]
        kp = cov_codes[pos]
        v = vals[src].astype(np.int64)
        # --- per-(image, poly) partial rollup (map-side aggregation)
        order = np.lexsort((kp, ki))
        ki, kp, v = ki[order], kp[order], v[order]
        newg = np.ones(ki.size, dtype=bool)
        newg[1:] = (ki[1:] != ki[:-1]) | (kp[1:] != kp[:-1])
        starts = np.flatnonzero(newg)
        n_tiles = np.diff(np.append(starts, ki.size)).astype(np.int64)
        sum_px = np.add.reduceat(v, starts)
        img_ids = pdf["image_id"].to_numpy(dtype=object)
        caps = pdf["caption"].to_numpy(dtype=object)
        return pd.DataFrame(
            {
                "image_id": img_ids[ki[starts]],
                "poly_id": attrs["poly_id"].to_numpy(
                    zero_copy_only=False)[kp[starts]],
                "n_tiles": n_tiles,
                "sum_px": sum_px,
                "caption": caps[ki[starts]],
            }
        )

    return emit


def _tile_rows(ids, pdf, img, vals, cells):
    """The fallback's emitter: one (image, cell, px_value) row per
    tile.  No string column rides the ~120 tiles an image explodes to;
    the caption is added after the rollup."""
    return pd.DataFrame(
        {"image": ids[img], "cell": cells, "px_value": vals.astype(np.int64)}
    )


def flagship(
    spark: SparkSession,
    n_images: int,
    n_polygons: int = 40,
    res: int = 9,
    seed: int = 42,
    salt: int | None = None,
    partitions: int | None = None,
    coverage: DataFrame | None = None,
    fmt: str = "raw8",
    codec_override: dict | None = None,
) -> DataFrame:
    """Returns per-polygon rollup: poly_id, n_tiles, n_images, sum_px,
    n_captions (caption byte-equality is asserted in tests, the rollup
    carries distinct caption counts so mismatches surface as count drift).

    Pass a persisted `coverage` (polyfill_polygons(..., compact=True) of
    the same polygon set) to amortize the polygon index across batches —
    the production pattern for a continuous 10^12-image scan.

    fmt='png' runs the identical pipeline over the PNG-compressed twin
    of the images table (pure-Python codec, registered here) — same
    pixels, so the rollup is row-identical to raw8; the decode cost is
    what a real compressed 100-TB corpus pays (VERDICT r05 item 2).
    fmt='jpeg' does the same over the baseline-JPEG twin (round 6) —
    LOSSY, so the rollup's px sums differ within the PSNR >= 40 dB
    envelope while the join/tile structure is identical.

    codec_override: {fmt: decode_fn} applied AFTER the default codec
    registration — the production seam for plugging a native (C/SIMD/
    hardware) decoder into the same plan (round 7, VERDICT r06 item 7).
    The plan is decoder-agnostic (pinned by test): swapping the codec
    changes per-batch decode throughput only, so the 100-TB decode
    ceiling is a plug-in, not a pipeline rewrite.

    Execution strategy: the default path fuses generate -> decode ->
    tile -> map-side PIP join -> per-(poly, image) partial aggregation
    into one Python stage (module docstring).  `salt=`, or a coverage
    that operators.spatial_join.mapside_index rejects (empty or over
    the broadcast budget), sends the same producer's tile rows through
    the Catalyst pip_join plan instead.  Both paths size the image
    stage as one task wave, so `partitions` has no effect; it is kept
    because existing callers (bench.py) pass it.

    Footprint prefilter (fused path only): the kernel decides from each
    image's geometry (phash, w, h) alone whether its footprint can
    reach the coverage, and generates, decodes and tiles only those
    images — a provable superset of the contributing images (bound in
    h3core.rasterh3.footprint_prefilter), so the rollup is unchanged.
    Generation stands in for the storage read, so the payload of an
    image outside every polygon is never read.  Trade-offs: a corrupt
    blob whose footprint misses every polygon is never even read, so it
    never raises; and `codec_override` sees only the surviving images.
    The salted fallback generates and decodes everything, so it checks
    the prefilter and the map-side probe.  Both paths decode each image
    with the same per-image codec (decode_jpeg for fmt='jpeg').
    perfbench's sources.generate_us_per_image and
    sources.decode_us_per_image time the generator and that codec
    directly on a 256-image batch, outside the timed op, which generates
    and decodes only the few survivors per chunk; the decode probe times
    the decoder the op runs."""
    if fmt not in _FORMATS:
        raise ValueError(
            f"flagship fmt must be 'raw8', 'png' or 'jpeg', got {fmt!r}"
        )
    gen, register = _FORMATS[fmt]
    register()

    # codec_override is scoped to THIS plan: the image kernel captures
    # the registry snapshot into its UDF closure at build time, so the
    # override is registered for the build only
    with codecs_overridden(codec_override):
        codecs = codec_snapshot()

    # the polygon DataFrame is built only where it is read: the
    # polyfill below and the fallback's pip_join
    polys = None
    cov = coverage
    if cov is None:
        # persisted: the budget check, the index collect and the
        # fallback's pip_join all read it, and the polyfill runs once
        polys = synth_polygons(spark, n_polygons, seed=seed)
        cov = (
            polyfill_polygons(polys, res, compact=True)
            .withColumnRenamed("cell", "__poly_cell")
            .persist()
        )

    # ONE task wave for the image stage: the pandas runner costs
    # ~15-20 ms per task, so 256 tasks of a 60k-image scan burned ~4 s
    # of task overhead (3.8 s at 32 tasks vs 8.1 s at 256).  Per-worker
    # memory is bounded by the kernel's internal chunking, not by task
    # size; tiny inputs get fewer tasks.
    dp = spark.sparkContext.defaultParallelism
    ids = spark.range(0, n_images, 1, max(1, min(dp, (n_images + 255) // 256)))

    index = mapside_index(spark, cov) if salt is None else None
    if index is not None:
        bc, res_list, _ = index
        fp_index = _footprint_index(spark, cov, res, res_list)
        if coverage is None:
            cov.unpersist()
        per_img = ids.mapInPandas(
            _image_kernel(gen, seed, codecs, res,
                          _rollup_emitter(bc, res_list), fp_index),
            "image_id string, poly_id string, "
            "n_tiles long, sum_px long, caption string",
        )
    else:
        if polys is None:
            polys = synth_polygons(spark, n_polygons, seed=seed)
        if coverage is None:
            # the returned plan reads the persisted coverage: it joins
            # pip_join's bounded registry of the coverages it persisted
            _keep_coverage(cov)
        tiles = ids.mapInPandas(
            _image_kernel(gen, seed, codecs, res, _tile_rows),
            "image long, cell long, px_value long",
        )

        def add_caption(batches):
            for b in batches:
                b["caption"] = caption_of_ids(
                    b.pop("image").to_numpy(np.int64), seed)
                yield b

        per_img = (
            pip_join(tiles, polys, res=res, salt=salt, coverage=cov)
            .groupBy("poly_id", "image")
            .agg(F.count("*").alias("n_tiles"),
                 F.sum("px_value").alias("sum_px"))
            .mapInPandas(add_caption, "poly_id string, n_tiles long, "
                         "sum_px long, caption string")
        )

    # both paths arrive at (poly, image) granularity, so the final
    # aggregate needs a single countDistinct (two in one agg would plan
    # an Expand)
    return (
        per_img.groupBy("poly_id")
        .agg(
            F.sum("n_tiles").alias("n_tiles"),
            F.count("*").alias("n_images"),
            F.sum("sum_px").alias("sum_px"),
            F.countDistinct("caption").alias("n_captions"),
        )
        .orderBy("poly_id")
    )
