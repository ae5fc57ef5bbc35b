"""The flagship pipeline (SURVEY.md §7 Phase 2).

decode images -> georeference -> tile to H3 cells (raster_to_dataframe
semantics) -> polyfill a polygon set -> PIP join captions to polygons on
the cell key -> per-polygon rollup.

Touches every layer: encode kernel, raster tiling, polyfill, explode,
broadcast-vs-shuffle join, hash aggregation.  This is `entry(spark)` and
the bench job.

Default path: one fused Python stage, no joins.  A mapInPandas over
spark.range ids generates each image (byte generation, JPEG encode
included, stands in for the storage read), keeps only the images whose
footprint can reach the coverage (h3core.rasterh3.footprint_mask),
decodes them through the codec registry snapshot, tiles them, assigns
each tile to polygons by probing the broadcast coverage index with its
bit-math ancestors (h3core.index.probe_ancestors, the condition
pip_join's equi-join evaluates) and rolls up per (poly, image); the
caption rides those rollup rows.  The coverage index is built once per
coverage DataFrame (operators.spatial_join.coverage_index) and cached,
so a scan that reuses one persisted coverage collects it once.

The footprint test is a provable superset: it works at a coarse
resolution rp, probes grid_disk(k=1) of the rp cells of each image's
corners and centre, and holds because tiling emits only cells whose
centroid lies in the footprint, a descendant centroid drifts at most one
rp cell from its rp-parent, and the farthest footprint point from a
sample stays within the measured slack of that drift (footprint_prefilter
states the bound).  rp is the finest resolution whose safe radius covers
the largest corpus image (MAX_SIDE_PX): res 5 for res-9 tiling.

Fallback: with `salt=`, or when operators.spatial_join.mapside_index
finds the coverage empty or over the broadcast budget, the Catalyst plan
runs (tile_images -> pip_join -> groupBy -> caption join).  It decodes
and tiles every image; it is the independent reference for the fused
path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial_join import (
    mapside_index,
    pip_join,
    polyfill_polygons,
)
from ..operators.tiling import tile_images
from ..sources.images import (
    batch_codec_snapshot,
    codec_snapshot,
    codecs_overridden,
    synth_captions,
    synth_images,
)
from ..sources.polygons import synth_polygons


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


def _fused_rollup_fn(gen_fn, codecs, res, res_list, bc, nodata,
                     batch_codecs, fp_index):
    """The fused generate->decode->tile->PIP-assign->partial-rollup
    kernel (see module docstring).  Returns a mapInPandas function over
    `id` batches yielding (image_id, poly_id, n_tiles, sum_px, caption)
    rows: the per-(poly, image) granularity the Catalyst fallback
    reaches after its tile explode, join and first groupBy.

    fp_index (h3core.rasterh3.footprint_index of the coverage) drives
    the footprint prefilter: after generation, only images whose
    footprint can reach the coverage are decoded, tiled and probed.

    The fused stage runs ONE task wave (big tasks — guide §2.2), so the
    kernel bounds per-worker memory itself by processing the id range
    in fixed-size chunks regardless of task size."""

    _EMPTY = {
        "image_id": pd.Series([], dtype=object),
        "poly_id": pd.Series([], dtype=object),
        "n_tiles": pd.Series([], dtype=np.int64),
        "sum_px": pd.Series([], dtype=np.int64),
        "caption": pd.Series([], dtype=object),
    }

    def one_chunk(ids):
        from ..h3core import index as IDX
        from ..h3core.rasterh3 import footprint_mask, rasters_to_cells_batch
        from ..sources.images import (
            PIXEL_DEG,
            decode_images_with,
            georef_of_phash,
        )

        cov_cells, cov_codes, attrs = bc.value
        pdf = gen_fn(ids)
        lat, lng = georef_of_phash(pdf["phash"].to_numpy(np.int64))
        wcol = pdf["w"].to_numpy(np.int64)
        hcol = pdf["h"].to_numpy(np.int64)
        tfs = np.zeros((len(ids), 6))
        tfs[:, 0] = PIXEL_DEG
        tfs[:, 2] = lng
        tfs[:, 4] = -PIXEL_DEG
        tfs[:, 5] = lat
        # footprint prefilter: `sel` are the images that can reach the
        # coverage; only they are decoded, tiled and probed
        sel = np.flatnonzero(footprint_mask(tfs, wcol, hcol, fp_index))
        if sel.size == 0:
            return pd.DataFrame(_EMPTY)
        blobs = pdf["bytes"].tolist()
        fmts = pdf["fmt"].tolist()
        # batch path (round 8): fmts with a registered batch decoder
        # whose per-image codec is unoverridden decode via the lockstep
        # batch decoder; a codec_override disables it for that fmt, so
        # the override seam's semantics are unchanged
        bands = decode_images_with(
            codecs, batch_codecs, [blobs[i] for i in sel],
            wcol[sel], hcol[sel], [fmts[i] for i in sel],
        )
        img_idx, vals, cells = rasters_to_cells_batch(
            bands, tfs[sel], res, nodata_value=nodata
        )
        if cells.size == 0:
            return pd.DataFrame(_EMPTY)
        img_idx = sel[img_idx]
        src, pos = IDX.probe_ancestors(cells, cov_cells, res_list)
        if src.size == 0:
            return pd.DataFrame(_EMPTY)
        ki = img_idx[src]
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
        # caption rides the per-(poly, image) rollup rows (round 8):
        # it is already generated in this pdf (a pure function of
        # id + phash, byte-identical to synth_captions), so emitting it
        # here removes the caption table, its per-action driver-serial
        # broadcast hash build, and the join from the fused plan
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

    def run(batches):
        saw = False
        for b in batches:
            all_ids = b["id"].to_numpy(np.int64)
            # 1024-image chunks: large enough to amortize per-chunk
            # numpy overhead, small enough that the kernel's sample
            # arrays stay near-cache-resident with 32 concurrent
            # workers (the latlng._CHUNK lesson)
            for c0 in range(0, all_ids.size, 1024):
                saw = True
                yield one_chunk(all_ids[c0 : c0 + 1024])
        if not saw:
            yield pd.DataFrame(_EMPTY)

    return run


def _gen_fn_for(fmt: str, seed: int):
    """Picklable per-batch corpus generator for the fused path (the
    same generators the synth_images* tables run, so pixels, payload
    bytes and phash/georef are identical)."""
    import functools

    if fmt == "png":
        from ..sources.images import gen_images_png_pdf

        return functools.partial(gen_images_png_pdf, seed=seed)
    if fmt == "jpeg":
        from ..sources.images import gen_images_jpeg_pdf

        return functools.partial(gen_images_jpeg_pdf, seed=seed)
    from ..sources.images import gen_images_pdf

    return functools.partial(gen_images_pdf, seed=seed)


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
    the broadcast budget), runs the Catalyst pip_join plan instead.

    Footprint prefilter (fused path only): every image is generated,
    but only images whose footprint can reach the coverage are decoded
    and tiled — a provable superset of the contributing images (bound
    in h3core.rasterh3.footprint_prefilter), so the rollup is
    unchanged.  Trade-offs: a corrupt blob whose footprint misses every
    polygon is no longer decoded, so it no longer raises; and
    `codec_override` now sees only the surviving images.  The salted
    fallback decodes everything.  perfbench's
    sources.decode_us_per_image still times the codec on all images,
    so the codec layer stays measured."""
    if fmt == "png":
        from ..sources.png import register_png_codec

        register_png_codec()
    elif fmt == "jpeg":
        from ..sources.jpeg import register_jpeg_codec

        register_jpeg_codec()
    elif fmt != "raw8":
        raise ValueError(
            f"flagship fmt must be 'raw8', 'png' or 'jpeg', got {fmt!r}"
        )

    # codec_override is scoped to THIS plan: the fused kernel and
    # tile_images capture the registry snapshot into their UDF closures
    # at build time, so the override is registered for the build only
    with codecs_overridden(codec_override):
        codecs = codec_snapshot()
    batch_codecs = batch_codec_snapshot()

    polys = synth_polygons(spark, n_polygons, seed=seed)
    cov = coverage
    if cov is None:
        # persisted: the budget check, the index collect and the
        # fallback's pip_join all read it, and the polyfill runs once
        cov = (
            polyfill_polygons(polys, res, compact=True)
            .withColumnRenamed("cell", "__poly_cell")
            .persist()
        )

    index = mapside_index(spark, cov) if salt is None else None
    if index is not None:
        bc, res_list, _ = index
        fp_index = _footprint_index(spark, cov, res, res_list)
        if coverage is None:
            cov.unpersist()
        # ONE task wave for the fused map-only stage: the pandas runner
        # costs ~15-20 ms per task, so 256 tasks of a 60k-image scan
        # burned ~4 s of task overhead (3.8 s at 32 tasks vs 8.1 s at
        # 256).  Per-worker memory is bounded by the kernel's internal
        # chunking, not by task size; tiny inputs get fewer tasks.
        dp = spark.sparkContext.defaultParallelism
        parts = max(1, min(dp, (n_images + 255) // 256))
        per_img = spark.range(0, n_images, 1, parts).mapInPandas(
            _fused_rollup_fn(_gen_fn_for(fmt, seed), codecs, res, res_list,
                             bc, 0, batch_codecs, fp_index),
            "image_id string, poly_id string, "
            "n_tiles long, sum_px long, caption string",
        )
    else:
        # Captions are dropped BEFORE tiling: a caption is constant per
        # image, but tile_images explodes ~120 tiles/image, so carrying
        # the string through the tile stage Arrow-serializes ~120
        # duplicated copies per image.
        if fmt == "png":
            from ..sources.images import synth_images_png

            images = synth_images_png(
                spark, n_images, seed=seed, partitions=partitions
            )
        elif fmt == "jpeg":
            from ..sources.images import synth_images_jpeg

            images = synth_images_jpeg(
                spark, n_images, seed=seed, partitions=partitions
            )
        else:
            images = synth_images(
                spark, n_images, seed=seed, partitions=partitions
            )
        with codecs_overridden(codec_override):
            tiles = tile_images(images, res=res, nodata=0).drop("caption")
        joined = pip_join(tiles, polys, res=res, salt=salt, coverage=cov)
        # Two countDistinct in one agg would plan an Expand (x2 row
        # blowup over EVERY tile row — the round-2 100x watch item).
        # caption is constant per image, so pre-reducing to
        # (poly, image) granularity first makes the final agg a single
        # countDistinct over already-reduced rows.
        per_img = joined.groupBy("poly_id", "image_id").agg(
            F.count("*").alias("n_tiles"),
            F.sum("px_value").alias("sum_px"),
        )
        # captions: size the stage by ROWS (16k/task, ~25 ms of work
        # each), not by the image-scan partition count: Python tasks
        # carry a ~5 ms serialized launch cost and a ~15-20 ms runner
        # cost each, so 256 tasks made this tiny stage 1.8 s (measured
        # 0.17 s at 4 tasks vs 0.33 s at 32 for 60k images).
        dp_caps = spark.sparkContext.defaultParallelism
        caps_parts = max(1, min(dp_caps, (n_images + 16383) // 16384))
        caps = synth_captions(spark, n_images, seed=seed,
                              partitions=caps_parts)
        # broadcast only while the caption side is genuinely small: the
        # hash relation is built single-threaded on the driver.  Past
        # ~200k rows force a shuffled hash join; dropping the hint is
        # not enough, because Catalyst's size estimate carries the
        # 8-byte-per-row range stats through mapInPandas and would
        # auto-broadcast a side that is really n_images * ~50 B.
        if n_images <= 200_000:
            caps = F.broadcast(caps)
        else:
            caps = caps.hint("shuffle_hash")
        per_img = per_img.join(caps, "image_id")

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
