"""The flagship pipeline (SURVEY.md §7 Phase 2).

decode images -> georeference -> tile to H3 cells (raster_to_dataframe
semantics) -> polyfill a polygon set -> PIP join captions to polygons on
the cell key -> per-polygon rollup.

Touches every layer: encode kernel, raster tiling, polyfill, explode,
broadcast-vs-shuffle join, hash aggregation.  This is `entry(spark)` and
the bench job.

Round-8 (optimization round) restructure — guide §8 "decide with small
rows, move big rows once" + §2.3 "aggregate before you shuffle":

The round-7 plan ran FOUR py<->JVM Arrow crossings and one driver-built
broadcast per action: synth mapInPandas -> Arrow out (96 MB of image
blobs) -> Arrow in -> tile mapInPandas -> Arrow out (~7M exploded tile
rows, each duplicating a 15-byte image_id string) -> x6 ancestor explode
-> BroadcastHashJoin against a 468k-row coverage whose hash relation is
built SINGLE-THREADED on the driver per action (~1-2 s serial, the
round-3 Amdahl lesson) -> groupBy(poly, image).  Stage isolation
(bench_extra.py, OPTIMIZATION_r08.md) measured: synth noop 1.7 s, tiles
noop 5.3 s, joined 6.0 s, full 7.9-9.8 s — i.e. >6 s of the wall was
Arrow plumbing + broadcast build, not kernel work.

The fused path runs generate -> decode (via the same codec registry
snapshot, so codec_override= is unchanged) -> tile -> PIP-assign ->
per-(poly, image) partial aggregation in ONE mapInPandas over
spark.range ids.  The PIP join becomes a map-side broadcast hash join:
the compact coverage (an index built once per polygon set and amortized
across the scan — the production pattern this plan always documented)
is collected once, sorted by cell, and shipped to executors via
sc.broadcast (~8 MB at 468k rows); each batch probes it with
np.searchsorted on bit-math ancestors — the same necessary-and-
sufficient match condition pip_join's Catalyst join evaluates, minus
the driver-serial relation build and the 7M-row Arrow explode.  This is
MORE faithful to the 100-TB deployment, not less: a real scan is a
JVM-side Parquet read feeding ONE Python stage via Arrow, and the
per-(poly, image) reduction is classic map-side partial aggregation.
The Catalyst pip_join operator is unchanged (h3_pip_join and the
scaling workload still exercise it); the fused path falls back to it
whenever a salt is requested or the coverage exceeds the broadcast
budget (the same 2M-row threshold pip_join uses).

Measured (same box, quiet windows, sf0.1 / 60k images):
flagship raw8 9.77 s -> ~3 s; the png/jpeg legs inherit the same floor.

Footprint prefilter (the Raptor rule: skip raster work no vector can
reach).  Well under 1% of a globally spread corpus reaches a
polygon set, yet every image used to pay decode and tiling, about 75% of
the per-image kernel cost.  The fused kernel now generates every image
(byte generation, JPEG encode included, stands in for the storage read)
and then keeps only the images whose footprint can hold a tile cell with
an ancestor in the coverage (h3core.rasterh3.footprint_mask); only those
are decoded, tiled and probed.  The test is a provable superset: it
works at a coarse resolution rp, probes grid_disk(k=1) of the rp cells
of each image's corners and centre, and holds because tiling emits only
cells whose centroid lies in the footprint, a descendant centroid
drifts at most one rp cell from its rp-parent, and the farthest
footprint point from a sample stays within the measured slack of that
drift (footprint_prefilter states the bound).  rp is the finest
resolution whose safe radius covers the largest corpus image
(MAX_SIDE_PX): res 5 for res-9 tiling.  The probe sets are built once
per coverage on the driver, with the cached coverage index.  The salted
Catalyst fallback stays unpruned: it is the independent reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial_join import pip_join, polyfill_polygons
from ..operators.tiling import tile_images
from ..sources.images import synth_captions, synth_images
from ..sources.polygons import synth_polygons

# pip_join's broadcast budget: past this the fused map-side join would
# ship too large an index per executor — fall back to the shuffle path
_BROADCAST_THRESHOLD_ROWS = 2_000_000

# coverage-index cache: moved to operators/spatial_join.coverage_index
# (round 8) so the generic pip_join can offer the same map-side
# strategy; the flagship keeps using it unchanged.  The bench builds
# the coverage once OUTSIDE the rep timing and passes the same
# persisted DataFrame to every flagship call — the documented
# amortize-across-the-scan pattern.  It caches an INPUT INDEX, not
# results: every rep still decodes + tiles + joins from scratch.
from ..operators.spatial_join import coverage_index as _coverage_index


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
    `id` batches yielding (image_id, poly_id, n_tiles, sum_px) rows —
    exactly the per-(poly, image) granularity the round-7 plan reached
    after its tile explode + broadcast join + first groupBy.

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

        cov_cells, cov_polys, poly_strs = bc.value
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
        # --- map-side PIP assign: probe the sorted coverage with the
        # tile's bit-math ancestor at every coverage resolution (the
        # exact condition pip_join's equi-join evaluates)
        out_img, out_poly, out_val = [], [], []
        for r in res_list:
            par = IDX.cell_to_parent(cells, r)
            lo = np.searchsorted(cov_cells, par, "left")
            hi = np.searchsorted(cov_cells, par, "right")
            cnt = hi - lo
            nz = np.flatnonzero(cnt)
            if nz.size == 0:
                continue
            reps = cnt[nz]
            base = lo[nz]
            off = np.arange(int(reps.sum()), dtype=np.int64) - np.repeat(
                np.cumsum(reps) - reps, reps
            )
            take = np.repeat(base, reps) + off
            src = np.repeat(nz, reps)
            out_img.append(img_idx[src])
            out_poly.append(cov_polys[take])
            out_val.append(vals[src])
        if not out_img:
            return pd.DataFrame(_EMPTY)
        ki = np.concatenate(out_img)
        kp = np.concatenate(out_poly)
        v = np.concatenate(out_val).astype(np.int64)
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
                "poly_id": poly_strs[kp[starts]],
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

    Execution strategy (round 8): the default path fuses generate ->
    decode -> tile -> map-side PIP join -> per-(poly, image) partial
    aggregation into one Python stage (module docstring); `salt=` or a
    coverage past the broadcast budget falls back to the round-7
    Catalyst pip_join plan, which remains the general operator.

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

    # codec_override is scoped to THIS plan: the fused kernel (and
    # tile_images on the fallback path) captures the registry snapshot
    # into its UDF closure at build time, so the override is applied
    # for the build and the global registry is restored right after —
    # no leak into other plans
    from ..sources.images import (
        batch_codec_snapshot,
        codec_snapshot,
        register_codec,
        unregister_codec,
    )

    if codec_override:
        prev = codec_snapshot()
        for ofmt, fn in codec_override.items():
            register_codec(ofmt, fn)
        try:
            codecs = codec_snapshot()
        finally:
            for ofmt in codec_override:
                if ofmt in prev:
                    register_codec(ofmt, prev[ofmt])
                else:
                    unregister_codec(ofmt)
    else:
        codecs = codec_snapshot()
    batch_codecs = batch_codec_snapshot()

    polys = synth_polygons(spark, n_polygons, seed=seed)
    cov = coverage
    built_cov = False
    if cov is None:
        cov = polyfill_polygons(polys, res, compact=True).withColumnRenamed(
            "cell", "__poly_cell"
        )
        built_cov = True

    per_img = None
    if salt is None:
        bc, res_list, n_cov = _coverage_index(spark, cov)
        if n_cov <= _BROADCAST_THRESHOLD_ROWS and res_list:
            # ONE task wave for the fused map-only stage: the pandas
            # runner costs a measured ~15-20 ms per task on this box, so
            # 256 tasks of a 60k-image scan burned ~4 s of pure task
            # overhead (bench_extra.py: 3.8 s at 32 tasks vs 8.1 s at
            # 256).  Scale-adaptive (defaultParallelism, not a
            # constant); per-worker memory is bounded by the kernel's
            # internal 4096-image chunking, not by task size.  The
            # caller's `partitions` hint still CAPS the wave for tiny
            # inputs (no point waking 32 workers for 300 images).
            dp = spark.sparkContext.defaultParallelism
            parts = max(1, min(dp, (n_images + 255) // 256))
            gen_fn = _gen_fn_for(fmt, seed)
            per_img = spark.range(0, n_images, 1, parts).mapInPandas(
                _fused_rollup_fn(gen_fn, codecs, res, res_list, bc, 0,
                                 batch_codecs,
                                 _footprint_index(spark, cov, res,
                                                  res_list)),
                "image_id string, poly_id string, "
                "n_tiles long, sum_px long, caption string",
            )

    if per_img is None:
        # fallback: the round-7 Catalyst plan (salted shuffle join /
        # oversized coverage).  Captions are dropped BEFORE tiling
        # (round-4): a caption is constant per image, but tile_images
        # explodes ~120 tiles/image, so carrying the string through the
        # tile stage Arrow-serializes ~120 duplicated copies per image.
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
        if codec_override:
            prev = codec_snapshot()
            for ofmt, fn in codec_override.items():
                register_codec(ofmt, fn)
            try:
                tiles = tile_images(images, res=res, nodata=0).drop("caption")
            finally:
                for ofmt in codec_override:
                    if ofmt in prev:
                        register_codec(ofmt, prev[ofmt])
                    else:
                        unregister_codec(ofmt)
        else:
            tiles = tile_images(images, res=res, nodata=0).drop("caption")
        if built_cov:
            # a coverage built here feeds several pip_join subplans
            # (count, res scan, join) — persist so polyfill runs once
            cov = cov.persist()
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

    if "caption" in per_img.columns:
        # fused path: caption already attached in-kernel (see
        # _fused_rollup_fn) — no caption table, no broadcast build,
        # no join
        per_img_c = per_img
        return (
            per_img_c.groupBy("poly_id")
            .agg(
                F.sum("n_tiles").alias("n_tiles"),
                F.count("*").alias("n_images"),
                F.sum("sum_px").alias("sum_px"),
                F.countDistinct("caption").alias("n_captions"),
            )
            .orderBy("poly_id")
        )

    # captions: do NOT forward the image-scan partition count — the
    # caption projection is ~1.5 us/row of generation, and at 256 tasks
    # the pandas-runner per-task cost made this tiny stage a measured
    # 1.8 s (bench_extra.py).  Python tasks also carry a ~5 ms
    # SERIALIZED launch cost on top of the parallel work, so even one
    # 32-task wave pays ~0.16 s of pure scheduling; size the stage by
    # ROWS (16k/task ≈ 25 ms of real work each) instead — measured
    # 0.17 s at 4 tasks vs 0.33 s at 32 for 60k images, still
    # scale-adaptive (task count grows with n_images, capped at the
    # session parallelism).
    dp_caps = spark.sparkContext.defaultParallelism
    caps_parts = max(1, min(dp_caps, (n_images + 16383) // 16384))
    caps = synth_captions(spark, n_images, seed=seed, partitions=caps_parts)
    # broadcast only while the caption side is genuinely small: the hash
    # relation is built single-threaded on the driver (the round-3 Amdahl
    # lesson, spatial_join.py lift_coverage rule).  Past ~200k rows force
    # a shuffled hash join (parallel per-partition build) — merely
    # dropping the hint is NOT enough, because Catalyst's size estimate
    # for the caption side propagates the 8-byte-per-row range stats
    # through mapInPandas and auto-broadcasts a side that is really
    # n_images * ~50 B (round-5 finding; at 10^12 images a real scan's
    # stats prevent that, but the hint makes the strategy explicit at
    # every scale).
    if n_images <= 200_000:
        caps = F.broadcast(caps)
    else:
        caps = caps.hint("shuffle_hash")
    per_img_c = per_img.join(caps, "image_id")
    return (
        per_img_c.groupBy("poly_id")
        .agg(
            F.sum("n_tiles").alias("n_tiles"),
            F.count("*").alias("n_images"),
            F.sum("sum_px").alias("sum_px"),
            F.countDistinct("caption").alias("n_captions"),
        )
        .orderBy("poly_id")
    )
