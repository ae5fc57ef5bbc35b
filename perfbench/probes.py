"""Layer microbenches, timed from outside around public package calls.

Kernel probes (h3core, sources) run single-core in the driver process on
the workload's own seeded inputs.  Stage probes (functions, operators,
plans) write to Spark's noop sink under their own job group, so the
event log attributes their tasks.  Every probe runs on every workload:
where a workload never calls a layer, the probe uses a small seeded
stand-in and the prediction is that the number does not move.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from .workloads import derive_seed, fixed_size_polygons

KERNEL_IMAGES = 256
KERNEL_POINTS = 262_144
KERNEL_POLYGONS = 4
REPEATS = 3


def median_time(fn, repeats=REPEATS):
    """Median wall seconds of `repeats` calls and the last result."""
    times = []
    out = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def coverage_cells(cov) -> np.ndarray:
    pdf = cov.select("__poly_cell").toPandas()
    return np.sort(pdf["__poly_cell"].to_numpy(np.int64))


def kernel_probes(wl, cov_cells: np.ndarray, poly_wkbs) -> dict:
    """Single-core per-item costs of the public h3core and sources
    functions the ops run, on this workload's seeded inputs."""
    from h3ronpy_spark.h3core import index as IDX
    from h3ronpy_spark.h3core.latlng import latlng_to_cell
    from h3ronpy_spark.h3core.polyfill import wkb_to_cells
    from h3ronpy_spark.h3core.rasterh3 import rasters_to_cells_batch
    from h3ronpy_spark.sources.images import (
        PIXEL_DEG,
        batch_codec_snapshot,
        codec_snapshot,
        decode_images_with,
        gen_images_jpeg_pdf,
        georef_of_phash,
    )
    from h3ronpy_spark.sources.jpeg import register_jpeg_codec

    register_jpeg_codec()
    ids = np.arange(KERNEL_IMAGES, dtype=np.int64)
    t_gen, pdf = median_time(lambda: gen_images_jpeg_pdf(ids, seed=wl.image_seed))
    blobs = pdf["bytes"].tolist()
    ws = pdf["w"].to_numpy(np.int64)
    hs = pdf["h"].to_numpy(np.int64)
    fmts = pdf["fmt"].tolist()
    codecs, batch = codec_snapshot(), batch_codec_snapshot()
    t_dec, bands = median_time(
        lambda: decode_images_with(codecs, batch, blobs, ws, hs, fmts)
    )
    lat, lng = georef_of_phash(pdf["phash"].to_numpy(np.int64))
    tfs = np.zeros((len(bands), 6))
    tfs[:, 0] = PIXEL_DEG
    tfs[:, 2] = lng
    tfs[:, 4] = -PIXEL_DEG
    tfs[:, 5] = lat
    t_tile, (_, _, cells) = median_time(
        lambda: rasters_to_cells_batch(bands, tfs, 9, nodata_value=0)
    )

    res_list = sorted({int(r) for r in IDX.get_resolution(cov_cells)})

    def probe():
        hits = 0
        for r in res_list:
            par = IDX.cell_to_parent(cells, r)
            lo = np.searchsorted(cov_cells, par, "left")
            hi = np.searchsorted(cov_cells, par, "right")
            hits += int((hi - lo).sum())
        return hits

    t_probe, _ = median_time(probe)

    rng = np.random.default_rng(derive_seed(wl.seed, 9))
    plat = np.radians(rng.uniform(-85.0, 85.0, KERNEL_POINTS))
    plng = np.radians(rng.uniform(-180.0, 180.0, KERNEL_POINTS))
    pres = 7 + np.arange(KERNEL_POINTS, dtype=np.int64) % 6
    t_enc, _ = median_time(lambda: latlng_to_cell(plat, plng, pres))

    t_fill, _ = median_time(
        lambda: [wkb_to_cells(b, wl.RES, compact=True) for b in poly_wkbs],
        repeats=1,
    )
    return {
        "sources.generate_us_per_image": t_gen / KERNEL_IMAGES * 1e6,
        "sources.decode_us_per_image": t_dec / KERNEL_IMAGES * 1e6,
        "h3core.tile_us_per_image": t_tile / KERNEL_IMAGES * 1e6,
        "h3core.probe_ns_per_cell": t_probe / max(1, cells.size) * 1e9,
        "h3core.encode_ns_per_point": t_enc / KERNEL_POINTS * 1e9,
        "h3core.polyfill_ms_per_polygon": t_fill / len(poly_wkbs) * 1e3,
    }


def stage_probes(wl, set_group):
    """Noop-sink stage times, ratios and coverage costs.  `set_group(name)`
    tags the Spark jobs that follow, so the event log can attribute them.
    Also returns the sorted coverage cells and a few coverage polygons
    for the kernel probes."""
    from h3ronpy_spark.operators.spatial_join import coverage_index

    out: dict = {}

    # plans: the fused flagship stage, on this workload's images when it
    # has them, else on a quarter-size seeded stand-in
    set_group("probe.flagship_setup")
    fl = wl.probe_flagship()
    set_group("probe.flagship")
    noop(fl._flagship())  # warm
    out["plans.flagship_stage_s"], _ = median_time(lambda: noop(fl._flagship()), 2)
    rows = fl._flagship().collect()
    out["plans.contributing_image_ratio"] = (
        sum(r["n_images"] for r in rows) / fl.n_images
    )

    # operators: pip_join with its default strategy over the workload's
    # probe side (the op's own join where the workload has one)
    set_group("probe.pip_join")
    times = []
    for k in range(2):
        _, joined = wl.probe_join(k)
        t0 = time.perf_counter()
        noop(joined)
        times.append(time.perf_counter() - t0)
    out["operators.pip_join_stage_s"] = statistics.median(times)
    set_group("probe.pip_join_count")
    left, joined = wl.probe_join(0)
    out["operators.pip_match_ratio"] = joined.count() / max(1, left.count())

    # operators: coverage build (polyfill + persist + count) of one op's
    # polygon count, in the warm session, and index (collect + broadcast)
    set_group("probe.coverage_build")
    cov, build_s, cov_rows, poly_seed = wl.probe_coverage()
    out["operators.coverage_build_s"] = build_s
    out["operators.coverage_rows"] = float(cov_rows)
    set_group("probe.coverage_index")
    # a new DataFrame object each time misses coverage_index's cache
    out["operators.coverage_index_s"], _ = median_time(
        lambda: coverage_index(wl.spark, cov.select("*"))
    )
    cov_cells = coverage_cells(cov)
    poly_wkbs = fixed_size_polygons(
        wl.n_polygons, poly_seed, wl.RADIUS_DEG)["wkb"].tolist()

    # functions: identity mapInPandas of the op's Python-stage row shape
    # and task count, noop sink (the per-task runner floor)
    shape = wl.boundary_frame()
    ident = shape.mapInPandas(lambda it: it, shape.schema)
    set_group("probe.boundary_warm")
    noop(ident)
    set_group("probe.boundary")
    for _ in range(REPEATS):
        noop(ident)

    return out, cov_cells, poly_wkbs[:KERNEL_POLYGONS]
