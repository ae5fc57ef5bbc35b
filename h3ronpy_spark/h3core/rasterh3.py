"""Raster <-> H3 conversion kernels.

Reproduces h3ronpy's raster surface (SURVEY.md §2.7 ops 38-40; reference
h3ronpy/python/h3ronpy/raster.py:63-213, h3ronpy/src/raster.rs):

  * nearest_h3_resolution: resolution whose cell area best matches the
    pixel area ("min_diff") or the finest with cells >= pixel
    ("smaller_than_pixel")
  * raster_to_cells: for every H3 cell whose centroid lands in a
    non-nodata pixel, emit (value, cell)
  * cells_to_raster: inverse — paint each output pixel with the value of
    the cell containing the pixel's center (same center-point semantics
    the reference gets from rasterio's polygon burn)

Transforms are 6-coefficient GDAL geotransforms (a, b, c, d, e, f):
  lng = a * col + b * row + c ; lat = d * col + e * row + f
with WGS84 coordinates enforced by a bounds sanity check (reference
h3ronpy/src/raster.rs:45-67).
"""

from __future__ import annotations

import numpy as np

from .boundary import cell_area_km2
from .constants import EARTH_RADIUS_KM
from .latlng import cell_to_latlng, latlng_to_cell

# average cell area (km^2) per res: sphere area / cell count
_NCELLS = 2 + 120 * 7 ** np.arange(0, 16, dtype=np.float64)
AVG_CELL_AREA_KM2 = 4.0 * np.pi * EARTH_RADIUS_KM**2 / _NCELLS


def check_wgs84_bounds(transform, w: int, h: int) -> None:
    a, b, c, d, e, f = transform
    xs = [c, a * w + b * h + c]
    ys = [f, d * w + e * h + f]
    if abs(xs[1] - xs[0]) > 361.0 or abs(ys[1] - ys[0]) > 181.0:
        raise ValueError(
            "raster bounds exceed WGS84 coordinate range - coordinates "
            "must be in degrees"
        )


def nearest_h3_resolution(
    shape: tuple[int, int],
    transform,
    axis_order: str = "yx",
    search_mode: str = "min_diff",
) -> int:
    """Resolution whose cells best match the raster's pixel size."""
    if axis_order.lower() == "yx":
        h, w = shape
    else:
        w, h = shape
    check_wgs84_bounds(transform, w, h)
    a, b, c, d, e, f = transform
    # pixel area in km^2 at the raster center (cos-lat corrected)
    lat_c = d * (w / 2) + e * (h / 2) + f
    deg_km = 2.0 * np.pi * EARTH_RADIUS_KM / 360.0
    px_w = abs(a) * deg_km * np.cos(np.radians(lat_c))
    px_h = abs(e) * deg_km
    px_area = px_w * px_h
    if px_area <= 0:
        raise ValueError("degenerate transform")
    if search_mode == "min_diff":
        return int(np.argmin(np.abs(AVG_CELL_AREA_KM2 - px_area)))
    if search_mode == "smaller_than_pixel":
        ok = np.nonzero(AVG_CELL_AREA_KM2 <= px_area)[0]
        return int(ok[0]) if ok.size else 15
    raise ValueError(f"unknown search_mode {search_mode!r}")


def raster_to_cells(
    band: np.ndarray,
    transform,
    h3_res: int,
    nodata_value=None,
    axis_order: str = "yx",
) -> tuple[np.ndarray, np.ndarray]:
    """2-D array -> (values, cells): one row per H3 cell whose centroid
    falls in a non-nodata pixel."""
    band = np.asarray(band)
    if axis_order.lower() == "xy":
        band = band.T
    h, w = band.shape
    check_wgs84_bounds(transform, w, h)
    a, b, c, d, e, f = (float(t) for t in transform)

    # candidate cells: dense sample grid at ~1/3 cell spacing over the
    # raster extent (every cell whose centroid is inside gets sampled;
    # no neighbor-dilation pass), then exact centroid -> pixel test
    deg_cell = 24.0 / (7.0 ** (h3_res / 2.0))  # ~cell spacing in degrees
    px_deg = min(abs(a), abs(e)) or 1e-12
    step_px = deg_cell / px_deg * 0.38  # may be < 1 px when cells are finer than pixels
    cols = np.arange(0, w + step_px, step_px, dtype=np.float64)
    rows = np.arange(0, h + step_px, step_px, dtype=np.float64)
    cc, rr = np.meshgrid(cols, rows)
    lng = a * cc + b * rr + c
    lat = d * cc + e * rr + f
    cand = latlng_to_cell(np.radians(lat.ravel()), np.radians(lng.ravel()), h3_res)
    cand = np.unique(cand[cand != -1])

    clat, clng = cell_to_latlng(cand)
    clatd, clngd = np.degrees(clat), np.degrees(clng)
    # invert the affine: col = (e*(x-c) - b*(y-f)) / (a*e - b*d)
    det = a * e - b * d
    col = (e * (clngd - c) - b * (clatd - f)) / det
    row = (a * (clatd - f) - d * (clngd - c)) / det
    ci = np.floor(col).astype(np.int64)
    ri = np.floor(row).astype(np.int64)
    inb = (ci >= 0) & (ci < w) & (ri >= 0) & (ri < h)
    cand, ci, ri = cand[inb], ci[inb], ri[inb]
    vals = band[ri, ci]
    if nodata_value is not None:
        if isinstance(nodata_value, float) and np.isnan(nodata_value):
            keep = ~np.isnan(vals)
        else:
            keep = vals != nodata_value
        cand, vals = cand[keep], vals[keep]
    return vals, cand


def rasters_to_cells_batch(
    bands: list[np.ndarray],
    transforms: np.ndarray,
    h3_res: int,
    nodata_value=0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched raster_to_cells: one vectorized encode/decode across ALL
    rasters in the batch.

    bands: list of (h_i, w_i) arrays (same dtype); transforms: (N, 6) GDAL
    coefficients.  Returns (img_idx, values, cells) flat arrays.  This is
    the hot path of the tiling operator — per-image Python overhead is two
    tiny loops; all H3 math happens in whole-batch kernels.

    Round-8 restructure (guide §1.2 step 1: don't compute things you
    throw away).  The 0.38-step sample grid encodes ~7 samples per
    surviving cell, and the round-7 code ran the FULL encode (gnomonic
    projection + 20-face argmax + per-res digit unwind) on every
    sample, then deduped.  Now:

      * samples are only projected to face-plane AXIAL coords (the trig
        front half of the encode); the digit unwind — ~55% of the
        encode — runs AFTER dedupe, on ~1/7th the rows, via
        axial_to_cell (bit-identical: the axial coords ARE the cell's
        lattice coords, proven by the front+back==full test);
      * an image whose sample-grid corner points all land on the same
        icosahedron face (checked with the canonical argmax itself)
        skips the per-sample 20-face argmax and projects through that
        face with per-row/per-column outer products (a lat/lng-aligned
        grid's xyz is an outer product of row and column trig).  Cell
        assignment is unchanged: within such a grid the argmax face can
        differ from the corner face only in a <=1e-6 rad sliver of the
        face-region boundary, where both projections still round every
        cell-interior sample to its own cell (the 0.38-grid guarantee
        places one sample in each wanted cell's incircle, >=0.08 cell
        widths from any cell boundary, while the cross-face lattice
        drift at that distance is <=0.02 cell widths).  Images that
        straddle a face boundary — and rotated geotransforms (b or d
        nonzero), whose grids are not lat/lng-separable — take the
        round-7 full-encode path unchanged.

    Output row set AND order are byte-identical to round 7 (final
    (img, cell) lexsort + dedupe is shared); pinned by
    tests/test_rasterh3_v2.py equality over large corpora."""
    n = len(bands)
    if n == 0:
        return (np.array([], np.int64),) * 3
    deg_cell = 24.0 / (7.0 ** (h3_res / 2.0))
    tf = np.asarray(transforms, dtype=np.float64)
    a, b, c = tf[:, 0], tf[:, 1], tf[:, 2]
    d, e, f = tf[:, 3], tf[:, 4], tf[:, 5]
    ws = np.array([bb.shape[1] for bb in bands], dtype=np.int64)
    hs = np.array([bb.shape[0] for bb in bands], dtype=np.int64)

    # --- per-image sample grids (axis vectors only on the fast path)
    from .constants import FACE_CENTER_XYZ, RES0_U_GNOMONIC
    from .latlng import (
        _FACE_U,
        _FACE_U_ODD,
        _FACE_V,
        _FACE_V_ODD,
        _SQRT7_POW,
        axial_to_cell,
    )
    from . import ijk as IJK

    odd = (int(h3_res) & 1) == 1
    FU = _FACE_U_ODD if odd else _FACE_U
    FV = _FACE_V_ODD if odd else _FACE_V
    kscale = _SQRT7_POW[int(h3_res)] / RES0_U_GNOMONIC

    grid_rows = []  # per image: lat vector of grid rows (degrees)
    grid_cols = []  # per image: lng vector of grid cols (degrees)
    separable = np.zeros(n, dtype=bool)
    for i in range(n):
        check_wgs84_bounds(tf[i], int(ws[i]), int(hs[i]))
        px_deg = min(abs(a[i]), abs(e[i])) or 1e-12
        step = deg_cell / px_deg * 0.38
        cols = np.arange(0, ws[i] + step, step)
        rows = np.arange(0, hs[i] + step, step)
        separable[i] = b[i] == 0.0 and d[i] == 0.0
        if separable[i]:
            grid_cols.append(a[i] * cols + c[i])
            grid_rows.append(e[i] * rows + f[i])
        else:
            cc, rr = np.meshgrid(cols, rows)
            grid_cols.append(a[i] * cc.ravel() + b[i] * rr.ravel() + c[i])
            grid_rows.append(d[i] * cc.ravel() + e[i] * rr.ravel() + f[i])

    # --- batched corner-face check (canonical argmax on the 4 grid
    # corners of every separable image)
    sep_idx = np.flatnonzero(separable)
    face_of = np.full(n, -1, dtype=np.int64)
    if sep_idx.size:
        c_lat = np.empty(4 * sep_idx.size)
        c_lng = np.empty(4 * sep_idx.size)
        for k, i in enumerate(sep_idx):
            la, ln = grid_rows[i], grid_cols[i]
            c_lat[4 * k : 4 * k + 4] = (la[0], la[0], la[-1], la[-1])
            c_lng[4 * k : 4 * k + 4] = (ln[0], ln[-1], ln[0], ln[-1])
        rl = np.radians(c_lat)
        rn = np.radians(c_lng)
        cl = np.cos(rl)
        cxyz = np.stack([cl * np.cos(rn), cl * np.sin(rn), np.sin(rl)], 1)
        cface = np.argmax(cxyz @ FACE_CENTER_XYZ.T, axis=-1).reshape(-1, 4)
        same = (cface == cface[:, :1]).all(axis=1)
        face_of[sep_idx[same]] = cface[same, 0]

    # --- front half of the encode per image: face-plane axial coords
    ax_x, ax_y, ax_face, ax_img = [], [], [], []
    slow_lat, slow_lng, slow_img = [], [], []
    for i in range(n):
        fc = int(face_of[i])
        if fc < 0:
            # fallback: full canonical encode for this image's samples
            if separable[i]:
                cc, rr = np.meshgrid(grid_cols[i], grid_rows[i])
                slow_lng.append(cc.ravel())
                slow_lat.append(rr.ravel())
            else:
                slow_lng.append(grid_cols[i])
                slow_lat.append(grid_rows[i])
            slow_img.append(np.full(slow_lat[-1].size, i, dtype=np.int64))
            continue
        rl = np.radians(grid_rows[i])
        rn = np.radians(grid_cols[i])
        coslat = np.cos(rl)
        sinlat = np.sin(rl)
        coslng = np.cos(rn)
        sinlng = np.sin(rn)
        U = FU[fc]
        V = FV[fc]
        C = FACE_CENTER_XYZ[fc]
        pu = U[0] * coslng + U[1] * sinlng
        pv = V[0] * coslng + V[1] * sinlng
        pc = C[0] * coslng + C[1] * sinlng
        dot_u = np.outer(coslat, pu) + (U[2] * sinlat)[:, None]
        dot_v = np.outer(coslat, pv) + (V[2] * sinlat)[:, None]
        dot_c = np.outer(coslat, pc) + (C[2] * sinlat)[:, None]
        s = kscale / dot_c
        # defer the hex rounding: collect face-plane (x, y) per image
        # and run hex2d_to_axial ONCE on the whole batch below (the
        # per-image calls were ~35% of the kernel in tiny-array
        # overhead; the function is elementwise, so batching is exact)
        ax_x.append((dot_u * s).ravel())
        ax_y.append((dot_v * s).ravel())
        ax_face.append(np.full(ax_x[-1].size, fc, dtype=np.int64))
        ax_img.append(np.full(ax_x[-1].size, i, dtype=np.int64))

    # --- dedupe axial samples per image, THEN unwind digits on the
    # survivors only
    cells_parts = []
    img_parts = []
    dec_face_parts = []
    dec_a_parts = []
    dec_b_parts = []
    if ax_x:
        fa = np.concatenate(ax_face)
        ii = np.concatenate(ax_img)
        aa, bb2 = IJK.hex2d_to_axial(
            np.concatenate(ax_x), np.concatenate(ax_y)
        )
        # (face, a, b) packs into one sortable int64: face 5 bits, a/b
        # offset-biased 26 bits each (|a|,|b| < 2^25 for res <= 15).
        # Fast-path images each use ONE face, so for small batches the
        # image index replaces the face bits and the whole (img, a, b)
        # dedupe key fits a single int64 — one argsort instead of a
        # two-key lexsort (the sort is ~1/4 of the kernel).
        if n <= 2048:
            key = (
                (ii << np.int64(52))
                | ((aa + np.int64(1 << 25)) << np.int64(26))
                | (bb2 + np.int64(1 << 25))
            )
            order = np.argsort(key, kind="stable")
            key = key[order]
            keep = np.ones(key.shape, dtype=bool)
            keep[1:] = key[1:] != key[:-1]
            ii = ii[order]
        else:
            key = (
                (fa << np.int64(52))
                | ((aa + np.int64(1 << 25)) << np.int64(26))
                | (bb2 + np.int64(1 << 25))
            )
            order = np.lexsort((key, ii))
            key, ii = key[order], ii[order]
            keep = np.ones(key.shape, dtype=bool)
            keep[1:] = (key[1:] != key[:-1]) | (ii[1:] != ii[:-1])
        su = order[keep]
        cells_fast = axial_to_cell(fa[su], aa[su], bb2[su], int(h3_res))
        cells_parts.append(cells_fast)
        img_parts.append(ii[keep])
        dec_face_parts.append(fa[su])
        dec_a_parts.append(aa[su])
        dec_b_parts.append(bb2[su])
    if slow_lat:
        lat_s = np.concatenate(slow_lat)
        lng_s = np.concatenate(slow_lng)
        img_s = np.concatenate(slow_img)
        cells_slow = latlng_to_cell(
            np.radians(lat_s), np.radians(lng_s), h3_res
        )
        cells_parts.append(cells_slow)
        img_parts.append(img_s)
        dec_face_parts.append(np.full(cells_slow.shape, -1, np.int64))
        dec_a_parts.append(np.zeros(cells_slow.shape, np.int64))
        dec_b_parts.append(np.zeros(cells_slow.shape, np.int64))

    cells = np.concatenate(cells_parts)
    img_all = np.concatenate(img_parts)
    dface = np.concatenate(dec_face_parts)
    da = np.concatenate(dec_a_parts)
    db = np.concatenate(dec_b_parts)
    ok = cells != -1
    cells, img_all = cells[ok], img_all[ok]
    dface, da, db = dface[ok], da[ok], db[ok]
    # --- final (img, cell) lexsort + dedupe (identical to round 7, so
    # output rows AND order are byte-for-byte unchanged)
    order = np.lexsort((cells, img_all))
    cells, img_all = cells[order], img_all[order]
    dface, da, db = dface[order], da[order], db[order]
    keep = np.ones(cells.shape, dtype=bool)
    keep[1:] = (cells[1:] != cells[:-1]) | (img_all[1:] != img_all[:-1])
    cells, img_all = cells[keep], img_all[keep]
    dface, da, db = dface[keep], da[keep], db[keep]

    # --- one whole-batch decode + per-image affine inverse (gathered).
    # Fast-path rows already carry the cell's lattice coords (face, a,
    # b) from the encode, so their centroid comes straight from
    # fijk_to_geo — skipping cell_to_fijk's digit unwind, which is 80%
    # of cell_to_latlng.  The (face, a, b) frame can differ from the
    # canonical home-face frame cell_to_fijk reconstructs (same point
    # on the sphere, last-ulp float differences possible), so this path
    # is gated by the corpus-equality sweep in
    # tools/validate_rasterh3.py + tests/test_rasterh3_v2.py: every
    # driver-visible corpus decodes to identical pixel assignments.
    # Fallback rows (face < 0) keep the canonical decode.
    clat = np.empty(cells.shape[0])
    clng = np.empty(cells.shape[0])
    fastm = dface >= 0
    if fastm.any():
        from .latlng import fijk_to_geo

        af, bf = da[fastm], db[fastm]
        kk = -np.minimum(np.minimum(af, bf), 0)
        cijk = np.stack([af + kk, bf + kk, kk], axis=-1)
        res_arr = np.full(af.shape, int(h3_res), np.int64)
        clat[fastm], clng[fastm] = fijk_to_geo(dface[fastm], cijk, res_arr)
    if not fastm.all():
        sm = ~fastm
        clat[sm], clng[sm] = cell_to_latlng(cells[sm])
    clatd, clngd = np.degrees(clat), np.degrees(clng)
    ai, bi, ci = a[img_all], b[img_all], c[img_all]
    di, ei, fi = d[img_all], e[img_all], f[img_all]
    det = ai * ei - bi * di
    col = (ei * (clngd - ci) - bi * (clatd - fi)) / det
    row = (ai * (clatd - fi) - di * (clngd - ci)) / det
    ci_ = np.floor(col).astype(np.int64)
    ri_ = np.floor(row).astype(np.int64)
    inb = (ci_ >= 0) & (ci_ < ws[img_all]) & (ri_ >= 0) & (ri_ < hs[img_all])
    cells, img_all, ci_, ri_ = cells[inb], img_all[inb], ci_[inb], ri_[inb]

    # --- flattened value gather across all bands
    offsets = np.concatenate([[0], np.cumsum(ws * hs)[:-1]])
    flat = np.concatenate([bb.ravel() for bb in bands])
    vals = flat[offsets[img_all] + ri_ * ws[img_all] + ci_]
    if nodata_value is not None:
        if isinstance(nodata_value, float) and np.isnan(nodata_value):
            m = ~np.isnan(vals)
        else:
            m = vals != nodata_value
        cells, img_all, vals = cells[m], img_all[m], vals[m]
    return img_all, vals, cells


# --- footprint prefilter: which rasters can reach a cell coverage ------

# Average hexagon edge per resolution (radians): the edge of a regular
# hexagon of the average cell area.
_AVG_EDGE_RAD = (
    np.sqrt(2.0 * AVG_CELL_AREA_KM2 / (3.0 * np.sqrt(3.0))) / EARTH_RADIUS_KM
)
# Largest sample-gap radius the prefilter accepts at a coarse resolution
# rp (see footprint_prefilter): half the average edge at rp.  The
# smallest slack sigma(rp), measured over the descendants of all 12
# pentagons and of random cells on every base cell, is about 0.72 of
# the average edge (at pentagons; 0.87-0.96 of their own edge), so the
# bound holds with a ~30% margin.  tests/test_footprint_prefilter.py
# re-checks it at this radius for every rp.
FOOTPRINT_SAFE_RADIUS_RAD = 0.5 * _AVG_EDGE_RAD


def footprint_radius(transforms, ws, hs) -> np.ndarray:
    """Per raster, an upper bound (radians) on the great-circle distance
    from any point of its footprint to the nearest of its five samples
    (four corners and centre); inf where no bound is claimed: rotated
    transforms (b or d nonzero), footprints reaching past a pole and
    non-finite transforms.

    In the (lng, lat) degree plane the farthest point of a W x H
    rectangle from its corners and centre is (W^2 + H^2) / (4 max(W, H))
    away.  On the sphere ds^2 = dlat^2 + cos^2(lat) dlng^2 <= dlat^2 +
    dlng^2, so the great-circle distance is at most that planar length
    in radians (also across the antimeridian: longitudes past 180 are
    the same points)."""
    tf = np.asarray(transforms, dtype=np.float64).reshape(-1, 6)
    ws = np.asarray(ws, dtype=np.float64)
    hs = np.asarray(hs, dtype=np.float64)
    wd = np.abs(tf[:, 0]) * ws
    hd = np.abs(tf[:, 4]) * hs
    big = np.maximum(wd, hd)
    with np.errstate(invalid="ignore", divide="ignore"):
        r = np.where(big > 0, (wd * wd + hd * hd) / (4.0 * big), 0.0)
    lat_far = np.maximum(np.abs(tf[:, 5]), np.abs(tf[:, 5] + tf[:, 4] * hs))
    ok = (
        (tf[:, 1] == 0.0)
        & (tf[:, 3] == 0.0)
        & np.isfinite(tf).all(axis=1)
        & (lat_far <= 90.0)
    )
    return np.where(ok, np.radians(r), np.inf)


def footprint_prefilter_res(radius_rad: float, max_res: int) -> int | None:
    """The finest rp <= max_res whose safe radius covers `radius_rad`,
    or None if even res 0 does not."""
    ok = np.flatnonzero(FOOTPRINT_SAFE_RADIUS_RAD[: int(max_res) + 1]
                        >= radius_rad)
    return int(ok[-1]) if ok.size else None


def footprint_index(cov_cells, rp: int) -> tuple:
    """The two probe sets of a coverage at coarse resolution rp, built
    once per coverage: (rp, sorted distinct rp-parents of the cells finer
    than rp, sorted cells at or coarser than rp, their resolutions)."""
    from . import index as IDX

    cov = np.asarray(cov_cells, dtype=np.int64)
    res = IDX.get_resolution(cov)
    fine = np.unique(IDX.cell_to_parent(cov[res > rp], rp))
    cm = res <= rp
    coarse = np.sort(cov[cm])
    coarse_res = tuple(int(r) for r in np.unique(res[cm]))
    return int(rp), fine, coarse, coarse_res


def _in_sorted(sorted_arr: np.ndarray, x: np.ndarray) -> np.ndarray:
    if sorted_arr.size == 0:
        return np.zeros(x.shape, dtype=bool)
    pos = np.minimum(np.searchsorted(sorted_arr, x), sorted_arr.size - 1)
    return sorted_arr[pos] == x


def footprint_mask(transforms, ws, hs, index: tuple) -> np.ndarray:
    """Bool mask of the rasters that may hold a cell with an ancestor in
    the coverage behind `index` (footprint_index); see
    footprint_prefilter for the bound.  Rasters whose footprint_radius
    exceeds the safe radius at the index's rp are kept."""
    from . import index as IDX
    from .grid import neighbors

    rp, fine, coarse, coarse_res = index
    tf = np.asarray(transforms, dtype=np.float64).reshape(-1, 6)
    ws = np.asarray(ws, dtype=np.float64)
    hs = np.asarray(hs, dtype=np.float64)
    keep = footprint_radius(tf, ws, hs) > FOOTPRINT_SAFE_RADIUS_RAD[rp]
    test = np.flatnonzero(~keep)
    if test.size == 0:
        return keep
    # corners and centre, in pixel units
    sx = np.array([0.0, 1.0, 0.0, 1.0, 0.5])
    sy = np.array([0.0, 0.0, 1.0, 1.0, 0.5])
    t = tf[test]
    cols = ws[test, None] * sx
    rows = hs[test, None] * sy
    lng = t[:, 0, None] * cols + t[:, 2, None]
    lat = t[:, 4, None] * rows + t[:, 5, None]
    q = latlng_to_cell(np.radians(lat.ravel()), np.radians(lng.ravel()), rp)
    uq, inv = np.unique(q, return_inverse=True)
    # grid_disk(k=1) of every distinct sample cell
    valid = uq != -1
    nb_row, nb_cell = neighbors(uq[valid])
    vrow = np.flatnonzero(valid)
    drow = np.concatenate([vrow, vrow[nb_row]])
    dcell = np.concatenate([uq[valid], nb_cell])
    hit = _in_sorted(fine, dcell)
    for r in coarse_res:
        hit |= _in_sorted(coarse, IDX.cell_to_parent(dcell, r))
    uhit = ~valid
    uhit[drow[hit]] = True
    keep[test] = uhit[inv.reshape(-1)].reshape(-1, sx.size).any(axis=1)
    return keep


def footprint_prefilter(transforms, ws, hs, cov_cells, res_list,
                        h3_res: int) -> np.ndarray:
    """Bool mask over rasters: False only where no cell that
    rasters_to_cells_batch(..., h3_res, nodata_value=None) can emit for
    that raster has an ancestor in the coverage `cov_cells` (whose
    resolutions are `res_list`).  A provable superset of the rasters
    that reach the coverage; it needs only the transforms and sizes, not
    the pixels.

    The test runs at one coarse resolution rp <= min(h3_res,
    max(res_list)).  A tile cell c matches a coverage cell x of res r iff
    cell_to_parent(c, r) == x, so with P = cell_to_parent(c, rp): for
    r > rp, P is the rp-parent of x (the `fine` set of footprint_index);
    for r <= rp, cell_to_parent(P, r) == x (the `coarse` set, probed
    through bit-math ancestors).  It remains to show that P lies in
    grid_disk(q, 1) of some sample cell q = latlng_to_cell(s, rp):

      (a) tiling emits only cells whose centroid p lies in the
          footprint (raster_to_cells semantics);
      (b) p lies in the region of P's descendants, which stays inside
          the union of grid_disk(P, 1) with a slack sigma(rp): every
          point within sigma(rp) of a descendant centroid encodes at rp
          to a cell of grid_disk(P, 1).  So the grid distance between P
          and latlng_to_cell(p, rp) is at most 1 (aperture-7 drift);
      (c) some sample s lies within footprint_radius of p, the sampling
          gap.  Every rp cell the footprint touches that holds no
          sample is covered because the gap is bounded in distance,
          not in cells: if the gap is <= sigma(rp), then s encodes to a
          cell of grid_disk(P, 1), so P is in grid_disk(q, 1).

    rp is therefore the finest resolution whose safe radius
    FOOTPRINT_SAFE_RADIUS_RAD (a lower bound of sigma) covers the
    largest footprint_radius of the batch, and k = 1.  Rasters with no
    bound (rotated, polar, non-finite) are kept.  An empty coverage
    matches nothing."""
    tf = np.asarray(transforms, dtype=np.float64).reshape(-1, 6)
    n = tf.shape[0]
    if not len(res_list):
        return np.zeros(n, dtype=bool)
    rad = footprint_radius(tf, ws, hs)
    fin = rad[np.isfinite(rad)]
    rp = footprint_prefilter_res(
        float(fin.max()) if fin.size else 0.0,
        min(int(h3_res), int(max(res_list))),
    )
    if rp is None:
        return np.ones(n, dtype=bool)
    return footprint_mask(tf, ws, hs, footprint_index(cov_cells, rp))


def cells_to_raster(
    cells: np.ndarray,
    values: np.ndarray,
    size: tuple[int, int],
    transform,
    nodata_value=0,
) -> np.ndarray:
    """Inverse: paint each pixel with the value of the cell containing its
    center; mixed input resolutions resolved finest-first."""
    from . import index as IDX

    cells = np.asarray(cells, dtype=np.int64)
    values = np.asarray(values)
    w, h = size
    a, b, c, d, e, f = (float(t) for t in transform)
    cc, rr = np.meshgrid(
        np.arange(w, dtype=np.float64) + 0.5, np.arange(h, dtype=np.float64) + 0.5
    )
    lng = a * cc + b * rr + c
    lat = d * cc + e * rr + f
    out = np.full((h, w), nodata_value, dtype=values.dtype)
    filled = np.zeros((h, w), dtype=bool)
    res_all = IDX.get_resolution(cells)
    for rv in sorted(np.unique(res_all).tolist(), reverse=True):
        m = res_all == rv
        sub_cells = cells[m]
        sub_vals = values[m]
        order = np.argsort(sub_cells)
        sub_cells, sub_vals = sub_cells[order], sub_vals[order]
        px = latlng_to_cell(
            np.radians(lat.ravel()), np.radians(lng.ravel()), int(rv)
        ).reshape(h, w)
        pos = np.searchsorted(sub_cells, px)
        pos = np.clip(pos, 0, sub_cells.size - 1)
        hit = (sub_cells[pos] == px) & ~filled
        out[hit] = sub_vals[pos[hit]]
        filled |= hit
    return out
