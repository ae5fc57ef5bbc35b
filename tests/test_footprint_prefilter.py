"""The footprint prefilter (h3core.rasterh3.footprint_prefilter) must
be a superset of the rasters that reach a coverage: the drift and slack
bounds it rests on are checked on random cells of all 122 base cells
(pentagon children and face-edge cells included), and the mask is
checked image by image against tiling with nodata_value=None."""

from __future__ import annotations

import numpy as np
import pytest

from h3ronpy_spark.h3core import index as IDX
from h3ronpy_spark.h3core.constants import (
    NUM_BASE_CELLS,
    PENTAGON_BASE_CELLS,
    geo_az_distance,
)
from h3ronpy_spark.h3core.grid import neighbors
from h3ronpy_spark.h3core.latlng import cell_to_latlng, latlng_to_cell
from h3ronpy_spark.h3core.rasterh3 import (
    FOOTPRINT_SAFE_RADIUS_RAD,
    footprint_index,
    footprint_mask,
    footprint_prefilter,
    footprint_prefilter_res,
    footprint_radius,
    rasters_to_cells_batch,
)


def _random_cells(rng, n, res):
    """n valid cells at `res` (scalar or per row) spread over all base
    cells; a third sit on pentagon base cells with zero digits down to a
    random depth, so pentagons and their near children are frequent."""
    res = np.broadcast_to(np.asarray(res, np.int64), (n,)).copy()
    base = rng.integers(0, NUM_BASE_CELLS, n)
    pent_rows = rng.random(n) < 0.33
    base[pent_rows] = rng.choice(PENTAGON_BASE_CELLS, int(pent_rows.sum()))
    digits = rng.integers(0, 7, (n, 15))
    zero_to = rng.integers(0, 16, n)
    digits[pent_rows[:, None] & (np.arange(15)[None, :] < zero_to[:, None])] = 0
    # a pentagon base cell has no K (1) subsequence: its first nonzero
    # digit must not be 1
    is_pb = np.isin(base, PENTAGON_BASE_CELLS)
    nz = digits != 0
    first = np.where(nz.any(axis=1), nz.argmax(axis=1), 0)
    rows = np.flatnonzero(is_pb & nz.any(axis=1))
    bad = rows[digits[rows, first[rows]] == 1]
    digits[bad, first[bad]] = rng.integers(2, 7, bad.size)
    cells = IDX.build_cell(base, res, digits)
    return cells[IDX.is_valid_cell(cells)]


def _face_edge_points(n_per_edge, rng):
    """Points on the icosahedron edges (great arcs between adjacent
    pentagon centres), where cells straddle two faces."""
    pents = IDX.build_cell(
        PENTAGON_BASE_CELLS, np.zeros(12, np.int64),
        np.zeros((12, 15), np.int64),
    )
    lat, lng = cell_to_latlng(pents)
    xyz = np.stack(
        [np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng), np.sin(lat)], 1
    )
    ang = np.arccos(np.clip(xyz @ xyz.T, -1, 1))
    edge_ang = np.min(ang + np.eye(12) * 10)
    ii, jj = np.nonzero(np.triu(np.abs(ang - edge_ang) < 1e-3))
    t = rng.random((ii.size, n_per_edge))
    p = (xyz[ii, None, :] * (1 - t[..., None]) + xyz[jj, None, :] * t[..., None])
    p = p.reshape(-1, 3)
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    return np.arcsin(p[:, 2]), np.arctan2(p[:, 1], p[:, 0])


def _fine_cells(rng, rp, n):
    """Cells finer than rp: random digits on every base cell, plus
    cells on face edges, at random resolutions in (rp, 15]."""
    res = rng.integers(rp + 1, 16, n)
    a = _random_cells(rng, n, res)
    elat, elng = _face_edge_points(max(1, n // 30), rng)
    eres = rng.integers(rp + 1, 16, elat.size)
    b = latlng_to_cell(elat, elng, eres)
    return np.concatenate([a, b[b != -1]])


def _disk1_contains(centres, cells):
    """cells[i] in grid_disk(centres[i], 1)."""
    rows, nb = neighbors(centres)
    ok = cells == centres
    hit = nb == cells[rows]
    ok[rows[hit]] = True
    return ok


@pytest.mark.parametrize("rp", list(range(0, 15)))
def test_drift_bound(rp):
    """(b): a fine cell's centroid encodes at rp to its rp-parent or a
    neighbour of it."""
    rng = np.random.default_rng(1000 + rp)
    c = _fine_cells(rng, rp, 3000)
    lat, lng = cell_to_latlng(c)
    q = latlng_to_cell(lat, lng, rp)
    par = IDX.cell_to_parent(c, rp)
    assert _disk1_contains(par, q).all()


@pytest.mark.parametrize("rp", list(range(0, 15)))
def test_slack_bound(rp):
    """(b) + (c): every point within the safe radius of a fine cell's
    centroid encodes at rp into grid_disk(rp-parent, 1) — the property
    the prefilter's k = 1 rests on.  Checked on random fine cells and on
    every descendant of the 12 pentagons down to 3 levels (pentagons
    have the smallest slack)."""
    rng = np.random.default_rng(2000 + rp)
    pents = IDX.build_cell(
        PENTAGON_BASE_CELLS, np.full(12, rp), np.zeros((12, 15), np.int64)
    )
    _, kids = IDX.cell_to_children_flat(pents, min(rp + 3, 15))
    c = np.concatenate([_fine_cells(rng, rp, 1500), kids[kids != pents[0]]])
    c = c[IDX.get_resolution(c) > rp]
    lat, lng = cell_to_latlng(c)
    n_az = 8
    az = np.linspace(0, 2 * np.pi, n_az, endpoint=False)
    r = FOOTPRINT_SAFE_RADIUS_RAD[rp]
    for frac in (1.0, 0.6):
        slat, slng = geo_az_distance(
            np.repeat(lat, n_az), np.repeat(lng, n_az),
            np.tile(az, c.size), np.full(c.size * n_az, r * frac),
        )
        q = latlng_to_cell(slat, slng, rp)
        par = np.repeat(IDX.cell_to_parent(c, rp), n_az)
        assert _disk1_contains(par, q).all()


def test_safe_radius_decreases_and_chooses_rp():
    assert np.all(np.diff(FOOTPRINT_SAFE_RADIUS_RAD) < 0)
    # the flagship corpus: 64 px at 0.001 degrees -> ~3.6 km -> res 5
    r = footprint_radius([[0.001, 0, 0, 0, -0.001, 0]], [64], [64])[0]
    assert footprint_prefilter_res(r, 9) == 5
    assert footprint_prefilter_res(r, 3) == 3
    assert footprint_prefilter_res(np.inf, 9) is None


def test_radius_unbounded_cases():
    tf = np.array(
        [
            [0.001, 0.0, 10.0, 0.0, -0.001, 20.0],  # plain
            [0.001, 0.0005, 10.0, 0.0, -0.001, 20.0],  # rotated (b)
            [0.001, 0.0, 10.0, 0.0005, -0.001, 20.0],  # rotated (d)
            [0.001, 0.0, 10.0, 0.0, 0.001, 89.99],  # past the north pole
            [0.001, 0.0, np.nan, 0.0, -0.001, 20.0],  # non-finite
        ]
    )
    r = footprint_radius(tf, [32] * 5, [32] * 5)
    assert np.isfinite(r[0]) and np.isinf(r[1:]).all()


def _corpus(rng, n, px):
    """Seeded footprints: clustered around hot spots (so many sit just
    outside the coverage), on face edges, across the antimeridian, at
    |lat| <= 85, plus rotated transforms."""
    k = n // 5
    hot_lat = rng.uniform(-80, 80, 12)
    hot_lng = rng.uniform(-180, 180, 12)
    h = rng.integers(0, 12, k)
    lat = [hot_lat[h] + rng.uniform(-1.5, 1.5, k), rng.uniform(-85, 85, k)]
    lng = [hot_lng[h] + rng.uniform(-1.5, 1.5, k), rng.uniform(-180, 180, k)]
    elat, elng = _face_edge_points(max(1, k // 30), rng)
    lat.append(np.degrees(elat)[:k])
    lng.append(np.degrees(elng)[:k])
    lat.append(rng.uniform(-85, 85, k))
    lng.append(180.0 - rng.uniform(0, 64 * px, k))  # crosses 180
    lat.append(np.concatenate([[85.0, -84.9], rng.uniform(-85, 85, k)]))
    lng.append(np.concatenate([[10.0, 20.0], rng.uniform(-180, 180, k)]))
    lat = np.clip(np.concatenate(lat), -85.0, 85.0)
    lng = np.concatenate(lng)
    m = lat.size
    tf = np.zeros((m, 6))
    tf[:, 0] = px
    tf[:, 2] = lng
    tf[:, 4] = -px
    tf[:, 5] = lat
    rot = rng.random(m) < 0.05
    tf[rot, 1] = px * 0.3
    tf[rot, 3] = px * 0.2
    ws = rng.integers(1, 65, m)
    hs = rng.integers(1, 65, m)
    return tf, ws, hs


def _coverage_near(rng, cells, res):
    """A compact-like mixed-resolution coverage: ancestors at random
    resolutions of a sample of the corpus' own tile cells, and of cells
    shifted a little away from them."""
    pick = rng.choice(cells, max(1, cells.size // 40), replace=False)
    lat, lng = cell_to_latlng(pick)
    slat, slng = geo_az_distance(
        lat, lng, rng.uniform(0, 2 * np.pi, pick.size),
        rng.uniform(0, 0.002, pick.size),
    )
    near = latlng_to_cell(slat, slng, res)
    src = np.concatenate([pick, near[near != -1]])
    pres = rng.integers(max(0, res - 6), res + 1, src.size)
    return np.unique(IDX.cell_to_parent(src, pres))


def _reaching(tf, ws, hs, cov, res_list, res):
    """Rasters with a tile cell (nodata_value=None) whose ancestor at
    some coverage resolution is a coverage cell."""
    bands = [np.ones((int(h), int(w)), np.uint8) for w, h in zip(ws, hs)]
    img, _, cells = rasters_to_cells_batch(bands, tf, res, nodata_value=None)
    hit = np.zeros(cells.size, bool)
    for r in res_list:
        par = IDX.cell_to_parent(cells, r)
        pos = np.minimum(np.searchsorted(cov, par), cov.size - 1)
        hit |= cov[pos] == par
    out = np.zeros(len(bands), bool)
    out[img[hit]] = True
    return out, cells


@pytest.mark.parametrize(
    "seed,px,res", [(1, 0.001, 9), (2, 0.001, 8), (3, 0.004, 7)]
)
def test_mask_is_superset_of_reaching_images(seed, px, res):
    rng = np.random.default_rng(seed)
    tf, ws, hs = _corpus(rng, 2500, px)
    _, cells = _reaching(tf, ws, hs, np.array([], np.int64), [], res)
    cov = _coverage_near(rng, cells, res)
    res_list = sorted({int(r) for r in IDX.get_resolution(cov)})
    want, _ = _reaching(tf, ws, hs, cov, res_list, res)
    mask = footprint_prefilter(tf, ws, hs, cov, res_list, res)
    assert want.sum() > 20
    assert not (want & ~mask).any()
    # rotated rasters are never pruned; the rest are, where they miss
    rot = (tf[:, 1] != 0) | (tf[:, 3] != 0)
    assert mask[rot].all()
    assert mask[~rot].mean() < 0.9


def test_mask_all_true_for_covering_coverage():
    rng = np.random.default_rng(5)
    tf, ws, hs = _corpus(rng, 500, 0.001)
    everything = IDX.build_cell(
        np.arange(NUM_BASE_CELLS), np.zeros(NUM_BASE_CELLS, np.int64),
        np.zeros((NUM_BASE_CELLS, 15), np.int64),
    )
    assert footprint_prefilter(tf, ws, hs, everything, [0], 9).all()
    idx = footprint_index(everything, 5)
    assert footprint_mask(tf, ws, hs, idx).all()


def test_mask_empty_coverage_keeps_nothing():
    rng = np.random.default_rng(6)
    tf, ws, hs = _corpus(rng, 200, 0.001)
    assert not footprint_prefilter(tf, ws, hs, np.array([], np.int64),
                                   [], 9).any()


@pytest.fixture(scope="module")
def spark():
    from h3ronpy_spark.session import get_spark

    s = get_spark("local[4]", app_name="test_footprint_prefilter",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_flagship_empty_match_keeps_schema(spark):
    """A coverage no image reaches: the fused result is empty, with the
    same schema as the unpruned salted fallback."""
    from h3ronpy_spark.plans.flagship import flagship

    cell = int(latlng_to_cell(np.radians([0.5]), np.radians([0.5]), 9)[0])
    cov = spark.createDataFrame(
        [(cell, "poly_far")], "__poly_cell long, poly_id string"
    )
    fused = flagship(spark, 64, n_polygons=4, res=9, coverage=cov)
    salted = flagship(spark, 64, n_polygons=4, res=9, coverage=cov, salt=4)
    assert fused.collect() == [] == salted.collect()
    assert fused.schema == salted.schema
    assert fused.columns == ["poly_id", "n_tiles", "n_images", "sum_px",
                             "n_captions"]
