"""The polyfill classifier computes only the predicates each candidate
needs: ContainsCentroid result cells take only the centroid test, and a
candidate farther than FAR_RADIUS_RAD from every ring edge skips the
cell-boundary tests.  Both must leave every output cell as it was, so
the all-predicates classifier and the two fills built on it are kept
here as the reference, and FAR_RADIUS_RAD is checked as a bound on every
point of a cell."""

from __future__ import annotations

import numpy as np
import pytest

from h3ronpy_spark.h3core import index as IDX
from h3ronpy_spark.h3core import polyfill as P
from h3ronpy_spark.h3core.boundary import cell_boundary
from h3ronpy_spark.h3core.constants import PENTAGON_BASE_CELLS
from h3ronpy_spark.h3core.latlng import cell_to_latlng, latlng_to_cell
from h3ronpy_spark.h3core.polyfill import FAR_RADIUS_RAD

MODES = (P.MODE_CENTROID, P.MODE_CONTAINS, P.MODE_INTERSECTS, P.MODE_COVERS)


# --- reference: every predicate for every candidate ---------------------


def _reference_classify(cand, rings, res, shifted=False):
    """(cen_in, full, intersects, covers) with cell_boundary, the vertex
    point-in-polygon, the edge-crossing matrix and the vertex encode
    computed for every candidate."""
    clat, clng = cell_to_latlng(cand)
    cen_in = P._pip(
        P._shift_lng(np.degrees(clng), shifted), np.degrees(clat), rings
    )
    blat, blng, counts = cell_boundary(cand)
    blatd = np.degrees(blat)
    blngd = P._shift_lng(np.degrees(blng), shifted)
    n = cand.size
    flat = blngd.ravel()
    flaty = blatd.ravel()
    fin = np.isfinite(flat)
    vin = np.zeros(flat.shape, dtype=bool)
    vin[fin] = P._pip(flat[fin], flaty[fin], rings)
    vin = vin.reshape(blngd.shape)
    maxv = blngd.shape[1]
    in_range = np.arange(maxv) < counts[:, None]
    all_in = (vin | ~in_range).all(axis=1)
    any_in = (vin & in_range).any(axis=1)

    ring_edges0 = np.vstack([r[:-1] for r in rings])
    ring_edges1 = np.vstack([r[1:] for r in rings])
    e0, e1, rows = [], [], []
    for v in range(maxv):
        act = np.nonzero(v < counts)[0]
        nxt = np.where(v + 1 < counts[act], v + 1, 0)
        e0.append(np.stack([blngd[act, v], blatd[act, v]], -1))
        e1.append(np.stack([blngd[act, nxt], blatd[act, nxt]], -1))
        rows.append(act)
    e0, e1, erows = np.concatenate(e0), np.concatenate(e1), np.concatenate(rows)
    ce_min, ce_max = np.minimum(e0, e1), np.maximum(e0, e1)
    re_min = np.minimum(ring_edges0, ring_edges1)
    re_max = np.maximum(ring_edges0, ring_edges1)
    pi, pj = np.nonzero(
        (ce_min[:, None, 0] <= re_max[None, :, 0])
        & (ce_max[:, None, 0] >= re_min[None, :, 0])
        & (ce_min[:, None, 1] <= re_max[None, :, 1])
        & (ce_max[:, None, 1] >= re_min[None, :, 1])
    )
    crossed = np.zeros(n, dtype=bool)
    if pi.size:
        hits = P._seg_intersect_pairs(
            e0[pi], e1[pi], ring_edges0[pj], ring_edges1[pj]
        )
        np.logical_or.at(crossed, erows[pi], hits)

    vx = np.vstack(rings)
    vlng = vx[:, 0]
    if shifted:
        vlng = np.where(vlng > 180.0, vlng - 360.0, vlng)
    vcells = latlng_to_cell(np.radians(vx[:, 1]), np.radians(vlng), res)
    has_vert = np.isin(cand, vcells[vcells != -1])

    full = cen_in & all_in & ~crossed & ~has_vert
    intersects = cen_in | any_in | crossed
    covers = intersects | has_vert
    return cen_in, full, intersects, covers


def _pick(mode, cen_in, full, intersects, covers):
    return {P.MODE_CENTROID: cen_in, P.MODE_CONTAINS: full,
            P.MODE_INTERSECTS: intersects}.get(mode, covers)


def reference_compact(rings, res, mode=P.MODE_CENTROID, budget=4096):
    """polygon_to_cells_compact on the reference classifier."""
    mode = P.coerce_containment_mode(mode)
    rings = P._close_rings(rings)
    P._check_pole_cap(rings)
    rings, shifted = P._normalize_transmeridian(rings)
    r0 = res
    while r0 > 0 and P._est_cells(rings, r0) > budget:
        r0 -= 1
    cand = P._candidate_cells(rings, r0, shifted)
    if cand.size == 0:
        return cand
    preds = _reference_classify(cand, rings, r0, shifted)
    if r0 == res:
        return np.sort(cand[_pick(mode, *preds)])
    out = [cand[preds[1]]]
    partial = cand[preds[3] & ~preds[1]]
    for r in range(r0 + 1, res + 1):
        if partial.size == 0:
            break
        _, kids = IDX.cell_to_children_flat(partial, r)
        preds = _reference_classify(kids, rings, r, shifted)
        if r == res:
            out.append(kids[_pick(mode, *preds)])
        else:
            out.append(kids[preds[1]])
            partial = kids[preds[3] & ~preds[1]]
    return IDX.compact(np.unique(np.concatenate(out)))


def reference_cells(rings, res, mode=P.MODE_CENTROID):
    """polygon_to_cells on the reference classifier."""
    mode = P.coerce_containment_mode(mode)
    rings = P._close_rings(rings)
    P._check_pole_cap(rings)
    rings, shifted = P._normalize_transmeridian(rings)
    if P._est_cells(rings, res) > P._DIRECT_BUDGET:
        _, cells = IDX.uncompact(reference_compact(rings, res, mode), res)
        return np.sort(cells)
    cand = P._candidate_cells(rings, res, shifted)
    if cand.size == 0:
        return cand
    preds = _reference_classify(cand, rings, res, shifted)
    return np.sort(cand[_pick(mode, *preds)])


# --- polygon corpora ----------------------------------------------------


def _fan(clat, clng, radius, nv, rng, stretch=True):
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rr = radius * rng.uniform(0.85, 1.0, nv)
    k = 1.0 / np.cos(np.radians(clat)) if stretch else 1.0
    ring = np.stack([clng + rr * np.cos(ang) * k,
                     clat + rr * np.sin(ang) * 0.8], -1)
    return np.vstack([ring, ring[:1]])


def perfbench_polygons(n, seed, radius=2.0):
    """The perfbench fresh_polygons shape: convex fans of one ground
    size at |lat| <= 50."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        clat, clng = rng.uniform(-50, 50), rng.uniform(-170, 170)
        out.append([_fan(clat, clng, radius, int(rng.integers(6, 16)), rng)])
    return out


def antimeridian_polygons():
    rect = np.array([[178.0, 10], [-178, 10], [-178, 14], [178, 14],
                     [178, 10]])
    rng = np.random.default_rng(3)
    fan = _fan(-30.0, 179.0, 2.5, 11, rng)
    fan[:, 0] = np.where(fan[:, 0] > 180.0, fan[:, 0] - 360.0, fan[:, 0])
    # a band that spans both seams of the transmeridian plane (real lng
    # 0 lies inside its shifted bbox)
    wide = np.array([[10.0, -3], [100, -3], [179, -3], [-179, -3],
                     [-100, -3], [-10, -3], [-10, 3], [-100, 3],
                     [-179, 3], [179, 3], [100, 3], [10, 3], [10, -3]])
    # long-way band: no edge spans 180 degrees, so the plane is not
    # shifted and the bbox reaches both ends of [-180, 180]
    around = np.array([[-179.5, 0.0], [-90, 0], [0, 0], [90, 0],
                       [179.5, 0], [179.5, 2], [90, 2], [0, 2],
                       [-90, 2], [-179.5, 2], [-179.5, 0]])
    return [[rect], [fan], [wide], [around]]


def pentagon_polygons():
    pents = IDX.build_cell(
        PENTAGON_BASE_CELLS, np.zeros(12, np.int64),
        np.zeros((12, 15), np.int64),
    )
    lat, lng = np.degrees(cell_to_latlng(pents))
    rng = np.random.default_rng(5)
    return [[_fan(a, b, 1.5, 9, rng, stretch=False)]
            for a, b in zip(lat[::3], lng[::3])]


def high_latitude_polygons():
    rng = np.random.default_rng(8)
    out = [[_fan(s * 80.0, lng, 2.0, 10, rng)]
           for s in (1, -1) for lng in (-120.0, 35.0)]
    # a wedge reaching 0.5 degrees from the pole (without enclosing it)
    out.append([np.array([[0.0, 84], [60, 89.5], [120, 84], [0, 84]])])
    out.append([np.array([[10.0, -85], [-50, -89.2], [-110, -85],
                          [10, -85]])])
    return out


def holed_polygons():
    outer = np.array([[0.0, 0], [4, 0], [4, 4], [0, 4], [0, 0]])
    hole = np.array([[1.0, 1], [3, 1], [3, 3], [1, 3], [1, 1]])
    # a hole smaller than a res-5 cell, and one touching nothing
    tiny = np.array([[2.0, 2], [2.02, 2], [2.02, 2.02], [2.0, 2]])
    ring = _fan(45.0, -60.0, 3.0, 14, np.random.default_rng(9))
    inner = _fan(45.0, -60.0, 1.0, 7, np.random.default_rng(10))[::-1]
    return [[outer, hole], [outer, tiny], [ring, inner]]


CORPORA = {
    "perfbench": perfbench_polygons(4, 7),
    "antimeridian": antimeridian_polygons(),
    "pentagon": pentagon_polygons(),
    "high_latitude": high_latitude_polygons(),
    "holed": holed_polygons(),
}


def _same(a, b):
    return a.dtype == b.dtype and np.array_equal(a, b)


@pytest.mark.parametrize("corpus", sorted(CORPORA))
@pytest.mark.parametrize("mode", MODES)
def test_byte_identical_to_reference(corpus, mode):
    for res in (2, 4, 6):
        for rings in CORPORA[corpus]:
            assert _same(P.polygon_to_cells_compact(rings, res, mode),
                         reference_compact(rings, res, mode)), (res, rings)
            assert _same(P.polygon_to_cells(rings, res, mode),
                         reference_cells(rings, res, mode)), (res, rings)


@pytest.mark.parametrize("mode", MODES)
def test_byte_identical_perfbench_fine(mode):
    """The benchmark's own shape at its resolution, compact."""
    for rings in perfbench_polygons(3, 8):
        assert _same(P.polygon_to_cells_compact(rings, 8, mode),
                     reference_compact(rings, 8, mode))


def test_classify_matches_reference_per_candidate():
    """All four predicates, candidate by candidate, on a mixed corpus."""
    for rings in (CORPORA["holed"][0], CORPORA["perfbench"][0],
                  CORPORA["antimeridian"][2], CORPORA["high_latitude"][4]):
        rings, shifted = P._normalize_transmeridian(P._close_rings(rings))
        for res in (3, 5):
            cand = P._candidate_cells(rings, res, shifted)
            new = P._classify_cells(cand, rings, res, shifted)
            ref = _reference_classify(cand, rings, res, shifted)
            for a, b in zip(new, ref):
                assert np.array_equal(a, b)


# --- the far radius -----------------------------------------------------


def _sample_cells(res, rng, n=3000):
    """Random cells over the whole sphere (every base cell and face
    edge in expectation) plus every descendant of the 12 pentagons
    three levels down."""
    z = rng.uniform(-1, 1, n)
    lat = np.arcsin(z)
    lng = rng.uniform(-np.pi, np.pi, n)
    rand = latlng_to_cell(lat, lng, res)
    pr = max(0, res - 3)
    pents = IDX.build_cell(PENTAGON_BASE_CELLS, np.full(12, pr),
                           np.zeros((12, 15), np.int64))
    _, kids = IDX.cell_to_children_flat(pents, res)
    return np.unique(np.concatenate([rand, kids]))


def _interior_points(cells, rng, per_cell=6):
    """Random points of each cell: points of the spherical triangles
    (centroid, v_i, v_i+1) that encode back into the cell."""
    lat, lng = cell_to_latlng(cells)
    blat, blng, counts = cell_boundary(cells)

    def xyz(a, b):
        return np.stack([np.cos(a) * np.cos(b), np.cos(a) * np.sin(b),
                         np.sin(a)], -1)

    rows = np.repeat(np.arange(cells.size), per_cell)
    i = (rng.random(rows.size) * counts[rows]).astype(np.int64)
    j = np.where(i + 1 < counts[rows], i + 1, 0)
    w = rng.dirichlet((1.0, 1.0, 1.0), rows.size)
    p = (w[:, :1] * xyz(lat[rows], lng[rows])
         + w[:, 1:2] * xyz(blat[rows, i], blng[rows, i])
         + w[:, 2:] * xyz(blat[rows, j], blng[rows, j]))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    plat, plng = np.arcsin(p[:, 2]), np.arctan2(p[:, 1], p[:, 0])
    ok = latlng_to_cell(plat, plng, IDX.get_resolution(cells)[rows]) \
        == cells[rows]
    return rows[ok], plat[ok], plng[ok]


@pytest.mark.parametrize("res", list(range(16)))
def test_far_radius_bound(res):
    """Every boundary vertex and sampled interior point of a cell lies
    within R = FAR_RADIUS_RAD[res] of its centroid in the (k lng, lat)
    degree plane _near_ring measures in, k = cos(|lat| + R); cells
    within R of a pole are checked on the sphere (they always take the
    full test)."""
    rng = np.random.default_rng(4000 + res)
    cells = _sample_cells(res, rng)
    lat, lng = cell_to_latlng(cells)
    blat, blng, counts = cell_boundary(cells)
    vrows, vcol = np.nonzero(np.arange(blat.shape[1]) < counts[:, None])
    prow, plat, plng = _interior_points(cells, rng)
    rows = np.concatenate([vrows, prow])
    qlat = np.concatenate([blat[vrows, vcol], plat])
    qlng = np.concatenate([blng[vrows, vcol], plng])
    assert prow.size > cells.size  # the sampler reaches the interiors

    r = FAR_RADIUS_RAD[res]
    clat, clng = lat[rows], lng[rows]
    gc = 2 * np.arcsin(np.sqrt(
        np.sin((qlat - clat) / 2) ** 2
        + np.cos(clat) * np.cos(qlat) * np.sin((qlng - clng) / 2) ** 2))
    assert gc.max() <= r
    planar = np.abs(clat) + r < 0.5 * np.pi
    k = np.cos(np.abs(clat) + r)
    dlng = np.degrees((qlng - clng + np.pi) % (2 * np.pi) - np.pi)
    dlat = np.degrees(qlat - clat)
    d = np.hypot(k * dlng, dlat)[planar]
    assert d.max() <= np.degrees(r)


def test_far_radius_is_tight_enough_to_matter():
    """The bound is a safety factor over the largest measured
    centroid-to-vertex distance, not a loose multiple of it."""
    rng = np.random.default_rng(17)
    cells = _sample_cells(9, rng)
    lat, lng = cell_to_latlng(cells)
    blat, blng, counts = cell_boundary(cells)
    gc = 2 * np.arcsin(np.sqrt(
        np.sin((blat - lat[:, None]) / 2) ** 2
        + np.cos(lat[:, None]) * np.cos(blat)
        * np.sin((blng - lng[:, None]) / 2) ** 2))
    gc = np.where(np.arange(blat.shape[1]) < counts[:, None], gc, 0.0)
    assert 1.0 < FAR_RADIUS_RAD[9] / np.nanmax(gc) < 1.3
