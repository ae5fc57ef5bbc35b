"""Polyfill: WKB geometry -> covering H3 cells, with containment modes.

Reproduces h3ronpy's `wkb_to_cells` / `geometry_to_cells` semantics
(SURVEY.md §2.6 ops 35-37; reference h3ronpy/src/vector.rs:352-425,
crates/h3arrow/src/array/from_geo.rs:306-404):

  * ContainsCentroid (default): cells whose centroid is inside the polygon
  * ContainsBoundary: cells fully contained in the polygon
  * IntersectsBoundary: cells overlapping the polygon in any way
  * Covers: cells such that their union covers the geometry (intersecting
    cells, including boundary-touch)

Points map to their containing cell, linestrings are traced by dense
sampling plus gap-free dedupe, multis/collections recurse, empty -> empty.
Output per geometry is a sorted, deduped cell list; optional `compact`.

Algorithm: candidate cells = encodings of a sub-cell-spaced lat/lng sample
grid over the polygon bbox, dilated by one neighbor ring; candidates are
then classified by point-in-polygon tests of their centroid and boundary
vertices plus segment-intersection tests.  All numpy-vectorized across
candidates.
"""

from __future__ import annotations

import enum

import numpy as np

from . import index as IDX
from .boundary import cell_boundary
from .latlng import cell_to_latlng, latlng_to_cell
from .wkb import parse_wkb

MODE_CENTROID = "containscentroid"
MODE_CONTAINS = "containsboundary"
MODE_INTERSECTS = "intersectsboundary"
MODE_COVERS = "covers"

_MODES = {MODE_CENTROID, MODE_CONTAINS, MODE_INTERSECTS, MODE_COVERS}


class ContainmentMode(enum.IntEnum):
    """The reference's ContainmentMode enum (h3ronpy/src/vector.rs:62-69,
    pyclass eq_int) so `ContainmentMode.ContainsCentroid`-style call
    sites port verbatim; every mode parameter also keeps accepting the
    string forms."""

    ContainsCentroid = 0
    ContainsBoundary = 1
    IntersectsBoundary = 2
    Covers = 3


_ENUM_TO_MODE = {
    ContainmentMode.ContainsCentroid: MODE_CENTROID,
    ContainmentMode.ContainsBoundary: MODE_CONTAINS,
    ContainmentMode.IntersectsBoundary: MODE_INTERSECTS,
    ContainmentMode.Covers: MODE_COVERS,
}


def coerce_containment_mode(mode) -> str:
    """Accept a ContainmentMode member, its name, or the lowercase
    string form; return the internal string."""
    if isinstance(mode, ContainmentMode):
        return _ENUM_TO_MODE[mode]
    return str(mode).lower().replace("_", "")

# average hexagon edge length (degrees of arc) per res, derived from the
# grid itself: res-0 lattice unit is atan(RES0_U_GNOMONIC*...) ~ spacing /
# sqrt(7)^res.  Used only for sampling density, so approximate is fine.
_EDGE_DEG = 24.0 / (7.0 ** (np.arange(16) / 2.0))


def _pip(plng: np.ndarray, plat: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd point-in-polygon over all rings (holes included by parity).

    Operates on plain lng/lat planar coordinates (matching the reference's
    planar geo-types polyfill).  Points are y-sorted once and each edge
    only touches the searchsorted slice inside its y-span — O(E log N +
    crossings) instead of the dense (points x edges) matrix, which was the
    polyfill hot spot for big candidate sets."""
    plng = np.asarray(plng, dtype=np.float64)
    plat = np.asarray(plat, dtype=np.float64)
    n = plng.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(plat, kind="stable")
    sy = plat[order]
    sx = plng[order]
    flips = np.zeros(n, dtype=np.int64)
    for ring in rings:
        x = ring[:, 0]
        y = ring[:, 1]
        for e in range(x.shape[0] - 1):
            y0, y1 = y[e], y[e + 1]
            if y0 == y1:
                continue
            lo, hi = (y1, y0) if y0 > y1 else (y0, y1)
            # cond (y0 > py) != (y1 > py)  <=>  py in [lo, hi)
            i0 = np.searchsorted(sy, lo, side="left")
            i1 = np.searchsorted(sy, hi, side="left")
            if i0 == i1:
                continue
            py = sy[i0:i1]
            xint = x[e] + (py - y0) * (x[e + 1] - x[e]) / (y1 - y0)
            flips[i0:i1] += sx[i0:i1] < xint
    inside = np.zeros(n, dtype=bool)
    inside[order] = (flips & 1).astype(bool)
    return inside


def _seg_intersect_pairs(a0, a1, b0, b1) -> np.ndarray:
    """Proper segment intersection, paired: a*/b* all (P, 2) -> (P,) bool."""

    def cross(o, d, p):
        return d[:, 0] * (p[:, 1] - o[:, 1]) - d[:, 1] * (p[:, 0] - o[:, 0])

    da = a1 - a0
    db = b1 - b0
    s1 = cross(a0, da, b0)
    s2 = cross(a0, da, b1)
    s3 = cross(b0, db, a0)
    s4 = cross(b0, db, a1)
    return (s1 * s2 < 0) & (s3 * s4 < 0)


def _normalize_transmeridian(
    rings: list[np.ndarray],
) -> tuple[list[np.ndarray], bool]:
    """libh3-convention antimeridian handling (h3lib bbox.c/polygon.c;
    the reference's h3o polyfill inherits it): a loop with any edge
    spanning more than 180° of longitude is interpreted as CROSSING the
    antimeridian, not as wrapping the long way around the globe.  Shift
    negative longitudes +360 so the loop is contiguous in the working
    plane; downstream cell coordinates get the same shift (round-5 fix —
    a 1°-wide polygon at ±180 used to fill as its 359° complement)."""
    trans = any(
        np.abs(np.diff(r[:, 0])).max(initial=0.0) > 180.0 for r in rings
    ) or any(
        # lng > 180 present: the input is ALREADY in the shifted plane
        # (polygon_to_cells normalizes before routing to the compact
        # variant) — keep the flag without re-shifting
        r[:, 0].max(initial=-180.0) > 180.0
        for r in rings
    )
    if not trans:
        return rings, False
    out = []
    for r in rings:
        r = r.copy()
        r[r[:, 0] < 0.0, 0] += 360.0
        out.append(r)
    return out, True


def _shift_lng(lng_deg: np.ndarray, shifted: bool) -> np.ndarray:
    """Map real longitudes into the transmeridian working plane."""
    if not shifted:
        return lng_deg
    return np.where(lng_deg < 0.0, lng_deg + 360.0, lng_deg)


def _candidate_cells(
    rings: list[np.ndarray], res: int, shifted: bool = False
) -> np.ndarray:
    """Cells plausibly touching the polygon: dense sample grid over the
    bbox dilated by one cell size (spacing ~1/3 cell => every cell whose
    centroid lies in the dilated bbox is sampled — no neighbor dilation
    pass needed).  With `shifted`, ring coords live in the transmeridian
    plane (lng in (0, 360]); samples are mapped back before encoding."""
    allv = np.vstack(rings)
    minx, miny = allv.min(axis=0)
    maxx, maxy = allv.max(axis=0)
    cd = _EDGE_DEG[res]
    minx, miny, maxx, maxy = minx - cd, miny - cd, maxx + cd, maxy + cd
    # no per-axis clamp: callers bound total cells via _est_cells budgets,
    # and a clamp here would stretch the sample spacing past one cell width
    # for high-aspect-ratio polygons, silently missing covering cells
    step = cd * 0.38
    nx = int((maxx - minx) / step) + 2
    ny = int((maxy - miny) / step) + 2
    gx = np.linspace(minx, maxx, nx)
    gy = np.linspace(miny, np.minimum(maxy, 89.999), ny)
    mx, my = np.meshgrid(gx, gy)
    sample_lng = mx.ravel()
    if shifted:
        sample_lng = np.where(
            sample_lng > 180.0, sample_lng - 360.0, sample_lng
        )
    cells = latlng_to_cell(
        np.radians(my.ravel()), np.radians(sample_lng), res
    )
    return np.unique(cells[cells != -1])


def _classify_cells(
    cand: np.ndarray,
    rings: list[np.ndarray],
    res: int,
    shifted: bool = False,
):
    """Per-candidate geometry predicates vs the polygon.

    Returns (cen_in, full, intersects, covers): centroid-inside;
    fully-inside (all boundary verts in, no edge crossing, no polygon
    vertex inside the cell — the last also handles holes/islands smaller
    than a cell); boundary-overlap; and covers = intersects PLUS cells
    that contain the whole (sub-cell) geometry without touching its
    boundary — the reference's ContainmentMode::Covers distinction
    (h3ronpy/src/vector.rs:59-60; round-5 split, previously both modes
    returned the covers set).  With `shifted`, rings live in the
    transmeridian plane and cell coordinates are shifted to match."""
    clat, clng = cell_to_latlng(cand)
    cen_in = _pip(
        _shift_lng(np.degrees(clng), shifted), np.degrees(clat), rings
    )

    blat, blng, counts = cell_boundary(cand)
    blatd = np.degrees(blat)
    blngd = _shift_lng(np.degrees(blng), shifted)
    n = cand.size
    flat = blngd.ravel()
    flaty = blatd.ravel()
    fin = np.isfinite(flat)
    vin = np.zeros(flat.shape, dtype=bool)
    vin[fin] = _pip(flat[fin], flaty[fin], rings)
    vin = vin.reshape(blngd.shape)
    maxv = blngd.shape[1]
    in_range = np.arange(maxv) < counts[:, None]
    all_in = (vin | ~in_range).all(axis=1)
    any_in = (vin & in_range).any(axis=1)

    ring_edges0 = np.vstack([r[:-1] for r in rings])
    ring_edges1 = np.vstack([r[1:] for r in rings])
    cell_e0x, cell_e0y, cell_e1x, cell_e1y = [], [], [], []
    rows = []
    for v in range(maxv):
        act = np.nonzero(v < counts)[0]
        nxt = np.where(v + 1 < counts[act], v + 1, 0)
        cell_e0x.append(blngd[act, v])
        cell_e0y.append(blatd[act, v])
        cell_e1x.append(blngd[act, nxt])
        cell_e1y.append(blatd[act, nxt])
        rows.append(act)
    e0 = np.stack([np.concatenate(cell_e0x), np.concatenate(cell_e0y)], axis=-1)
    e1 = np.stack([np.concatenate(cell_e1x), np.concatenate(cell_e1y)], axis=-1)
    erows = np.concatenate(rows)
    # bbox prefilter: the exact N_cell_edges x M_ring_edges intersection
    # was the polyfill hot spot (4 cross products per pair); a 4-compare
    # bbox-overlap pass keeps only near-boundary pairs (typically <1%)
    ce_min = np.minimum(e0, e1)
    ce_max = np.maximum(e0, e1)
    re_min = np.minimum(ring_edges0, ring_edges1)
    re_max = np.maximum(ring_edges0, ring_edges1)
    overlap = (
        (ce_min[:, None, 0] <= re_max[None, :, 0])
        & (ce_max[:, None, 0] >= re_min[None, :, 0])
        & (ce_min[:, None, 1] <= re_max[None, :, 1])
        & (ce_max[:, None, 1] >= re_min[None, :, 1])
    )
    pi, pj = np.nonzero(overlap)
    crossed = np.zeros(n, dtype=bool)
    if pi.size:
        hits = _seg_intersect_pairs(
            e0[pi], e1[pi], ring_edges0[pj], ring_edges1[pj]
        )
        np.logical_or.at(crossed, erows[pi], hits)

    vx = np.vstack(rings)
    vlng = vx[:, 0]
    if shifted:  # back to real longitudes for encoding
        vlng = np.where(vlng > 180.0, vlng - 360.0, vlng)
    vcells = latlng_to_cell(np.radians(vx[:, 1]), np.radians(vlng), res)
    has_vert = np.isin(cand, vcells[vcells != -1])

    full = cen_in & all_in & ~crossed & ~has_vert
    # a polygon vertex inside the cell with no boundary crossing and no
    # cell vertex inside the polygon = geometry strictly inside the cell
    # (or a degenerate touch): IntersectsBoundary excludes it, Covers
    # returns the covering cell (reference semantics)
    intersects = cen_in | any_in | crossed
    covers = intersects | has_vert
    return cen_in, full, intersects, covers


def _close_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    return [
        r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
        for r in rings
    ]


def _check_pole_cap(rings: list[np.ndarray]) -> None:
    """Raise on pole-enclosing rings instead of silently returning the
    degenerate zero-area band (VERDICT r05 item 7; PARITY.md).

    A ring that encircles a pole has net wrapped-longitude winding of
    ±360° (each consecutive-vertex delta normalized into (-180, 180]);
    any ordinary polygon — including antimeridian-crossing ones — winds
    to 0.  This is the same limitation libh3's polygonToCells documents;
    the fix is the caller splitting the cap into two half-polygons that
    each touch the pole along a meridian pair."""
    for r in _close_rings(rings):
        d = np.diff(r[:, 0])
        wrapped = (d + 180.0) % 360.0 - 180.0
        # exactly-180 deltas are ambiguous (meridian-following edges of a
        # split half-cap); count them as their raw sign
        wrapped = np.where(np.abs(np.abs(d) - 180.0) < 1e-9,
                           np.sign(d) * 180.0, wrapped)
        if abs(float(wrapped.sum())) > 350.0:
            raise ValueError(
                "polygon ring winds around a pole (net longitude winding "
                "~360°); the planar fill would return a degenerate empty "
                "band — the same limitation as libh3 polygonToCells. "
                "Split the pole cap into two half-polygons at a meridian "
                "(e.g. lng [-180, 0] and [0, 180], each closed through "
                "the pole) and union the two fills."
            )


def _est_cells(rings: list[np.ndarray], res: int) -> float:
    allv = np.vstack(rings)
    minx, miny = allv.min(axis=0)
    maxx, maxy = allv.max(axis=0)
    return ((maxx - minx) / _EDGE_DEG[res] + 1) * ((maxy - miny) / _EDGE_DEG[res] + 1)


_DIRECT_BUDGET = 16384


def polygon_to_cells(
    rings: list[np.ndarray], res: int, mode: str = MODE_CENTROID
) -> np.ndarray:
    """One polygon (list of (N,2) lnglat rings, first outer) -> sorted cells
    at `res`.  Large polygons route through the hierarchical compact fill
    and are uncompacted (guarded)."""
    mode = coerce_containment_mode(mode)
    if mode not in _MODES:
        raise ValueError(f"unknown containment mode {mode!r}")
    rings = _close_rings(rings)
    _check_pole_cap(rings)
    rings, shifted = _normalize_transmeridian(rings)
    if _est_cells(rings, res) > _DIRECT_BUDGET:
        comp = polygon_to_cells_compact(rings, res, mode)
        if comp.size and IDX.children_count(comp, res).sum() > 50_000_000:
            raise ValueError(
                "polyfill would produce >50M cells; use the compact variant"
            )
        _, cells = IDX.uncompact(comp, res)
        return np.sort(cells)

    cand = _candidate_cells(rings, res, shifted)
    if cand.size == 0:
        return cand
    cen_in, full, intersects, covers = _classify_cells(
        cand, rings, res, shifted
    )
    if mode == MODE_CENTROID:
        return np.sort(cand[cen_in])
    if mode == MODE_CONTAINS:
        return np.sort(cand[full])
    if mode == MODE_INTERSECTS:
        return np.sort(cand[intersects])
    return np.sort(cand[covers])


def polygon_to_cells_compact(
    rings: list[np.ndarray], res: int, mode: str = MODE_CENTROID,
    budget: int = 4096,
) -> np.ndarray:
    """Hierarchical polyfill -> mixed-resolution (compacted) coverage.

    Starts at the finest resolution whose bbox estimate fits `budget`,
    classifies candidates into fully-inside (emitted as-is: every
    descendant is covered) and boundary-partial (children re-tested one
    resolution finer), down to `res` where the leaf partials are resolved
    per containment mode.  Cost scales with the polygon *perimeter* at
    `res`, not its area — the property that keeps country-size polygons at
    res 9+ tractable (SURVEY.md §4.2 item 3)."""
    mode = coerce_containment_mode(mode)
    rings = _close_rings(rings)
    _check_pole_cap(rings)
    rings, shifted = _normalize_transmeridian(rings)
    r0 = res
    while r0 > 0 and _est_cells(rings, r0) > budget:
        r0 -= 1
    cand = _candidate_cells(rings, r0, shifted)
    if cand.size == 0:
        return cand
    out_full = []
    cen_in, full, inter, covers = _classify_cells(cand, rings, r0, shifted)
    if r0 == res:
        if mode == MODE_CENTROID:
            return np.sort(cand[cen_in])
        if mode == MODE_CONTAINS:
            return np.sort(cand[full])
        if mode == MODE_INTERSECTS:
            return np.sort(cand[inter])
        return np.sort(cand[covers])
    out_full.append(cand[full])
    # descend through COVERS (not intersects): a coarse cell strictly
    # containing the whole polygon has no boundary overlap at all and
    # would otherwise terminate the refinement with an empty result
    partial = cand[covers & ~full]
    for r in range(r0 + 1, res + 1):
        if partial.size == 0:
            break
        _, kids = IDX.cell_to_children_flat(partial, r)
        cen_in, full, inter, covers = _classify_cells(
            kids, rings, r, shifted
        )
        if r == res:
            if mode == MODE_CENTROID:
                out_full.append(kids[cen_in])
            elif mode == MODE_CONTAINS:
                out_full.append(kids[full])
            elif mode == MODE_INTERSECTS:
                out_full.append(kids[inter])
            else:
                out_full.append(kids[covers])
            partial = kids[:0]
        else:
            out_full.append(kids[full])
            partial = kids[covers & ~full]
    cells = np.concatenate(out_full) if out_full else cand[:0]
    return IDX.compact(np.unique(cells))


def line_to_cells(coords: np.ndarray, res: int) -> np.ndarray:
    """LineString trace: dense sampling at ~1/4 cell spacing.  A segment
    spanning >180° of longitude crosses the antimeridian (same libh3
    convention as the polygon fill, round-5): interpolate on the shifted
    plane, not the long way around."""
    cells = []
    step = _EDGE_DEG[res] * 0.25
    for i in range(len(coords) - 1):
        p0, p1 = np.array(coords[i], float), np.array(coords[i + 1], float)
        if abs(p1[0] - p0[0]) > 180.0:
            if p0[0] < 0.0:
                p0 = p0 + [360.0, 0.0]
            if p1[0] < 0.0:
                p1 = p1 + [360.0, 0.0]
        d = float(np.hypot(*(p1 - p0)))
        k = max(int(d / step) + 1, 2)
        t = np.linspace(0.0, 1.0, k)
        xs = p0[0] + t * (p1[0] - p0[0])
        xs = np.where(xs > 180.0, xs - 360.0, xs)
        ys = p0[1] + t * (p1[1] - p0[1])
        cells.append(latlng_to_cell(np.radians(ys), np.radians(xs), res))
    if not cells:
        return np.array([], dtype=np.int64)
    c = np.concatenate(cells)
    return np.unique(c[c != -1])


def wkb_to_cells(
    buf: bytes | None,
    res: int,
    containment_mode: str = MODE_CENTROID,
    compact: bool = False,
) -> np.ndarray:
    """One WKB blob -> sorted deduped cells (empty array for empty/null)."""
    if buf is None:
        return np.array([], dtype=np.int64)
    g = parse_wkb(bytes(buf))
    parts = []
    if g["points"] is not None and len(g["points"]):
        p = g["points"]
        parts.append(latlng_to_cell(np.radians(p[:, 1]), np.radians(p[:, 0]), res))
    if g["lines"]:
        for line in g["lines"]:
            parts.append(line_to_cells(line, res))
    if g["polys"]:
        for rings in g["polys"]:
            if compact:
                parts.append(
                    polygon_to_cells_compact(rings, res, containment_mode)
                )
            else:
                parts.append(polygon_to_cells(rings, res, containment_mode))
    if not parts:
        return np.array([], dtype=np.int64)
    cells = np.concatenate(parts)
    cells = np.unique(cells[cells != -1])
    if compact:
        cells = IDX.compact(cells)
    return cells


def geometry_to_cells(
    geom, res: int, containment_mode: str = MODE_CENTROID,
    compact: bool = False,
) -> np.ndarray:
    """Single ``__geo_interface__`` mapping / GeoJSON-like dict -> cells
    (SURVEY.md §2.6 op 36).  Driver-side helper mirroring the reference's
    geometry_to_cells (h3ronpy/src/vector.rs:406-425)."""
    from . import wkb as W

    if hasattr(geom, "__geo_interface__"):
        geom = geom.__geo_interface__
    t = geom["type"].lower()
    coords = geom.get("coordinates")

    def rings(c):
        return [np.asarray(r, dtype=float) for r in c]

    if t == "point":
        blob = W.write_point(coords[0], coords[1])
    elif t == "linestring":
        blob = W.write_linestring(coords)
    elif t == "polygon":
        blob = W.write_polygon(rings(coords))
    elif t == "multipolygon":
        blob = W.write_multipolygon([rings(p) for p in coords])
    elif t == "multipoint":
        blob = W.write_geometrycollection(
            [W.write_point(p[0], p[1]) for p in coords]
        )
    elif t == "multilinestring":
        blob = W.write_geometrycollection(
            [W.write_linestring(line) for line in coords]
        )
    elif t == "geometrycollection":
        cells = [
            geometry_to_cells(g, res, containment_mode)
            for g in geom["geometries"]
        ]
        out = (
            np.unique(np.concatenate(cells))
            if cells
            else np.array([], dtype=np.int64)
        )
        return IDX.compact(out) if compact else out
    else:
        raise ValueError(f"unsupported geometry type {geom['type']!r}")
    return wkb_to_cells(blob, res, containment_mode, compact=compact)
