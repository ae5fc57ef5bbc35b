"""Cell boundary vertices, spherical areas, bounds (vectorized).

Reproduces h3ronpy's `cells_to_wkb_polygons` boundary geometry,
`cells_area_*` (SURVEY.md §2.3 op 15, §2.6 ops 29-31) from the public H3
boundary algorithm: cell vertices live on a class-II "substrate" grid
(aperture 3-3r[-7r] refinement), each vertex is overage-adjusted onto its
true face, and for class-III resolutions an extra vertex is inserted where
a cell edge crosses an icosahedron edge (different projection planes).

Outputs are padded arrays: (N, MAXV) lat/lng + per-row vertex counts, where
MAXV = 10 (hexagon: up to 6 + 4 distortion vertices).
"""

from __future__ import annotations

import numpy as np

from . import ijk as IJK
from . import index as IDX
from .constants import EARTH_RADIUS_KM, latlng_to_xyz
from .latlng import _adjust_overage, cell_to_fijk, fijk_to_geo
from .tables import FACE_NEIGHBOR_FACE, IJ_QUAD, JK_QUAD, KI_QUAD

MAXV = 10

# substrate-grid vertex offsets of an origin-centered cell
_VERTS_CII = np.array(
    [[2, 1, 0], [1, 2, 0], [0, 2, 1], [0, 1, 2], [1, 0, 2], [2, 0, 1]],
    dtype=np.int64,
)
_VERTS_CIII = np.array(
    [[5, 4, 0], [1, 5, 0], [0, 5, 4], [0, 1, 5], [4, 0, 5], [5, 0, 1]],
    dtype=np.int64,
)


def cell_boundary(h) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (lats (N, MAXV), lngs (N, MAXV), nverts (N,)) in radians.

    Invalid cells get nverts = 0."""
    h = np.asarray(h, dtype=np.int64).ravel()
    n = h.shape[0]
    valid = IDX.is_valid_cell(h)
    hs = np.where(valid, h, np.int64(0x08001FFFFFFFFFFF))

    face, c, res = cell_to_fijk(hs)
    pent = IDX.is_pentagon(hs)

    # substrate center: aperture 3 -> 3r (-> 7r if class III)
    sc = IJK.down_ap3r(IJK.down_ap3(c))
    adj_res = res.copy()
    odd = (res & 1) == 1
    if odd.any():
        sc[odd] = IJK.down_ap7r(sc[odd])
        adj_res = np.where(odd, res + 1, res)

    nv = np.where(pent, 5, 6)
    # vertex coords per cell: choose CII/CIII offsets by the cell's class
    offs = np.where(odd[:, None, None], _VERTS_CIII[None], _VERTS_CII[None])
    verts = sc[:, None, :] + offs  # (N, 6, 3)

    # flatten for the vectorized substrate overage adjustment
    vface = np.repeat(face, 6)
    vcoord = IJK.normalize(verts.reshape(-1, 3))
    vres = np.repeat(adj_res, 6)
    vpent = np.repeat(pent, 6)
    ov, vface, vcoord = _adjust_overage(
        vface, vcoord, vres, np.zeros_like(vface, dtype=bool), True
    )
    # pentagons can need repeated adjustment: keep adjusting every vertex
    # still reporting NEW_FACE and ALWAYS accept the result (the previous
    # code dropped adjustments that landed on a face edge, leaving those
    # vertices on overflowed coords of the wrong face — measurably
    # inflating class-II pentagon areas by ~0.5%)
    for _ in range(4):
        pend = vpent & (ov == 2)
        if not pend.any():
            break
        ov2, vface2, vcoord2 = _adjust_overage(
            vface, vcoord, vres, np.zeros_like(vface, dtype=bool), True
        )
        vface = np.where(pend, vface2, vface)
        vcoord = np.where(pend[:, None], vcoord2, vcoord)
        ov = np.where(pend, ov2, ov)

    vlat, vlng = fijk_to_geo(vface, vcoord, vres, substrate=True)
    vlat = vlat.reshape(n, 6)
    vlng = vlng.reshape(n, 6)
    vface = vface.reshape(n, 6)
    vov = ov.reshape(n, 6)

    lats = np.full((n, MAXV), np.nan)
    lngs = np.full((n, MAXV), np.nan)
    counts = np.zeros(n, dtype=np.int64)

    # class-III pentagons: every boundary edge between vertices on
    # different faces crosses an icosahedron edge and needs an inserted
    # distortion vertex (up to 5 extra; handled in its own path because
    # the intersection must be computed pairwise in the LAST vertex's
    # face chart — the home-face chart cannot represent all 5 faces
    # around the pentagon's icosa vertex)
    pent_ins = odd & pent & valid
    if pent_ins.any():
        vcoord_r = vcoord.reshape(n, 6, 3)
        for ii in np.nonzero(pent_ins)[0]:
            pl, pg = _pentagon_boundary_with_distortion(
                int(nv[ii]),
                vface[ii],
                vcoord_r[ii],
                vlat[ii],
                vlng[ii],
                int(adj_res[ii]),
            )
            kk2 = min(len(pl), MAXV)
            lats[ii, :kk2] = pl[:kk2]
            lngs[ii, :kk2] = pg[:kk2]
            counts[ii] = kk2

    # class-III hexagons whose consecutive vertices changed faces need an
    # inserted icosahedron-edge intersection vertex
    need_ins = odd & (~pent)
    prev_face = np.roll(vface, 1, axis=1)
    prev_ov = np.roll(vov, 1, axis=1)
    crosses = need_ins[:, None] & (vface != prev_face) & (prev_ov != 1)
    any_cross = crosses.any(axis=1)

    simple = ~any_cross & ~pent_ins
    if simple.any():
        m = np.nonzero(simple)[0]
        k = nv[m]
        for v in range(6):
            sel = m[k > v]
            lats[sel, v] = vlat[sel, v]
            lngs[sel, v] = vlng[sel, v]
        counts[m] = k

    # slower path with insertions (rare: only cells straddling icosa edges)
    if any_cross.any():
        idx = np.nonzero(any_cross)[0]
        verts_flat = verts.reshape(n, 6, 3)
        for ii in idx:
            f0 = int(face[ii])
            m_dim = 2 * 7 ** (int(adj_res[ii]) // 2)
            # icosa face corners in substrate hex2d coords of face f0
            v0 = np.array([3.0 * m_dim, 0.0])
            v1 = np.array([-1.5 * m_dim, 3.0 * (np.sqrt(3) / 2) * m_dim])
            v2 = np.array([-1.5 * m_dim, -3.0 * (np.sqrt(3) / 2) * m_dim])
            pts_lat, pts_lng = [], []
            kk = int(nv[ii])
            for v in range(kk):
                if crosses[ii, v]:
                    lastv = (v + kk - 1) % kk
                    # original-face substrate hex2d of both vertices
                    o0 = IJK.ijk_to_hex2d(
                        IJK.normalize(verts_flat[ii, lastv])[None, :]
                    )[0]
                    o1 = IJK.ijk_to_hex2d(
                        IJK.normalize(verts_flat[ii, v])[None, :]
                    )[0]
                    # which icosa edge: by the face the new vertex is on
                    nf = vface[ii, v] if vov[ii, v] == 2 else vface[ii, lastv]
                    if nf == FACE_NEIGHBOR_FACE[f0, IJ_QUAD]:
                        e0, e1 = v0, v1
                    elif nf == FACE_NEIGHBOR_FACE[f0, JK_QUAD]:
                        e0, e1 = v1, v2
                    else:
                        e0, e1 = v2, v0
                    # 2d segment intersection
                    d1 = o1 - o0
                    d2 = e1 - e0
                    den = d1[0] * d2[1] - d1[1] * d2[0]
                    if abs(den) > 1e-12:
                        t = ((e0[0] - o0[0]) * d2[1] - (e0[1] - o0[1]) * d2[0]) / den
                        ip = o0 + t * d1
                        ilat, ilng = _hex2d_point_to_geo(ip, f0, int(adj_res[ii]))
                        if not pts_lat or (
                            abs(pts_lat[-1] - ilat) > 1e-12
                            or abs(pts_lng[-1] - ilng) > 1e-12
                        ):
                            pts_lat.append(ilat)
                            pts_lng.append(ilng)
                la, lo = float(vlat[ii, v]), float(vlng[ii, v])
                if not pts_lat or (
                    abs(pts_lat[-1] - la) > 1e-12 or abs(pts_lng[-1] - lo) > 1e-12
                ):
                    pts_lat.append(la)
                    pts_lng.append(lo)
            kk2 = min(len(pts_lat), MAXV)
            lats[ii, :kk2] = pts_lat[:kk2]
            lngs[ii, :kk2] = pts_lng[:kk2]
            counts[ii] = kk2

    counts = np.where(valid, counts, 0)
    return lats, lngs, counts


def _quad_of(f: int, g: int) -> int:
    """Which quad direction of face f points at adjacent face g (0 if not
    adjacent)."""
    for q in (IJ_QUAD, KI_QUAD, JK_QUAD):
        if FACE_NEIGHBOR_FACE[f, q] == g:
            return q
    return 0


def _pentagon_boundary_with_distortion(
    kk: int, vface_row, vcoord_row, vlat_row, vlng_row, adj_res: int
):
    """Class-III pentagon boundary with icosahedron-edge distortion
    vertices: every edge whose endpoints sit on different faces crosses an
    icosa edge; the intersection is computed pairwise in the LAST vertex's
    face chart (the current vertex is lattice-unfolded onto that chart via
    the face-neighbor rotation+translate — the home-face chart cannot
    represent all 5 faces around the pentagon's icosahedron vertex).
    Mirrors the reference's pentagon boundary path (h3o/h3 faceijk
    _faceIjkPentToGeoBoundary semantics)."""
    from .tables import FACE_NEIGHBOR_CCWROT, FACE_NEIGHBOR_TRANSLATE

    unit_scale = (7 ** (adj_res // 2)) * 3  # substrate
    M = 2.0 * unit_scale  # substrate max_dim = icosa corner radius
    sq32 = np.sqrt(3.0) / 2.0
    v0 = np.array([M, 0.0])
    v1 = np.array([-0.5 * M, sq32 * M])
    v2 = np.array([-0.5 * M, -sq32 * M])

    pts_lat: list[float] = []
    pts_lng: list[float] = []

    def _push(la: float, lo: float) -> None:
        if not pts_lat or abs(pts_lat[-1] - la) > 1e-12 or abs(
            pts_lng[-1] - lo
        ) > 1e-12:
            pts_lat.append(la)
            pts_lng.append(lo)

    for v in range(kk):
        last = (v + kk - 1) % kk
        fC = int(vface_row[v])
        fL = int(vface_row[last])
        if fC != fL:
            qCL = _quad_of(fC, fL)
            qLC = _quad_of(fL, fC)
            if qCL and qLC:
                # unfold the current vertex onto fL's chart
                cc = vcoord_row[v].astype(np.int64)[None, :].copy()
                for _ in range(int(FACE_NEIGHBOR_CCWROT[fC, qCL])):
                    cc = IJK.rotate60ccw(cc)
                cc = IJK.normalize(
                    cc + FACE_NEIGHBOR_TRANSLATE[fC, qCL][None, :] * unit_scale
                )
                o1 = IJK.ijk_to_hex2d(cc)[0]
                o0 = IJK.ijk_to_hex2d(
                    vcoord_row[last].astype(np.int64)[None, :]
                )[0]
                if qLC == IJ_QUAD:
                    e0, e1 = v0, v1
                elif qLC == JK_QUAD:
                    e0, e1 = v1, v2
                else:
                    e0, e1 = v2, v0
                d1 = o1 - o0
                d2 = e1 - e0
                den = d1[0] * d2[1] - d1[1] * d2[0]
                if abs(den) > 1e-12:
                    t = (
                        (e0[0] - o0[0]) * d2[1] - (e0[1] - o0[1]) * d2[0]
                    ) / den
                    ip = o0 + t * d1
                    ilat, ilng = _hex2d_point_to_geo(ip, fL, adj_res)
                    _push(float(ilat), float(ilng))
        _push(float(vlat_row[v]), float(vlng_row[v]))
    return pts_lat, pts_lng


def _hex2d_point_to_geo(xy, face: int, res: int):
    """Non-lattice substrate hex2d point -> (lat, lng); mirrors fijk_to_geo
    but for float coords."""
    from .constants import (
        FACE_CENTER_GEO,
        M_SQRT7,
        RES0_U_GNOMONIC,
        geo_az_distance,
    )
    from .tables import AZ_FACE_I

    x, y = float(xy[0]), float(xy[1])
    r = float(np.hypot(x, y))
    theta = float(np.arctan2(y, x))
    r = r / (M_SQRT7**res)
    r = r / 3.0
    if res % 2 == 1:
        r = r / M_SQRT7
    r = float(np.arctan(r * RES0_U_GNOMONIC))
    az = AZ_FACE_I[face] - theta
    lat, lng = geo_az_distance(
        FACE_CENTER_GEO[face, 0], FACE_CENTER_GEO[face, 1], az, r
    )
    return float(lat), float(lng)


def cell_area_rads2(h) -> np.ndarray:
    """Exact spherical area of each cell (steradians); NaN for an
    invalid id."""
    lats, lngs, counts = cell_boundary(h)
    clat, clng = _centers(h)
    area = _poly_area_rads2(lats, lngs, counts, clat, clng)
    return np.where(counts > 0, area, np.nan)


def _centers(h):
    from .latlng import cell_to_latlng

    return cell_to_latlng(h)


def _poly_area_rads2(lats, lngs, counts, clat, clng) -> np.ndarray:
    """Sum of spherical triangle areas (v_i, v_{i+1}, center)."""
    n = lats.shape[0]
    cxyz = latlng_to_xyz(clat, clng)
    vxyz = latlng_to_xyz(lats, lngs)  # (N, MAXV, 3)
    area = np.zeros(n)
    maxc = int(counts.max()) if n else 0
    for v in range(maxc):
        nxt = np.where(v + 1 < counts, v + 1, 0)
        a = vxyz[np.arange(n), v]
        b = vxyz[np.arange(n), nxt]
        t = _sphere_tri_area(a, b, cxyz)
        area += np.where(v < counts, t, 0.0)
    return area


def _sphere_tri_area(a, b, c) -> np.ndarray:
    """Spherical triangle area via the tangent half-excess formula."""

    def side(u, v):
        # numerically stable angular distance
        return 2.0 * np.arcsin(
            np.clip(0.5 * np.linalg.norm(u - v, axis=-1), -1.0, 1.0)
        )

    ab = side(a, b)
    bc = side(b, c)
    ca = side(c, a)
    s = 0.5 * (ab + bc + ca)
    t = (
        np.tan(s / 2.0)
        * np.tan((s - ab) / 2.0)
        * np.tan((s - bc) / 2.0)
        * np.tan((s - ca) / 2.0)
    )
    return 4.0 * np.arctan(np.sqrt(np.maximum(t, 0.0)))


def cell_area_km2(h) -> np.ndarray:
    return cell_area_rads2(h) * (EARTH_RADIUS_KM**2)


def cell_area_m2(h) -> np.ndarray:
    return cell_area_km2(h) * 1e6


def cells_bounds_arrays(h) -> np.ndarray:
    """Per-cell bbox (degrees): (N, 4) [minx, miny, maxx, maxy] =
    (min lng, min lat, max lng, max lat).  Mirrors
    h3ronpy `cells_bounds_arrays` (h3ronpy/src/vector.rs:101-146)."""
    lats, lngs, counts = cell_boundary(h)
    big = counts > 0
    lat_d = np.degrees(lats)
    lng_d = np.degrees(lngs)
    minx = np.nanmin(np.where(np.isnan(lng_d), np.inf, lng_d), axis=1)
    maxx = np.nanmax(np.where(np.isnan(lng_d), -np.inf, lng_d), axis=1)
    miny = np.nanmin(np.where(np.isnan(lat_d), np.inf, lat_d), axis=1)
    maxy = np.nanmax(np.where(np.isnan(lat_d), -np.inf, lat_d), axis=1)
    out = np.stack([minx, miny, maxx, maxy], axis=-1)
    out[~big] = np.nan
    return out
