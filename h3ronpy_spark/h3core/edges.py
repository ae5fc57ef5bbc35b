"""Directed-edge and vertex indexes (SURVEY.md §2 ops 6-7, 9, 16, 20-21,
33-34).

Index layouts follow the public H3 spec: a directed edge is the origin
cell's bits with mode 2 and the edge direction (1..6) in bits 56-58; a
vertex is the owner cell's bits with mode 4 and the vertex number (0..5)
in bits 56-58.

Direction digits are assigned from the origin's face-frame axial offset to
each neighbor (exact: adjacent centers are one lattice unit apart, and
gnomonic distortion is far below half a unit).  Vertex ownership follows
the canonical rule: of the 3 cells incident to a topological corner, the
one with the numerically smallest index owns it.
"""

from __future__ import annotations

import numpy as np

from . import index as IDX
from .boundary import cell_boundary
from .constants import EARTH_RADIUS_KM, latlng_to_xyz, xyz_to_latlng
from .grid import neighbors
from .latlng import _SQRT7_POW, cell_to_fijk, cell_to_latlng, latlng_to_cell

_U = np.uint64
MODE_EDGE = 2
MODE_VERTEX = 4


def _with_mode_and_num(cells: np.ndarray, mode: int, num: np.ndarray) -> np.ndarray:
    u = cells.view(np.uint64) if cells.dtype == np.int64 else cells.astype(np.uint64)
    u = (u & ~(_U(0xF) << _U(59)) & ~(_U(7) << _U(56))) | (
        _U(mode) << _U(59)
    ) | (np.asarray(num, dtype=np.uint64) << _U(56))
    return u.view(np.int64)


def edge_origin(edges) -> np.ndarray:
    """Directed edge -> origin cell (pure bit relabeling; op 21)."""
    e = np.asarray(edges, dtype=np.int64)
    u = e.view(np.uint64)
    u = (u & ~(_U(0xF) << _U(59)) & ~(_U(7) << _U(56))) | (_U(1) << _U(59))
    return u.view(np.int64)


def get_edge_digit(edges) -> np.ndarray:
    e = np.asarray(edges, dtype=np.int64)
    return ((e.view(np.uint64) >> _U(56)) & _U(7)).view(np.int64).astype(np.int64)


def _neighbor_digits(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(rows, neighbor_cell, direction_digit 1..6) for every edge of every
    input cell; digit = unit axial offset of the neighbor's center in the
    origin's face frame."""
    rows, nbr = neighbors(cells)
    res = IDX.get_resolution(cells)[rows]
    oface, oc, ores = cell_to_fijk(cells[rows])
    nlat, nlng = cell_to_latlng(nbr)
    # project neighbor center onto the ORIGIN's face plane at the cell res
    from .constants import (
        FACE_CENTER_GEO,
        FACE_CENTER_XYZ,
        M_AP7_ROT_RADS,
        RES0_U_GNOMONIC,
        geo_azimuth,
        pos_angle,
    )
    from .tables import AZ_FACE_I

    p = latlng_to_xyz(nlat, nlng)
    cosd = np.clip(np.sum(p * FACE_CENTER_XYZ[oface], axis=-1), -1.0, 1.0)
    az = geo_azimuth(
        FACE_CENTER_GEO[oface, 0], FACE_CENTER_GEO[oface, 1], nlat, nlng
    )
    theta = pos_angle(AZ_FACE_I[oface] - pos_angle(az))
    theta = np.where((res & 1) == 1, pos_angle(theta - M_AP7_ROT_RADS), theta)
    r = np.tan(np.arccos(cosd)) * (_SQRT7_POW[res] / RES0_U_GNOMONIC)
    x = r * np.cos(theta)
    y = r * np.sin(theta)
    from .ijk import hex2d_to_axial

    na, nb = hex2d_to_axial(x, y)
    oa = oc[:, 0] - oc[:, 2]
    ob = oc[:, 1] - oc[:, 2]
    da = na - oa
    db = nb - ob
    from .latlng import _AXIAL_DIGIT

    ok = (np.abs(da) <= 1) & (np.abs(db) <= 1)
    idx = np.clip((da + 1) * 3 + (db + 1), 0, 8)
    dig = np.where(ok, _AXIAL_DIGIT[idx].astype(np.int64), -1)
    good = dig >= 1
    return rows[good], nbr[good], dig[good]


def cells_to_edges(cells) -> tuple[np.ndarray, np.ndarray]:
    """All directed edges originating at each cell: (row_index, edge)."""
    cells = np.asarray(cells, dtype=np.int64)
    rows, nbr, dig = _neighbor_digits(cells)
    edges = _with_mode_and_num(cells[rows], MODE_EDGE, dig)
    return rows, edges


def edge_destination(edges) -> np.ndarray:
    """Directed edge -> destination cell; -1 where the edge's origin is
    not a valid cell (such as the -1 null sentinel)."""
    edges = np.asarray(edges, dtype=np.int64)
    origin = edge_origin(edges)
    dig = get_edge_digit(edges)
    out = np.full(edges.shape, -1, dtype=np.int64)
    ok = IDX.is_valid_cell(origin)
    uniq, inv = np.unique(origin[ok], return_inverse=True)
    rows, nbr, digs = _neighbor_digits(uniq)
    # map (origin_pos, digit) -> neighbor
    key = rows * 8 + digs
    lut = dict(zip(key.tolist(), nbr.tolist()))
    want = inv * 8 + dig[ok]
    out[ok] = [lut.get(k, -1) for k in want.tolist()]
    return out


def edges_valid(edges) -> np.ndarray:
    """Structural validity.  Note: edge *digits* here are engine-canonical
    (the face-frame direction of the neighbor) — stable and
    roundtrip-consistent, but not guaranteed bit-identical to uber-H3's
    pentagon-adjacent digit choices, which cannot be cross-checked in this
    environment."""
    e = np.asarray(edges, dtype=np.int64)
    mode_ok = ((e.view(np.uint64) >> _U(59)) & _U(0xF)) == _U(MODE_EDGE)
    dig = get_edge_digit(e)
    origin_ok = IDX.is_valid_cell(edge_origin(e))
    return (
        mode_ok
        & origin_ok
        & (dig >= 1)
        & (dig <= 6)
        & ((e.view(np.uint64) >> _U(63)) == _U(0))
    )


def edge_boundary(edges) -> tuple[np.ndarray, np.ndarray]:
    """Shared boundary segment of origin/destination: (N, 2, 2) lat/lng
    (radians) endpoints; NaN where invalid."""
    edges = np.asarray(edges, dtype=np.int64)
    o = edge_origin(edges)
    d = edge_destination(edges)
    ola, olo, ocnt = cell_boundary(o)
    dla, dlo, dcnt = cell_boundary(d)
    n = edges.shape[0]
    out = np.full((n, 2, 2), np.nan)
    oxyz = latlng_to_xyz(ola, olo)
    dxyz = latlng_to_xyz(dla, dlo)
    for i in range(n):
        if d[i] == -1 or ocnt[i] == 0 or dcnt[i] == 0:
            continue
        a = oxyz[i, : ocnt[i]]
        b = dxyz[i, : dcnt[i]]
        m = a @ b.T
        shared = np.nonzero(m.max(axis=1) > 1 - 1e-12)[0]
        if shared.size >= 2:
            s = shared[:2]
            out[i, 0] = [ola[i, s[0]], olo[i, s[0]]]
            out[i, 1] = [ola[i, s[1]], olo[i, s[1]]]
    return out[:, :, 0], out[:, :, 1]


def edge_length_rads(edges) -> np.ndarray:
    """Great-circle length of the shared boundary segment, in radians of
    arc (reference exposes rads/km/m,
    crates/h3arrow/src/array/directededge.rs:17-33)."""
    lats, lngs = edge_boundary(edges)
    a = latlng_to_xyz(lats[:, 0], lngs[:, 0])
    b = latlng_to_xyz(lats[:, 1], lngs[:, 1])
    return 2.0 * np.arcsin(
        np.clip(0.5 * np.linalg.norm(a - b, axis=-1), -1.0, 1.0)
    )


def edge_length_km(edges) -> np.ndarray:
    """Great-circle length of the shared boundary segment."""
    return edge_length_rads(edges) * EARTH_RADIUS_KM


# ---------------------------------------------------------------------------
# vertexes
# ---------------------------------------------------------------------------


def cells_to_vertexes(cells) -> tuple[np.ndarray, np.ndarray]:
    """All vertex indexes of each cell: (row_index, vertex).

    Owner = smallest-index incident cell; vertex number = the corner's
    position in the owner's own boundary ordering."""
    cells = np.asarray(cells, dtype=np.int64)
    lats, lngs, counts = cell_boundary(cells)
    vxyz = latlng_to_xyz(lats, lngs)
    rows_n, nbrs = neighbors(cells)
    # boundaries of all distinct neighbors
    uniq = np.unique(np.concatenate([cells, nbrs]))
    ulats, ulngs, ucnts = cell_boundary(uniq)
    uxyz = latlng_to_xyz(ulats, ulngs)
    pos = {int(c): i for i, c in enumerate(uniq)}

    out_rows, out_verts = [], []
    for i in range(cells.shape[0]):
        k = int(counts[i])
        my_nbrs = nbrs[rows_n == i]
        cand = [int(cells[i])] + [int(x) for x in my_nbrs]
        for v in range(k):
            p = vxyz[i, v]
            incident = []
            for c in cand:
                j = pos[c]
                m = uxyz[j, : ucnts[j]] @ p
                w = int(np.argmax(m))
                if m[w] > 1 - 1e-12:
                    incident.append((c, w))
            owner, vertnum = min(incident)
            out_rows.append(i)
            out_verts.append(
                int(
                    _with_mode_and_num(
                        np.array([owner], dtype=np.int64),
                        MODE_VERTEX,
                        np.array([vertnum]),
                    )[0]
                )
            )
    return np.array(out_rows, dtype=np.int64), np.array(out_verts, dtype=np.int64)


def vertex_owner(vertexes) -> np.ndarray:
    """Vertex -> owning cell (op 20; bit relabel)."""
    v = np.asarray(vertexes, dtype=np.int64)
    u = v.view(np.uint64)
    u = (u & ~(_U(0xF) << _U(59)) & ~(_U(7) << _U(56))) | (_U(1) << _U(59))
    return u.view(np.int64)


def get_vertex_num(vertexes) -> np.ndarray:
    v = np.asarray(vertexes, dtype=np.int64)
    return ((v.view(np.uint64) >> _U(56)) & _U(7)).view(np.int64).astype(np.int64)


def vertexes_valid(vertexes) -> np.ndarray:
    v = np.asarray(vertexes, dtype=np.int64)
    mode_ok = ((v.view(np.uint64) >> _U(59)) & _U(0xF)) == _U(MODE_VERTEX)
    num = get_vertex_num(v)
    owner = vertex_owner(v)
    owner_ok = IDX.is_valid_cell(owner)
    nv = np.where(IDX.is_pentagon(owner), 5, 6)
    return (
        mode_ok & owner_ok & (num >= 0) & (num < nv)
        & ((v.view(np.uint64) >> _U(63)) == _U(0))
    )


def vertexes_to_latlng(vertexes) -> tuple[np.ndarray, np.ndarray]:
    """Vertex -> its geographic position (owner boundary corner)."""
    v = np.asarray(vertexes, dtype=np.int64)
    owner = vertex_owner(v)
    num = get_vertex_num(v)
    lats, lngs, counts = cell_boundary(owner)
    ok = vertexes_valid(v) & (num < counts)
    n = np.clip(num, 0, lats.shape[1] - 1)
    la = lats[np.arange(v.shape[0]), n]
    lo = lngs[np.arange(v.shape[0]), n]
    return np.where(ok, la, np.nan), np.where(ok, lo, np.nan)
