"""Vectorized IJK+ hexagon-lattice coordinate math (public H3 spec).

All functions operate on integer numpy arrays of shape (..., 3) holding
(i, j, k) coordinates, matching the aperture-7 / aperture-3 lattice algebra
of the H3 grid system.  Everything is branch-free numpy so a whole Arrow
batch is processed per call (reference computes the same algebra one array
at a time in Rust — see SURVEY.md §2.2).
"""

from __future__ import annotations

import numpy as np

from .constants import M_SIN60

# Digit (direction) constants
CENTER = 0
K_AXES = 1
J_AXES = 2
JK_AXES = 3
I_AXES = 4
IK_AXES = 5
IJ_AXES = 6
INVALID_DIGIT = 7

# unit ijk vector per digit 0..6
UNIT_VECS = np.array(
    [
        [0, 0, 0],  # center
        [0, 0, 1],  # k
        [0, 1, 0],  # j
        [0, 1, 1],  # jk
        [1, 0, 0],  # i
        [1, 0, 1],  # ik
        [1, 1, 0],  # ij
    ],
    dtype=np.int64,
)

# digit rotation lookup tables (60 deg ccw / cw)
_ROT_CCW = np.array([0, 5, 3, 1, 6, 4, 2, 7], dtype=np.int64)
# ccw: K->IK, IK->I, I->IJ, IJ->J, J->JK, JK->K
_ROT_CCW[K_AXES] = IK_AXES
_ROT_CCW[IK_AXES] = I_AXES
_ROT_CCW[I_AXES] = IJ_AXES
_ROT_CCW[IJ_AXES] = J_AXES
_ROT_CCW[J_AXES] = JK_AXES
_ROT_CCW[JK_AXES] = K_AXES
_ROT_CW = np.zeros(8, dtype=np.int64)
_ROT_CW[_ROT_CCW] = np.arange(8)
DIGIT_ROT_CCW = _ROT_CCW
DIGIT_ROT_CW = _ROT_CW


def normalize(ijk: np.ndarray) -> np.ndarray:
    """Normalize so all components >= 0 and at least one is 0."""
    ijk = np.asarray(ijk)
    m = ijk.min(axis=-1, keepdims=True)
    return ijk - m


def ijk_to_hex2d(ijk: np.ndarray) -> np.ndarray:
    """IJK+ -> planar (x, y), unit = lattice spacing."""
    i = ijk[..., 0] - ijk[..., 2]
    j = ijk[..., 1] - ijk[..., 2]
    x = i - 0.5 * j
    y = j * M_SIN60
    return np.stack([x, y], axis=-1)


def hex2d_to_ijk(v: np.ndarray) -> np.ndarray:
    """Planar (x, y) -> nearest lattice IJK+ (H3's _hex2dToCoordIJK rounding)."""
    a, b = hex2d_to_axial(v[..., 0], v[..., 1])
    k = -np.minimum(np.minimum(a, b), 0)
    return np.stack([a + k, b + k, k], axis=-1)


def hex2d_to_axial(x, y) -> tuple[np.ndarray, np.ndarray]:
    """Planar (x, y) -> nearest lattice point in axial coords (i-k, j-k)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)

    a1 = np.abs(x)
    a2 = np.abs(y)

    # first do a reverse conversion
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0

    m1 = x1.astype(np.int64)
    m2 = x2.astype(np.int64)

    r1 = x1 - m1
    r2 = x2 - m2

    i = np.zeros_like(m1)
    j = np.zeros_like(m1)

    # branchy hex-rounding, vectorized
    c_a = r1 < 0.5
    c_a1 = r1 < 1.0 / 3.0
    c_b1 = r1 < 2.0 / 3.0

    # region r1 < 1/3
    t = c_a & c_a1
    i = np.where(t, m1, i)
    j = np.where(t & ~(r2 < (1.0 + r1) / 2.0), m2 + 1, np.where(t, m2, j))

    # region 1/3 <= r1 < 1/2
    t = c_a & ~c_a1
    cond_j = r2 < (1.0 - r1)
    j = np.where(t, np.where(cond_j, m2, m2 + 1), j)
    cond_i = ((1.0 - r1) <= r2) & (r2 < (2.0 * r1))
    i = np.where(t, np.where(cond_i, m1 + 1, m1), i)

    # region 1/2 <= r1 < 2/3
    t = ~c_a & c_b1
    cond_j2 = r2 < (1.0 - r1)
    j = np.where(t, np.where(cond_j2, m2, m2 + 1), j)
    cond_i2 = ((2.0 * r1 - 1.0) < r2) & (r2 < (1.0 - r1))
    i = np.where(t, np.where(cond_i2, m1, m1 + 1), i)

    # region r1 >= 2/3
    t = ~c_a & ~c_b1
    i = np.where(t, m1 + 1, i)
    j = np.where(t & ~(r2 < (r1 / 2.0)), m2 + 1, np.where(t, m2, j))

    # fold across the axes if necessary (i, j are >= 0 here)
    neg_x = x < 0.0
    j_odd = (j % 2) != 0
    axis_i = np.where(j_odd, (j + 1) // 2, j // 2)
    diff = i - axis_i
    i = np.where(neg_x, i - (2 * diff + np.where(j_odd, 1, 0)), i)

    neg_y = y < 0.0
    i = np.where(neg_y, i - (2 * j + 1) // 2, i)
    j = np.where(neg_y, -j, j)

    return i, j


def up_ap7(ijk: np.ndarray) -> np.ndarray:
    """Coarsen one aperture-7 (counter-clockwise) resolution step."""
    i = ijk[..., 0] - ijk[..., 2]
    j = ijk[..., 1] - ijk[..., 2]
    ni = np.rint((3 * i - j) / 7.0).astype(np.int64)
    nj = np.rint((i + 2 * j) / 7.0).astype(np.int64)
    out = np.stack([ni, nj, np.zeros_like(ni)], axis=-1)
    return normalize(out)


def up_ap7r(ijk: np.ndarray) -> np.ndarray:
    """Coarsen one aperture-7 (clockwise) resolution step."""
    i = ijk[..., 0] - ijk[..., 2]
    j = ijk[..., 1] - ijk[..., 2]
    ni = np.rint((2 * i + j) / 7.0).astype(np.int64)
    nj = np.rint((3 * j - i) / 7.0).astype(np.int64)
    out = np.stack([ni, nj, np.zeros_like(ni)], axis=-1)
    return normalize(out)


def _lin(ijk: np.ndarray, iv, jv, kv) -> np.ndarray:
    M = np.array([iv, jv, kv], dtype=np.int64)  # rows: images of i, j, k
    out = (
        ijk[..., 0:1] * M[0]
        + ijk[..., 1:2] * M[1]
        + ijk[..., 2:3] * M[2]
    )
    return normalize(out)


def down_ap7(ijk: np.ndarray) -> np.ndarray:
    return _lin(ijk, (3, 0, 1), (1, 3, 0), (0, 1, 3))


def down_ap7r(ijk: np.ndarray) -> np.ndarray:
    return _lin(ijk, (3, 1, 0), (0, 3, 1), (1, 0, 3))


def down_ap3(ijk: np.ndarray) -> np.ndarray:
    return _lin(ijk, (2, 0, 1), (1, 2, 0), (0, 1, 2))


def down_ap3r(ijk: np.ndarray) -> np.ndarray:
    return _lin(ijk, (2, 1, 0), (0, 2, 1), (1, 0, 2))


def rotate60ccw(ijk: np.ndarray) -> np.ndarray:
    return _lin(ijk, (1, 1, 0), (0, 1, 1), (1, 0, 1))


def neighbor(ijk: np.ndarray, digit: np.ndarray) -> np.ndarray:
    """Translate by the unit vector of `digit` (broadcastable int array)."""
    digit = np.asarray(digit, dtype=np.int64)
    return normalize(ijk + UNIT_VECS[digit])


def unit_ijk_to_digit(ijk: np.ndarray) -> np.ndarray:
    """Normalized unit ijk -> digit 0..6; 7 (INVALID) if not a unit vector."""
    n = normalize(np.asarray(ijk))
    dig = np.full(n.shape[:-1], INVALID_DIGIT, dtype=np.int64)
    for d in range(7):
        match = np.all(n == UNIT_VECS[d], axis=-1)
        dig = np.where(match, d, dig)
    return dig
