"""Vectorized H3 index bit manipulation (public H3 index layout).

An H3 cell index is a 64-bit word: bit 63 reserved (0), bits 59-62 mode
(1 = cell, 2 = directed edge, 4 = vertex), bits 56-58 reserved/edge-or-vertex
field, bits 52-55 resolution, bits 45-51 base cell, and 15 3-bit digits
(res 1 digit highest).  Unused digits are 7.

All functions take/return numpy int64 arrays (Spark LongType); internally
the bits are manipulated through uint64 views.  Valid H3 indexes always
have bit 63 == 0, so the int64 <-> uint64 reinterpretation is lossless
(SURVEY.md §1.3).

Reference parity target: h3ronpy ops `cells_valid`, `cells_resolution`,
`change_resolution*`, `compact`/`uncompact` (SURVEY.md §2.2) — reimplemented
from the public spec, not ported.
"""

from __future__ import annotations

import numpy as np

from . import ijk as IJK
from .constants import BASE_CELL_IS_PENTAGON, NUM_BASE_CELLS
from .tables import PENT_CW_OFFSET  # noqa: F401  (used by latlng)

MODE_CELL = 1
MODE_EDGE = 2
MODE_VERTEX = 4

# Largest number of cells one expansion (a polyfill uncompacted to its
# resolution, a batch of children lists) may allocate.
MAX_EXPAND_CELLS = 50_000_000

_U = np.uint64


def _u(x) -> np.ndarray:
    a = np.asarray(x)
    if a.dtype == np.int64:
        return a.view(np.uint64)
    return a.astype(np.uint64)


def _i(x: np.ndarray) -> np.ndarray:
    return x.view(np.int64)


def get_mode(h) -> np.ndarray:
    return ((_u(h) >> _U(59)) & _U(0xF)).astype(np.int64)


def get_resolution(h) -> np.ndarray:
    return ((_u(h) >> _U(52)) & _U(0xF)).astype(np.int64)


def get_base_cell(h) -> np.ndarray:
    return ((_u(h) >> _U(45)) & _U(0x7F)).astype(np.int64)


def get_digits(h) -> np.ndarray:
    """(N,) indexes -> (N, 15) digit array for res 1..15."""
    u = _u(h)
    out = np.empty(u.shape + (15,), dtype=np.int64)
    for r in range(1, 16):
        out[..., r - 1] = ((u >> _U(45 - 3 * r)) & _U(7)).astype(np.int64)
    return out


def build_cell(base_cell, res, digits) -> np.ndarray:
    """Pack (base_cell (N,), res (N,), digits (N, 15)) into int64 indexes.

    Digits beyond each row's res are forced to 7."""
    base_cell = np.asarray(base_cell, dtype=np.int64)
    res = np.asarray(res, dtype=np.int64)
    h = (
        (_U(MODE_CELL) << _U(59))
        | (res.astype(np.uint64) << _U(52))
        | (base_cell.astype(np.uint64) << _U(45))
    )
    rr = np.arange(1, 16, dtype=np.int64)
    d = np.where(rr <= res[..., None], digits, 7).astype(np.uint64)
    for r in range(1, 16):
        h = h | (d[..., r - 1] << _U(45 - 3 * r))
    return _i(h)


def is_pentagon(h) -> np.ndarray:
    """True for valid-shaped cells that are pentagons (base cell pentagon
    and all digits 0)."""
    bc = get_base_cell(h)
    pent_bc = BASE_CELL_IS_PENTAGON[np.clip(bc, 0, NUM_BASE_CELLS - 1)] & (
        bc < NUM_BASE_CELLS
    )
    digits = get_digits(h)
    res = get_resolution(h)
    rr = np.arange(1, 16)
    in_range = rr <= res[..., None]
    all_zero = np.all(np.where(in_range, digits, 0) == 0, axis=-1)
    return pent_bc & all_zero


def is_valid_cell(h) -> np.ndarray:
    """Full H3 cell-index validation, vectorized."""
    u = _u(h)
    ok = (u >> _U(63)) == _U(0)  # high bit
    ok &= get_mode(h) == MODE_CELL
    ok &= ((u >> _U(56)) & _U(7)) == _U(0)  # reserved bits
    res = get_resolution(h)
    bc = get_base_cell(h)
    ok &= bc < NUM_BASE_CELLS
    digits = get_digits(h)
    rr = np.arange(1, 16)
    in_range = rr <= res[..., None]
    ok &= np.all(np.where(in_range, digits <= 6, digits == 7), axis=-1)
    # pentagons cannot contain a leading K digit (deleted subsequence)
    pent_bc = BASE_CELL_IS_PENTAGON[np.clip(bc, 0, NUM_BASE_CELLS - 1)]
    d = np.where(in_range, digits, 0)
    nz = d != 0
    first = np.argmax(nz, axis=-1)
    lead = np.where(
        nz.any(axis=-1),
        np.take_along_axis(d, first[..., None], axis=-1)[..., 0],
        0,
    )
    ok &= ~(pent_bc & (lead == IJK.K_AXES))
    return ok


def cell_to_parent(h, parent_res) -> np.ndarray:
    """Parent at coarser resolution; -1 (invalid) where parent_res > res.

    Pure bit math: truncate digits, set res."""
    h64 = _u(h)
    res = get_resolution(h)
    parent_res = np.broadcast_to(np.asarray(parent_res, dtype=np.int64), res.shape)
    pr = parent_res.astype(np.uint64)
    out = (h64 & ~(_U(0xF) << _U(52))) | (pr << _U(52))
    # set digits below parent_res to 7
    mask_bits = np.where(
        parent_res >= 15,
        _U(0),
        (~_U(0)) >> (_U(19) + _U(3) * pr),
    ).astype(np.uint64)
    out = out | mask_bits
    bad = parent_res > res
    return np.where(bad, np.int64(-1), _i(out))


def probe_ancestors(
    cells, sorted_cov, res_list
) -> tuple[np.ndarray, np.ndarray]:
    """Point-in-coverage probe: every (row, pos) pair where the ancestor
    of cells[row] at a resolution in res_list equals sorted_cov[pos].

    sorted_cov is ascending and may repeat a cell (overlapping polygons);
    each copy is a pair.  A row coarser than r has parent -1 at r, which
    matches no valid cell.  Pairs come grouped by res_list order, rows
    ascending within a resolution."""
    cells = np.asarray(cells, dtype=np.int64)
    rows = [np.empty(0, np.int64)]
    pos = [np.empty(0, np.int64)]
    for r in res_list:
        par = cell_to_parent(cells, r)
        lo = np.searchsorted(sorted_cov, par, "left")
        cnt = np.searchsorted(sorted_cov, par, "right") - lo
        hit = np.flatnonzero(cnt)
        reps = cnt[hit]
        rows.append(np.repeat(hit, reps))
        # run k of length reps[k] covers lo[hit[k]] .. lo[hit[k]] + reps[k] - 1
        run_start = np.cumsum(reps) - reps
        pos.append(np.arange(int(reps.sum()), dtype=np.int64)
                   + np.repeat(lo[hit] - run_start, reps))
    return np.concatenate(rows), np.concatenate(pos)


def children_count(h, child_res) -> np.ndarray:
    """Number of children at child_res (7^d for hexagons; pentagons
    1 + 5*(7^d - 1)/6)."""
    res = get_resolution(h)
    child_res = np.broadcast_to(np.asarray(child_res, dtype=np.int64), res.shape)
    d = child_res - res
    pent = is_pentagon(h)
    hexc = 7 ** np.maximum(d, 0)
    pentc = 1 + 5 * (hexc - 1) // 6
    out = np.where(pent, pentc, hexc)
    return np.where(d < 0, 0, out)


def cell_to_children_flat(h, child_res) -> tuple[np.ndarray, np.ndarray]:
    """Expand each cell to all descendants at child_res.

    Returns (parent_row_index, child_index) flat arrays; rows where
    child_res < res are omitted.  Vectorized one resolution step at a time:
    hexagons fan to 7, pentagons to 6 (digit 1/K deleted)."""
    h = np.asarray(h, dtype=np.int64)
    res = get_resolution(h)
    child_res = np.broadcast_to(np.asarray(child_res, dtype=np.int64), res.shape)
    keep = child_res >= res
    rows = np.nonzero(keep)[0]
    cur = h[keep]
    cur_rows = rows
    target = child_res[keep]
    out_rows = []
    out_cells = []
    done = get_resolution(cur) == target
    out_rows.append(cur_rows[done])
    out_cells.append(cur[done])
    cur, cur_rows, target = cur[~done], cur_rows[~done], target[~done]
    while cur.size:
        res_c = get_resolution(cur)
        pent = is_pentagon(cur)
        n = np.where(pent, 6, 7)
        rep_h = np.repeat(cur, n)
        rep_rows = np.repeat(cur_rows, n)
        rep_target = np.repeat(target, n)
        # child digit sequence per parent: 0..6, pentagons skip 1
        idx_within = np.arange(rep_h.size) - np.repeat(
            np.concatenate([[0], np.cumsum(n)[:-1]]), n
        )
        digit = np.where(np.repeat(pent, n) & (idx_within >= 1), idx_within + 1,
                         idx_within)
        new_res = (get_resolution(rep_h) + 1).astype(np.uint64)
        u = _u(rep_h)
        u = (u & ~(_U(0xF) << _U(52))) | (new_res << _U(52))
        shift = (_U(45) - _U(3) * new_res).astype(np.uint64)
        u = u & ~(_U(7) << shift)
        u = u | (digit.astype(np.uint64) << shift)
        cur = _i(u)
        cur_rows = rep_rows
        target = rep_target
        done = get_resolution(cur) == target
        out_rows.append(cur_rows[done])
        out_cells.append(cur[done])
        cur, cur_rows, target = cur[~done], cur_rows[~done], target[~done]
    return np.concatenate(out_rows), np.concatenate(out_cells)


def uncompact(h, target_res) -> tuple[np.ndarray, np.ndarray]:
    """h3 uncompact: expand to target res, omitting finer-than-target input."""
    return cell_to_children_flat(h, target_res)


def compact(cells: np.ndarray) -> np.ndarray:
    """Replace complete sibling sets by their parent, recursively.

    Input must be a duplicate-free set of valid cells (mixed resolutions
    allowed).  Returns the compacted set (sorted)."""
    cells = np.unique(np.asarray(cells, dtype=np.int64))
    out = []
    cur = cells
    while cur.size:
        res = get_resolution(cur)
        max_res = res.max()
        if max_res == 0:
            out.append(cur)
            break
        at_max = res == max_res
        keep_coarser = cur[~at_max]
        level = cur[at_max]
        parent = cell_to_parent(level, max_res - 1)
        # children under each parent
        order = np.argsort(parent, kind="stable")
        p_sorted = parent[order]
        c_sorted = level[order]
        uniq, starts, counts = np.unique(p_sorted, return_index=True,
                                         return_counts=True)
        need = np.where(is_pentagon(uniq), 6, 7)
        full = counts == need
        # cells whose parent is complete are replaced by the parent
        replaced = np.repeat(full, counts)
        out.append(c_sorted[~replaced])
        promoted = uniq[full]
        cur = np.unique(np.concatenate([keep_coarser, promoted]))
    return np.sort(np.concatenate(out)) if out else cells
