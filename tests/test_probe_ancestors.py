"""h3core.index.probe_ancestors, the point-in-coverage probe that both
pip_join(strategy='mapside') and the fused flagship run, must return
exactly the (row, coverage position) pairs a brute-force ancestor walk
finds, duplicates in the coverage included."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from h3ronpy_spark.h3core import index as IDX
from h3ronpy_spark.h3core.latlng import latlng_to_cell


def _parent(h: int, r: int) -> int:
    """Ancestor of cell `h` at resolution r <= res(h), in plain ints."""
    h = (h & ~(0xF << 52)) | (r << 52)
    for d in range(r + 1, 16):
        h |= 7 << (45 - 3 * d)
    return h


def _brute_pairs(cells, sorted_cov) -> Counter:
    pairs: Counter = Counter()
    for i, c in enumerate(int(x) for x in cells):
        ancestors = {_parent(c, r) for r in range(((c >> 52) & 0xF) + 1)}
        for j, v in enumerate(int(x) for x in sorted_cov):
            if v in ancestors:
                pairs[(i, j)] += 1
    return pairs


def _probe_pairs(cells, sorted_cov, res_list) -> Counter:
    rows, pos = IDX.probe_ancestors(cells, sorted_cov, res_list)
    assert rows.dtype == np.int64 and pos.dtype == np.int64
    return Counter(zip(rows.tolist(), pos.tolist()))


def _cells(rng, n, res):
    lat = np.radians(rng.uniform(10.0, 13.0, n))
    lng = np.radians(rng.uniform(20.0, 23.0, n))
    return latlng_to_cell(lat, lng, np.asarray(res, dtype=np.int64))


@pytest.mark.parametrize("seed", range(6))
def test_probe_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    # mixed-resolution coverage (res 4..9), plus repeated cells standing
    # in for overlapping polygons
    base = _cells(rng, 40, 9)
    cov = IDX.cell_to_parent(base, rng.integers(4, 10, base.size))
    cov = np.sort(np.concatenate([cov, rng.choice(cov, 12)]))
    # probe rows at res 3..10: some are coarser than some coverage cells
    cells = np.concatenate([
        _cells(rng, 300, rng.integers(3, 11, 300)),
        base,  # descendants of coverage cells: matches are plentiful
    ])
    res_list = sorted({int(r) for r in IDX.get_resolution(cov)})
    got = _probe_pairs(cells, cov, res_list)
    want = _brute_pairs(cells, cov)
    assert got == want
    # not vacuous: matches exist, some through a repeated coverage cell,
    # and some rows coarser than the finest coverage resolution
    assert len(want) > 20
    dup = {j for j in range(1, cov.size) if cov[j] == cov[j - 1]}
    assert any(j in dup or j + 1 in dup for _, j in want)
    assert (IDX.get_resolution(cells) < res_list[-1]).any()
    # resolutions with no coverage cell add no pairs
    assert _probe_pairs(cells, cov, list(range(16))) == want


def test_probe_empty_coverage_and_input():
    rng = np.random.default_rng(1)
    cells = _cells(rng, 50, 8)
    cov = np.sort(IDX.cell_to_parent(cells[:10], 6))
    empty = np.empty(0, np.int64)
    for args in [(cells, empty, []), (cells, empty, [6]),
                 (empty, cov, [6]), (empty, empty, [])]:
        rows, pos = IDX.probe_ancestors(*args)
        assert rows.size == 0 and pos.size == 0
        assert rows.dtype == np.int64 and pos.dtype == np.int64
