"""Golden-value and invariant tests for the from-scratch H3 core.

Ports the assertion strategy of the reference test-suite (SURVEY.md §5):
golden literals pin absolute parity with the public H3 grid; roundtrips and
structural invariants pin global consistency.  Reference asserts mirrored
from h3ronpy/tests/arrow/* (cited per test).
"""

import os

import numpy as np
import pytest

from h3ronpy_spark.h3core import index as IDX
from h3ronpy_spark.h3core import latlng as LL

d2r = np.radians

POP_PARQUET = "/root/reference/h3ronpy/data/population-841fa8bffffffff.parquet"


def _pop_cells():
    import duckdb

    return (
        duckdb.sql(f"select h3index from read_parquet('{POP_PARQUET}')")
        .fetchnumpy()["h3index"]
        .astype(np.int64)
    )


class TestGolden:
    def test_latlng_to_cell_golden(self):
        # h3ronpy/tests/arrow/test_utf8.py:70-78: cell at (45.5, 10.2, 5)
        h = LL.latlng_to_cell(d2r([45.5]), d2r([10.2]), 5)
        assert h[0] == 0x851F9923FFFFFFF

    def test_change_resolution_golden(self):
        # h3ronpy/tests/polars/test_expr.py:57-64
        h8 = LL.latlng_to_cell(d2r([10.3]), d2r([45.1]), 8)
        assert IDX.cell_to_parent(h8, 5)[0] == 600436446234411007

    @pytest.mark.skipif(
        not os.path.exists(POP_PARQUET),
        reason=f"reference population parquet absent: {POP_PARQUET}",
    )
    def test_population_parquet_roundtrip(self):
        cells = _pop_cells()
        assert IDX.is_valid_cell(cells).all()
        assert (IDX.get_resolution(cells) == 10).all()
        lat, lng = LL.cell_to_latlng(cells)
        back = LL.latlng_to_cell(lat, lng, 10)
        assert (back == cells).all()
        par = np.unique(IDX.cell_to_parent(cells, 4))
        assert par.tolist() == [0x841FA8BFFFFFFFF]

    def test_res0_pentagon_index(self):
        # h3ronpy/tests/pandas/test_vector.py:14-16 uses 0x8009fffffffffff
        h = np.array([0x8009FFFFFFFFFFF], dtype=np.int64)
        assert IDX.is_valid_cell(h).all()
        assert IDX.get_resolution(h)[0] == 0
        assert IDX.get_base_cell(h)[0] == 4
        assert IDX.is_pentagon(h)[0]


class TestRoundtrips:
    def test_global_random_roundtrip(self):
        rng = np.random.default_rng(42)
        n = 100_000
        lat = np.arcsin(rng.uniform(-1, 1, n))
        lng = rng.uniform(-np.pi, np.pi, n)
        res = rng.integers(0, 16, n)
        h = LL.latlng_to_cell(lat, lng, res)
        assert IDX.is_valid_cell(h).all()
        clat, clng = LL.cell_to_latlng(h)
        assert (LL.latlng_to_cell(clat, clng, res) == h).all()

    def test_sphere_tiling_res3(self):
        # every res-3 cell decodes to a center that encodes back to itself
        # => centers are distinct => the grid tiles the sphere (validates
        # the derived pentagon rotations, SURVEY.md §7 risk 1)
        res0 = IDX.build_cell(
            np.arange(122), np.zeros(122, dtype=np.int64), np.full((122, 15), 7)
        )
        _, c3 = IDX.cell_to_children_flat(res0, 3)
        assert c3.size == 110 * 343 + 12 * 286
        lat, lng = LL.cell_to_latlng(c3)
        assert (LL.latlng_to_cell(lat, lng, 3) == c3).all()

    def test_null_propagation(self):
        h = LL.latlng_to_cell(np.array([np.nan, 0.5]), np.array([0.1, 0.2]), 5)
        assert h[0] == -1 and h[1] != -1
        lat, lng = LL.cell_to_latlng(np.array([-1, int(h[1])]))
        assert np.isnan(lat[0]) and np.isfinite(lat[1])


class TestHierarchy:
    def test_parent_of_finer(self):
        # H3 children are not perfectly spatially nested, so
        # parent(encode(p, 9), 5) == encode(p, 5) only holds away from cell
        # boundaries — but it must hold for the vast majority of points
        rng = np.random.default_rng(7)
        lat = np.arcsin(rng.uniform(-1, 1, 2000))
        lng = rng.uniform(-np.pi, np.pi, 2000)
        h9 = LL.latlng_to_cell(lat, lng, 9)
        h5 = IDX.cell_to_parent(h9, 5)
        h5d = LL.latlng_to_cell(lat, lng, 5)
        match = (h5 == h5d).mean()
        assert match > 0.90, match
        # and exactly for the cells' own centers
        clat, clng = LL.cell_to_latlng(h9)
        assert (IDX.cell_to_parent(LL.latlng_to_cell(clat, clng, 9), 5) == h5).all()

    def test_children_count_7pow(self):
        # h3ronpy/tests/arrow/test_resolution.py:8-17: res5->9 is 7^4 per
        # hexagon
        h5 = LL.latlng_to_cell(d2r([45.5]), d2r([10.2]), 5)
        rows, kids = IDX.cell_to_children_flat(h5, 9)
        assert kids.size == 7**4
        assert (IDX.cell_to_parent(kids, 5) == h5[0]).all()

    def test_children_roundtrip_parent(self):
        rng = np.random.default_rng(3)
        lat = np.arcsin(rng.uniform(-1, 1, 50))
        lng = rng.uniform(-np.pi, np.pi, 50)
        h6 = LL.latlng_to_cell(lat, lng, 6)
        rows, kids = IDX.cell_to_children_flat(h6, 8)
        assert (IDX.cell_to_parent(kids, 6) == h6[rows]).all()
        # children centers encode back into the child
        klat, klng = LL.cell_to_latlng(kids)
        assert (LL.latlng_to_cell(klat, klng, 8) == kids).all()

    def test_pentagon_children_count(self):
        pent0 = np.array([0x8009FFFFFFFFFFF], dtype=np.int64)
        _, kids = IDX.cell_to_children_flat(pent0, 1)
        assert kids.size == 6
        assert IDX.is_valid_cell(kids).all()
        _, kids2 = IDX.cell_to_children_flat(pent0, 2)
        assert kids2.size == 1 + 5 * (49 - 1) // 6  # 41

    def test_parent_res_too_fine_is_invalid(self):
        h5 = LL.latlng_to_cell(d2r([45.5]), d2r([10.2]), 5)
        assert IDX.cell_to_parent(h5, 9)[0] == -1


class TestCompact:
    def test_uncompact_res8_to_9(self):
        # h3ronpy/tests/arrow/test_compact.py:37-44
        h8 = LL.latlng_to_cell(d2r([45.5]), d2r([10.2]), 8)
        _, kids = IDX.uncompact(h8, 9)
        assert kids.size == 7

    def test_compact_inverse(self):
        # compacting all children of a cell gives back the cell
        h5 = LL.latlng_to_cell(d2r([45.5]), d2r([10.2]), 5)
        _, kids = IDX.cell_to_children_flat(h5, 8)
        out = IDX.compact(kids)
        assert out.tolist() == h5.tolist()

    def test_compact_partial(self):
        h5 = LL.latlng_to_cell(d2r([45.5]), d2r([10.2]), 5)
        _, kids = IDX.cell_to_children_flat(h5, 6)
        out = IDX.compact(kids[:-1])  # one child missing -> no compaction
        assert sorted(out.tolist()) == sorted(kids[:-1].tolist())

    def test_compact_mixed_levels(self):
        h5 = LL.latlng_to_cell(d2r([45.5]), d2r([10.2]), 5)
        _, k6 = IDX.cell_to_children_flat(h5, 6)
        _, k7 = IDX.cell_to_children_flat(k6[:1], 7)
        mixed = np.concatenate([k6[1:], k7])  # full coverage of h5
        out = IDX.compact(mixed)
        assert out.tolist() == h5.tolist()

    def test_compact_pentagon(self):
        pent = np.array([0x8009FFFFFFFFFFF], dtype=np.int64)
        _, kids = IDX.cell_to_children_flat(pent, 2)
        out = IDX.compact(kids)
        assert out.tolist() == pent.tolist()


class TestValidity:
    def test_invalid_values(self):
        # h3ronpy/tests/arrow/test_utf8.py:44-48 uses 45 as invalid
        h = np.array([45, 0, -1, 0x851F9923FFFFFFF], dtype=np.int64)
        v = IDX.is_valid_cell(h)
        assert v.tolist() == [False, False, False, True]

    def test_pentagon_leading_k_invalid(self):
        # pentagon base cell 4, res 1, digit K(1) is in the deleted
        # subsequence
        digits = np.full((1, 15), 7)
        digits[0, 0] = 1
        h = IDX.build_cell(np.array([4]), np.array([1]), digits)
        assert not IDX.is_valid_cell(h).any()
        digits[0, 0] = 2
        h = IDX.build_cell(np.array([4]), np.array([1]), digits)
        assert IDX.is_valid_cell(h).all()

    def test_resolution_extraction(self):
        rng = np.random.default_rng(1)
        lat = np.arcsin(rng.uniform(-1, 1, 64))
        lng = rng.uniform(-np.pi, np.pi, 64)
        for r in (0, 7, 15):
            h = LL.latlng_to_cell(lat, lng, r)
            assert (IDX.get_resolution(h) == r).all()


class TestGridEquivalence:
    """Pin the claim in h3core/grid.py's docstring: the lattice fast path
    and the geometric boundary-probe fallback agree exactly (whole sphere
    at res 1-2 incl. pentagons, plus sampled fine-res cells near base-cell
    boundaries)."""

    @staticmethod
    def _pairs(rows, cells):
        return set(zip(rows.tolist(), cells.tolist()))

    def _assert_equiv(self, h):
        from h3ronpy_spark.h3core.grid import _neighbors_geometric, neighbors

        fr, fc = neighbors(h)
        gr, gc = _neighbors_geometric(h)
        assert self._pairs(fr, fc) == self._pairs(gr, gc)
        # neighbor counts: 6 per hexagon, 5 per pentagon
        counts = np.bincount(fr, minlength=h.size)
        want = np.where(IDX.is_pentagon(h), 5, 6)
        assert (counts == want).all()

    def _sphere(self, res):
        res0 = IDX.build_cell(
            np.arange(122), np.zeros(122, dtype=np.int64), np.full((122, 15), 7)
        )
        _, cells = IDX.cell_to_children_flat(res0, res)
        return cells

    def test_whole_sphere_res1(self):
        self._assert_equiv(self._sphere(1))

    def test_whole_sphere_res2(self):
        self._assert_equiv(self._sphere(2))

    def test_sampled_fine_res(self):
        # random res-9 cells plus pentagon-adjacent and base-cell-boundary
        # cells (children of every res-1 cell bordering another base cell)
        rng = np.random.default_rng(7)
        lat = np.arcsin(rng.uniform(-1, 1, 256))
        lng = rng.uniform(-np.pi, np.pi, 256)
        h9 = LL.latlng_to_cell(lat, lng, 9)
        pent0 = np.array([0x8009FFFFFFFFFFF], dtype=np.int64)
        _, pk = IDX.cell_to_children_flat(pent0, 6)  # pentagon-adjacent at res 6
        self._assert_equiv(np.unique(np.concatenate([h9, pk[:300]])))

    def test_symmetry_res2(self):
        from h3ronpy_spark.h3core.grid import neighbors

        h = self._sphere(2)
        pos = {int(c): i for i, c in enumerate(h)}
        rows, cells = neighbors(h)
        fwd = self._pairs(rows, cells)
        # b in N(a)  =>  a in N(b)
        rev = {(pos[int(c)], int(h[r])) for r, c in fwd}
        assert rev == fwd

    def test_disk_sizes_away_from_pentagons(self):
        from h3ronpy_spark.h3core.grid import grid_disk_distances

        # cells far from pentagons: |disk(k)| = 1 + 3k(k+1)
        h = LL.latlng_to_cell(d2r([45.5, -12.0, 33.3]), d2r([10.2, 55.0, -100.0]), 7)
        for k in (1, 2, 3, 4):
            rows, cells, kk = grid_disk_distances(h, k)
            n = np.bincount(rows, minlength=h.size)
            assert (n == 1 + 3 * k * (k + 1)).all()
            # distances partition the disk into rings of 6*d cells
            for d in range(1, k + 1):
                ring = np.bincount(rows[kk == d], minlength=h.size)
                assert (ring == 6 * d).all()


class TestLocalIJCrossBase:
    """Cross-base-cell localij (reference
    crates/h3arrow/src/algorithm/localij.rs:94-144): pinned by lattice
    invariants — exact roundtrip over k-rings straddling base-cell
    boundaries, and axial hex distance == BFS grid distance away from
    pentagons."""

    def _ring_pairs(self):
        from h3ronpy_spark.h3core.grid import grid_disk_distances

        rng = np.random.default_rng(3)
        lat = np.arcsin(rng.uniform(-1, 1, 200))
        lng = rng.uniform(-np.pi, np.pi, 200)
        anchors = LL.latlng_to_cell(lat, lng, 5)
        rows, cells, kk = grid_disk_distances(anchors, 6)
        return anchors[rows], cells, kk

    def test_straddling_pairs_resolve_and_roundtrip(self):
        from h3ronpy_spark.h3core.localij import (
            FAIL,
            cells_to_localij,
            localij_to_cells,
        )

        anc, cells, _ = self._ring_pairs()
        bc_a = IDX.get_base_cell(anc)
        bc_c = IDX.get_base_cell(cells)
        base = IDX.build_cell(
            np.arange(122), np.zeros(122, dtype=np.int64), np.full((122, 15), 7)
        )
        pent = IDX.is_pentagon(base)
        i, j = cells_to_localij(anc, cells)
        ok = i != FAIL
        straddle = bc_a != bc_c
        assert straddle.sum() > 500  # the sample genuinely crosses bases
        # every non-pentagon straddling pair resolves
        hard = straddle & ~pent[bc_a] & ~pent[bc_c]
        assert ok[hard].all()
        # exact roundtrip for everything that resolved (incl. cross-base)
        back = localij_to_cells(anc[ok], i[ok], j[ok])
        assert (back == cells[ok]).all()

    def test_hex_distance_matches_bfs_away_from_pentagons(self):
        from h3ronpy_spark.h3core.localij import FAIL, cells_to_localij

        anc, cells, kk = self._ring_pairs()
        i, j = cells_to_localij(anc, cells)
        ok = i != FAIL
        ia, ja = cells_to_localij(anc[ok], anc[ok])
        da, db = i[ok] - ia, j[ok] - ja
        hexd = (np.abs(da) + np.abs(db) + np.abs(da - db)) // 2
        base = IDX.build_cell(
            np.arange(122), np.zeros(122, dtype=np.int64), np.full((122, 15), 7)
        )
        pent = IDX.is_pentagon(base)
        nonpent = ~pent[IDX.get_base_cell(anc[ok])]
        assert (hexd[nonpent] == kk[ok][nonpent]).all()

    def test_golden_same_base_still_exact(self):
        from h3ronpy_spark.h3core.localij import cells_to_localij

        a = np.array([0x85283473FFFFFFF], dtype=np.int64)
        c = np.array([0x8528342BFFFFFFF], dtype=np.int64)
        i, j = cells_to_localij(a, c)
        assert i[0] == 25 and j[0] == 13


class TestPentagonBoundary:
    """Pentagon boundary distortion (VERDICT round-1 gap 5): class-III
    pentagons emit 5 + 5 icosa-edge intersection vertices; class-II
    pentagon vertices lie ON the icosa edges.  Areas pin H3's published
    pentagon areas; whole-sphere area sums are exact."""

    def _pent(self, r):
        from h3ronpy_spark.h3core.boundary import cell_boundary

        p = np.array([0x8009FFFFFFFFFFF], dtype=np.int64)
        if r:
            _, kids = IDX.cell_to_children_flat(p, r)
            p = kids[IDX.is_pentagon(kids)][:1]
        return p

    def test_distortion_vertex_counts(self):
        from h3ronpy_spark.h3core.boundary import cell_boundary

        for r in range(6):
            _, _, counts = cell_boundary(self._pent(r))
            assert counts[0] == (10 if r % 2 else 5), (r, counts[0])

    def test_pentagon_area_goldens(self):
        # published H3 pentagon areas (km^2): res 0, 1, 2
        from h3ronpy_spark.h3core.boundary import cell_area_km2

        for r, want in ((0, 2562182.162955496), (1, 328434.586246), (2, 44930.898498)):
            got = cell_area_km2(self._pent(r))[0]
            assert abs(got - want) / want < 1e-6, (r, got, want)

    def test_sphere_sum_exact(self):
        from h3ronpy_spark.h3core.boundary import cell_area_km2

        res0 = IDX.build_cell(
            np.arange(122), np.zeros(122, dtype=np.int64), np.full((122, 15), 7)
        )
        sphere = 510065621.724
        for r in (1, 2):
            _, cells = IDX.cell_to_children_flat(res0, r)
            tot = cell_area_km2(cells).sum()
            assert abs(tot - sphere) / sphere < 1e-9, (r, tot)


class TestConcaveHull:
    """Concave hull invariants (reference delegates to the geo crate's
    ConcaveHull, crates/h3arrow/src/algorithm/concave_hull.rs:9-31):
    contained in the convex hull, area monotone in concavity, and every
    input point stays inside-or-on the hull."""

    @staticmethod
    def _area(ring):
        x, y = ring[:, 0], ring[:, 1]
        return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))

    @staticmethod
    def _dist_to_ring(p, ring):
        out = np.inf
        for k in range(len(ring)):
            a, b = ring[k], ring[(k + 1) % len(ring)]
            d = b - a
            t = np.clip(np.dot(p - a, d) / max(np.dot(d, d), 1e-300), 0, 1)
            out = min(out, float(np.hypot(*(p - a - t * d))))
        return out

    def test_invariants_on_l_shape(self):
        from h3ronpy_spark.h3core.hull import concave_hull, convex_hull
        from h3ronpy_spark.h3core.polyfill import _pip

        rng = np.random.default_rng(0)
        pts = np.vstack(
            [
                rng.uniform([0, 0], [1, 3], (400, 2)),
                rng.uniform([1, 0], [3, 1], (400, 2)),
            ]
        )
        cv_area = self._area(convex_hull(pts))
        prev = None
        for conc in (8.0, 4.0, 2.0):
            ch = concave_hull(pts, conc)
            a = self._area(ch)
            assert a <= cv_area + 1e-9
            if prev is not None:
                assert a <= prev + 1e-9  # smaller concavity digs deeper
            prev = a
            # containment: every point is inside or on the ring
            ring = np.vstack([ch, ch[:1]])
            cen = pts.mean(0)
            inside = _pip(
                pts[:, 0] + (cen[0] - pts[:, 0]) * 1e-9,
                pts[:, 1] + (cen[1] - pts[:, 1]) * 1e-9,
                [ring],
            )
            for p in pts[~inside]:
                assert self._dist_to_ring(p, ch) < 1e-9  # on the boundary

    def test_cells_concave_hull_wkb(self):
        from h3ronpy_spark.h3core.hull import (
            cells_concave_hull_wkb,
            cells_convex_hull_wkb,
        )
        from h3ronpy_spark.h3core.wkb import parse_wkb

        rng = np.random.default_rng(5)
        lat = np.radians(45 + rng.uniform(-1, 1, 200))
        lng = np.radians(10 + rng.uniform(-1, 1, 200))
        cells = LL.latlng_to_cell(lat, lng, 7)
        wc = parse_wkb(cells_convex_hull_wkb(cells))["polys"][0][0]
        wk = parse_wkb(cells_concave_hull_wkb(cells, 2.0))["polys"][0][0]
        assert self._area(wk[:-1]) <= self._area(wc[:-1]) + 1e-12
        assert wk.shape[0] >= wc.shape[0]  # digging only adds vertices


class TestAllocatorStateDeterminism:
    def test_boundary_bits_stable_under_heap_perturbation(self):
        """Round-4: numpy elementwise kernels can emit last-ulp-different
        results for value-identical inputs at different heap addresses
        (SIMD peel follows alignment) — caught as a ~10% flake in the
        concave-hull byte-equality test.  fijk_to_geo pins alignment;
        this pins the property: boundary/vertex/center/area outputs must
        be bit-identical regardless of allocator state."""
        import random

        from h3ronpy_spark.h3core import index as IDX
        from h3ronpy_spark.h3core import latlng as LL
        from h3ronpy_spark.h3core.boundary import cell_area_km2, cell_boundary
        from h3ronpy_spark.h3core.edges import (
            cells_to_edges,
            cells_to_vertexes,
            edge_boundary,
            vertexes_to_latlng,
        )

        h5 = LL.latlng_to_cell(
            np.radians([45.5, 45.8]), np.radians([10.2, 10.6]), 5
        )
        _, kids = IDX.cell_to_children_flat(h5, 7)
        cells = np.unique(kids)
        _, edges = cells_to_edges(cells[:200])
        _, verts = cells_to_vertexes(cells[:200])
        vids = np.sort(np.unique(verts))
        kernels = {
            "cell_boundary": lambda: cell_boundary(cells.copy()),
            "cell_to_latlng": lambda: LL.cell_to_latlng(cells.copy()),
            "vertexes_to_latlng": lambda: vertexes_to_latlng(vids.copy()),
            "edge_boundary": lambda: edge_boundary(edges.copy()),
            "cell_area_km2": lambda: cell_area_km2(cells.copy()),
        }
        refs = {k: f() for k, f in kernels.items()}

        def eq(a, b):
            if isinstance(a, tuple):
                return all(eq(x, y) for x, y in zip(a, b))
            if a.dtype.kind == "f":
                return np.array_equal(a, b, equal_nan=True)
            return np.array_equal(a, b)

        rng = random.Random(7)
        junk = []
        for _ in range(25):
            junk.append(np.random.rand(rng.randint(1, 9000)))
            for k, f in kernels.items():
                assert eq(refs[k], f()), (
                    f"{k} output bits changed with allocator state"
                )
