"""Directed-edge and vertex index invariants (SURVEY.md §2 ops 16, 20-21,
33-34; reference surface crates/h3arrow/src/array/{directededge,vertex}.rs)."""

import numpy as np

from h3ronpy_spark.h3core import edges as E
from h3ronpy_spark.h3core import index as IDX
from h3ronpy_spark.h3core import latlng as LL
from h3ronpy_spark.h3core.grid import neighbors

d2r = np.radians

CELLS = LL.latlng_to_cell(
    d2r([45.5, 10.3, -33.9, 64.1]), d2r([10.2, 45.1, 151.2, -21.9]), 8
)


class TestEdges:
    def test_six_edges_per_hexagon(self):
        rows, eds = E.cells_to_edges(CELLS)
        assert (np.bincount(rows) == 6).all()
        assert E.edges_valid(eds).all()
        assert (E.edge_origin(eds) == CELLS[rows]).all()

    def test_pentagon_five_edges(self):
        pent0 = np.array([0x8009FFFFFFFFFFF], dtype=np.int64)
        _, kids = IDX.cell_to_children_flat(pent0, 4)
        pc = kids[IDX.is_pentagon(kids)]
        rows, eds = E.cells_to_edges(pc)
        assert eds.size == 5
        assert E.edges_valid(eds).all()
        assert len(set(E.get_edge_digit(eds).tolist())) == 5  # distinct dirs

    def test_destination_and_reverse(self):
        rows, eds = E.cells_to_edges(CELLS)
        dst = E.edge_destination(eds)
        assert (dst != -1).all()
        # destination is a neighbor of origin
        nrows, nbrs = neighbors(CELLS)
        pairs = set(zip(CELLS[nrows].tolist(), nbrs.tolist()))
        assert all(
            (int(o), int(d)) in pairs
            for o, d in zip(CELLS[rows], dst)
        )
        # reverse edges exist and lead back
        rows2, eds2 = E.cells_to_edges(np.unique(dst))
        back = E.edge_destination(eds2)
        assert set(CELLS.tolist()) <= set(back.tolist())

    def test_lengths_plausible(self):
        _, eds = E.cells_to_edges(CELLS)
        km = E.edge_length_km(eds)
        # res-8 edges are ~0.35-0.75 km depending on location
        assert ((km > 0.3) & (km < 0.8)).all()

    def test_invalid_inputs(self):
        bad = np.array(
            [0, -1, -5, 45, (1 << 63) - 1, int(CELLS[0])], dtype=np.int64
        )
        assert not E.edges_valid(bad).any()  # cells are not edges
        # -1 is the NULL sentinel of the column functions
        assert (E.edge_destination(bad) == -1).all()
        assert np.isnan(E.edge_length_km(bad)).all()


class TestVertexes:
    def test_six_vertexes_shared_ownership(self):
        rows, verts = E.cells_to_vertexes(CELLS[:2])
        assert (np.bincount(rows) == 6).all()
        assert E.vertexes_valid(verts).all()
        # adjacent cells share exactly 2 canonical vertex ids
        _, nbrs = neighbors(CELLS[:1])
        vr, vv = E.cells_to_vertexes(
            np.array([CELLS[0], nbrs[0]], dtype=np.int64)
        )
        s0 = set(vv[vr == 0].tolist())
        s1 = set(vv[vr == 1].tolist())
        assert len(s0 & s1) == 2

    def test_vertex_positions_on_owner_boundary(self):
        from h3ronpy_spark.h3core.boundary import cell_boundary

        rows, verts = E.cells_to_vertexes(CELLS[:1])
        la, lo = E.vertexes_to_latlng(verts)
        assert np.isfinite(la).all()
        # each vertex position is a boundary corner of the queried cell too
        blat, blng, cnt = cell_boundary(CELLS[:1])
        from h3ronpy_spark.h3core.constants import latlng_to_xyz

        v = latlng_to_xyz(la, lo)
        b = latlng_to_xyz(blat[0, : cnt[0]], blng[0, : cnt[0]])
        m = (v @ b.T).max(axis=1)
        assert (m > 1 - 1e-12).all()

    def test_owner_is_incident_min(self):
        rows, verts = E.cells_to_vertexes(CELLS[:2])
        owners = E.vertex_owner(verts)
        assert IDX.is_valid_cell(owners).all()
        # owner is never larger than the queried cell (min rule)
        assert (owners <= CELLS[rows]).all()
