"""Byte-identity gate for the polyfill classifier: polygon_to_cells and
polygon_to_cells_compact must return exactly the cells of the
all-predicates reference (tests/test_polyfill_classify.py) on the
polygon corpora the contract queries and the benchmark fill:

  * the h3_pip_join polygons (synth_polygons 120, seed 7) at res 8,
  * the h3_containment_modes polygon (seed 7, poly00001) at res 7,
    every mode,
  * the flagship polygons (synth_polygons 25 and 40, seed 42) at res 8/9,
  * synth_polygons(40, seed 42) in every mode, compact at res 7 and
    plain at res 5,
  * the perfbench fresh_polygons shape (12 polygons each of seeds 7-9,
    radius 2 degrees) at res 9, every mode, compact.

Run:  python tools/validate_polyfill.py          (~5-10 min)
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import numpy as np

from h3ronpy_spark.h3core import polyfill as P
from h3ronpy_spark.h3core.wkb import parse_wkb
from h3ronpy_spark.sources.polygons import gen_polygons_pdf
from tests.test_polyfill_classify import (
    MODES,
    perfbench_polygons,
    reference_cells,
    reference_compact,
)


def _polygons(wkbs):
    return [rings for b in wkbs for rings in parse_wkb(bytes(b))["polys"]]


def check(name, polys, res, modes, compact):
    new_fn = P.polygon_to_cells_compact if compact else P.polygon_to_cells
    ref_fn = reference_compact if compact else reference_cells
    n = 0
    for mode in modes:
        for rings in polys:
            new = new_fn(rings, res, mode)
            ref = ref_fn(rings, res, mode)
            if new.dtype != ref.dtype or not np.array_equal(new, ref):
                print(f"{name:44s} MISMATCH mode={mode}")
                sys.exit(1)
            n += new.size
    kind = "compact" if compact else "plain"
    print(f"{name:44s} res={res} {kind:7s} cells={n:9d}  identical")


def main():
    pip = _polygons(gen_polygons_pdf(120, seed=7)["wkb"])
    check("h3_pip_join polygons (120, seed 7)", pip, 8, MODES[:1], True)
    modes_poly = [pip[1]]
    check("h3_containment_modes polygon", modes_poly, 7, MODES, False)
    for n, res in ((25, 8), (40, 9)):
        fl = _polygons(gen_polygons_pdf(n, seed=42)["wkb"])
        check(f"flagship polygons ({n}, seed 42)", fl, res, MODES[:1], True)
    synth = _polygons(gen_polygons_pdf(40, seed=42)["wkb"])
    check("synth_polygons (40, seed 42)", synth, 7, MODES, True)
    check("synth_polygons (40, seed 42)", synth, 5, MODES, False)
    bench = [p for s in (7, 8, 9) for p in perfbench_polygons(12, s)]
    check("perfbench fresh_polygons shape (36)", bench, 9, MODES, True)
    print("ALL IDENTICAL")


if __name__ == "__main__":
    main()
