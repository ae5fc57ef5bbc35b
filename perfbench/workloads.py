"""The benchmark workloads.

Each workload builds its inputs from the run seed, prepares what a
production scan prepares once (coverage, index), and then runs ops.  An
op is one user action on a freshly built result DataFrame: a single-row
aggregate holding the row count and an order-independent hash of the
result rows.  Every op's hash is compared with a reference computed
outside the timed window by an independent execution path.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def result_hash(df: DataFrame) -> DataFrame:
    """Single-row (rows, hash) aggregate over every column of `df`.

    The hash is the exact decimal sum of per-row xxhash64 values, so it
    is independent of row order and partitioning."""
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("hash"),
    )


def derive_seed(seed: int, *salt: int) -> int:
    """Deterministic 31-bit sub-seed of the run seed."""
    h = seed & 0xFFFFFFFF
    for s in salt:
        h = (h * 1_000_003 + s + 0x9E3779B1) & 0x7FFFFFFF
    return h


class Workload:
    """Inputs, set-up steps, ops and references of one workload.  `items`
    is what one op processes, counted in `unit`; `scale` shrinks the
    inputs for the benchmark's own tests."""

    name = ""
    unit = ""
    reference_path = ""
    RADIUS_DEG = 3.0

    def __init__(self, seed: int, scale: float = 1.0):
        self.seed = seed
        self.scale = scale
        self.spark = None
        self.image_seed = derive_seed(seed, 8)

    def sized(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))

    def polygon_frame(self, seed: int) -> DataFrame:
        return self.spark.createDataFrame(
            fixed_size_polygons(self.n_polygons, seed, self.RADIUS_DEG)
        )

    # set-up steps, each timed as its own span; a step may be a no-op
    def release(self) -> None:
        """Unpersist what an earlier set-up round persisted."""
        for name in ("cov", "cells"):
            df = getattr(self, name, None)
            if df is not None:
                df.unpersist()

    def inputs(self) -> None:
        pass

    def coverage(self) -> None:
        pass

    def index(self) -> None:
        pass

    def op(self, i: int) -> DataFrame:
        """Build op `i`'s result (i < 0 for warm-up ops)."""
        raise NotImplementedError

    def reference(self, i: int) -> DataFrame:
        """The same result as op `i`, by the independent path."""
        raise NotImplementedError

    def reference_key(self, i: int):
        """Ops sharing a key share one reference result."""
        return None

    # hooks for the layer probes (perfbench/probes.py)
    def probe_flagship(self) -> "TileJoinJpeg":
        """A prepared flagship workload: a quarter-size stand-in here."""
        fl = TileJoinJpeg(self.seed, scale=0.25)
        fl.spark = self.spark
        fl.inputs()
        fl.coverage()
        return fl

    def probe_join(self, k: int) -> tuple[DataFrame, DataFrame]:
        """(probe side, its pip_join with the default strategy)."""
        from h3ronpy_spark.operators.spatial_join import pip_join

        left = self.probe_cells()
        return left, pip_join(left, self.polys, res=self.RES,
                              coverage=self.cov)

    def probe_coverage(self) -> tuple[DataFrame, float, int, int]:
        """(coverage, build seconds, rows, polygon seed): a compact
        coverage of one op's polygon count, built and timed in the warm
        session on a polygon set (seed salt -101) that no op, warm-up or
        set-up uses."""
        from h3ronpy_spark.operators.spatial_join import polyfill_polygons

        seed = derive_seed(self.seed, 7, -101)
        t0 = time.perf_counter()
        cov = (
            polyfill_polygons(self.polygon_frame(seed), self.RES,
                              compact=True)
            .withColumnRenamed("cell", "__poly_cell")
            .persist()
        )
        rows = cov.count()
        return cov, time.perf_counter() - t0, rows, seed

    def boundary_frame(self) -> DataFrame:
        """The rows the op's main Python stage takes, in as many tasks."""
        raise NotImplementedError


class TileJoinJpeg(Workload):
    """flagship(fmt='jpeg'): generate, encode, decode, tile and map-side
    join images against a compact res-9 coverage built once in set-up."""

    name = "tile_join_jpeg"
    unit = "images"
    reference_path = "flagship(salt=4), the Catalyst fallback"

    N_IMAGES = 4096
    N_POLYGONS = 20
    RES = 9

    def __init__(self, seed, scale=1.0):
        super().__init__(seed, scale)
        self.n_images = self.items = self.sized(self.N_IMAGES, 64)
        self.n_polygons = self.sized(self.N_POLYGONS, 4)
        self.image_seed = derive_seed(seed, 1)
        self.poly_seed = derive_seed(seed, 11)
        self.lat_off = derive_seed(seed, 3) % 1_700_000
        self.lng_off = derive_seed(seed, 4) % 3_600_000

    def inputs(self):
        from h3ronpy_spark.sources.jpeg import register_jpeg_codec

        register_jpeg_codec()
        self.polys = self.polygon_frame(self.poly_seed)

    def coverage(self):
        from h3ronpy_spark.operators.spatial_join import polyfill_polygons

        self.cov = (
            polyfill_polygons(self.polys, self.RES, compact=True)
            .withColumnRenamed("cell", "__poly_cell")
            .persist()
        )
        self.cov.count()

    def index(self):
        from h3ronpy_spark.operators.spatial_join import coverage_index

        coverage_index(self.spark, self.cov)

    def _flagship(self, **kw) -> DataFrame:
        from h3ronpy_spark.plans.flagship import flagship

        # the images come from `seed`; the polygons from the coverage
        return flagship(
            self.spark,
            n_images=self.n_images,
            n_polygons=self.n_polygons,
            res=self.RES,
            seed=self.image_seed,
            coverage=self.cov,
            fmt="jpeg",
            **kw,
        )

    def op(self, i):
        return self._flagship()

    def reference(self, i):
        return self._flagship(salt=4)

    def probe_flagship(self):
        return self

    def probe_cells(self) -> DataFrame:
        import h3ronpy_spark.functions as H

        dp = self.spark.sparkContext.defaultParallelism
        return points_frame(
            self.spark, PROBE_POINTS, dp, self.lat_off, self.lng_off
        ).select("id", H.coordinates_to_cells(
            "lat", "lng", F.lit(self.RES)).alias("cell"))

    def boundary_frame(self):
        # the fused flagship stage's task count (plans/flagship.py)
        dp = self.spark.sparkContext.defaultParallelism
        parts = max(1, min(dp, (self.n_images + 255) // 256))
        return self.spark.range(0, self.n_images, 1, parts)


class FreshPolygons(Workload):
    """Each op joins a new seeded polygon set to a persisted table of
    point cells with pip_join defaults, so the coverage is built inside
    every op."""

    name = "fresh_polygons"
    unit = "polygons"
    reference_path = "pip_join(strategy='mapside')"

    N_CELLS = 200_000
    N_POLYGONS = 12
    RADIUS_DEG = 2.0
    RES = 9
    CELL_RES = 10

    def __init__(self, seed, scale=1.0):
        super().__init__(seed, scale)
        self.n_cells = self.sized(self.N_CELLS, 1000)
        self.n_polygons = self.items = self.sized(self.N_POLYGONS, 2)
        self.lat_off = derive_seed(seed, 5) % 1_700_000
        self.lng_off = derive_seed(seed, 6) % 3_600_000

    def inputs(self):
        import h3ronpy_spark.functions as H

        dp = self.spark.sparkContext.defaultParallelism
        self.cells = (
            points_frame(self.spark, self.n_cells, dp,
                         self.lat_off, self.lng_off)
            .select("id", H.coordinates_to_cells(
                "lat", "lng", F.lit(self.CELL_RES)).alias("cell"))
            .persist()
        )
        self.cells.count()

    def polygons(self, i: int) -> DataFrame:
        # warm-up ops (i < 0) draw polygon sets no measured op uses; the
        # probes use i <= -100
        return self.polygon_frame(derive_seed(self.seed, 7, i))

    def _join(self, i: int, strategy: str) -> DataFrame:
        from h3ronpy_spark.operators.spatial_join import pip_join

        return pip_join(self.cells, self.polygons(i), res=self.RES,
                        strategy=strategy)

    def op(self, i):
        return self._join(i, "auto")

    def reference(self, i):
        return self._join(i, "mapside")

    def reference_key(self, i):
        return i

    def probe_join(self, k):
        return self.cells, self._join(-110 - k, "auto")

    def boundary_frame(self):
        # the polyfill stage: one row per polygon, one task per core
        return self.polygons(-102).repartition(
            self.spark.sparkContext.defaultParallelism)


PROBE_POINTS = 262_144


def fixed_size_polygons(n: int, seed: int, radius_deg: float):
    """n seeded convex vertex fans of one ground size: the synth_polygons
    shape without its 0.5-6 degree radius spread.  The longitude radius
    is widened by 1/cos(latitude), so every polygon covers about the
    same area wherever it lands, and the coverage size, its resolution
    span and the polyfill work barely change with the seed or the op."""
    import numpy as np
    import pandas as pd

    from h3ronpy_spark.h3core.wkb import write_polygon

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        clat = rng.uniform(-50, 50)
        clng = rng.uniform(-170, 170)
        nv = int(rng.integers(6, 16))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rr = radius_deg * rng.uniform(0.85, 1.0, nv)
        stretch = 1.0 / np.cos(np.radians(clat))
        ring = np.stack([clng + rr * np.cos(ang) * stretch,
                         clat + rr * np.sin(ang) * 0.8], axis=-1)
        ring = np.vstack([ring, ring[:1]])
        rows.append((f"poly{i:05d}", write_polygon([ring]), "polygon"))
    return pd.DataFrame(rows, columns=["poly_id", "wkb", "kind"])


def points_frame(spark, n, parts, lat_off, lng_off) -> DataFrame:
    """n hashed points (the scaling_pip hash, shifted by the seed)."""
    return spark.range(0, n, 1, parts).select(
        F.col("id"),
        (F.pmod(F.col("id") * 2654435761 + lat_off, F.lit(1_700_000))
         / 10000.0 - 85.0).alias("lat"),
        (F.pmod(F.col("id") * 40503 + lng_off, F.lit(3_600_000))
         / 10000.0 - 180.0).alias("lng"),
    )


WORKLOADS = {w.name: w for w in (TileJoinJpeg, FreshPolygons)}


class Checker:
    """Compares each op's (rows, hash) with its reference, computing the
    reference once per reference key, outside the op's timed window.  A
    reference that raises fails the op."""

    def __init__(self):
        self.refs: dict = {}
        self.seconds = 0.0

    def expected(self, wl: Workload, i: int) -> tuple:
        key = wl.reference_key(i)
        if key not in self.refs:
            t0 = time.perf_counter()
            row = result_hash(wl.reference(i)).collect()[0]
            self.seconds += time.perf_counter() - t0
            self.refs[key] = (row["rows"], row["hash"])
        return self.refs[key]

    def check(self, wl: Workload, i: int, row) -> bool:
        try:
            return (row["rows"], row["hash"]) == self.expected(wl, i)
        except Exception:
            import sys
            import traceback

            traceback.print_exc(file=sys.stderr)
            return False
