"""The spatial hash join: H3 cell as the join key.

This replaces the reference's in-process R-tree spatial index
(crates/h3arrow/src/spatial_index.rs, SURVEY.md §2.10): instead of a tree,
the H3 grid itself is the index — polygons are polyfilled to a *compact*
(mixed-resolution) coverage, the point/tile side joins via its ancestor
cell at each coverage resolution, and a plain equi-join does the
point-in-polygon assignment.  Catalyst gives hash/broadcast join, partial
aggregation, and AQE skew splitting for free.

Why compact + parent-prefix instead of exploding polygons at the target
resolution: a country polygon at res 9 is millions of cells (O(area)), but
its compact coverage is O(perimeter) — thousands.  The big side derives
ancestors with pure int64 bit math (codegen'd, no Python), so the join
stays a cheap broadcast even for continent-scale polygons.

Strategy chooser (SURVEY.md §4.2 custom item 1):
  * coverage fits the broadcast budget -> F.broadcast: zero shuffle of the
    big side — the plan every 100-TB run wants
  * otherwise -> shuffle hash join on the prefix key, with optional key
    salting for skewed dense regions on top of AQE skew handling
  * strategy='mapside' (and the fused flagship) -> one mapInArrow probe
    of a cached broadcast coverage index, when the coverage's
    mapside_index finds it non-empty and within the same budget

One coverage registry serves both joins and the flagship: join_coverage
builds (polyfill, persist) or looks up the coverage a join reads, and
its entry holds everything read of it — row count and resolutions, the
broadcast index, the footprint index — plus whether the engine
persisted it.  The map-side plan collects the index and releases an own
coverage; the Catalyst plan reads the coverage, which stays persisted
until the registry (one lock, _REGISTRY_MAX entries) evicts its entry.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import functions as H

# Coverage rows a map-side probe or a broadcast join may ship to every
# executor; a larger coverage takes the shuffle join.
BROADCAST_BUDGET_ROWS = 2_000_000

# The prefilter's coarse cover may have at most this many rows: a larger
# cover (500k) costs more in the single-threaded driver broadcast build
# than its extra selectivity returns (BENCH_round7_prefilter.json).
PREFILTER_MAX_ROWS = 65_536

# The coverage registry: one entry per coverage DataFrame object, holding
# the inputs a join reads of it (row count and resolutions, the collected
# broadcast indexes and their footprint indexes) and whether the engine
# persisted the coverage itself.  Callers amortize one coverage across
# many joins; results are never cached, every join recomputes fully.
# Past _REGISTRY_MAX entries the least recently used one is released.
_REGISTRY_LOCK = threading.Lock()
_REGISTRY: dict = {}  # id(cov) -> _Coverage
_REGISTRY_MAX = 4


class _Coverage:
    """A registry entry; each input is computed on its first read."""

    __slots__ = ("cov", "sc", "owned", "meta", "indexes", "footprints")

    def __init__(self, cov: DataFrame, sc, owned: bool):
        self.cov, self.sc, self.owned = cov, sc, owned
        self.meta = None  # (n_cov, res_list)
        self.indexes: dict = {}  # attr_cols -> (broadcast, res_list, n_cov)
        self.footprints: dict = {}  # rp -> rasterh3.footprint_index

    def coverage_meta(self) -> tuple[int, list[int]]:
        """(row count, sorted distinct resolutions) of the coverage."""
        if self.meta is None:
            # one aggregate gives both: the row count is the sum of the
            # per-resolution counts
            counts = self.cov.groupBy(
                H.cells_resolution(F.col("__poly_cell")).alias("r")
            ).count().collect()
            self.meta = (sum(c["count"] for c in counts),
                         sorted(c["r"] for c in counts))
        return self.meta

    def index(self, attr_cols: tuple = ("poly_id",)):
        """The coverage collected into a broadcast index for the map-side
        probe (coverage_index)."""
        if attr_cols not in self.indexes:
            index = _collect_index(self.cov, self.sc, attr_cols)
            self.indexes[attr_cols] = index
            self.meta = (index[2], index[1])
        return self.indexes[attr_cols]

    def mapside_index(self, attr_cols: tuple = ("poly_id",),
                      max_rows: int | None = None):
        """index(attr_cols) when a map-side probe may run, else None: the
        coverage is empty or has more than `max_rows` rows (default
        BROADCAST_BUDGET_ROWS, read at call time), counted before
        anything is collected.  A coverage the engine persisted is
        released once its index is collected: the map-side plan reads
        only the broadcast."""
        n_cov, res_list = self.coverage_meta()
        budget = BROADCAST_BUDGET_ROWS if max_rows is None else max_rows
        if not res_list or n_cov > budget:
            return None
        index = self.index(attr_cols)
        if self.owned:
            self.cov.unpersist()
            self.owned = False
        return index

    def footprint_index(self, rp: int) -> tuple:
        """h3core.rasterh3.footprint_index of the coverage cells at
        coarse resolution rp, built on the driver once per rp."""
        from ..h3core.rasterh3 import footprint_index

        if rp not in self.footprints:
            self.footprints[rp] = footprint_index(self.index()[0].value[0],
                                                  rp)
        return self.footprints[rp]


def _release(entry: _Coverage) -> None:
    # unpersist, not destroy: a DataFrame built on an evicted index still
    # runs (its tasks re-fetch the value), and one built on an evicted
    # coverage recomputes the polyfill
    for bc, _, _ in entry.indexes.values():
        bc.unpersist()
    if entry.owned:
        entry.cov.unpersist()


def _entry(cov: DataFrame, owned: bool = False) -> _Coverage:
    """The registry entry of `cov`, made on a miss; either way it
    becomes the most recently used."""
    sc = cov.sparkSession.sparkContext
    with _REGISTRY_LOCK:
        entry = _REGISTRY.pop(id(cov), None)
        if entry is None:
            # a stopped SparkContext took its cached rows and broadcasts
            # with it, and unpersist on its DataFrames fails: its entries
            # leave uncalled
            for k in [k for k, e in _REGISTRY.items() if e.sc is not sc]:
                del _REGISTRY[k]
            entry = _Coverage(cov, sc, owned)
        _REGISTRY[id(cov)] = entry
        while len(_REGISTRY) > _REGISTRY_MAX:
            _release(_REGISTRY.pop(next(iter(_REGISTRY))))
    return entry


def join_coverage(polygons: DataFrame | None, res: int,
                  mode: str = "containscentroid",
                  coverage: DataFrame | None = None) -> _Coverage:
    """The registry entry of the coverage a join reads.

    With coverage=None the polygons are polyfilled to a compact coverage
    and persisted, because the budget count, the index collect and a
    Catalyst plan all read it and the polyfill should run once.  The
    entry owns that coverage: its mapside_index releases it once the
    index is collected, and otherwise it stays persisted for the
    Catalyst plan until the registry evicts the entry.  A given
    coverage is used as it is, its cell column named __poly_cell."""
    if coverage is None:
        cov = polyfill_polygons(polygons, res, mode, compact=True)
        return _entry(cov.withColumnRenamed("cell", "__poly_cell")
                      .persist(), owned=True)
    if "__poly_cell" not in coverage.columns:
        coverage = coverage.withColumnRenamed("cell", "__poly_cell")
    return _entry(coverage)


def _collect_index(cov: DataFrame, sc, attr_cols: tuple):
    import numpy as np
    import pyarrow as pa

    from ..h3core import index as IDX

    cell_col = "__poly_cell" if "__poly_cell" in cov.columns else "cell"
    tbl = cov.select(
        F.col(cell_col).alias("cell"), *[F.col(c) for c in attr_cols]
    ).toArrow()
    cells = tbl.column("cell").to_numpy().astype(np.int64)
    # per column: dictionary codes, null as one extra level.  `tup`
    # numbers the distinct attr-row tuples in lexicographic order, folded
    # one column at a time with 1-D np.unique (np.unique(axis=0) on the
    # stacked codes is ~15x slower)
    tup = np.zeros(len(cells), np.int64)
    col_codes, col_vals = [], []
    for c in attr_cols:
        enc = tbl.column(c).combine_chunks().dictionary_encode()
        dic = enc.dictionary
        cc = enc.indices.fill_null(len(dic)).to_numpy().astype(np.int64)
        _, tup = np.unique(tup * (len(dic) + 1) + cc, return_inverse=True)
        col_codes.append(cc)
        col_vals.append(pa.concat_arrays([dic, pa.nulls(1, dic.type)]))
    _, first = np.unique(tup, return_index=True)
    attrs = {
        c: col_vals[i].take(pa.array(col_codes[i][first]))
        for i, c in enumerate(attr_cols)
    }
    order = np.argsort(cells, kind="stable")
    cells = cells[order]
    codes = tup[order].astype(np.int64)
    res_list = sorted(int(r) for r in np.unique(IDX.get_resolution(cells)))
    return sc.broadcast((cells, codes, attrs)), res_list, len(cells)


def coverage_index(spark, cov: DataFrame, attr_cols: tuple = ("poly_id",)):
    """Collect a coverage DataFrame into a broadcast index for the
    map-side probe: returns (broadcast[(cells_sorted, codes_sorted,
    {col: values_by_code})], res_list, n_cov).  `code` indexes the
    distinct attribute-row tuples; the values are Arrow arrays, so nulls
    and int64 past 2^53 stay exact.  Kept per (DataFrame object,
    attr_cols) in the coverage's registry entry, broadcast on the
    coverage's own SparkContext (`spark`'s)."""
    return _entry(cov).index(attr_cols)


def _pip_join_mapside(
    left: DataFrame, cov: DataFrame, cell_col: str, attr_cols: tuple, index
) -> DataFrame:
    """The map-side execution of pip_join's inner equi-join: probe the
    broadcast coverage `index` (mapside_index) with each row's
    bit-math ancestors, the exact match condition the Catalyst
    BroadcastHashJoin evaluates, in one mapInArrow pass.

    Why: a Catalyst broadcast relation is rebuilt single-threaded on
    the driver per action (~0.3-0.5 s at 329k coverage rows), while
    the index is collected once per coverage object and shipped as a
    plain broadcast variable.  Row-identical to the equi-join up to
    within-partition order (pinned by test)."""
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    bc, res_list, _ = index
    out_schema = StructType(
        list(left.schema.fields)
        + [
            StructField(c, cov.schema[c].dataType, True)
            for c in attr_cols
        ]
    )
    # mapInArrow, not mapInPandas: the pandas conversion turns a
    # null-containing int64 column into float64 and corrupts values
    # past 2^53 (cell ids!); arrow Tables keep exact types end-to-end
    attr_pa_types = [to_arrow_type(cov.schema[c].dataType)
                     for c in attr_cols]

    def assign(batches):
        import pyarrow as pa

        from ..h3core import index as IDX

        cov_cells, cov_codes, attr_vals = bc.value
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            col = tbl.column(cell_col).combine_chunks()
            valid = np.flatnonzero(col.is_valid().to_numpy(
                zero_copy_only=False))
            rows, pos = IDX.probe_ancestors(
                col.fill_null(0).to_numpy()[valid], cov_cells, res_list)
            out = tbl.take(pa.array(valid[rows]))
            codes = pa.array(cov_codes[pos])
            for acol, pat in zip(attr_cols, attr_pa_types):
                out = out.append_column(
                    pa.field(acol, pat),
                    attr_vals[acol].take(codes).cast(pat),
                )
            for ob in out.combine_chunks().to_batches():
                yield ob

    return left.mapInArrow(assign, out_schema)


def polyfill_polygons(
    polygons: DataFrame,
    res: int,
    mode: str = "containscentroid",
    wkb_col: str = "wkb",
    compact: bool = True,
) -> DataFrame:
    """polygons -> one row per covering cell (all other columns kept).

    Equivalent of the reference's geodataframe_to_cells explode
    (h3ronpy/python/h3ronpy/pandas/vector.py:74-109): wkb_to_cells kernel +
    native explode.  With compact=True the coverage is mixed-resolution
    (O(perimeter) rows)."""
    fn = H.wkb_to_cells_compact if compact else H.wkb_to_cells
    # spread the per-polygon polyfill work across cores: the polygon table
    # is small but each row is CPU-heavy
    spark = polygons.sparkSession
    par = spark.sparkContext.defaultParallelism
    return polygons.repartition(par).withColumn(
        "cell",
        F.explode(fn(F.col(wkb_col), F.lit(res), F.lit(mode))),
    ).drop(wkb_col)


def lift_coverage(
    cov: DataFrame, min_res: int, cell_col: str = "__poly_cell"
) -> DataFrame:
    """Uncompact coverage cells coarser than `min_res` up to it.

    A fully compact coverage of big polygons spans many resolutions, and
    the probe side joins via one ancestor per coverage resolution —
    narrowing the band from e.g. [2..7] to [5..7] halves the exploded
    probe rows for a tiny coverage-size increase (cells coarser than
    min_res are few by construction: O(area / 7^min_res)).

    CAUTION (round-3 measurement): this trade only pays while the lifted
    coverage stays small.  Every coverage row is built into the broadcast
    hash relation SINGLE-THREADED on the driver (a serial stage executors
    cannot help with), while probe-side ancestor rows are codegen'd and
    fully parallel.  Lifting a res-9 coverage [7..9] grew 468k -> 2.29M
    rows and turned a sub-second build into a 7-12 s driver stall that
    dominated the whole pipeline; the unlifted compact coverage was 1.6x
    faster end-to-end.  Rule of thumb: lift only bands whose lifted row
    count stays within ~2x the compact count (true for coarse, low-res
    coverages like the 24M-point scaling workload's res-7 one)."""
    from .compact import uncompact_cells

    r = H.cells_resolution(F.col(cell_col))
    coarse = cov.filter(r < min_res).withColumnRenamed(cell_col, "cell")
    fine = cov.filter(r >= min_res)
    return (
        uncompact_cells(coarse, min_res)
        .withColumnRenamed("cell", cell_col)
        .unionByName(fine)
    )


def pip_join(
    left_cells: DataFrame,
    polygons: DataFrame,
    res: int,
    mode: str = "containscentroid",
    cell_col: str = "cell",
    broadcast_threshold_rows: int = BROADCAST_BUDGET_ROWS,
    salt: int | None = None,
    how: str = "inner",
    coverage: DataFrame | None = None,
    prefilter: bool = True,
    strategy: str = "auto",
) -> DataFrame:
    """Assign polygon attributes to rows of `left_cells` (which must carry
    an H3 cell column at resolution >= the coverage resolution).

    The polygon side becomes a compact coverage; the left side joins via
    its ancestor at each resolution present in the coverage (ancestor =
    pure bit math -> stays in whole-stage codegen).  Pass a precomputed
    `coverage` (from polyfill_polygons(..., compact=True), persisted) to
    amortize the polyfill across joins at multiple point resolutions —
    coverage at res R serves any left side at res >= R.  A provided
    coverage may be lifted first (lift_coverage, then persist) to trade
    a slightly larger broadcast for fewer exploded probe rows — measured
    1.5x on the 24M-point scaling workload.

    prefilter (default True): on the NON-broadcast paths, a two-stage
    probe — an exact single-resolution cover of the coverage (parents
    of finer cells + uncompacted children of coarser ones; exact size
    known WITHOUT building it because compact cells are disjoint),
    chosen as the finest resolution fitting PREFILTER_MAX_ROWS, is
    broadcast-semi-joined against the unexploded left, so rows that
    cannot match never reach the explode or the shuffle.  Measured at
    24M points / 880k-cell coverage (BENCH_round7_prefilter.json): the
    plain-shuffle path goes 23.0 s -> 4.3 s, BROADCAST PARITY (4.9 s)
    — beyond the broadcast threshold, prefilter + AQE skew handling is
    the recommended default.  The 64k cap is the measured sweet spot
    (PREFILTER_MAX_ROWS).  The explicit `salt` path keeps its own floor
    (~2-3x broadcast) because the coverage is replicated per salt value
    and sort-merge-joined — reserve it for measured hot-key skew that
    AQE cannot split.

    how: "inner" (default) attaches polygon attributes; "left_semi" /
    "left_anti" return the left rows that do / don't fall in any
    polygon.  Semi/anti CANNOT ride directly on the prefix-exploded
    join (round-5 fix): a row explodes to one ancestor per coverage
    resolution, and anti-joining the exploded rows keeps every copy
    whose LEVEL missed — a matched point still surfaced through its
    other levels (and semi could duplicate a row matching two
    overlapping polygons at different levels).  Because match status is
    a PURE FUNCTION of the cell value (the inner join probes coverage
    by bit-math ancestors of the cell alone), semi/anti reduce to an
    equi-join of the left against the DISTINCT matched cell set
    (round-6 fix) — fully deterministic under repartitioning, AQE
    re-plans and task retries, unlike the previous
    monotonically_increasing_id row tag whose two plan-subtree
    evaluations could assign different ids to the same row.  The
    distinct-cell set is also far smaller than the row set at scale
    (many points share a cell), so the final semi/anti join often
    broadcasts where the tag join always shuffled the full left."""
    if how not in ("inner", "left_semi", "left_anti"):
        raise ValueError(
            "how must be 'inner', 'left_semi' or 'left_anti'"
        )
    if strategy not in ("auto", "mapside"):
        raise ValueError("strategy must be 'auto' or 'mapside'")
    if how in ("left_semi", "left_anti"):
        matched_cells = pip_join(
            left_cells.select(cell_col).distinct(),
            polygons,
            res,
            mode=mode,
            cell_col=cell_col,
            broadcast_threshold_rows=broadcast_threshold_rows,
            salt=salt,
            how="inner",
            coverage=coverage,
            prefilter=prefilter,
            strategy=strategy,
        ).select(cell_col).distinct()
        return left_cells.join(matched_cells, cell_col, how)
    entry = join_coverage(polygons, res, mode, coverage)
    cov = entry.cov
    # strategy='mapside': run the inner join as a map-side probe of the
    # cached coverage index instead of a Catalyst BroadcastHashJoin,
    # skipping the per-action driver-serial hash-relation build.  Needs
    # an inner join, no salt, an attribute column and a non-empty
    # coverage within the budget; otherwise the general plan below runs.
    attr_cols = tuple(c for c in cov.columns if c != "__poly_cell")
    if strategy == "mapside" and how == "inner" and not salt and attr_cols:
        index = entry.mapside_index(attr_cols, broadcast_threshold_rows)
        if index is not None:
            return _pip_join_mapside(left_cells, cov, cell_col, attr_cols,
                                     index)
    n_cov, res_list = entry.coverage_meta()
    if not res_list:
        return left_cells.join(
            polygons.drop("wkb").limit(0), F.lit(False), how
        )

    def ancestors(rows: DataFrame) -> DataFrame:
        # ancestor cell at every coverage resolution (bit math); explode
        # drops the NULLs (res finer than the row's own cell res)
        return rows.withColumn(
            "__pref",
            F.explode(
                F.array(
                    *[
                        H.change_resolution_parent(F.col(cell_col), r)
                        for r in res_list
                    ]
                )
            ),
        ).filter(F.col("__pref").isNotNull())

    prefixed = ancestors(left_cells)

    if n_cov <= broadcast_threshold_rows:
        out = prefixed.join(
            F.broadcast(cov), prefixed["__pref"] == cov["__poly_cell"], how
        )
        return out.drop("__pref", "__poly_cell")

    # ---- two-stage probe (round 7, VERDICT r06 item 5): when the
    # coverage exceeds the broadcast threshold, the exploded left side
    # pays a full shuffle — the dominant cost of the salted fallback
    # (sf1: 23.3 s salted vs 4.8 s broadcast at 24M points).  A COARSE
    # ancestor prefilter drops rows that cannot match BEFORE the
    # shuffle: every compact-coverage cell has res >= min(res_list), so
    # "ancestor(point, pres) in distinct ancestors(coverage, pres)" for
    # any pres <= min(res_list) is a necessary match condition.  The
    # coarse set is broadcast-semi-joined against the UNEXPLODED left
    # (bit-math probe, whole-stage codegen, no shuffle), shrinking both
    # the explode and the shuffle to the survivors.  For a coverage
    # spanning most of the key space the filter passes everything and
    # costs one small broadcast probe; the coarse set is capped at
    # PREFILTER_MAX_ROWS because a broadcast hash relation is built
    # single-threaded on the driver (the round-3 Amdahl rule).
    if prefilter:
        # candidate prefilter resolutions: from the coverage's coarsest
        # res (loosest, smallest set) toward its finest (tight, bigger);
        # all are sound because every left cell has res >= coverage res
        # (the operator contract).  The set size at r is EXACT without
        # building it: compact-coverage cells are disjoint, so it is
        # countDistinct(parents at r of cells with res >= r) plus
        # sum(7^(r - res)) children of cells with res < r.
        min_res, max_res = res_list[0], res_list[-1]
        cand = list(range(min_res, min(max_res, min_res + 4) + 1))
        res_col = H.cells_resolution(F.col("__poly_cell"))
        aggs = []
        for r in cand:
            aggs.append(
                F.countDistinct(
                    H.change_resolution_parent(F.col("__poly_cell"), r)
                ).alias(f"p{r}")
            )
            aggs.append(
                F.sum(
                    F.when(
                        res_col < r,
                        F.pow(F.lit(7.0), (F.lit(r) - res_col)),
                    ).otherwise(F.lit(0.0))
                ).alias(f"k{r}")
            )
        stats = cov.agg(*aggs).first()
        pres = None
        for r in sorted(cand, reverse=True):  # finest fitting candidate
            total = int(stats[f"p{r}"] or 0) + int(stats[f"k{r}"] or 0)
            if total <= PREFILTER_MAX_ROWS:
                pres = r
                break
        if pres is not None:
            parents_part = cov.where(res_col >= pres).select(
                H.change_resolution_parent(
                    F.col("__poly_cell"), pres
                ).alias("__coarse_cell")
            )
            from .compact import uncompact_cells as _uncompact

            kids_part = _uncompact(
                cov.where(res_col < pres).select(
                    F.col("__poly_cell").alias("cell")
                ),
                pres,
            ).select(F.col("cell").alias("__coarse_cell"))
            coarse = parents_part.union(kids_part).distinct()
            survivors = left_cells.join(
                F.broadcast(coarse),
                H.change_resolution_parent(F.col(cell_col), pres)
                == coarse["__coarse_cell"],
                "left_semi",
            )
            prefixed = ancestors(survivors)

    if salt and salt > 1:
        salted_cov = cov.withColumn(
            "__salt", F.explode(F.array([F.lit(i) for i in range(salt)]))
        )
        salted_left = prefixed.withColumn(
            "__salt",
            F.pmod(F.xxhash64(cell_col), F.lit(salt)).cast("int"),
        )
        out = salted_left.join(
            salted_cov,
            (salted_left["__pref"] == salted_cov["__poly_cell"])
            & (salted_left["__salt"] == salted_cov["__salt"]),
            how,
        )
        return out.drop("__pref", "__poly_cell", "__salt")

    return prefixed.join(
        cov, prefixed["__pref"] == cov["__poly_cell"], how
    ).drop("__pref", "__poly_cell")


def grid_disk_aggregate_k(
    cells: DataFrame, k: int, agg: str = "min", cell_col: str = "cell"
) -> DataFrame:
    """SURVEY.md §2.5 op 26 as a *native* Spark aggregation: explode each
    input cell's k-disk (with distances), then groupBy(cell).min/max(k).
    The reference does this in a single-threaded HashMap; here it is a
    partial+final hash aggregate."""
    if agg not in ("min", "max"):
        raise ValueError("agg must be min or max")
    exploded = cells.select(
        F.explode(
            H.grid_disk_distances(F.col(cell_col), F.lit(k))
        ).alias("dk")
    ).select(F.col("dk.cell").alias("cell"), F.col("dk.k").alias("k"))
    fn = F.min if agg == "min" else F.max
    return exploded.groupBy("cell").agg(fn("k").alias("k"))
