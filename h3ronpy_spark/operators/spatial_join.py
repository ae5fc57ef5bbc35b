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
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import functions as H

# round-8: pip_join runs two metadata jobs per call on its coverage
# (row count + distinct-resolution collect).  Callers amortize the
# coverage itself across many joins (persisted, passed as the same
# DataFrame object), so the metadata is cached per DataFrame object the
# same way — measured ~0.3-0.4 s saved per call on a 329k-row coverage.
# This caches INPUT metadata, not results; the join recomputes fully.
_COV_META_LOCK = threading.Lock()
_COV_META_CACHE: dict = {}  # id(df) -> (df, n_cov, res_list)
_COV_META_MAX = 16


def _coverage_meta(cov: DataFrame) -> tuple[int, list[int]]:
    key = id(cov)
    with _COV_META_LOCK:
        hit = _COV_META_CACHE.get(key)
        if hit is not None and hit[0] is cov:
            return hit[1], hit[2]
    n_cov = cov.count()
    res_list = sorted(
        r[0]
        for r in cov.select(
            H.cells_resolution(F.col("__poly_cell")).alias("r")
        )
        .distinct()
        .collect()
    )
    with _COV_META_LOCK:
        if len(_COV_META_CACHE) >= _COV_META_MAX:
            _COV_META_CACHE.pop(next(iter(_COV_META_CACHE)))
        _COV_META_CACHE[key] = (cov, n_cov, res_list)
    return n_cov, res_list


# coverage-index cache (round 8, moved here from plans/flagship so the
# generic pip_join can offer the same map-side execution strategy): one
# collected+sorted numpy index per (coverage DataFrame object, attr
# column).  Callers amortize the coverage itself across many joins
# (persisted, same object), so the index is cached the same way —
# INPUT INDEX, not results: every action still probes it from scratch.
_COV_INDEX_LOCK = threading.Lock()
# (id(cov), attr) -> (cov, broadcast, res_list, n_cov, {rp: footprint_index})
_COV_INDEX_CACHE: dict = {}
_COV_INDEX_MAX = 8


def _cached_index(key, cov):
    with _COV_INDEX_LOCK:
        hit = _COV_INDEX_CACHE.get(key)
    return hit if hit is not None and hit[0] is cov else None


def _cache_index(key, cov, bc, res_list, n_cov) -> None:
    with _COV_INDEX_LOCK:
        if len(_COV_INDEX_CACHE) >= _COV_INDEX_MAX:
            old = _COV_INDEX_CACHE.pop(next(iter(_COV_INDEX_CACHE)))
            # unpersist, not destroy: a DataFrame built on the evicted
            # index still runs (its tasks re-fetch the value)
            old[1].unpersist()
        _COV_INDEX_CACHE[key] = (cov, bc, res_list, n_cov, {})


def coverage_index(spark, cov: DataFrame, attr_col: str = "poly_id"):
    """Collect a coverage DataFrame into a broadcast numpy index:
    (broadcast[(cells_sorted, attr_code_sorted, attr_values)],
    res_list, n_cov).  Cached per (DataFrame object, attr_col)."""
    import numpy as np

    key = (id(cov), attr_col)
    hit = _cached_index(key, cov)
    if hit is not None:
        return hit[1], hit[2], hit[3]
    cell_col = "__poly_cell" if "__poly_cell" in cov.columns else "cell"
    pdf = cov.select(
        F.col(cell_col).alias("cell"), F.col(attr_col)
    ).toPandas()
    cells = pdf["cell"].to_numpy(np.int64)
    attr_vals, attr_codes = np.unique(
        pdf[attr_col].to_numpy(dtype=object), return_inverse=True
    )
    order = np.argsort(cells, kind="stable")
    cells = cells[order]
    attr_codes = attr_codes[order].astype(np.int64)
    from ..h3core import index as IDX

    res_list = sorted(int(r) for r in np.unique(IDX.get_resolution(cells)))
    bc = spark.sparkContext.broadcast(
        (cells, attr_codes, attr_vals.astype(object))
    )
    _cache_index(key, cov, bc, res_list, len(cells))
    return bc, res_list, len(cells)


def coverage_footprint_index(spark, cov: DataFrame, rp: int,
                             attr_col: str = "poly_id") -> tuple:
    """h3core.rasterh3.footprint_index of the coverage_index entry at
    coarse resolution rp, built on the driver once per (coverage, rp)
    and kept with the entry."""
    from ..h3core.rasterh3 import footprint_index

    bc, _, _ = coverage_index(spark, cov, attr_col)
    entry = _cached_index((id(cov), attr_col), cov)
    memo = entry[4] if entry is not None else {}
    if rp not in memo:
        memo[rp] = footprint_index(bc.value[0], rp)
    return memo[rp]


def _coverage_attr_index(spark, cov: DataFrame, attr_cols: tuple):
    """coverage_index generalized to several attribute columns: returns
    (broadcast[(cells_sorted, code_sorted, {col: values_by_code})],
    res_list, n_cov) where `code` indexes the DISTINCT attr-row tuples
    and the values are Arrow arrays (nulls and int64 stay exact).
    Cached per (coverage DataFrame object, attr_cols)."""
    import numpy as np
    import pyarrow as pa

    key = (id(cov), attr_cols)
    hit = _cached_index(key, cov)
    if hit is not None:
        return hit[1], hit[2], hit[3]
    cell_col = "__poly_cell" if "__poly_cell" in cov.columns else "cell"
    tbl = cov.select(
        F.col(cell_col).alias("cell"), *[F.col(c) for c in attr_cols]
    ).toArrow()
    cells = tbl.column("cell").to_numpy().astype(np.int64)
    # per column: dictionary codes, null as one extra level; then codes
    # of the distinct attr-row tuples
    col_codes, col_vals = [], []
    for c in attr_cols:
        enc = tbl.column(c).combine_chunks().dictionary_encode()
        dic = enc.dictionary
        col_codes.append(
            enc.indices.fill_null(len(dic)).to_numpy().astype(np.int64)
        )
        col_vals.append(pa.concat_arrays([dic, pa.nulls(1, dic.type)]))
    uniq, codes = np.unique(
        np.stack(col_codes, axis=1), axis=0, return_inverse=True
    )
    attrs = {
        c: col_vals[i].take(pa.array(uniq[:, i]))
        for i, c in enumerate(attr_cols)
    }
    order = np.argsort(cells, kind="stable")
    cells = cells[order]
    codes = codes.reshape(-1)[order].astype(np.int64)
    from ..h3core import index as IDX

    res_list = sorted(int(r) for r in np.unique(IDX.get_resolution(cells)))
    bc = spark.sparkContext.broadcast((cells, codes, attrs))
    _cache_index(key, cov, bc, res_list, len(cells))
    return bc, res_list, len(cells)


def _pip_join_mapside(
    left: DataFrame, cov: DataFrame, cell_col: str, attr_cols: tuple
) -> DataFrame:
    """The map-side execution of pip_join's inner equi-join (round 8):
    probe an sc.broadcast sorted coverage index with each row's
    bit-math ancestors — the exact match condition the Catalyst
    BroadcastHashJoin evaluates — inside one mapInPandas pass.

    Why: every Catalyst broadcast relation is rebuilt single-threaded
    on the driver PER ACTION (~0.3-0.5 s at 329k coverage rows), while
    the numpy index is collected once per coverage object (cached) and
    shipped as a plain broadcast variable.  Proven in the fused
    flagship first; row-identical to the equi-join up to within-
    partition order (pinned by test) — use only through
    pip_join(strategy='mapside'), which checks the preconditions."""
    import numpy as np

    spark = left.sparkSession
    bc, res_list, _n = _coverage_attr_index(spark, cov, attr_cols)
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

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
            pos = np.flatnonzero(col.is_valid().to_numpy(
                zero_copy_only=False))
            c = col.fill_null(0).to_numpy()[pos]
            cres = IDX.get_resolution(c)
            out_src = []
            out_code = []
            for r in res_list:
                # rows coarser than this coverage res cannot match at
                # it (the equi-join's NULL-parent filter)
                sel = np.flatnonzero(cres >= r)
                par = IDX.cell_to_parent(c[sel], r)
                lo = np.searchsorted(cov_cells, par, "left")
                hi = np.searchsorted(cov_cells, par, "right")
                cnt = hi - lo
                nz = np.flatnonzero(cnt)
                if nz.size == 0:
                    continue
                reps = cnt[nz]
                base = lo[nz]
                off = np.arange(
                    int(reps.sum()), dtype=np.int64
                ) - np.repeat(np.cumsum(reps) - reps, reps)
                out_src.append(pos[sel[np.repeat(nz, reps)]])
                out_code.append(cov_codes[np.repeat(base, reps) + off])
            if out_src:
                src = np.concatenate(out_src)
                codes = np.concatenate(out_code)
            else:
                src = np.empty(0, np.int64)
                codes = np.empty(0, np.int64)
            out = tbl.take(pa.array(src))
            for acol, pat in zip(attr_cols, attr_pa_types):
                out = out.append_column(
                    pa.field(acol, pat),
                    attr_vals[acol].take(pa.array(codes)).cast(pat),
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
    broadcast_threshold_rows: int = 2_000_000,
    salt: int | None = None,
    how: str = "inner",
    coverage: DataFrame | None = None,
    min_coverage_res: int | None = None,
    prefilter: bool = True,
    prefilter_max_rows: int = 65_536,
    strategy: str = "auto",
) -> DataFrame:
    """Assign polygon attributes to rows of `left_cells` (which must carry
    an H3 cell column at resolution >= the coverage resolution).

    The polygon side becomes a compact coverage; the left side joins via
    its ancestor at each resolution present in the coverage (ancestor =
    pure bit math -> stays in whole-stage codegen).  Pass a precomputed
    `coverage` (from polyfill_polygons(..., compact=True), persisted) to
    amortize the polyfill across joins at multiple point resolutions —
    coverage at res R serves any left side at res >= R.  Use
    `min_coverage_res` to trade a slightly larger broadcast for fewer
    exploded probe rows (see lift_coverage) — measured 1.5x on the
    24M-point scaling workload.

    prefilter (default True): on the NON-broadcast paths, a two-stage
    probe — an exact single-resolution cover of the coverage (parents
    of finer cells + uncompacted children of coarser ones; exact size
    known WITHOUT building it because compact cells are disjoint),
    chosen as the finest resolution fitting `prefilter_max_rows`, is
    broadcast-semi-joined against the unexploded left, so rows that
    cannot match never reach the explode or the shuffle.  Measured at
    24M points / 880k-cell coverage (BENCH_round7_prefilter.json): the
    plain-shuffle path goes 23.0 s -> 4.3 s, BROADCAST PARITY (4.9 s)
    — beyond the broadcast threshold, prefilter + AQE skew handling is
    the recommended default.  The cap default (64k) is the measured
    sweet spot: a bigger cover (500k) costs more in the single-threaded
    driver broadcast build than its extra selectivity returns.  The
    explicit `salt` path keeps its own floor (~2-3x broadcast) because
    the coverage is replicated per salt value and sort-merge-joined —
    reserve it for measured hot-key skew that AQE cannot split.

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
            min_coverage_res=min_coverage_res,
            strategy=strategy,
        ).select(cell_col).distinct()
        return left_cells.join(matched_cells, cell_col, how)
    if coverage is None:
        cov = polyfill_polygons(polygons, res, mode, compact=True)
        cov = cov.withColumnRenamed("cell", "__poly_cell")
        if min_coverage_res is not None:
            cov = lift_coverage(cov, min_coverage_res)
        cov = cov.persist()
    else:
        cov = coverage
        if "__poly_cell" not in cov.columns:
            cov = cov.withColumnRenamed("cell", "__poly_cell")
        if min_coverage_res is not None:
            # a caller-provided coverage is usually persisted by the
            # caller; lifting it here would re-run the uncompact explode
            # on every evaluation of the join plan — apply lift_coverage
            # (and persist) on your side instead
            raise ValueError(
                "min_coverage_res only applies when pip_join builds the "
                "coverage; pre-lift a provided coverage with "
                "lift_coverage(...) and persist it"
            )
    n_cov, res_list = _coverage_meta(cov)
    # strategy='mapside' (round 8): execute the inner equi-join as a
    # map-side probe of a cached broadcast numpy index instead of a
    # Catalyst BroadcastHashJoin, skipping the per-action
    # driver-serial hash-relation build (see _pip_join_mapside).
    # Preconditions — inner join, no salt, single coverage attribute,
    # coverage within the broadcast budget, non-empty — else fall
    # through to the general plan ('auto' is unchanged round-7
    # behavior; callers amortizing one persisted coverage across many
    # actions are who this pays for).
    if strategy == "mapside":
        attr_cols = tuple(c for c in cov.columns if c != "__poly_cell")
        if (
            how == "inner"
            and not salt
            and attr_cols
            and res_list
            and n_cov <= broadcast_threshold_rows
        ):
            out = _pip_join_mapside(left_cells, cov, cell_col, attr_cols)
            if coverage is None:
                # the index is collected; the plan reads only the
                # broadcast, so the coverage persisted above can go
                cov.unpersist()
            return out
    if not res_list:
        cov.unpersist()
        return left_cells.join(
            polygons.drop("wkb").limit(0), F.lit(False), how
        )

    # left side: ancestor cell at every coverage resolution (bit math);
    # explode drops the NULLs (res finer than the row's own cell res)
    prefixed = left_cells.withColumn(
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
    # prefilter_max_rows because a broadcast hash relation is built
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
            if total <= prefilter_max_rows:
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
            prefixed = survivors.withColumn(
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
