"""Round-8: pip_join(strategy='mapside') must be row-identical (up to
order) to the default Catalyst plan — h3_pip_join runs through it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import h3ronpy_spark.functions as H
from h3ronpy_spark.operators.spatial_join import (
    pip_join,
    polyfill_polygons,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def spark():
    from h3ronpy_spark.session import get_spark

    s = get_spark(
        "local[4]", app_name="test_pip_mapside", shuffle_partitions=4
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def setup(spark):
    from h3ronpy_spark.sources.polygons import synth_polygons

    polys = synth_polygons(spark, 24, seed=7)
    cov = (
        polyfill_polygons(polys, 7, compact=True)
        .withColumnRenamed("cell", "__poly_cell")
        .persist()
    )
    cov.count()
    pts = spark.range(0, 4000).select(
        F.col("id").alias("pt_id"),
        (F.pmod(F.col("id") * 37, F.lit(14000)) / 100.0 - 65.0).alias(
            "lat"
        ),
        (F.pmod(F.col("id") * 101, F.lit(34000)) / 100.0 - 170.0).alias(
            "lng"
        ),
    )
    cells = pts.select(
        "pt_id",
        H.coordinates_to_cells("lat", "lng", F.lit(8)).alias("cell"),
    )
    return polys, cov, cells


def test_mapside_rows_identical(spark, setup):
    polys, cov, cells = setup
    auto = pip_join(cells, polys, res=8, coverage=cov)
    ms = pip_join(cells, polys, res=8, coverage=cov, strategy="mapside")
    assert [f.name for f in ms.schema.fields] == [
        f.name for f in auto.schema.fields
    ]
    assert _rows(ms) == _rows(auto)
    # matched rows exist (the comparison is not vacuous)
    assert ms.count() > 0


def test_mapside_agg_identical(spark, setup):
    polys, cov, cells = setup
    agg = lambda df: _rows(  # noqa: E731
        df.groupBy("poly_id").agg(F.count("*").alias("n"))
    )
    assert agg(
        pip_join(cells, polys, res=8, coverage=cov, strategy="mapside")
    ) == agg(pip_join(cells, polys, res=8, coverage=cov))


def test_mapside_null_cells_drop_like_inner(spark, setup):
    polys, cov, cells = setup
    withnull = cells.withColumn(
        "cell",
        F.when(F.col("pt_id") % 5 == 0, None).otherwise(F.col("cell")),
    )
    auto = pip_join(withnull, polys, res=8, coverage=cov)
    ms = pip_join(
        withnull, polys, res=8, coverage=cov, strategy="mapside"
    )
    assert _rows(ms) == _rows(auto)


def test_mapside_falls_back_when_ineligible(spark, setup):
    polys, cov, cells = setup
    # salt -> precondition fails -> same plan family as auto (a real
    # join, not a Python stage) and same rows
    salted = pip_join(
        cells, polys, res=8, coverage=cov, salt=3, strategy="mapside"
    )
    plan = salted._jdf.queryExecution().toString()
    assert "MapInArrow" not in plan and "mapInPandas" not in plan
    # and the eligible path IS the arrow map stage
    ms_plan = (
        pip_join(cells, polys, res=8, coverage=cov, strategy="mapside")
        ._jdf.queryExecution()
        .toString()
    )
    assert "MapInArrow" in ms_plan or "PythonMapInArrow" in ms_plan
    assert _rows(salted) == _rows(
        pip_join(cells, polys, res=8, coverage=cov, salt=3)
    )
    with pytest.raises(ValueError):
        pip_join(cells, polys, res=8, coverage=cov, strategy="bogus")


def test_strategy_validated_for_every_how(spark, setup):
    polys, cov, cells = setup
    for how in ("inner", "left_semi", "left_anti"):
        with pytest.raises(ValueError, match="strategy"):
            pip_join(cells, polys, res=8, coverage=cov, how=how,
                     strategy="bogus")


def test_mapside_semi_anti_match_auto(spark, setup):
    polys, cov, cells = setup
    for how in ("left_semi", "left_anti"):
        ms = pip_join(cells, polys, res=8, coverage=cov, how=how,
                      strategy="mapside")
        assert "MapInArrow" in ms._jdf.queryExecution().toString()
        assert _rows(ms) == _rows(
            pip_join(cells, polys, res=8, coverage=cov, how=how)
        )


def _null_attr_coverage(cov, col):
    # every third polygon gets a null attribute; the int64 values sit
    # past 2^53, where a float64 round trip would change them
    drop = F.pmod(F.xxhash64("poly_id"), F.lit(3)) == 0
    if col == "label":
        val = F.concat(F.lit("L-"), F.col("poly_id"))
    else:
        val = F.xxhash64("poly_id").bitwiseOR(F.lit(1 << 60))
    return cov.select(
        "__poly_cell", F.when(drop, None).otherwise(val).alias(col)
    )


@pytest.mark.parametrize("col", ["label", "big"])
def test_mapside_null_attribute_matches_auto(spark, setup, col):
    polys, cov, cells = setup
    ncov = _null_attr_coverage(cov, col)
    auto = _rows(pip_join(cells, polys, res=8, coverage=ncov))
    ms = _rows(pip_join(cells, polys, res=8, coverage=ncov,
                        strategy="mapside"))
    assert ms == auto
    vals = [r[-1] for r in auto]
    assert None in vals and any(v is not None for v in vals)
    if col == "big":
        assert any(v is not None and v > 2**53 for v in vals)


def test_mapside_leaves_no_persisted_coverage(spark, setup):
    polys, _cov, cells = setup
    few = polys.limit(4)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        pip_join(cells, few, res=8, strategy="mapside").count()
    assert jsc.getPersistentRDDs().size() == before


def test_evicted_index_dataframe_still_runs(spark, setup):
    from h3ronpy_spark.operators.spatial_join import (
        _COV_INDEX_MAX,
        coverage_index,
    )

    polys, cov, cells = setup
    own = cov.select("*")
    df = pip_join(cells, polys, res=8, coverage=own, strategy="mapside")
    want = _rows(df)
    # new coverage objects miss the cache and evict the oldest entries
    for _ in range(_COV_INDEX_MAX + 1):
        coverage_index(spark, cov.select("*"))
    assert _rows(df) == want
