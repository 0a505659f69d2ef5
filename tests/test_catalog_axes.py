"""Grid axes as catalog metadata: a dense parquet entry resolves its
coordinate axes once per file set, at the first request that asks for
them, and every frame ``DatasetCatalog.load`` returns reads them trimmed
to the request's bbox, so ``grid_axes`` (and every operator that calls
it) runs no job after that. These tests pin that the recorded axes are
exactly what the aggregate recomputes, that a ragged or appended entry
never serves stale axes, and that outputs do not depend on which of the
two the operators saw."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.catalog import DatasetCatalog, points_df
from xarray_dataaccessor_spark.meta import BoundingBox
from xarray_dataaccessor_spark.operators.extraction import points_to_table
from xarray_dataaccessor_spark.operators.spatial import (
    grid_axes,
    spatial_resample,
    spatial_upsample_kernels,
)
from xarray_dataaccessor_spark.sinks.gssha import make_precipitation_input

from tests.grid_fixture import T0, XS, YS
from tests.test_plans import _jobs_run, landed_grid  # noqa: F401

VARS = ["t2m", "u100"]


def _resolved_catalog(spark, path: str) -> DatasetCatalog:
    """A catalog with ``path`` registered as "grid" and its axes already
    resolved by one whole-grid request."""
    cat = DatasetCatalog()
    cat.register("grid", path, VARS)
    grid_axes(cat.load(spark, "grid").df)
    assert cat.entries["grid"].axes is not None
    return cat


def _recorded_and_recomputed(spark, df):
    """(axes grid_axes returns for ``df``, jobs that took, axes the
    aggregate recomputes on a derived frame of the same rows)."""
    recorded, jobs = _jobs_run(spark, lambda: grid_axes(df))
    return recorded, jobs, grid_axes(df.select("*"))


def test_recorded_axes_match_aggregate_on_perfbench_requests(spark, tmp_path):
    """Every frame the catalog returns for the benchmark's four AOI
    request types, over 24 op indices (six of each type)."""
    from perfbench.grid import GridAoiRequests

    aoi = GridAoiRequests(seed=11, work=tmp_path / "aoi", smoke=False)
    aoi.setup(spark)
    kinds = set()
    for i in range(24):
        op = aoi.op(i, "t")
        start, end = aoi._window(op)
        df = aoi.catalog.load(spark, "era5_like", variables=[op["var"]],
                              bbox=aoi._bbox(op), start_time=start, end_time=end).df
        recorded, jobs, recomputed = _recorded_and_recomputed(spark, df)
        # the first request resolves the entry's axes; no later one runs a job
        assert (jobs > 0) == (i == 0), (i, op["type"])
        assert recomputed[0] and recomputed[1], op["type"]
        assert recorded == recomputed, op["type"]
        kinds.add(op["type"])
    assert kinds == set(aoi.op_types)
    assert aoi.catalog.entries["era5_like"].axes


@pytest.mark.parametrize(
    "bbox,window",
    [
        (BoundingBox(west=-83.3, south=41.5, east=-82.0, north=42.5),
         ("2019-01-31 00:00", "2019-02-01 12:00")),
        # edges exactly on grid lines: the inclusive comparisons keep them
        (BoundingBox(west=XS[2], south=YS[5], east=XS[9], north=YS[1]), (None, None)),
        # half outside the grid
        (BoundingBox(west=-90.0, south=42.0, east=-82.5, north=50.0),
         ("2019-01-30 05:00", None)),
        (None, (None, "2019-01-30 02:00")),
        (None, (None, None)),
    ],
)
def test_recorded_axes_match_aggregate_on_golden_grid(spark, landed_grid, bbox, window):
    """The golden landed grid, null values included (a null value is
    still a row, so the entry stays dense)."""
    cat = _resolved_catalog(spark, landed_grid)
    df = cat.load(spark, "grid", variables=["u100"], bbox=bbox,
                  start_time=window[0], end_time=window[1]).df
    recorded, jobs, recomputed = _recorded_and_recomputed(spark, df)
    assert jobs == 0
    assert recorded == recomputed
    # a derived frame is a new object: it recomputes, never reads its
    # parent's axes
    derived = df.filter(F.col("x") < XS[4])
    assert grid_axes(derived) == grid_axes(derived.select("*"))


def test_bbox_outside_grid_records_empty_axes(spark, landed_grid):
    cat = _resolved_catalog(spark, landed_grid)
    # the x range overlaps the grid, the y range does not: no cell is kept
    df = cat.load(spark, "grid", bbox=BoundingBox(west=-83.0, south=10.0,
                                                  east=-82.0, north=11.0)).df
    recorded, jobs, recomputed = _recorded_and_recomputed(spark, df)
    assert jobs == 0 and recorded == recomputed == ([], [])


def test_ragged_entry_records_no_axes(spark, landed_grid, tmp_path):
    """A table missing some (time, y, x) rows is not dense: the entry
    keeps no axes and every request recomputes them from its rows."""
    from xarray_dataaccessor_spark.sources.ingest import land_grid_parquet

    ragged = spark.read.parquet(landed_grid).drop("year", "month").filter(
        ~((F.col("x") == XS[0]) & (F.col("y") == YS[0])
          & (F.col("time") < T0 + dt.timedelta(hours=6)))
    )
    path = land_grid_parquet(ragged, str(tmp_path), "ragged")
    cat = DatasetCatalog()
    cat.register("ragged", path, VARS)
    gf = cat.load(spark, "ragged", bbox=BoundingBox(west=-83.5, south=42.8,
                                                    east=-83.0, north=43.0),
                  start_time="2019-01-30 00:00", end_time="2019-01-30 03:00")
    axes, jobs = _jobs_run(spark, lambda: grid_axes(gf.df))
    assert cat.entries["ragged"].axes[1] == ()
    assert jobs > 0
    # the corner cell has no row in this window, so its x is not an axis
    # value here, which a bbox trim of the entry's axes would have kept
    assert axes[0] == [x for x in XS if -83.5 <= x <= -83.0 and x != XS[0]]


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_outputs_identical_with_and_without_recorded_axes(spark, landed_grid, tmp_path):
    """Regrid rows, the point table and the .gag bytes of a catalog frame
    equal those of the same rows seen as a bare frame."""
    cat = _resolved_catalog(spark, landed_grid)
    df = cat.load(spark, "grid", variables=["u100"],
                  bbox=BoundingBox(west=-83.3, south=41.5, east=-82.0, north=42.5),
                  start_time="2019-01-31 00:00", end_time="2019-02-01 12:00").df
    bare = df.select("*")
    assert _jobs_run(spark, lambda: grid_axes(df))[1] == 0
    assert _jobs_run(spark, lambda: grid_axes(bare))[1] > 0
    for f in (
        lambda d: spatial_resample(d, resolution_factor=2, resample_method="bilinear"),
        lambda d: spatial_resample(d, resolution_factor=0.5, resample_method="average"),
        lambda d: spatial_upsample_kernels(d, 2),
        lambda d: points_to_table(
            d, points_df(spark, coords=[(42.1, -83.0), (41.6, -82.1), (41.7, -82.9)]),
            "u100",
        ),
    ):
        assert _rows(f(df)) == _rows(f(bare))
    a = make_precipitation_input(df, "u100", file_dir=tmp_path, file_name="recorded")
    b = make_precipitation_input(bare, "u100", file_dir=tmp_path, file_name="bare")
    assert a.read_bytes() == b.read_bytes()


def test_empty_window_regrids_to_zero_rows(spark, landed_grid):
    """A request whose time window holds no rows keeps its axes (as
    xarray keeps coordinates on an empty ``sel``), so it regrids and
    extracts to zero rows; the same rows as a bare frame (no axes at all)
    give the same empty results with the same schema."""
    cat = DatasetCatalog()
    cat.register("grid", landed_grid, VARS)
    bbox = BoundingBox(west=-83.3, south=41.5, east=-82.0, north=42.5)
    full = cat.load(spark, "grid", variables=["u100"], bbox=bbox).df
    empty = cat.load(spark, "grid", variables=["u100"], bbox=bbox,
                     start_time="2030-01-01", end_time="2030-01-02").df
    assert grid_axes(empty)[0], "the catalog frame keeps its axes"
    bare = empty.select("*")
    assert grid_axes(bare) == ([], [])
    pts = points_df(spark, coords=[(42.1, -83.0), (41.6, -82.1)])
    for f in (
        lambda d: spatial_resample(d, resolution_factor=2, resample_method="bilinear"),
        lambda d: spatial_resample(d, resolution_factor=2, resample_method="cubic"),
        lambda d: spatial_resample(d, resolution_factor=0.5, resample_method="max"),
        lambda d: spatial_upsample_kernels(d, 2),
        lambda d: points_to_table(d, pts, "u100"),
    ):
        want_schema = f(full).schema
        for d in (empty, bare):
            out = f(d)
            assert out.collect() == []
            assert out.schema == want_schema


def test_appended_files_resolve_the_axes_again(spark, tmp_path):
    """Axes are keyed by the scan's input files: a month appended with
    an extra column of cells makes the entry ragged, and one appended
    with the same cells keeps it dense; either way the next request's
    recorded axes equal the aggregate over its rows."""
    from tests.grid_fixture import grid_df
    from xarray_dataaccessor_spark.sources.ingest import land_grid_parquet

    schema = "time timestamp, y double, x double, t2m double, u100 double"
    path = land_grid_parquet(grid_df(spark, with_nulls=True), str(tmp_path), "grid")
    cat = _resolved_catalog(spark, path)
    before = cat.entries["grid"].axes
    extra_x = XS[-1] + 0.25
    march = [(dt.datetime(2019, 3, 1), y, x, 1.0, 2.0) for y in YS for x in XS + [extra_x]]
    land_grid_parquet(spark.createDataFrame(march, schema), str(tmp_path), "grid", mode="append")
    df = cat.load(spark, "grid").df
    recorded, _, recomputed = _recorded_and_recomputed(spark, df)
    assert recorded == recomputed and recorded[0][-1] == extra_x
    assert cat.entries["grid"].axes[0] != before[0]
    assert cat.entries["grid"].axes[1] == ()

    path = land_grid_parquet(grid_df(spark, with_nulls=True), str(tmp_path), "dense")
    cat = _resolved_catalog(spark, path)
    april = [(dt.datetime(2019, 4, 1), y, x, 1.0, 2.0) for y in YS for x in XS]
    land_grid_parquet(spark.createDataFrame(april, schema), str(tmp_path), "dense", mode="append")
    df = cat.load(spark, "grid", start_time="2019-04-01").df
    recorded, jobs, recomputed = _recorded_and_recomputed(spark, df)
    assert jobs > 0, "the appended file set resolves the axes again"
    assert recorded == recomputed == (sorted(XS), sorted(YS))
    assert cat.entries["grid"].axes[1] == (sorted(XS), sorted(YS))
