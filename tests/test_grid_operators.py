"""Operator-level golden tests on the FIXTURES.md grid — mirrors the
reference's offline-fixture test style (test_3_era5_manipulations.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.gridframe import GridFrame
from xarray_dataaccessor_spark.meta import BoundingBox
from xarray_dataaccessor_spark.operators.resample import (
    freq_to_interval,
    resample_aggregate,
    resample_interpolate,
)

from tests.grid_fixture import N_T, T0, XS, YS, grid_df


@pytest.fixture(scope="module")
def grid(spark):
    df = grid_df(spark, with_nulls=False).cache()
    df.count()
    return df


def test_freq_aliases():
    assert freq_to_interval("T") == "1 minute"
    assert freq_to_interval("15T") == "15 minutes"
    assert freq_to_interval("1H") == "1 hour"
    assert freq_to_interval("D") == "1 day"
    assert freq_to_interval("30min") == "30 minutes"


def test_bbox_time_filter_shapes(grid):
    # analogue of the reference's axis-length assertions (test_2_era5.py:138,149)
    gf = GridFrame(grid)
    out = gf.filter_bbox(BoundingBox(west=-83.0, south=41.6, east=-80.0, north=42.7))
    xs = sorted(r[0] for r in out.df.select("x").distinct().collect())
    ys = sorted(r[0] for r in out.df.select("y").distinct().collect())
    assert all(-83.0 <= x <= -80.0 for x in xs)
    assert all(41.6 <= y <= 42.7 for y in ys)
    # inclusive time slice: 3 days + 1 hour == 73 steps (test_2_era5.py:131)
    t_end = T0 + dt.timedelta(hours=72)
    full = gf.filter_time(T0, t_end)
    assert full.df.select("time").distinct().count() == 73


def test_resample_daily_agg_counts(grid):
    # 73 hourly steps spanning 4 calendar days -> 4 daily buckets
    for method in ("mean", "max", "min", "sum", "median", "first", "last"):
        out = resample_aggregate(grid, "D", method)
        assert out.select("time").distinct().count() == 4, method
        assert out.count() == 4 * 7 * 19, method


def test_resample_minutely_interpolation_count(grid):
    # 73 hourly -> 4321 minutely, inclusive spine (test_3_era5_manipulations.py:105-117)
    small = grid.filter((F.col("y") == YS[0]) & (F.col("x").isin(XS[:2])))
    for method in ("linear", "nearest", "zero", "slinear"):
        out = resample_interpolate(small, "T", method)
        assert out.select("time").distinct().count() == (N_T - 1) * 60 + 1, method
        assert out.count() == ((N_T - 1) * 60 + 1) * 2, method


def test_linear_interpolation_values(spark):
    # two observations 0 -> 60 over an hour: minute t interpolates to t
    df = spark.createDataFrame(
        [
            (dt.datetime(2020, 1, 1, 0, 0), 1.0, 1.0, 0.0),
            (dt.datetime(2020, 1, 1, 1, 0), 1.0, 1.0, 60.0),
        ],
        "time timestamp, y double, x double, v double",
    )
    out = resample_interpolate(df, "T", "linear").orderBy("time").collect()
    assert len(out) == 61
    for i, row in enumerate(out):
        assert abs(row["v"] - float(i)) < 1e-9


def test_nearest_interpolation_tie_goes_left(spark):
    df = spark.createDataFrame(
        [
            (dt.datetime(2020, 1, 1, 0, 0), 1.0, 1.0, 0.0),
            (dt.datetime(2020, 1, 1, 0, 2), 1.0, 1.0, 10.0),
        ],
        "time timestamp, y double, x double, v double",
    )
    out = {r["time"].minute: r["v"] for r in resample_interpolate(df, "T", "nearest").collect()}
    assert out[0] == 0.0
    assert out[1] == 0.0  # exact midpoint -> left (scipy 'nearest')
    assert out[2] == 10.0


def test_interpolation_does_not_extrapolate(spark):
    # u100 null at the first timestep: spine points before the first
    # observation stay NULL (xarray never extrapolates)
    df = spark.createDataFrame(
        [
            (dt.datetime(2020, 1, 1, 0, 0), 1.0, 1.0, None),
            (dt.datetime(2020, 1, 1, 0, 30), 1.0, 1.0, 5.0),
            (dt.datetime(2020, 1, 1, 1, 0), 1.0, 1.0, 6.0),
        ],
        "time timestamp, y double, x double, v double",
    )
    rows = {
        (r["time"].hour, r["time"].minute): r["v"]
        for r in resample_interpolate(df, "15T", "linear").collect()
    }
    assert rows[(0, 0)] is None and rows[(0, 15)] is None
    assert rows[(0, 30)] == 5.0 and rows[(0, 45)] == 5.5 and rows[(1, 0)] == 6.0


def test_spline_interpolation_runs(grid):
    small = grid.filter((F.col("y") == YS[0]) & (F.col("x") == XS[0]))
    out = resample_interpolate(small, "30T", "cubic")
    assert out.count() == (N_T - 1) * 2 + 1
    # interior points are finite
    vals = [r["t2m"] for r in out.collect()]
    assert all(v is not None for v in vals)


def test_custom_resample_apply(grid):
    import numpy as np

    from xarray_dataaccessor_spark.operators.resample import resample_apply

    small = grid.filter((F.col("y") == YS[0]) & (F.col("x") == XS[0]))
    out = resample_apply(small, "D", np.mean)
    assert out.count() == 4
    ref = resample_aggregate(small, "D", "mean")
    got = {r["time"]: r["t2m"] for r in out.collect()}
    want = {r["time"]: r["t2m"] for r in ref.collect()}
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9


def test_spatial_resample_shape_law(grid):
    # x2 => 19x7 -> 38x14; per-axis (1,3) => 19x21
    # (test_3_era5_manipulations.py:75-99)
    from xarray_dataaccessor_spark.operators.spatial import spatial_resample

    up = spatial_resample(grid, resolution_factor=2.0, resample_method="bilinear")
    assert up.select("x").distinct().count() == 38
    assert up.select("y").distinct().count() == 14
    aniso = spatial_resample(
        grid, xy_resolution_factors=(1.0, 3.0), resample_method="nearest"
    )
    assert aniso.select("x").distinct().count() == 19
    assert aniso.select("y").distinct().count() == 21
    down = spatial_resample(grid, resolution_factor=0.5, resample_method="average")
    assert down.select("x").distinct().count() == 10
    assert down.select("y").distinct().count() == 4


def test_bilinear_upsample_values_on_linear_field(spark):
    # a field linear in x is reproduced exactly by bilinear interpolation
    import datetime as dt

    from xarray_dataaccessor_spark.operators.spatial import spatial_resample

    rows = [
        (dt.datetime(2020, 1, 1), 0.0, float(i), 10.0 * i) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "time timestamp, y double, x double, v double")
    out = spatial_resample(df, resolution_factor=2.0, resample_method="bilinear")
    got = {round(r["x"], 3): r["v"] for r in out.collect()}
    for x, v in got.items():
        if 0.0 <= x <= 4.0:  # inside the source support
            assert abs(v - 10.0 * x) < 1e-9, (x, v)


def test_quadratic_interpolation_reproduces_parabola(spark):
    # y = (hour)^2 sampled hourly; quadratic interpolation must recover
    # the exact parabola at half-hour points (Lagrange property)
    import datetime as dt

    rows = [
        (dt.datetime(2020, 1, 1, h), 1.0, 1.0, float(h * h)) for h in range(6)
    ]
    df = spark.createDataFrame(rows, "time timestamp, y double, x double, v double")
    out = resample_interpolate(df, "30T", "quadratic").collect()
    for r in out:
        h = r["time"].hour + r["time"].minute / 60.0
        assert abs(r["v"] - h * h) < 1e-6, (h, r["v"])


def test_cubic_interpolation_reproduces_line(spark):
    # natural cubic spline is exact on linear data
    import datetime as dt

    rows = [
        (dt.datetime(2020, 1, 1, h), 1.0, 1.0, 3.0 * h + 2.0) for h in range(6)
    ]
    df = spark.createDataFrame(rows, "time timestamp, y double, x double, v double")
    out = resample_interpolate(df, "15T", "cubic").collect()
    for r in out:
        h = r["time"].hour + r["time"].minute / 60.0
        assert abs(r["v"] - (3.0 * h + 2.0)) < 1e-6, (h, r["v"])


def test_interval_rows_large_axis_fast():
    """bisect-based interval assignment: 100k targets onto a 50k source
    axis in seconds (the old per-target linear scan was O(n*m) — minutes
    at this size). Bound is generous: it distinguishes complexity classes,
    not machine load (~0.08 s idle, flaky at <1 s under a parallel run)."""
    import time

    from xarray_dataaccessor_spark.operators.spatial import interval_rows

    old_axis = [i * 0.01 for i in range(50_000)]
    new_axis = [i * 0.005 + 0.0025 for i in range(100_000)]
    t0 = time.perf_counter()
    rows = interval_rows(new_axis, old_axis, "bilinear")
    assert time.perf_counter() - t0 < 10.0
    assert len(rows) == len(new_axis)
    # spot-check the interval semantics survived the refactor
    lo, nv, w, hi = rows[1]
    assert lo <= nv and (hi is None or hi > nv)


def test_weekly_resample_matches_pandas_anchoring(spark):
    """pandas 'W' (W-SUN): Monday-anchored bins labeled with the Sunday.
    Epoch-aligned windows would bucket Thursday->Thursday (1970-01-01 was
    a Thursday) — the advisor-flagged silent-wrong-buckets bug."""
    import pandas as pd

    from xarray_dataaccessor_spark.operators.resample import resample_aggregate

    ts = pd.date_range("2024-01-02 05:00", periods=50, freq="11h")
    pdf = pd.DataFrame({"time": ts, "v": [float(i) for i in range(50)]})
    expected = pdf.set_index("time").resample("W")["v"].sum()
    expected = expected[expected.index.isin(
        pdf.set_index("time").resample("W")["v"].count()[lambda c: c > 0].index
    )]

    df = spark.createDataFrame(pdf)
    out = resample_aggregate(df, "W", "sum", value_cols=["v"], group_cols=())
    got = {r["time"].date(): r["v"] for r in out.collect()}
    for label, val in expected.items():
        assert label.date() in got, (label, sorted(got))
        assert abs(got[label.date()] - val) < 1e-9


def test_multiday_resample_matches_pandas_start_day_origin(spark):
    """pandas 'ND' uses origin='start_day' (midnight of the first day),
    left-labeled — not epoch alignment."""
    import pandas as pd

    from xarray_dataaccessor_spark.operators.resample import resample_aggregate

    ts = pd.date_range("2024-01-02 05:00", periods=30, freq="17h")
    pdf = pd.DataFrame({"time": ts, "v": [float(i) for i in range(30)]})
    expected = pdf.set_index("time").resample("3D")["v"].sum()
    counts = pdf.set_index("time").resample("3D")["v"].count()
    expected = expected[counts > 0]

    df = spark.createDataFrame(pdf)
    out = resample_aggregate(df, "3D", "sum", value_cols=["v"], group_cols=())
    got = {r["time"]: r["v"] for r in out.collect()}
    assert len(got) == len(expected)
    for label, val in expected.items():
        assert label.to_pydatetime() in got, (label, sorted(got))
        assert abs(got[label.to_pydatetime()] - val) < 1e-9


def test_agg_expr_threads_time_col(spark):
    """first/last with a non-default time column must key min_by/max_by on
    that column (advisor-flagged hardcoded 'time')."""
    import pandas as pd

    from xarray_dataaccessor_spark.operators.resample import resample_aggregate

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=6, freq="8h"),
            "v": [5.0, 1.0, 9.0, 2.0, 8.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    first = resample_aggregate(
        df, "1D", "first", value_cols=["v"], time_col="ts", group_cols=()
    ).orderBy("ts").collect()
    assert [r["v"] for r in first] == [5.0, 2.0]
    last = resample_aggregate(
        df, "1D", "last", value_cols=["v"], time_col="ts", group_cols=()
    ).orderBy("ts").collect()
    assert [r["v"] for r in last] == [9.0, 3.0]


def test_nearest_cell_match_null_coordinate_raises(spark):
    from xarray_dataaccessor_spark.operators.joins import nearest_cell_match

    from tests.grid_fixture import grid_df

    grid = grid_df(spark, with_nulls=False)
    pts = spark.createDataFrame(
        [("a", -83.0, 42.0), ("b", None, 41.9)],
        "point_id string, lon double, lat double",
    )
    with pytest.raises(ValueError, match="NULL coordinate"):
        nearest_cell_match(pts, grid)


def test_spread_small_input_suffixed_partition_bytes(spark):
    """'128m'-style maxPartitionBytes values must parse as bytes, not as
    the literal 128 — otherwise the small-input spread silently never
    fires."""
    from xarray_dataaccessor_spark.operators.dedup import spread_small_input

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    try:
        import tempfile

        d = tempfile.mkdtemp(prefix="spread_sfx_")
        spark.range(0, 100, 1, 1).write.mode("overwrite").parquet(d)
        out = spread_small_input(spark.read.parquet(d))
        # a tiny single-file input must be spread to session parallelism
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_small_input_non_file_relation(spark):
    """A local relation lists no input files (``inputFiles`` returns
    empty, it does not raise), so it is spread to session parallelism."""
    from xarray_dataaccessor_spark.operators.dedup import spread_small_input

    df = spark.createDataFrame([(i, f"doc {i}") for i in range(10)], "doc_id long, text string")
    assert df.inputFiles() == []
    out = spread_small_input(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.doc_id for r in out.collect()) == list(range(10))


# ---------------------------------------------------------------------------
# raster_pyramid — multi-level overview cascade
# ---------------------------------------------------------------------------


def _pyramid_numpy(rows, levels, method):
    """Brute-force oracle: block-aggregate the BASE grid at each level
    (cascade must equal base aggregation for decomposable methods)."""
    import numpy as np

    from tests.grid_fixture import XS, YS

    xs, ys = sorted(XS), sorted(YS)
    by_time = {}
    for t, y, x, t2m, u100 in rows:
        by_time.setdefault(t, {})[(round(y, 6), round(x, 6))] = (t2m, u100)
    out = {}
    for lvl in range(1, levels + 1):
        f = 2**lvl
        for t, cells in by_time.items():
            for (y, x), (t2m, u100) in cells.items():
                iy = round((y - ys[0]) / 0.25)
                ix = round((x - xs[0]) / 0.25)
                key = (lvl, t, iy // f, ix // f)
                out.setdefault(key, []).append((t2m, u100))
    res = {}
    for (lvl, t, by, bx), vals in out.items():
        f = 2**lvl
        cy = ys[0] + ((by + 0.5) * f - 0.5) * 0.25
        cx = xs[0] + ((bx + 0.5) * f - 0.5) * 0.25
        t2ms = [v[0] for v in vals if v[0] is not None]
        u100s = [v[1] for v in vals if v[1] is not None]
        if method == "mean":
            agg = (
                float(np.sum(t2ms)) / len(t2ms) if t2ms else None,
                float(np.sum(u100s)) / len(u100s) if u100s else None,
            )
        elif method == "max":
            agg = (max(t2ms) if t2ms else None, max(u100s) if u100s else None)
        res[(lvl, t, round(cy, 9), round(cx, 9))] = agg
    return res


def test_raster_pyramid_matches_base_blocks(spark):
    from tests.grid_fixture import grid_df, grid_rows
    from xarray_dataaccessor_spark.operators.spatial import raster_pyramid

    # with_nulls=True also exercises the (sum, count) mean state: a block
    # whose u100 cells are all null must yield null, partial blocks must
    # average the present cells only
    nulled = grid_df(spark, with_nulls=True)
    for method in ("mean", "max"):
        want = _pyramid_numpy(grid_rows(with_nulls=True), 2, method)
        got = {
            (
                int(r["level"]),
                r["time"],
                round(r["y"], 9),
                round(r["x"], 9),
            ): (r["t2m"], r["u100"])
            for r in raster_pyramid(nulled, levels=2, method=method).collect()
        }
        assert set(got) == set(want), method
        for k, (t2m, u100) in want.items():
            gt, gu = got[k]
            assert gt == __import__("pytest").approx(t2m, abs=1e-9), (method, k)
            if u100 is None:
                assert gu is None, (method, k)
            else:
                assert gu == __import__("pytest").approx(u100, abs=1e-9), (method, k)


def test_raster_pyramid_shapes_and_validation(grid):
    import pytest as _pytest

    from xarray_dataaccessor_spark.operators.spatial import raster_pyramid

    out = raster_pyramid(grid, levels=3, method="max")
    counts = {
        int(r["level"]): int(r["n"])
        for r in out.groupBy("level").count().withColumnRenamed("count", "n").collect()
    }
    # 19x7 base: ceil-div blocks per level x 73 timesteps
    assert counts == {1: 10 * 4 * 73, 2: 5 * 2 * 73, 3: 3 * 1 * 73}
    with _pytest.raises(ValueError, match="decomposable"):
        raster_pyramid(grid, levels=2, method="median")
    with _pytest.raises(ValueError, match="levels"):
        raster_pyramid(grid, levels=0)


def test_zero_row_frames_return_empty_results(grid):
    """A frame with no rows has no axes: the pyramid and every terrain
    product return zero rows with their usual schema, as
    ``spatial_resample`` does, instead of indexing an empty axis."""
    from xarray_dataaccessor_spark.gridframe import GridFrame
    from xarray_dataaccessor_spark.operators.spatial import raster_pyramid

    empty = grid.filter("x > 1000")
    pyr = raster_pyramid(empty, levels=2, method="mean")
    assert pyr.count() == 0
    assert pyr.schema == raster_pyramid(grid, levels=2, method="mean").schema
    one_step = grid.filter(F.col("time") == F.lit(grid.first()["time"]))
    for what, kw in (
        ("derivatives", {}),
        ("flow", {}),
        ("watersheds", {}),
        ("accumulation", {}),
        ("contours", {"levels": [270.0]}),
    ):
        out = GridFrame(empty).terrain("t2m", what, **kw)
        assert out.count() == 0, what
        assert out.schema == GridFrame(one_step).terrain("t2m", what, **kw).schema, what


# ---------------------------------------------------------------------------
# DEM derivatives (slope / aspect / hillshade)
# ---------------------------------------------------------------------------
def _dem_df(spark, z, dx=10.0, dy=10.0):
    rows = [
        (i * dx, j * dy, float(z[j][i]))
        for j in range(len(z))
        for i in range(len(z[0]))
    ]
    return spark.createDataFrame(rows, "x double, y double, z double")


def _np_horn(z, dx, dy, i, j, zf=1.0):
    import math

    p = ((z[j - 1][i + 1] + 2 * z[j][i + 1] + z[j + 1][i + 1])
         - (z[j - 1][i - 1] + 2 * z[j][i - 1] + z[j + 1][i - 1])) / (8 * dx)
    q = ((z[j + 1][i - 1] + 2 * z[j + 1][i] + z[j + 1][i + 1])
         - (z[j - 1][i - 1] + 2 * z[j - 1][i] + z[j - 1][i + 1])) / (8 * dy)
    grad = math.hypot(p, q) * zf
    slope = math.degrees(math.atan(grad))
    aspect = math.degrees(math.atan2(-p, -q)) % 360 if grad > 0 else None
    return slope, aspect


def test_dem_flat_surface(spark):
    import math

    from xarray_dataaccessor_spark.operators.spatial import dem_derivatives

    z = [[7.0] * 5 for _ in range(4)]
    out = dem_derivatives(_dem_df(spark, z), dx=10.0, dy=10.0).collect()
    # 5x4 grid -> 3x2 interior cells survive the full-stencil rule
    assert len(out) == 6
    zen = math.radians(45.0)
    for r in out:
        assert r["slope_deg"] == 0.0
        assert r["aspect_deg"] is None
        assert r["hillshade"] == round(255.0 * math.cos(zen))


def test_dem_planar_tilt_east(spark):
    import math

    from xarray_dataaccessor_spark.operators.spatial import dem_derivatives

    # z falls 1m per 10m going east -> downslope faces east (aspect 90)
    z = [[-(i * 10.0) * 0.1 for i in range(6)] for _ in range(5)]
    out = dem_derivatives(_dem_df(spark, z), dx=10.0, dy=10.0).collect()
    want_slope = math.degrees(math.atan(0.1))
    for r in out:
        assert r["slope_deg"] == pytest.approx(want_slope, rel=1e-12)
        assert r["aspect_deg"] == pytest.approx(90.0, abs=1e-9)


def test_dem_matches_python_mirror(spark):
    import random

    from xarray_dataaccessor_spark.operators.spatial import dem_derivatives

    rng = random.Random(7)
    z = [[rng.uniform(0, 100) for _ in range(7)] for _ in range(6)]
    out = {
        (r["x"], r["y"]): r
        for r in dem_derivatives(
            _dem_df(spark, z), dx=10.0, dy=10.0, z_factor=2.0
        ).collect()
    }
    assert len(out) == 5 * 4
    for j in range(1, 5):
        for i in range(1, 6):
            r = out[(i * 10.0, j * 10.0)]
            slope, aspect = _np_horn(z, 10.0, 10.0, i, j, zf=2.0)
            assert r["slope_deg"] == pytest.approx(slope, rel=1e-12)
            if aspect is None:
                assert r["aspect_deg"] is None
            else:
                assert r["aspect_deg"] == pytest.approx(aspect, rel=1e-12)
            assert r["z"] == z[j][i]


def test_dem_grouped_and_single_shuffle(spark):
    from xarray_dataaccessor_spark.operators.spatial import dem_derivatives

    z = [[float(i + j) for i in range(5)] for j in range(4)]
    df = _dem_df(spark, z)
    both = df.withColumn("t", F.lit("a")).unionByName(
        df.withColumn("t", F.lit("b"))
    )
    out = dem_derivatives(both, dx=10.0, dy=10.0, group_cols=("t",))
    counts = {r["t"]: r["cnt"] for r in
              out.groupBy("t").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert counts == {"a": 6, "b": 6}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert plan.count("Exchange") <= 2


# ---------------------------------------------------------------------------
# D8 flow direction + watershed labels
# ---------------------------------------------------------------------------
_D8_PRIO = [(1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1), (0, 1), (1, 1)]


def _py_d8(z, dx, dy, i, j):
    import math

    best = None
    for rank, (di, dj) in enumerate(_D8_PRIO):
        jj, ii = j + dj, i + di
        if 0 <= jj < len(z) and 0 <= ii < len(z[0]):
            d = (z[j][i] - z[jj][ii]) / math.hypot(di * dx, dj * dy)
            if d > 0 and (best is None or d > best[0]
                          or (d == best[0] and rank < best[1])):
                best = (d, rank, di, dj)
    return None if best is None else (best[2], best[3])


def test_d8_matches_python_mirror(spark):
    import random

    from xarray_dataaccessor_spark.operators.spatial import d8_flow_direction

    rng = random.Random(11)
    z = [[rng.uniform(0, 50) for _ in range(7)] for _ in range(6)]
    out = {
        (r["x"], r["y"]): r
        for r in d8_flow_direction(_dem_df(spark, z), dx=10.0, dy=10.0).collect()
    }
    assert len(out) == 7 * 6  # partial border windows still drain
    for j in range(6):
        for i in range(7):
            r = out[(i * 10.0, j * 10.0)]
            want = _py_d8(z, 10.0, 10.0, i, j)
            if want is None:
                assert r["is_sink"] and r["flow_to_x"] is None
            else:
                di, dj = want
                assert not r["is_sink"]
                assert (r["flow_to_x"], r["flow_to_y"]) == (
                    (i + di) * 10.0, (j + dj) * 10.0
                ), (i, j)


def test_d8_pit_and_tilt(spark):
    from xarray_dataaccessor_spark.operators.spatial import d8_flow_direction

    # uniform east-tilt: every cell (except the east edge) flows east
    z = [[-float(i) for i in range(5)] for _ in range(4)]
    out = d8_flow_direction(_dem_df(spark, z), dx=10.0, dy=10.0).collect()
    for r in out:
        if r["x"] < 40.0:
            assert (r["flow_to_x"], r["flow_to_y"]) == (r["x"] + 10.0, r["y"])
        else:
            assert r["is_sink"]
    # a pit is a sink
    z2 = [[5.0] * 3, [5.0, 1.0, 5.0], [5.0] * 3]
    out2 = {
        (r["x"], r["y"]): r
        for r in d8_flow_direction(_dem_df(spark, z2), dx=10.0, dy=10.0).collect()
    }
    assert out2[(10.0, 10.0)]["is_sink"]
    assert all(
        v["flow_to_x"] == 10.0 and v["flow_to_y"] == 10.0
        for k, v in out2.items() if k != (10.0, 10.0)
    )


def test_watershed_two_basins(spark):
    from xarray_dataaccessor_spark.operators.spatial import (
        d8_flow_direction,
        watershed_labels,
    )

    # ridge at x=30: west of it drains to pit (0,10), east to pit (60,10)
    z = []
    for j in range(3):
        row = []
        for i in range(7):
            row.append(30.0 if i == 3 else abs(i - (0 if i < 3 else 6)) * 5.0
                       + abs(j - 1) * 2.0)
        z.append(row)
    flow = d8_flow_direction(_dem_df(spark, z), dx=10.0, dy=10.0)
    labels = watershed_labels(flow)
    got = {(r["x"], r["y"]): (r["sink_x"], r["sink_y"]) for r in labels.collect()}
    assert got[(0.0, 10.0)] == (0.0, 10.0)      # west pit is its own sink
    assert got[(60.0, 10.0)] == (60.0, 10.0)    # east pit too
    assert got[(10.0, 0.0)] == (0.0, 10.0)      # west slope -> west pit
    assert got[(50.0, 2 * 10.0)] == (60.0, 10.0)  # east slope -> east pit
    # every cell resolves to one of the basin sinks (or the ridge's own)
    sinks = {v for v in got.values()}
    for s in sinks:
        assert got[s] == s  # sinks are fixed points


def test_watershed_long_chain_converges(spark):
    from xarray_dataaccessor_spark.operators.spatial import (
        d8_flow_direction,
        watershed_labels,
    )

    # strictly decreasing staircase: one long flow path into (0, 0)
    n = 40
    z = [[float(i) for i in range(n)]]
    flow = d8_flow_direction(_dem_df(spark, z), dx=10.0, dy=10.0)
    labels = watershed_labels(flow)
    got = {r["x"]: (r["sink_x"], r["sink_y"]) for r in labels.collect()}
    assert len(got) == n
    assert all(v == (0.0, 0.0) for v in got.values())


def test_watershed_one_join_per_round(spark, monkeypatch):
    """Round-cost proof: convergence is the signature aggregate, not a
    second self-join — the loop issues exactly ONE join per doubling
    round (was two before round 8)."""
    from pyspark.sql import DataFrame
    from xarray_dataaccessor_spark.operators.spatial import (
        d8_flow_direction,
        watershed_labels,
    )

    joins = {"n": 0}
    orig_join = DataFrame.join

    def counting_join(self, *a, **kw):
        joins["n"] += 1
        return orig_join(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "join", counting_join)
    # 33-cell chain: longest path 32 -> pointer doubling needs
    # ceil(log2(32)) = 5 doubling rounds + 1 fixed-point round = 6
    n = 33
    z = [[float(i) for i in range(n)]]
    flow = d8_flow_direction(_dem_df(spark, z), dx=10.0, dy=10.0)
    labels = watershed_labels(flow)
    assert labels.count() == n
    assert joins["n"] <= 7  # one join PER ROUND, no convergence join


def test_gridframe_terrain_entry_point(spark):
    from xarray_dataaccessor_spark.gridframe import GridFrame

    z = [[float(i + j) for i in range(5)] for j in range(4)]
    gf = GridFrame(_dem_df(spark, z).withColumnRenamed("z", "elev"))
    der = gf.terrain("elev", "derivatives")
    assert {"slope_deg", "aspect_deg", "hillshade"} <= set(der.columns)
    assert der.count() == 6
    flow = gf.terrain("elev", "flow")
    assert flow.filter("is_sink").count() >= 1
    ws = gf.terrain("elev", "watersheds")
    assert ws.count() == 20  # every cell labeled
    acc = gf.terrain("elev", "accumulation")
    rows = {(r["x"], r["y"]): r["flow_acc"] for r in acc.collect()}
    assert len(rows) == 20
    assert sum(v for (x, y), v in rows.items()
               if (x, y) == (0.0, 0.0)) == 20  # single pit drains all
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown what"):
        gf.terrain("elev", "nonsense")
    # per-time accumulation: two identical timesteps -> identical
    # per-timestep results, forests never mixing
    timed = GridFrame(
        _dem_df(spark, z)
        .withColumnRenamed("z", "elev")
        .crossJoin(
            spark.sql("SELECT explode(sequence(timestamp'2020-01-01', "
                      "timestamp'2020-01-02', interval 1 day)) AS time")
        )
    )
    tacc = timed.terrain("elev", "accumulation")
    per_t = {
        (r["time"], r["x"], r["y"]): r["flow_acc"] for r in tacc.collect()
    }
    assert len(per_t) == 40  # 20 cells x 2 timesteps
    ts = sorted({k[0] for k in per_t})
    for (t0k, x, y), v in per_t.items():
        other = ts[1] if t0k == ts[0] else ts[0]
        assert per_t[(other, x, y)] == v
    assert sum(v for (t, x, y), v in per_t.items() if t == ts[0]
               and (x, y) == (0.0, 0.0)) == 20


def test_dem_half_step_origin_grid(spark):
    """A grid offset a half step from (0,0) puts cell indices on exact
    .5 fractions where float noise flips the rounding direction cell by
    cell, silently tearing stencils apart (step 0.3 / offset 0.15 is a
    real tearing case) — the origin anchor must restore results
    identical to an aligned grid (GridFrame.terrain passes the axis
    minima automatically)."""
    from xarray_dataaccessor_spark.gridframe import GridFrame
    from xarray_dataaccessor_spark.operators.spatial import dem_derivatives

    z = [[float(i * i + j) for i in range(8)] for j in range(4)]
    aligned = dem_derivatives(
        _dem_df(spark, z, dx=0.3, dy=0.3), dx=0.3, dy=0.3
    ).collect()
    shifted = _dem_df(spark, z, dx=0.3, dy=0.3).select(
        (F.col("x") + 0.15).alias("x"), (F.col("y") + 0.15).alias("y"), "z"
    )
    # without the anchor, colliding indices tear windows apart
    broken = dem_derivatives(shifted, dx=0.3, dy=0.3).count()
    fixed = dem_derivatives(
        shifted, dx=0.3, dy=0.3, origin=(0.15, 0.15)
    ).collect()
    assert len(fixed) == len(aligned) == 6 * 2
    assert broken < len(aligned)
    a = {
        (round(r["x"] / 0.3), round(r["y"] / 0.3)): r["slope_deg"]
        for r in aligned
    }
    b = {
        (round((r["x"] - 0.15) / 0.3), round((r["y"] - 0.15) / 0.3)):
            r["slope_deg"]
        for r in fixed
    }
    assert a == b
    # the GridFrame entry point anchors automatically
    via_gf = GridFrame(shifted.withColumnRenamed("z", "elev")).terrain("elev")
    assert via_gf.count() == len(aligned)


# ---------------------------------------------------------------------------
# Marching-squares contours
# ---------------------------------------------------------------------------
def test_contours_plane_exact(spark):
    """On z = x/10: the L-level contour is the vertical line x = 10L —
    every emitted segment must lie exactly on it."""
    from xarray_dataaccessor_spark.operators.spatial import contour_segments

    z = [[float(i) for i in range(6)] for j in range(5)]
    segs = contour_segments(
        _dem_df(spark, z), dx=10.0, dy=10.0, levels=[2.5]
    ).collect()
    assert len(segs) == 4  # one vertical segment per interior row band
    for s in segs:
        assert s["x1"] == 25.0 and s["x2"] == 25.0
        assert abs(s["y2"] - s["y1"]) == 10.0


def test_contours_cone_on_level(spark):
    """Radial cone z = r: every contour endpoint sits exactly on the
    level's circle (linear interpolation is exact on a linear field
    along each edge), and the polyline closes around the peak."""
    import math

    from xarray_dataaccessor_spark.operators.spatial import contour_segments

    n = 9
    z = [
        [math.hypot((i - 4) * 10.0, (j - 4) * 10.0) for i in range(n)]
        for j in range(n)
    ]
    segs = contour_segments(
        _dem_df(spark, z), dx=10.0, dy=10.0, levels=[15.0]
    ).collect()
    assert segs
    # endpoints land within the cell-sized tolerance of the circle and
    # the segment graph is a closed loop (every endpoint appears twice)
    from collections import Counter

    ends = Counter()
    for s in segs:
        for px, py in ((s["x1"], s["y1"]), (s["x2"], s["y2"])):
            r = math.hypot(px - 40.0, py - 40.0)
            assert abs(r - 15.0) < 6.0, (px, py, r)
            ends[(round(px, 9), round(py, 9))] += 1
    assert all(v == 2 for v in ends.values()), ends


def test_contours_saddle_separates_by_center(spark):
    from xarray_dataaccessor_spark.operators.spatial import contour_segments

    # one window: high diagonal (z00=z11=1), low diagonal (z10=z01=0);
    # center = 0.5 >= L -> the two segments hug the LOW corners
    z = [[1.0, 0.0], [0.0, 1.0]]
    segs = contour_segments(
        _dem_df(spark, z, dx=10.0, dy=10.0), dx=10.0, dy=10.0, levels=[0.45]
    ).collect()
    assert len(segs) == 2
    mids = sorted(
        ((s["x1"] + s["x2"]) / 2, (s["y1"] + s["y2"]) / 2) for s in segs
    )
    # segment midpoints sit in the bottom-right and top-left quadrants
    assert mids[0][0] < 5.0 and mids[0][1] > 5.0      # top-left low corner
    assert mids[1][0] > 5.0 and mids[1][1] < 5.0      # bottom-right low corner


def test_contours_multi_level_and_empty(spark):
    from xarray_dataaccessor_spark.operators.spatial import contour_segments

    z = [[float(i) for i in range(4)] for _ in range(3)]
    segs = contour_segments(
        _dem_df(spark, z), dx=10.0, dy=10.0, levels=[0.5, 1.5, 99.0]
    ).collect()
    by_level = {}
    for s in segs:
        by_level.setdefault(s["level"], []).append(s)
    assert set(by_level) == {0.5, 1.5}  # 99.0 crosses nothing
    assert len(by_level[0.5]) == len(by_level[1.5]) == 2


def test_flow_accumulation_staircase(spark):
    """Strictly decreasing staircase: cell i accumulates everything
    upstream of it — acc(i) = n - i."""
    from xarray_dataaccessor_spark.operators.spatial import (
        d8_flow_direction,
        flow_accumulation,
    )

    n = 24
    z = [[float(i) for i in range(n)]]
    flow = d8_flow_direction(_dem_df(spark, z), dx=10.0, dy=10.0)
    acc = {r["x"]: r["flow_acc"]
           for r in flow_accumulation(flow, dx=10.0, dy=10.0).collect()}
    for i in range(n):
        assert acc[i * 10.0] == n - i, i


def test_flow_accumulation_matches_python_mirror(spark):
    """Random surface: accumulation equals the python D8 subtree count;
    total conservation: sum over sinks of acc == number of cells."""
    import random

    from xarray_dataaccessor_spark.operators.spatial import (
        d8_flow_direction,
        flow_accumulation,
    )

    rng = random.Random(5)
    nx, ny = 9, 7
    z = [[rng.uniform(0, 100) for _ in range(nx)] for _ in range(ny)]
    flow = d8_flow_direction(_dem_df(spark, z), dx=10.0, dy=10.0)
    got = {(r["x"], r["y"]): r["flow_acc"]
           for r in flow_accumulation(flow, dx=10.0, dy=10.0).collect()}
    # python mirror: count, for every cell, the cells whose flow path
    # passes through it
    parent = {}
    for j in range(ny):
        for i in range(nx):
            d = _py_d8(z, 10.0, 10.0, i, j)
            if d is not None:
                parent[(i, j)] = (i + d[0], j + d[1])
    acc = {(i, j): 0 for j in range(ny) for i in range(nx)}
    for start in list(acc):
        v = start
        acc[v] += 1
        while v in parent:
            v = parent[v]
            acc[v] += 1
    for (i, j), a in acc.items():
        assert got[(i * 10.0, j * 10.0)] == a, (i, j)
    assert len(got) == nx * ny
    sinks = [c for c in acc if c not in parent]
    assert sum(acc[c] for c in sinks) == nx * ny
