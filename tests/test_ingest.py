"""Ingestion layer tests: fragment enumeration logic (the reference's
request-dict construction) + the partitioned-parquet landing path with a
plan-level proof of partition pruning."""

from __future__ import annotations

import pytest

from xarray_dataaccessor_spark.catalog import DatasetCatalog
from xarray_dataaccessor_spark.meta import BoundingBox
from xarray_dataaccessor_spark.plans.explain import plan_string
from xarray_dataaccessor_spark.sources.ingest import (
    cds_request_dicts,
    cmr_granule_query,
    era5_s3_paths,
    land_grid_parquet,
    month_range,
    open_geotiff_fragment,
    open_netcdf_fragment,
)

from tests.grid_fixture import grid_df

BBOX = BoundingBox(west=-83.476, south=41.383, east=-78.975, north=42.883)


def test_month_range_enumeration():
    # mirrors era5_from_aws.py:327-346 request enumeration
    assert month_range("2020-11-15", "2021-02-03") == [
        (2020, 11), (2020, 12), (2021, 1), (2021, 2),
    ]
    assert month_range(2020, 2020)[0] == (2020, 1)


def test_era5_s3_paths():
    paths = era5_s3_paths(["air_temperature_at_2_metres"], "2020-01-10", "2020-02-20")
    assert paths == [
        "s3://era5-pds/2020/01/data/air_temperature_at_2_metres.nc",
        "s3://era5-pds/2020/02/data/air_temperature_at_2_metres.nc",
    ]


def test_cds_request_dicts_weekly_chunks_and_area_pushdown():
    reqs = cds_request_dicts(["t2m"], BBOX, "2020-01-01", "2020-01-20")
    assert len(reqs) == 3  # three weekly chunks
    assert reqs[0]["day"] == [f"{d:02d}" for d in range(1, 8)]
    assert reqs[0]["area"] == [BBOX.north, BBOX.west, BBOX.south, BBOX.east]
    assert len(reqs[0]["time"]) == 24


def test_cmr_granule_query_params():
    q = cmr_granule_query("GLANCE30", BBOX, 2018, 2019)
    assert q["params"]["short_name"] == "GLANCE30"
    assert q["params"]["bounding_box[]"].startswith("-83.476,41.383")
    assert q["params"]["temporal"] == "2018-01-01T00:00:00Z,2019-01-01T00:00:00Z"


def test_gated_openers_raise_not_implemented(tmp_path):
    # HDF5 dense (fractal-heap) group links and invalid float+predictor-2
    # TIFFs are the remaining gated inputs; classic NetCDF3, NetCDF4 with
    # v1 OR v2 (OHDR) object headers, classic TIFF, and BigTIFF all
    # decode via the built-in pure readers (test_netcdf3.py,
    # test_hdf5.py, test_geotiff.py)
    import struct

    from xarray_dataaccessor_spark.sources.hdf5 import _SIG, _ohdr_v2

    h5 = tmp_path / "v4.nc"
    li = bytes([0, 0]) + struct.pack("<QQ", 4096, 4200)
    root = _ohdr_v2([(0x02, li)])
    buf = bytearray(b"\x00" * 512)
    sb = _SIG + bytes([3, 8, 8, 0]) + struct.pack(
        "<QQQQ", 0, 0xFFFFFFFFFFFFFFFF, 512 + len(root), 48
    )
    buf[: len(sb)] = sb
    buf[48 : 48 + len(root)] = root
    h5.write_bytes(bytes(buf))
    with pytest.raises(NotImplementedError, match="fractal-heap"):
        open_netcdf_fragment(str(h5), "t2m")
    # float data tagged with the integer predictor is invalid input the
    # reader must refuse rather than decode garbage (BigTIFF itself now
    # decodes via the pure reader — test_geotiff.py::test_bigtiff_roundtrip)
    import numpy as np

    from xarray_dataaccessor_spark.sources.geotiff import write_geotiff

    bad = tmp_path / "float_pred2.tif"
    write_geotiff(
        str(bad), np.ones((3, 4), dtype=np.float32), 0.0, 3.0, (1.0, 1.0),
        predictor=2,
    )
    with pytest.raises(NotImplementedError):
        open_geotiff_fragment(str(bad), "LC")


def test_landed_parquet_partition_pruning(spark, tmp_path):
    # land the fixture grid year=/month=-partitioned, read through the
    # catalog with a time filter, and prove the scan prunes partitions
    grid = grid_df(spark, with_nulls=False)
    path = land_grid_parquet(grid, str(tmp_path), "era5_like")
    cat = DatasetCatalog()
    cat.register("era5_like", path, ["t2m", "u100"])
    gf = cat.load(
        spark, "era5_like", start_time="2019-02-01", end_time="2019-02-02"
    )
    plan = plan_string(gf.df)
    assert "PartitionFilters" in plan
    # rows only from the February partition survive
    assert gf.count() == 25 * 7 * 19  # Feb 1 00:00 .. Feb 2 00:00 inclusive


def test_netcdf4_granule_to_catalog_flagship(spark, tmp_path):
    """The full reference read path on a real NetCDF4/HDF5 granule
    (VERDICT r2 #3's done-criterion): HDF5 fixture bytes -> distributed
    glob decode -> partitioned parquet landing -> catalog.load with a
    bbox + time AOI -> the flagship per-timestep spatial mean."""
    import numpy as np
    from pyspark.sql import functions as F

    from xarray_dataaccessor_spark.sources.hdf5 import write_hdf5
    from xarray_dataaccessor_spark.sources.ingest import netcdf_glob_to_grid

    lons = np.array([-83.476 + 0.25 * i for i in range(19)], dtype="f8")
    lats = np.array([42.883 - 0.25 * j for j in range(7)], dtype="f8")
    hours = (np.arange(73, dtype="i4") + 1043832).astype("f8")  # 2019-01-30..
    t2m = 270.0 + np.arange(73)[:, None, None] * 0.1 + np.zeros((1, 7, 19))
    write_hdf5(
        str(tmp_path / "era5_granule.nc"),
        dims={"time": 73, "latitude": 7, "longitude": 19},
        variables={
            "time": (["time"], hours, {"units": "hours since 1900-01-01 00:00:00"}),
            "latitude": (["latitude"], lats, {}),
            "longitude": (["longitude"], lons, {}),
            "t2m": (["time", "latitude", "longitude"], t2m, {"units": "K"}),
        },
        chunks={"t2m": [32, 7, 19]},
        compress=True,
        v2=True,  # latest-libver layout decodes through the same path
    )
    grid = netcdf_glob_to_grid(spark, str(tmp_path / "*.nc"), "t2m")
    landed = land_grid_parquet(grid, str(tmp_path), "era5_h5")
    cat = DatasetCatalog()
    cat.register("era5_h5", landed, ["t2m"])
    gf = cat.load(
        spark, "era5_h5",
        bbox=BoundingBox(west=-83.0, south=41.5, east=-80.0, north=42.8),
        start_time="2019-01-30", end_time="2019-02-01",
    )
    flagship = gf.df.groupBy("time").agg(F.avg("t2m").alias("t2m_mean"))
    rows = flagship.orderBy("time").collect()
    assert len(rows) == 49  # Jan 30 00:00 .. Feb 1 00:00 inclusive
    assert rows[0]["t2m_mean"] == pytest.approx(270.0)
    assert rows[-1]["t2m_mean"] == pytest.approx(270.0 + 48 * 0.1)


# ---------------------------------------------------------------------------
# one row contract for every grid decode path
# ---------------------------------------------------------------------------

_NODATA_CELLS = [(0, 0, 1), (1, 2, 0), (2, 1, 3)]  # (t, y, x), k = 3


def _cube(fill):
    import numpy as np

    vals = 250.0 + np.arange(3 * 3 * 4, dtype="f8").reshape(3, 3, 4)
    for cell in _NODATA_CELLS:
        vals[cell] = fill
    return vals


def _netcdf_granule(d):
    """NaN cells under ``_FillValue = NaN`` (xarray's float encoding)."""
    import numpy as np

    from xarray_dataaccessor_spark.sources.netcdf3 import write_netcdf3

    write_netcdf3(
        str(d / "g.nc"),
        {"time": 3, "y": 3, "x": 4},
        {
            "time": (["time"], np.arange(3.0), {"units": "hours since 2020-01-01"}),
            "y": (["y"], 40.0 + np.arange(3.0), {}),
            "x": (["x"], -80.0 + np.arange(4.0), {}),
            "v": (["time", "y", "x"], _cube(np.nan), {"_FillValue": np.nan}),
        },
        record_dim="time",
    )
    return str(d / "g.nc")


def _zarr_store(d):
    """-9999 cells under the ``.zattrs`` ``_FillValue``."""
    import numpy as np

    from xarray_dataaccessor_spark.sources.zarr import write_zarr

    store = str(d / "s.zarr")
    write_zarr(store, "v", _cube(-9999.0), ["time", "y", "x"], chunks=[2, 2, 2],
               attrs={"_FillValue": -9999.0})
    write_zarr(store, "time", np.arange(3.0), ["time"],
               attrs={"units": "hours since 2020-01-01"})
    write_zarr(store, "y", 40.0 + np.arange(3.0), ["y"])
    write_zarr(store, "x", -80.0 + np.arange(4.0), ["x"])
    return store


def _geotiff_granules(d):
    """One raster per timestep with -9999 cells under GDAL nodata."""
    from xarray_dataaccessor_spark.sources.geotiff import write_geotiff

    for t, band in enumerate(_cube(-9999.0)):
        write_geotiff(str(d / f"v{t}.tif"), band, -80.5, 42.5, (1.0, 1.0),
                      nodata=-9999.0)
    return str(d / "*.tif")


def _grib_file(d):
    """NaN cells packed behind the section-6 bitmap."""
    import datetime as dt

    import numpy as np

    from xarray_dataaccessor_spark.sources.grib2 import write_grib2

    write_grib2(str(d / "g.grib2"), [
        {"ref_time": dt.datetime(2020, 1, 1, t), "forecast_hour": 0,
         "category": 0, "number": 0, "lats": 42.0 - np.arange(3.0),
         "lons": -80.0 + np.arange(4.0), "data": band}
        for t, band in enumerate(_cube(np.nan))
    ])
    return str(d / "*.grib2")


def _read_netcdf(spark, d):
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    return spark.read.format("netcdf").load(_netcdf_granule(d))


def _catalog_zarr(spark, d):
    cat = DatasetCatalog()
    cat.register("s", _zarr_store(d), ["v"], format="zarr")
    return cat.load(spark, "s").df


def _grid_paths():
    from xarray_dataaccessor_spark.sources import ingest

    return {
        "netcdf_glob_to_grid": lambda spark, d: ingest.netcdf_glob_to_grid(
            spark, _netcdf_granule(d), "v"),
        "format_netcdf": _read_netcdf,
        "zarr_to_grid": lambda spark, d: ingest.zarr_to_grid(
            spark, _zarr_store(d), "v"),
        "geotiff_glob_to_grid": lambda spark, d: ingest.geotiff_glob_to_grid(
            spark, _geotiff_granules(d), "v"),
        "grib_glob_to_grid": lambda spark, d: ingest.grib_glob_to_grid(
            spark, _grib_file(d), "v"),
        "catalog_zarr": _catalog_zarr,
    }


@pytest.mark.parametrize("path", sorted(_grid_paths()))
def test_grid_row_contract(spark, tmp_path, path):
    """Every decode path yields ``time timestamp, y, x, <var> double``
    with each planted nodata cell as SQL null and no NaN: a NaN would
    poison ``avg`` where a null is skipped."""
    from pyspark.sql import functions as F

    df = _grid_paths()[path](spark, tmp_path)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("time", "timestamp"), ("y", "double"), ("x", "double"), ("v", "double"),
    ]
    got = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("v").isNull().cast("int")).alias("nulls"),
        F.sum(F.isnan("v").cast("int")).alias("nans"),
    ).first()
    assert (got["rows"], got["nulls"], got["nans"]) == (3 * 3 * 4, len(_NODATA_CELLS), 0)
