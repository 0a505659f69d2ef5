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
        "<QQQQ", 0, 0xFFFFFFFFFFFFFFFF, 512, 48
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
    """(t, y, x) cells numbered 251, 252, ... in row-major order, skipping
    the nodata cells, which hold ``fill``: the first row reads
    ``251, fill, 252, 253``."""
    import numpy as np

    vals = np.full((3, 3, 4), fill, dtype="f8")
    keep = np.ones(vals.shape, dtype=bool)
    for cell in _NODATA_CELLS:
        keep[cell] = False
    vals[keep] = 251.0 + np.arange(keep.sum())
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


def _packed_granule(d, container, nodata_attr):
    """int16 packed as ERA5/CDS ships it: scale 0.01, offset 250, the
    nodata cells at -32767 under ``nodata_attr`` (``_FillValue`` or
    ``missing_value``) — the first row is stored ``100, -32767, 200,
    300`` and decodes to ``251, null, 252, 253``."""
    import numpy as np

    from xarray_dataaccessor_spark.sources.hdf5 import write_hdf5
    from xarray_dataaccessor_spark.sources.netcdf3 import write_netcdf3

    cube = (_cube(np.nan) - 250.0) * 100
    packed = np.where(np.isnan(cube), -32767, np.round(cube)).astype("i2")
    attrs = {"scale_factor": 0.01, "add_offset": 250.0, nodata_attr: -32767}
    path = str(d / "packed.nc")
    variables = {
        "time": (["time"], np.arange(3.0), {"units": "hours since 2020-01-01"}),
        "y": (["y"], 40.0 + np.arange(3.0), {}),
        "x": (["x"], -80.0 + np.arange(4.0), {}),
        "v": (["time", "y", "x"], packed, attrs),
    }
    if container == "cdf":
        write_netcdf3(path, {"time": 3, "y": 3, "x": 4}, variables, record_dim="time")
    else:
        write_hdf5(path, {"time": 3, "y": 3, "x": 4}, variables)
    return path


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
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    def glob_packed(container, attr):
        return lambda spark, d: ingest.netcdf_glob_to_grid(
            spark, _packed_granule(d, container, attr), "v")

    def format_packed(container, attr):
        def read(spark, d):
            register_data_sources(spark)
            return spark.read.format("netcdf").load(_packed_granule(d, container, attr))
        return read

    packed = {}
    for container in ("cdf", "h5"):
        for attr, tag in (("_FillValue", "fill"), ("missing_value", "missing")):
            packed[f"netcdf_glob_to_grid_packed_{tag}_{container}"] = glob_packed(container, attr)
            packed[f"format_netcdf_packed_{tag}_{container}"] = format_packed(container, attr)
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
        **packed,
    }


@pytest.mark.parametrize("path", sorted(_grid_paths()))
def test_grid_row_contract(spark, tmp_path, path):
    """Every decode path yields ``time timestamp, y, x, <var> double``
    with each planted nodata cell as SQL null and no NaN — a NaN would
    poison ``avg`` where a null is skipped — and every other cell
    decoded to the value the fixture planted (CF-unpacked for the
    packed NetCDF granules)."""
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
    values = [r["v"] for r in df.filter("v IS NOT NULL").orderBy("v").collect()]
    assert values == [251.0 + k for k in range(3 * 3 * 4 - len(_NODATA_CELLS))]


@pytest.mark.parametrize("container", ["cdf", "h5"])
def test_netcdf_dims_matched_by_name(spark, tmp_path, container):
    """A variable stored ``(time, longitude, latitude)`` puts each value at
    the ``(time, y, x)`` cell the writer gave it, through ``format("netcdf")``
    split into several record windows and through ``netcdf_glob_to_grid``;
    in the helper, which has no ``level`` column, a non-degenerate extra
    dim raises a ValueError naming the variable's dims."""
    import numpy as np
    from pyspark.sql import functions as F

    from xarray_dataaccessor_spark.sources.hdf5 import write_hdf5
    from xarray_dataaccessor_spark.sources.ingest import netcdf_glob_to_grid
    from xarray_dataaccessor_spark.sources.netcdf3 import write_netcdf3
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    nt, nlon, nlat = 6, 4, 3
    lats, lons = 40.0 + np.arange(nlat), -80.0 + np.arange(nlon)
    vals = np.arange(nt * nlon * nlat, dtype="f8").reshape(nt, nlon, nlat)

    def write(path, extra=None):
        dims = {"time": nt, "longitude": nlon, "latitude": nlat}
        variables = {
            "time": (["time"], np.arange(nt, dtype="f8"), {"units": "hours since 2020-01-01"}),
            "latitude": (["latitude"], lats, {}),
            "longitude": (["longitude"], lons, {}),
            "v": (["time", "longitude", "latitude"], vals, {}),
        }
        if extra:
            dims["height"] = 2
            variables["height"] = (["height"], np.array([2.0, 10.0]), {})
            variables["v"] = (["time", "height", "longitude", "latitude"],
                              np.stack([vals, vals], axis=1), {})
        if container == "cdf":
            write_netcdf3(path, dims, variables, record_dim="time")
        else:
            write_hdf5(path, dims, variables, chunks={"v": [2] * len(variables["v"][0])})
        return path

    path = write(str(tmp_path / "g.nc"))
    register_data_sources(spark)
    windows = (spark.read.format("netcdf")
               .option("target_partition_bytes", 2 * nlon * nlat * 8).load(path))
    assert windows.rdd.getNumPartitions() == nt // 2
    want = {
        (t, lats[j], lons[i]): vals[t, i, j]
        for t in range(nt) for i in range(nlon) for j in range(nlat)
    }
    for df in (windows, netcdf_glob_to_grid(spark, path, "v")):
        hours = ((F.unix_timestamp("time") - 1577836800) / 3600).cast("int")
        got = {(r.t, r.y, r.x): r.v for r in df.select(hours.alias("t"), "y", "x", "v").collect()}
        assert got == want

    bad = write(str(tmp_path / "extra.nc"), extra=True)
    with pytest.raises(Exception, match=r"ValueError: variable 'v' has dims \['time', 'height'"):
        netcdf_glob_to_grid(spark, bad, "v").collect()


@pytest.mark.parametrize("container", ["cdf", "h5"])
def test_netcdf_valid_time_axis(spark, tmp_path, container):
    """Current CDS NetCDF downloads name the time coordinate
    ``valid_time``: ``t2m(valid_time, latitude, longitude)`` decodes with
    every value at the cell the writer gave it, through
    ``netcdf_fragment_to_pandas``, ``netcdf_glob_to_grid`` and a
    ``format("netcdf")`` read split into record windows."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from xarray_dataaccessor_spark.sources.hdf5 import write_hdf5
    from xarray_dataaccessor_spark.sources.ingest import netcdf_glob_to_grid
    from xarray_dataaccessor_spark.sources.netcdf3 import (
        netcdf_fragment_to_pandas,
        write_netcdf3,
    )
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    nt, nlat, nlon = 4, 3, 5
    lats, lons = 42.0 - np.arange(nlat), -80.0 + np.arange(nlon)
    vals = 250.0 + np.arange(nt * nlat * nlon, dtype="f8").reshape(nt, nlat, nlon)
    dims = {"valid_time": nt, "latitude": nlat, "longitude": nlon}
    variables = {
        "valid_time": (["valid_time"], np.arange(nt, dtype="f8"),
                       {"units": "hours since 2020-01-01"}),
        "latitude": (["latitude"], lats, {}),
        "longitude": (["longitude"], lons, {}),
        "t2m": (["valid_time", "latitude", "longitude"], vals, {"units": "K"}),
    }
    path = str(tmp_path / "cds.nc")
    if container == "cdf":
        write_netcdf3(path, dims, variables, record_dim="valid_time")
    else:
        write_hdf5(path, dims, variables, chunks={"t2m": [1, nlat, nlon]})
    want = {
        (t, lats[j], lons[i]): vals[t, j, i]
        for t in range(nt) for j in range(nlat) for i in range(nlon)
    }

    pdf = netcdf_fragment_to_pandas(open(path, "rb").read(), "t2m")
    t0 = pd.Timestamp("2020-01-01")
    hrs = ((pdf["time"] - t0) // pd.Timedelta(hours=1)).astype(int)
    assert dict(zip(zip(hrs, pdf["y"], pdf["x"]), pdf["t2m"])) == want

    register_data_sources(spark)
    windows = (spark.read.format("netcdf")
               .option("target_partition_bytes", nlat * nlon * 8).load(path))
    assert windows.rdd.getNumPartitions() == nt
    for df in (windows, netcdf_glob_to_grid(spark, path, "t2m")):
        hours = ((F.unix_timestamp("time") - 1577836800) / 3600).cast("int")
        got = {(r.t, r.y, r.x): r.t2m
               for r in df.select(hours.alias("t"), "y", "x", "t2m").collect()}
        assert got == want


def test_one_decoder_per_grid_format():
    """One TIFF block decoder in the package, no NetCDF decoder in the
    data sources (they call ``netcdf3.read_grid``), and no
    ``format("netcdf")`` read in ``netcdf_glob_to_grid``: the Python
    data source planner costs 0.3-0.4 s per ``load()`` and per action,
    which the per-month backfill would pay."""
    import ast
    from pathlib import Path

    import xarray_dataaccessor_spark as pkg

    root = Path(pkg.__file__).parent
    trees = {p.relative_to(root).as_posix(): ast.parse(p.read_text()) for p in root.rglob("*.py")}
    defs = [
        (path, node)
        for path, tree in trees.items()
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
    ]
    assert [p for p, d in defs if d.name == "decode_block"] == ["sources/geotiff.py"]

    pyds = trees["sources/pyds.py"]
    names = [d.name for p, d in defs if p == "sources/pyds.py"]
    assert [n for n in names if any(w in n for w in ("window", "whole_file", "wide"))] == []
    imported = {
        (node.module, a.name)
        for node in ast.walk(pyds)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
    }
    assert not [m for m, _ in imported if m.endswith(".hdf5")]
    assert not [n for _, n in imported if n.startswith("TAG_")]
    plain = {a.name for n in ast.walk(pyds) if isinstance(n, ast.Import) for a in n.names}
    assert "struct" not in plain  # the TIFF tag walk is geotiff.py's

    (glob,) = [d for p, d in defs if p == "sources/ingest.py" and d.name == "netcdf_glob_to_grid"]
    formats = [
        node.args[0].value
        for node in ast.walk(glob)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "format"
        and node.args
        and isinstance(node.args[0], ast.Constant)
    ]
    assert formats == ["binaryFile"]


def test_netcdf_glob_to_grid_plan(spark, tmp_path):
    """The helper is one ``binaryFile`` scan and one Python map node: no
    Python data source scan (``BatchScan``), whose planner runs per
    action."""
    import re

    from xarray_dataaccessor_spark.sources.ingest import netcdf_glob_to_grid

    plan = plan_string(netcdf_glob_to_grid(spark, _netcdf_granule(tmp_path), "v"))
    assert len(re.findall(r"\(\d+\) (MapInArrow|MapInPandas)", plan)) == 1, plan
    assert "BatchScan" not in plan, plan
