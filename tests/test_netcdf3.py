"""Pure-Python NetCDF3 ingestion, end-to-end: write a reference-shaped
classic file (73 hourly x 7 lat x 19 lon — the golden dims/axes the
reference asserts at testing/test_2_era5.py:131-156), read the real
bytes back, land as partitioned parquet, query through the catalog."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.sources.ingest import (
    land_grid_parquet,
    netcdf_glob_to_grid,
    open_netcdf_fragment,
)
from xarray_dataaccessor_spark.sources.netcdf3 import (
    decode_time_units,
    netcdf_fragment_to_pandas,
    parse_netcdf3,
    write_netcdf3,
)

# reference golden axes (test_2_era5.py:131-156): 73 hourly steps from
# 2019-01-30T00 UTC, lon 19 values from -83.476, lat 7 values descending
LONS = np.array([-83.476 + 0.25 * i for i in range(19)], dtype="f4")
LATS = np.array([42.883 - 0.25 * j for j in range(7)], dtype="f4")
HOURS = np.arange(73, dtype="i4") + 1043832  # hours since 1900-01-01 -> 2019-01-30


def _era5_like_file(path, scale=1.0):
    t2m = (
        270.0
        + np.arange(73)[:, None, None] * 0.1
        + np.arange(7)[None, :, None] * 0.01
        + np.arange(19)[None, None, :] * 0.001
    ) * scale
    return write_netcdf3(
        str(path),
        dims={"time": 73, "latitude": 7, "longitude": 19},
        variables={
            "time": (["time"], HOURS, {"units": "hours since 1900-01-01 00:00:00"}),
            "latitude": (["latitude"], LATS, {"units": "degrees_north"}),
            "longitude": (["longitude"], LONS, {"units": "degrees_east"}),
            "t2m": (["time", "latitude", "longitude"], t2m.astype("f8"), {"units": "K"}),
        },
        global_attrs={"source": "test fixture", "time_step": "hourly"},
    )


def test_roundtrip_golden_shape(tmp_path):
    p = _era5_like_file(tmp_path / "era5.nc")
    parsed = parse_netcdf3(open(p, "rb").read())
    assert parsed["dims"] == {"time": 73, "latitude": 7, "longitude": 19}
    assert parsed["attrs"]["time_step"] == "hourly"
    lon = parsed["variables"]["longitude"]["data"]
    lat = parsed["variables"]["latitude"]["data"]
    assert lon.dtype == np.dtype("float32") and len(lon) == 19
    assert abs(float(lon[0]) - -83.47599792480469) < 1e-5
    assert abs(float(lat[0]) - 42.882999420166016) < 1e-5
    assert abs(float(lat[-1]) - 41.382999420166016) < 1e-5
    t2m = parsed["variables"]["t2m"]["data"]
    assert t2m.shape == (73, 7, 19)
    assert t2m[0, 0, 0] == 270.0


def test_time_units_decoding():
    ts = decode_time_units(HOURS[:2], "hours since 1900-01-01 00:00:00")
    assert str(ts[0]) == "2019-01-30T00:00:00.000000"
    assert str(ts[1]) == "2019-01-30T01:00:00.000000"
    days = decode_time_units(np.array([1]), "days since 2024-01-01")
    assert str(days[0]).startswith("2024-01-02")
    with pytest.raises(ValueError):
        decode_time_units(np.array([1]), "fortnights since 2024-01-01")


def test_fragment_to_pandas_long_form(tmp_path):
    p = _era5_like_file(tmp_path / "era5.nc")
    pdf = open_netcdf_fragment(str(p), "t2m")
    assert list(pdf.columns) == ["time", "y", "x", "t2m"]
    assert len(pdf) == 73 * 7 * 19
    assert str(pdf["time"].iloc[0]) == "2019-01-30 00:00:00"
    first = pdf.iloc[0]
    assert first["y"] == pytest.approx(42.883, abs=1e-3)
    assert first["x"] == pytest.approx(-83.476, abs=1e-3)
    assert first["t2m"] == 270.0


def test_distributed_glob_ingest_and_catalog_query(spark, tmp_path):
    """Two granules -> binaryFile + mapInArrow decode -> partitioned
    parquet landing -> pruned query; the full S1/S4 path on real bytes."""
    _era5_like_file(tmp_path / "g1.nc")
    _era5_like_file(tmp_path / "g2.nc", scale=2.0)
    grid = netcdf_glob_to_grid(spark, str(tmp_path / "*.nc"), "t2m")
    assert grid.columns == ["time", "y", "x", "t2m"]
    assert grid.count() == 2 * 73 * 7 * 19

    landed = land_grid_parquet(grid, str(tmp_path), "era5_like")
    back = spark.read.parquet(landed)
    assert back.filter(F.col("month") == 1).count() > 0

    # catalog.load end-to-end: AOI + time filter + spatial mean (the
    # reference's get_xarray_dataset -> collapse flagship path)
    from xarray_dataaccessor_spark.catalog import DatasetCatalog
    from xarray_dataaccessor_spark.meta import BoundingBox

    cat = DatasetCatalog()
    cat.register("era5_like", landed, ["t2m"])
    gf = cat.load(
        spark, "era5_like",
        bbox=BoundingBox(west=-83.0, south=41.5, east=-80.0, north=42.8),
        start_time="2019-01-30", end_time="2019-02-01",
    )
    series = gf.df.groupBy("time").agg(F.avg("t2m").alias("t2m_mean"))
    assert series.count() == 49  # hourly Jan30 00:00 .. Feb01 00:00 inclusive


def test_cdf2_64bit_offset_reader(tmp_path):
    """CDF-2 ('CDF\\x02', 64-bit variable offsets) differs from CDF-1
    only in the width of each variable's begin field — hand-craft one."""
    import struct as st

    name = lambda s: st.pack(">i", len(s)) + s.encode() + b"\x00" * ((4 - len(s) % 4) % 4)
    hdr = b"CDF\x02" + st.pack(">i", 0)  # numrecs=0
    hdr += st.pack(">ii", 0x0A, 1) + name("x") + st.pack(">i", 3)
    hdr += st.pack(">ii", 0, 0)  # no global atts
    hdr += st.pack(">ii", 0x0B, 1)
    var = name("v") + st.pack(">i", 1) + st.pack(">i", 0) + st.pack(">ii", 0, 0)
    # nc_type=6 (double), vsize=24, begin as EIGHT bytes
    begin = len(hdr + var) + 4 + 4 + 8
    var += st.pack(">ii", 6, 24) + st.pack(">q", begin)
    body = np.array([1.5, -2.5, 4.0], dtype=">f8").tobytes()
    (tmp_path / "v2.nc").write_bytes(hdr + var + body)

    parsed = parse_netcdf3((tmp_path / "v2.nc").read_bytes())
    assert parsed["dims"] == {"x": 3}
    np.testing.assert_array_equal(
        parsed["variables"]["v"]["data"], np.array([1.5, -2.5, 4.0])
    )


def test_record_dim_reader(tmp_path):
    """Reader handles an unlimited (record) time dimension, which the
    fixture writer does not emit — craft the record layout by hand."""
    import struct as st

    # CDF-1: dims time(unlimited)=0, x=2; var v(time, x) double
    name = lambda s: st.pack(">i", len(s)) + s.encode() + b"\x00" * ((4 - len(s) % 4) % 4)
    hdr = b"CDF\x01" + st.pack(">i", 3)  # 3 records
    hdr += st.pack(">ii", 0x0A, 2) + name("time") + st.pack(">i", 0) + name("x") + st.pack(">i", 2)
    hdr += st.pack(">ii", 0, 0)  # no global atts
    hdr += st.pack(">ii", 0x0B, 1)
    var = name("v") + st.pack(">i", 2) + st.pack(">ii", 0, 1) + st.pack(">ii", 0, 0)
    vsize = 16  # 2 doubles per record
    begin_pos_placeholder = len(hdr + var) + 12
    var += st.pack(">iii", 6, vsize, begin_pos_placeholder)
    body = np.arange(6, dtype=">f8").tobytes()
    (tmp_path / "rec.nc").write_bytes(hdr + var + body)

    parsed = parse_netcdf3((tmp_path / "rec.nc").read_bytes())
    assert parsed["dims"]["time"] == 3
    v = parsed["variables"]["v"]["data"]
    assert v.shape == (3, 2)
    assert v[2, 1] == 5.0


def test_vsize_overflow_marker_rejected(tmp_path):
    """vsize is unsigned per the CDF spec; 2^32-1 is the overflow marker
    for record sets >= 4 GiB — a signed read would produce a negative
    stride and silently misread every record variable (ADVICE r2)."""
    import struct as st

    name = lambda s: st.pack(">i", len(s)) + s.encode() + b"\x00" * ((4 - len(s) % 4) % 4)
    hdr = b"CDF\x01" + st.pack(">i", 3)
    hdr += st.pack(">ii", 0x0A, 2) + name("time") + st.pack(">i", 0) + name("x") + st.pack(">i", 2)
    hdr += st.pack(">ii", 0, 0)
    hdr += st.pack(">ii", 0x0B, 1)
    var = name("v") + st.pack(">i", 2) + st.pack(">ii", 0, 1) + st.pack(">ii", 0, 0)
    begin = len(hdr + var) + 12
    var += st.pack(">i", 6) + st.pack(">I", 0xFFFFFFFF) + st.pack(">i", begin)
    body = np.arange(6, dtype=">f8").tobytes()
    with pytest.raises(NotImplementedError, match="overflow"):
        parse_netcdf3(hdr + var + body)


def test_record_var_past_eof_rejected(tmp_path):
    """A header whose record extent overruns the buffer is a loud error,
    not a silent misread."""
    import struct as st

    name = lambda s: st.pack(">i", len(s)) + s.encode() + b"\x00" * ((4 - len(s) % 4) % 4)
    hdr = b"CDF\x01" + st.pack(">i", 1000)  # claims 1000 records
    hdr += st.pack(">ii", 0x0A, 2) + name("time") + st.pack(">i", 0) + name("x") + st.pack(">i", 2)
    hdr += st.pack(">ii", 0, 0)
    hdr += st.pack(">ii", 0x0B, 1)
    var = name("v") + st.pack(">i", 2) + st.pack(">ii", 0, 1) + st.pack(">ii", 0, 0)
    begin = len(hdr + var) + 12
    var += st.pack(">iii", 6, 16, begin)
    body = np.arange(6, dtype=">f8").tobytes()  # only 3 records of data
    with pytest.raises(ValueError, match="past the file end"):
        parse_netcdf3(hdr + var + body)
