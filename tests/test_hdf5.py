"""Pure-Python NetCDF4/HDF5 ingestion, end-to-end: write a
reference-shaped netCDF-4 file (HDF5 container with dimension-scale
attributes — the actual on-disk format of ERA5-pds S3 objects and
LP-DAAC granules the reference opens with h5netcdf,
era5_from_aws.py:354-376, nasa_from_LPDAAC.py:480-489), read the real
bytes back, and run the same distributed glob-ingest path as the
classic-CDF tests — including a mixed-generation glob, since
netcdf_fragment_to_pandas dispatches on magic bytes per granule."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.sources.hdf5 import parse_hdf5, write_hdf5
from xarray_dataaccessor_spark.sources.ingest import (
    netcdf_glob_to_grid,
    open_netcdf_fragment,
)
from xarray_dataaccessor_spark.sources.netcdf3 import (
    netcdf_fragment_to_pandas,
    write_netcdf3,
)

# reference golden axes (test_2_era5.py:131-156)
LONS = np.array([-83.476 + 0.25 * i for i in range(19)], dtype="f8")
LATS = np.array([42.883 - 0.25 * j for j in range(7)], dtype="f8")
HOURS = (np.arange(73, dtype="i4") + 1043832).astype("f8")


def _t2m(scale=1.0):
    return (
        270.0
        + np.arange(73)[:, None, None] * 0.1
        + np.arange(7)[None, :, None] * 0.01
        + np.arange(19)[None, None, :] * 0.001
    ) * scale


def _era5_like_h5(path, scale=1.0, **kw):
    return write_hdf5(
        str(path),
        dims={"time": 73, "latitude": 7, "longitude": 19},
        variables={
            "time": (["time"], HOURS, {"units": "hours since 1900-01-01 00:00:00"}),
            "latitude": (["latitude"], LATS, {"units": "degrees_north"}),
            "longitude": (["longitude"], LONS, {"units": "degrees_east"}),
            "t2m": (["time", "latitude", "longitude"], _t2m(scale), {"units": "K"}),
        },
        **kw,
    )


def test_roundtrip_contiguous(tmp_path):
    p = _era5_like_h5(tmp_path / "era5.nc")
    parsed = parse_hdf5(open(p, "rb").read())
    assert parsed["dims"] == {"latitude": 7, "longitude": 19, "time": 73}
    t2m = parsed["variables"]["t2m"]
    assert t2m["dims"] == ["time", "latitude", "longitude"]
    np.testing.assert_array_equal(t2m["data"], _t2m())
    assert t2m["attrs"]["units"] == "K"
    assert parsed["variables"]["time"]["attrs"]["units"].startswith("hours since")
    np.testing.assert_array_equal(parsed["variables"]["latitude"]["data"], LATS)


def test_roundtrip_chunked_deflate_shuffle(tmp_path):
    # real ERA5/LP-DAAC granules are chunked + deflate (+ shuffle);
    # chunk grid deliberately non-divisible so edge trimming is hit
    p = _era5_like_h5(
        tmp_path / "era5.nc",
        chunks={"t2m": [32, 4, 8]},
        compress=True,
        shuffle=True,
    )
    parsed = parse_hdf5(open(p, "rb").read())
    np.testing.assert_array_equal(parsed["variables"]["t2m"]["data"], _t2m())


def test_fragment_dispatch_long_form(tmp_path):
    """netcdf_fragment_to_pandas routes HDF5 magic to the HDF5 parser and
    produces the identical long form the classic reader produces."""
    p = _era5_like_h5(tmp_path / "era5v4.nc", chunks={"t2m": [73, 7, 19]}, compress=True)
    pdf = open_netcdf_fragment(str(p), "t2m")
    assert list(pdf.columns) == ["time", "y", "x", "t2m"]
    assert len(pdf) == 73 * 7 * 19
    assert str(pdf["time"].iloc[0]) == "2019-01-30 00:00:00"
    first = pdf.iloc[0]
    assert first["y"] == pytest.approx(42.883, abs=1e-3)
    assert first["x"] == pytest.approx(-83.476, abs=1e-3)
    assert first["t2m"] == 270.0


def test_mixed_generation_glob_ingest(spark, tmp_path):
    """One classic CDF granule + one NetCDF4/HDF5 granule in the same
    glob: binaryFile + mapInArrow decode dispatches per granule on the
    executors (parsers shipped by value — no package on worker path)."""
    t2m = _t2m()
    write_netcdf3(
        str(tmp_path / "g1.nc"),
        dims={"time": 73, "latitude": 7, "longitude": 19},
        variables={
            "time": (["time"], HOURS.astype("i4"), {"units": "hours since 1900-01-01 00:00:00"}),
            "latitude": (["latitude"], LATS.astype("f4"), {}),
            "longitude": (["longitude"], LONS.astype("f4"), {}),
            "t2m": (["time", "latitude", "longitude"], t2m, {"units": "K"}),
        },
    )
    _era5_like_h5(tmp_path / "g2.nc", scale=2.0, chunks={"t2m": [16, 7, 19]}, compress=True)
    _era5_like_h5(tmp_path / "g3.nc", scale=4.0, v2=True)  # libver-latest OHDR
    grid = netcdf_glob_to_grid(spark, str(tmp_path / "*.nc"), "t2m")
    assert grid.columns == ["time", "y", "x", "t2m"]
    assert grid.count() == 3 * 73 * 7 * 19
    # all generations agree on the grid: per-time sums = 1x + 2x + 4x
    means = (
        grid.groupBy("time").agg(F.sum("t2m").alias("s")).orderBy("time").limit(1)
    ).collect()
    expected = float(t2m[0].sum() * 7.0)  # granule1 + 2x g2 + 4x g3
    assert means[0]["s"] == pytest.approx(expected, rel=1e-12)


def test_int_bigendian_and_string_attrs(tmp_path):
    p = write_hdf5(
        str(tmp_path / "i.h5"),
        dims={"x": 5},
        variables={
            "x": (["x"], np.arange(5, dtype="<f8"), {}),
            "v": (["x"], (np.arange(5, dtype=">i4") * 7), {"long_name": "counts"}),
        },
        chunks={"v": [3]},
        compress=True,
        shuffle=True,
    )
    parsed = parse_hdf5(open(p, "rb").read())
    v = parsed["variables"]["v"]
    np.testing.assert_array_equal(v["data"], np.arange(5) * 7)
    assert v["data"].dtype == v["data"].dtype.newbyteorder("=")
    assert v["attrs"]["long_name"] == "counts"


def test_numeric_attr_roundtrip(tmp_path):
    p = write_hdf5(
        str(tmp_path / "a.h5"),
        dims={"x": 3},
        variables={
            "x": (["x"], np.arange(3, dtype="<f8"), {}),
            "v": (["x"], np.ones(3), {"_FillValue": -9999.0, "scale": [0.5, 2.0]}),
        },
    )
    parsed = parse_hdf5(open(p, "rb").read())
    attrs = parsed["variables"]["v"]["attrs"]
    assert attrs["_FillValue"] == -9999.0
    assert attrs["scale"] == [0.5, 2.0]


def test_v2_object_header_roundtrip(tmp_path):
    """libver='latest' layout: superblock v3 + OHDR headers + compact
    link messages — decoded by the same parse path as the v0/v1 files
    (chunked+deflate variant exercises OHDR dataset headers too)."""
    p = _era5_like_h5(tmp_path / "era5_latest.nc", v2=True)
    buf = open(p, "rb").read()
    assert buf[8] == 3  # superblock v3
    parsed = parse_hdf5(buf)
    assert parsed["dims"] == {"latitude": 7, "longitude": 19, "time": 73}
    np.testing.assert_array_equal(parsed["variables"]["t2m"]["data"], _t2m())
    assert parsed["variables"]["t2m"]["dims"] == ["time", "latitude", "longitude"]
    p2 = _era5_like_h5(
        tmp_path / "era5_latest_chunked.nc", v2=True,
        chunks={"t2m": [32, 4, 8]}, compress=True, shuffle=True,
    )
    parsed2 = parse_hdf5(open(p2, "rb").read())
    np.testing.assert_array_equal(parsed2["variables"]["t2m"]["data"], _t2m())


def test_dense_group_links_gated(tmp_path):
    """Dense (fractal-heap) link storage remains gated: a root OHDR whose
    link-info message carries a real fractal heap address must reject."""
    from xarray_dataaccessor_spark.sources.hdf5 import _SIG, _ohdr_v2

    # link info v0, flags 0: version, flags, fractal heap addr, name btree addr
    li = bytes([0, 0]) + struct.pack("<QQ", 4096, 4200)
    root = _ohdr_v2([(0x02, li)])
    buf = bytearray(b"\x00" * 512)
    sb = _SIG + bytes([3, 8, 8, 0]) + struct.pack(
        "<QQQQ", 0, 0xFFFFFFFFFFFFFFFF, 512, 48
    )
    buf[: len(sb)] = sb
    buf[48 : 48 + len(root)] = root
    with pytest.raises(NotImplementedError, match="fractal-heap"):
        parse_hdf5(bytes(buf))


def test_unknown_filter_gated(tmp_path):
    """szip (filter id 4) in the pipeline must reject, not misread."""
    from xarray_dataaccessor_spark.sources.hdf5 import _apply_filters

    with pytest.raises(NotImplementedError, match="filter id 4"):
        _apply_filters(b"\x00" * 8, [(4, [])], mask=0)


def test_fletcher32_filter_stripped():
    from xarray_dataaccessor_spark.sources.hdf5 import _apply_filters

    payload = np.arange(4, dtype="<f8").tobytes()
    assert _apply_filters(payload + b"\x00\x00\x00\x00", [(3, [])], mask=0) == payload
    # masked-out filter entries are skipped per spec
    assert _apply_filters(payload, [(3, [])], mask=1) == payload


def test_truncated_granule_raises_through_glob_ingest(spark, tmp_path):
    """A granule cut short of its superblock end-of-file address is
    refused by the shared decode, not read as a shorter grid."""
    raw = open(_era5_like_h5(tmp_path / "full.h5"), "rb").read()
    for cut in (8, 40):
        (tmp_path / f"cut{cut}.nc").write_bytes(raw[:-cut])
        with pytest.raises(Exception, match="ValueError: truncated HDF5 granule"):
            netcdf_glob_to_grid(spark, str(tmp_path / f"cut{cut}.nc"), "t2m").collect()
