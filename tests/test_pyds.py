"""Python Data Source API integration (``sources/pyds.py``):
``spark.read.format("netcdf"/"geotiff"/"webdataset")`` with
header-only partition planning, pushFilters pruning, Arrow-batch
decode, the webdataset commit protocol, and the granule-tail stream.

Reference parity: the reference opens granules driver-side with
xarray (``era5_from_aws.py:349-376``, ``nasa_from_LPDAAC.py:480-489``)
and writes no data source; here the same formats are first-class Spark
sources whose partition planning is O(header bytes), not O(file)."""

import json
import os

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThan, GreaterThanOrEqual, LessThan

from xarray_dataaccessor_spark.sources.geotiff import (
    geotiff_fragment_to_pandas,
    write_cog,
    write_geotiff,
)
from xarray_dataaccessor_spark.sources.hdf5 import write_hdf5
from xarray_dataaccessor_spark.sources.netcdf3 import (
    parse_netcdf3,
    parse_netcdf3_header,
    write_netcdf3,
)
from xarray_dataaccessor_spark.sources.pyds import (
    _GeoTIFFReader,
    _NetCDFBatchReader,
    _tiff_layout,
    register_data_sources,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_data_sources(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def _era5_like_nc(path, nt=24, ny=3, nx=2, record_dim=None, y0=40.0, x0=-80.0):
    t = np.arange(nt, dtype="f8")
    ys = y0 + np.arange(ny, dtype="f8")
    xs = x0 + np.arange(nx, dtype="f8")
    vals = np.arange(nt * ny * nx, dtype="f8").reshape(nt, ny, nx)
    write_netcdf3(
        path,
        {"time": nt, "y": ny, "x": nx},
        {
            "time": (["time"], t, {"units": "hours since 2020-01-01"}),
            "y": (["y"], ys, {}),
            "x": (["x"], xs, {}),
            "t2m": (["time", "y", "x"], vals, {}),
            "d2m": (["time", "y", "x"], vals * 0.5, {}),
        },
        record_dim=record_dim,
    )
    return vals


# ---------------------------------------------------------------------------
# classic-CDF writer: record-dimension layout round-trips
# ---------------------------------------------------------------------------


def test_write_netcdf3_record_dim_roundtrip(tmp_path):
    p = str(tmp_path / "rec.nc")
    vals = _era5_like_nc(p, record_dim="time")
    parsed = parse_netcdf3(open(p, "rb").read())
    assert parsed["dims"]["time"] == 24
    assert np.allclose(parsed["variables"]["t2m"]["data"], vals)
    assert np.allclose(parsed["variables"]["d2m"]["data"], vals * 0.5)
    hdr = parse_netcdf3_header(open(p, "rb").read())
    # record section: time (8) + t2m (3*2*8=48) + d2m (48), all 4-aligned
    assert hdr["numrecs"] == 24 and hdr["stride"] == 8 + 48 + 48


def test_write_netcdf3_single_record_var_unpadded(tmp_path):
    # one f4 record variable with odd per-record byte count exercises
    # the spec's no-padding exception on both writer and reader
    p = str(tmp_path / "one.nc")
    vals = np.arange(5 * 1 * 3, dtype="f4").reshape(5, 1, 3)
    write_netcdf3(
        p,
        {"time": 5, "y": 1, "x": 3},
        {
            "y": (["y"], np.array([1.0]), {}),
            "x": (["x"], np.array([1.0, 2.0, 3.0]), {}),
            "v": (["time", "y", "x"], vals, {}),
        },
        record_dim="time",
    )
    hdr = parse_netcdf3_header(open(p, "rb").read())
    assert hdr["stride"] == 12  # 3 * f4, no alignment padding
    parsed = parse_netcdf3(open(p, "rb").read())
    assert np.allclose(parsed["variables"]["v"]["data"], vals)


def test_header_only_parse_is_prefix_safe(tmp_path):
    # a 100 KiB char attribute pushes the header past 64 KiB; the planner
    # parses headers through an mmap of the whole granule, so no prefix
    # length can cut it short
    p = str(tmp_path / "bighdr.nc")
    write_netcdf3(
        p,
        {"x": 4},
        {"x": (["x"], np.arange(4.0), {"note": "z" * 100_000})},
    )
    from xarray_dataaccessor_spark.sources.netcdf3 import netcdf_layout
    from xarray_dataaccessor_spark.sources.pyds import _mmap

    lay = netcdf_layout(_mmap(p))
    assert list(lay["variables"]) == ["x"]
    assert lay["variables"]["x"]["attrs"]["note"] == "z" * 100_000


# ---------------------------------------------------------------------------
# netcdf batch source
# ---------------------------------------------------------------------------


def test_netcdf_source_matches_fragment_reader(spark, tmp_path):
    p = str(tmp_path / "g.nc")
    vals = _era5_like_nc(p, record_dim="time")
    df = spark.read.format("netcdf").load(p)
    assert [f.name for f in df.schema.fields] == ["time", "y", "x", "t2m", "d2m"]
    got = df.orderBy("time", "y", "x").toPandas()
    assert len(got) == 24 * 3 * 2
    assert np.allclose(got["t2m"].to_numpy(), vals.reshape(-1))
    assert np.allclose(got["d2m"].to_numpy(), vals.reshape(-1) * 0.5)
    assert str(got["time"].iloc[6]) == "2020-01-01 01:00:00"


def test_netcdf_record_range_partitions(spark, tmp_path):
    p = str(tmp_path / "g.nc")
    _era5_like_nc(p, record_dim="time")
    df = (
        spark.read.format("netcdf")
        .option("target_partition_bytes", 250)  # 2 records per task (stride 104)
        .load(p)
    )
    assert df.rdd.getNumPartitions() == 12
    assert df.count() == 144
    # partition split must not change values
    assert df.agg(F.sum("t2m")).collect()[0][0] == float(
        np.arange(144).sum()
    )


def test_netcdf_fixed_layout_single_partition(spark, tmp_path):
    p = str(tmp_path / "fixed.nc")
    vals = _era5_like_nc(p, record_dim=None)
    df = spark.read.format("netcdf").load(p)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 144
    assert df.agg(F.sum("d2m")).collect()[0][0] == vals.sum() * 0.5


def test_netcdf_time_pruning_requires_opt_in(tmp_path):
    p = str(tmp_path / "g.nc")
    _era5_like_nc(p, record_dim="time")
    flt = [GreaterThanOrEqual(("time",), "2020-01-01 20:00:00")]

    r = _NetCDFBatchReader({"path": p, "target_partition_bytes": "250"})
    r.infer_schema()
    r._filters = flt
    n_unpruned = len(r.partitions())

    r2 = _NetCDFBatchReader(
        {
            "path": p,
            "target_partition_bytes": "250",
            "assume_sorted_time": "true",
        }
    )
    r2.infer_schema()
    import datetime as dt

    r2._filters = [
        GreaterThanOrEqual(("time",), dt.datetime(2020, 1, 1, 20))
    ]
    n_pruned = len(r2.partitions())
    assert n_unpruned == 12 and n_pruned < n_unpruned


def test_netcdf_time_filter_exact_with_pruning(spark, tmp_path):
    p = str(tmp_path / "g.nc")
    _era5_like_nc(p, record_dim="time")
    df = (
        spark.read.format("netcdf")
        .option("target_partition_bytes", 200)
        .option("assume_sorted_time", "true")
        .load(p)
        .filter("time >= timestamp'2020-01-01 20:00:00'")
    )
    assert df.count() == 4 * 3 * 2


def test_netcdf_granule_bbox_pruning(spark, tmp_path):
    _era5_like_nc(str(tmp_path / "near.nc"), record_dim="time")
    _era5_like_nc(
        str(tmp_path / "far.nc"), record_dim="time", y0=70.0, x0=120.0
    )
    r = _NetCDFBatchReader({"path": str(tmp_path)})
    r.infer_schema()
    r._filters = [LessThan(("y",), 50.0)]
    parts = r.partitions()
    assert {os.path.basename(pt.path) for pt in parts} == {"near.nc"}
    # and through SQL the result is exact (filter re-applied by Spark)
    df = spark.read.format("netcdf").load(str(tmp_path)).filter("y < 50.0")
    assert df.count() == 144


def test_netcdf_variables_option_and_granule_column(spark, tmp_path):
    p = str(tmp_path / "g.nc")
    _era5_like_nc(p, record_dim="time")
    df = (
        spark.read.format("netcdf")
        .option("variables", "t2m")
        .option("include_granule", "true")
        .load(p)
    )
    assert [f.name for f in df.schema.fields] == ["time", "y", "x", "t2m", "granule"]
    assert df.select("granule").distinct().collect()[0][0] == "g.nc"


def test_netcdf_source_reads_hdf5_granules(spark, tmp_path):
    # NetCDF4 = HDF5 container: whole-file partitions through the pure
    # HDF5 reader, same long-form schema
    p = str(tmp_path / "g.h5")
    t2m = np.arange(4 * 2 * 3, dtype="f8").reshape(4, 2, 3)
    write_hdf5(
        p,
        {"time": 4, "latitude": 2, "longitude": 3},
        {
            "time": (
                ["time"],
                np.arange(4, dtype="f8"),
                {"units": "hours since 2021-06-01"},
            ),
            "latitude": (["latitude"], np.array([10.0, 11.0]), {}),
            "longitude": (["longitude"], np.array([1.0, 2.0, 3.0]), {}),
            "t2m": (["time", "latitude", "longitude"], t2m, {}),
        },
    )
    df = spark.read.format("netcdf").option("path", p).load()
    got = df.orderBy("time", "y", "x").toPandas()
    assert len(got) == 24
    assert np.allclose(got["t2m"].to_numpy(), t2m.reshape(-1))


# ---------------------------------------------------------------------------
# geotiff source
# ---------------------------------------------------------------------------


def _raster(h=64, w=48):
    return (np.arange(h * w, dtype="f4").reshape(h, w)) * 0.25


def test_geotiff_source_matches_fragment_reader(spark, tmp_path):
    p = str(tmp_path / "a.tif")
    write_geotiff(
        p,
        _raster(),
        x_origin=-120.0,
        y_origin=50.0,
        pixel_size=(0.1, 0.1),
        nodata=-9999.0,
        compress=True,
    )
    df = spark.read.format("geotiff").option("variable", "elev").load(p)
    got = df.orderBy("y", "x").toPandas()
    ref = (
        geotiff_fragment_to_pandas(open(p, "rb").read(), "elev")
        .sort_values(["y", "x"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ref) == 64 * 48
    assert np.allclose(got["elev"], ref["elev"], equal_nan=True)
    assert np.allclose(got["y"], ref["y"]) and np.allclose(got["x"], ref["x"])


def test_geotiff_cog_layout_skips_overviews_and_prunes(spark, tmp_path):
    p = str(tmp_path / "b.tif")
    write_cog(
        p,
        _raster().astype("f8"),
        x_origin=-120.0,
        y_origin=50.0,
        pixel_size=(0.1, 0.1),
        tile_size=16,
    )
    lay = _tiff_layout(p)
    assert lay["tiled"] and lay["width"] == 48 and lay["height"] == 64
    assert len(lay["offsets"]) == 3 * 4  # full-res tiles only, no overviews

    r = _GeoTIFFReader({"path": p})
    r._filters = [GreaterThan(("y",), 49.9), LessThan(("x",), -119.5)]
    kept = sum(len(pt.block_ids) for pt in r.partitions())
    total = sum(len(pt.block_ids) for pt in _GeoTIFFReader({"path": p}).partitions())
    assert kept < total

    ref = geotiff_fragment_to_pandas(open(p, "rb").read(), "value")
    df = (
        spark.read.format("geotiff")
        .load(p)
        .filter("y > 49.9 and x < -119.5")
    )
    exp = int(((ref["y"] > 49.9) & (ref["x"] < -119.5)).sum())
    assert df.count() == exp
    got = df.agg(F.sum("value")).collect()[0][0]
    want = float(ref.loc[(ref["y"] > 49.9) & (ref["x"] < -119.5), "value"].sum())
    assert abs(got - want) < 1e-6


def test_geotiff_nodata_becomes_null_nan(spark, tmp_path):
    data = _raster(8, 8)
    data[0, :4] = -9999.0
    p = str(tmp_path / "n.tif")
    write_geotiff(
        p, data, x_origin=0.0, y_origin=8.0, pixel_size=(1.0, 1.0),
        nodata=-9999.0,
    )
    df = spark.read.format("geotiff").load(p)
    assert df.filter(F.col("value").isNull()).count() == 4
    assert df.filter(F.isnan("value")).count() == 0


def test_geotiff_year_option_stamps_time(spark, tmp_path):
    p = str(tmp_path / "y.tif")
    write_geotiff(
        p, _raster(4, 4), x_origin=0.0, y_origin=4.0, pixel_size=(1.0, 1.0)
    )
    df = spark.read.format("geotiff").option("year", "2019").load(p)
    ts = df.select("time").distinct().collect()
    assert len(ts) == 1 and str(ts[0][0]) == "2019-01-01 00:00:00"


# ---------------------------------------------------------------------------
# webdataset source + sink (commit protocol)
# ---------------------------------------------------------------------------


def test_webdataset_write_read_roundtrip(spark, tmp_path):
    out = str(tmp_path / "wds")
    rows = [
        (
            f"doc{i:04d}",
            {
                "txt": bytearray(f"hello {i}".encode()),
                "json": bytearray(json.dumps({"i": i}).encode()),
            },
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "key string, files map<string,binary>"
    ).repartition(3)
    df.write.format("webdataset").mode("append").save(out)

    names = sorted(os.listdir(out))
    assert names == [
        "_manifest.json",
        "shard-000000.tar",
        "shard-000001.tar",
        "shard-000002.tar",
    ]
    man = json.load(open(os.path.join(out, "_manifest.json")))
    assert sum(s["samples"] for s in man["shards"]) == 20

    back = spark.read.format("webdataset").load(out)
    assert back.rdd.getNumPartitions() == 3  # shard = unit of parallelism
    assert back.count() == 20
    got = back.filter("key = 'doc0007'").select(
        F.expr("decode(files['txt'], 'utf-8')").alias("t")
    ).collect()
    assert got[0]["t"] == "hello 7"
    # no temp litter after commit
    assert not [n for n in names if n.startswith("._tmp_")]


def test_webdataset_interops_with_existing_tar_reader(spark, tmp_path):
    # shards written by the DataSourceWriter must be readable by the
    # engine's mapInPandas tar reader (sinks/webdataset.py) and vice versa
    from xarray_dataaccessor_spark.sinks.webdataset import read_tar_shards

    out = str(tmp_path / "wds")
    rows = [(f"k{i}", {"txt": bytearray(str(i).encode())}) for i in range(6)]
    spark.createDataFrame(
        rows, "key string, files map<string,binary>"
    ).coalesce(1).write.format("webdataset").mode("append").save(out)
    legacy = read_tar_shards(spark, out)
    assert legacy.count() >= 6


# ---------------------------------------------------------------------------
# granule-tail streaming
# ---------------------------------------------------------------------------


def test_netcdf_stream_tail_two_batches(spark, tmp_path):
    d = str(tmp_path / "feed")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "out")

    def granule(i):
        vals = np.full((6, 2, 2), float(i))
        write_netcdf3(
            os.path.join(d, f"g{i}.nc"),
            {"time": 6, "y": 2, "x": 2},
            {
                "time": (
                    ["time"],
                    np.arange(6, dtype="f8"),
                    {"units": "hours since 2020-01-01"},
                ),
                "y": (["y"], np.array([1.0, 2.0]), {}),
                "x": (["x"], np.array([3.0, 4.0]), {}),
                "t2m": (["time", "y", "x"], vals, {}),
            },
            record_dim="time",
        )

    def run_batch():
        q = (
            spark.readStream.format("netcdf")
            .load(d)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    granule(0)
    granule(1)
    run_batch()
    r1 = spark.read.parquet(sink).selectExpr(
        "count(*) c", "sum(t2m) s"
    ).collect()[0]
    assert (r1["c"], r1["s"]) == (48, 24.0)

    granule(2)
    run_batch()  # offset restart: only the NEW granule is consumed
    r2 = spark.read.parquet(sink).selectExpr(
        "count(*) c", "sum(t2m) s"
    ).collect()[0]
    assert (r2["c"], r2["s"]) == (72, 72.0)


# ---------------------------------------------------------------------------
# zarr source (chunk-native)
# ---------------------------------------------------------------------------


def _zarr_store(tmp_path, chunks=(4, 3, 4), shards=None, **wz):
    from xarray_dataaccessor_spark.sources.zarr import write_zarr

    store = str(tmp_path / "store")
    nt, ny, nx = 12, 6, 9
    data = np.arange(nt * ny * nx, dtype="f8").reshape(nt, ny, nx)
    write_zarr(
        store, "t2m", data, ["time", "y", "x"], chunks=list(chunks),
        shards=shards, **wz,
    )
    write_zarr(
        store, "time", np.arange(nt, dtype="f8"), ["time"],
        attrs={"units": "hours since 2022-01-01"}, **wz,
    )
    write_zarr(store, "y", 40 + np.arange(ny, dtype="f8"), ["y"], **wz)
    write_zarr(store, "x", -80 + np.arange(nx, dtype="f8"), ["x"], **wz)
    return store, data


def test_zarr_source_matches_array(spark, tmp_path):
    store, data = _zarr_store(tmp_path)
    df = spark.read.format("zarr").option("variable", "t2m").load(store)
    got = df.orderBy("time", "y", "x").toPandas()
    assert len(got) == data.size
    assert np.allclose(got["t2m"], data.reshape(-1))
    assert str(got["time"].iloc[6 * 9]) == "2022-01-01 01:00:00"


def test_zarr_chunk_pruning_exact(spark, tmp_path):
    from pyspark.sql.datasource import LessThan

    from xarray_dataaccessor_spark.sources.pyds import _ZarrReader

    store, data = _zarr_store(tmp_path)
    # 3 t-chunks x 2 y-chunks x 3 x-chunks = 18; y < 41.9 keeps y-chunk 0
    r = _ZarrReader(
        {"path": store, "variable": "t2m", "target_partition_bytes": "1"}
    )
    r._filters = [LessThan(("y",), 41.9)]
    kept = sum(len(p.chunk_idx) for p in r.partitions())
    total = sum(
        len(p.chunk_idx)
        for p in _ZarrReader(
            {"path": store, "variable": "t2m", "target_partition_bytes": "1"}
        ).partitions()
    )
    assert (kept, total) == (9, 18)
    q = (
        spark.read.format("zarr")
        .option("variable", "t2m")
        .load(store)
        .filter("y < 41.9 and time >= timestamp'2022-01-01 05:00:00'")
    )
    got = q.toPandas()
    exp = data[5:, :2, :]
    assert len(got) == exp.size
    assert abs(got["t2m"].sum() - exp.sum()) < 1e-9


def test_zarr_missing_chunk_null_fill_skips_rows(spark, tmp_path):
    # v2 writer emits fill_value null: an absent chunk object has
    # UNDEFINED values per spec -> the source emits no rows for it
    store, data = _zarr_store(tmp_path)
    os.remove(os.path.join(store, "t2m", "0.0.0"))
    df = spark.read.format("zarr").option("variable", "t2m").load(store)
    assert df.count() == data.size - 4 * 3 * 4
    got = df.agg(F.sum("t2m")).collect()[0][0]
    manual = data.copy()
    manual[0:4, 0:3, 0:4] = 0.0
    assert abs(got - manual.sum()) < 1e-9


def test_zarr_v3_sharded_store(spark, tmp_path):
    # v3 zarr.json metadata + sharding_indexed layout decode through the
    # same source (partition granularity = shard object)
    store, data = _zarr_store(
        tmp_path, chunks=(4, 3, 4), zarr_format=3, shards=[4, 6, 8]
    )
    df = spark.read.format("zarr").option("variable", "t2m").load(store)
    got = df.orderBy("time", "y", "x").toPandas()
    assert len(got) == data.size
    assert np.allclose(got["t2m"], data.reshape(-1))


def test_bounds_from_filters_tz_independent():
    # a naive datetime bound must convert as naive-UTC microseconds no
    # matter the process TZ — v.timestamp() would shift it by the UTC
    # offset and make partition pruning drop matching rows
    import datetime as dt
    import time as time_mod

    from pyspark.sql.datasource import GreaterThanOrEqual as GTE

    from xarray_dataaccessor_spark.sources.pyds import _bounds_from_filters

    naive = dt.datetime(2022, 1, 1, 5, 0, 0)
    want = float(np.datetime64(naive, "us").astype("int64"))
    old = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/Denver"
        time_mod.tzset()
        lo, hi = _bounds_from_filters([GTE(("time",), naive)], "time")
        assert lo == want and hi is None
        aware = naive.replace(tzinfo=dt.timezone(dt.timedelta(hours=-7)))
        lo2, _ = _bounds_from_filters([GTE(("time",), aware)], "time")
        assert lo2 == want + 7 * 3600 * 1e6  # aware converts through UTC
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time_mod.tzset()


def test_zarr_stream_time_appends(spark, tmp_path):
    # growing store: offsets = time rows from the shape metadata; a
    # batch window that STRADDLES a chunk (rows [0,6) then [6,12) over
    # 4-row chunks) must trim at both edges and never double-emit
    import json
    import shutil

    from xarray_dataaccessor_spark.sources.zarr import write_zarr

    stage = str(tmp_path / "stage")
    live = str(tmp_path / "live")
    nt, ny, nx = 12, 4, 5
    data = np.arange(nt * ny * nx, dtype="f8").reshape(nt, ny, nx)
    write_zarr(stage, "t2m", data, ["time", "y", "x"], chunks=[4, 2, 5])
    write_zarr(
        stage, "time", np.arange(nt, dtype="f8"), ["time"],
        attrs={"units": "hours since 2022-01-01"},
    )
    write_zarr(stage, "y", 40 + np.arange(ny, dtype="f8"), ["y"])
    write_zarr(stage, "x", -80 + np.arange(nx, dtype="f8"), ["x"])
    shutil.copytree(stage, live)
    zpath = os.path.join(live, "t2m", ".zarray")
    za = json.load(open(zpath))
    # live store starts mid-chunk: 6 rows (chunk 0 full, chunk 1 partial)
    for fn in list(os.listdir(os.path.join(live, "t2m"))):
        if fn.startswith("2."):
            os.remove(os.path.join(live, "t2m", fn))
    za["shape"][0] = 6
    json.dump(za, open(zpath, "w"))

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("zarr")
            .option("variable", "t2m")
            .load(live)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    run()
    r1 = spark.read.parquet(sink).selectExpr(
        "count(*) c", "sum(t2m) s"
    ).collect()[0]
    assert (r1["c"], r1["s"]) == (6 * ny * nx, data[:6].sum())

    # append: land chunk 2 objects, THEN bump the shape (shape-last)
    for fn in os.listdir(os.path.join(stage, "t2m")):
        if fn.startswith("2."):
            shutil.copy(
                os.path.join(stage, "t2m", fn),
                os.path.join(live, "t2m", fn),
            )
    za["shape"][0] = 12
    json.dump(za, open(zpath, "w"))
    run()
    r2 = spark.read.parquet(sink).selectExpr(
        "count(*) c", "sum(t2m) s"
    ).collect()[0]
    assert (r2["c"], r2["s"]) == (12 * ny * nx, data.sum())


# ---------------------------------------------------------------------------
# grib2 source (message-granular)
# ---------------------------------------------------------------------------


def _grib_file(tmp_path, n_msgs=6):
    import datetime as dt

    from xarray_dataaccessor_spark.sources.grib2 import write_grib2

    lats = np.array([44.0, 43.0, 42.0])
    lons = np.array([10.0, 11.0, 12.0, 13.0])
    fields = [
        {
            "ref_time": dt.datetime(2023, 5, 1, h),
            "forecast_hour": 0,
            "category": 0,
            "number": 0,
            "lats": lats,
            "lons": lons,
            "data": (np.arange(12).reshape(3, 4) + 100 * h).astype("f8"),
        }
        for h in range(n_msgs)
    ]
    p = str(tmp_path / "f.grib2")
    write_grib2(p, fields)
    return p


def test_grib2_source_matches_parser(spark, tmp_path):
    from xarray_dataaccessor_spark.sources.grib2 import parse_grib2
    from xarray_dataaccessor_spark.sources.pyds import _grib_message_index

    p = _grib_file(tmp_path)
    assert len(_grib_message_index(p)) == 6  # 64-byte header walk
    df = spark.read.format("grib2").option("variable", "tp").load(p)
    got = df.orderBy("time", "y", "x").toPandas()
    ref = parse_grib2(open(p, "rb").read())
    assert len(got) == 6 * 12
    # message h -> timestamp 2023-05-01 0h; rows align per (time,y,x)
    for h, m in enumerate(ref):
        sl = got[got["time"] == np.datetime64(f"2023-05-01T0{h}:00:00")]
        assert np.allclose(
            sl.sort_values(["y", "x"])["tp"].to_numpy(),
            np.sort(m["data"].reshape(-1)),
        ) or np.allclose(sl["tp"].sum(), m["data"].sum())


def test_grib2_hi_bound_time_pruning(spark, tmp_path):
    import datetime as dt

    from pyspark.sql.datasource import LessThan

    from xarray_dataaccessor_spark.sources.pyds import _GribReader

    p = _grib_file(tmp_path)
    r = _GribReader({"path": p, "target_partition_bytes": "1"})
    r._filters = [LessThan(("time",), dt.datetime(2023, 5, 1, 2, 30))]
    kept = sum(len(pt.ranges) for pt in r.partitions())
    assert kept == 3  # ref_time > hi proves emptiness; lo cannot prune
    n = (
        spark.read.format("grib2")
        .load(p)
        .filter("time < timestamp'2023-05-01 02:30:00'")
        .count()
    )
    assert n == 3 * 12


# ---------------------------------------------------------------------------
# validation: fail at schema/plan time with actionable messages
# ---------------------------------------------------------------------------


def test_netcdf_missing_variable_fails_at_schema_time(spark, tmp_path):
    p = str(tmp_path / "g.nc")
    _era5_like_nc(p, record_dim="time")
    with pytest.raises(Exception, match="nope.*has.*t2m"):
        spark.read.format("netcdf").option("variables", "nope").load(p).schema


def test_netcdf_bad_magic_rejected(spark, tmp_path):
    p = str(tmp_path / "junk.nc")
    open(p, "wb").write(b"not a netcdf file at all" * 10)
    with pytest.raises(Exception, match="bad magic|HDF"):
        spark.read.format("netcdf").load(p).count()


def test_empty_directory_rejected(spark, tmp_path):
    d = str(tmp_path / "empty")
    os.makedirs(d)
    with pytest.raises(Exception, match="No granules matched"):
        spark.read.format("netcdf").load(d).schema


# ---------------------------------------------------------------------------
# netcdf4/hdf5 granules: chunk-level time-window partitions
# ---------------------------------------------------------------------------


def _h5_granule(tmp_path, chunks=None, compress=False, shuffle=False):
    nt, ny, nx = 48, 4, 6
    t2m = np.arange(nt * ny * nx, dtype="f8").reshape(nt, ny, nx)
    p = str(tmp_path / "g.h5")
    write_hdf5(
        p,
        {"time": nt, "latitude": ny, "longitude": nx},
        {
            "time": (["time"], np.arange(nt, dtype="f8"),
                     {"units": "hours since 2021-06-01"}),
            "latitude": (["latitude"], 10 + np.arange(ny, dtype="f8"), {}),
            "longitude": (["longitude"], np.arange(nx, dtype="f8"), {}),
            "t2m": (["time", "latitude", "longitude"], t2m, {}),
            "d2m": (["time", "latitude", "longitude"], t2m * 0.5, {}),
        },
        chunks=chunks,
        compress=compress,
        shuffle=shuffle,
    )
    return p, t2m


def test_hdf5_chunked_granule_splits_into_time_windows(spark, tmp_path):
    p, t2m = _h5_granule(
        tmp_path, chunks={"t2m": [8, 4, 6], "d2m": [8, 4, 6]},
        compress=True, shuffle=True,
    )
    # per_row = 2 vars x 24 cells x 8 B = 384 B; 3000 B -> 7 windows
    df = (
        spark.read.format("netcdf")
        .option("target_partition_bytes", 3000)
        .load(p)
    )
    assert df.rdd.getNumPartitions() == 7
    got = df.orderBy("time", "y", "x").toPandas()
    assert len(got) == t2m.size
    assert np.allclose(got["t2m"], t2m.reshape(-1))
    assert np.allclose(got["d2m"], t2m.reshape(-1) * 0.5)

    # a truncated granule beside a good one fails at planning with a
    # typed error — never a silent whole-granule fallback partition
    raw = open(p, "rb").read()
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    (mixed / "a.nc").write_bytes(raw)
    (mixed / "b.nc").write_bytes(raw[: len(raw) // 2])
    r = _NetCDFBatchReader({"path": str(mixed)})
    r.infer_schema()  # schema comes from the good first granule
    with pytest.raises(ValueError, match="truncated HDF5 granule"):
        r.partitions()


def test_netcdf_directory_of_h5_granules(spark, tmp_path):
    # NetCDF4 granules are often named *.h5/*.hdf5: a directory load picks
    # granules by their leading bytes, not only by the .nc suffixes, and
    # still skips files that are not NetCDF
    p, t2m = _h5_granule(tmp_path)
    d = tmp_path / "granules"
    d.mkdir()
    raw = open(p, "rb").read()
    (d / "a.h5").write_bytes(raw)
    (d / "b.hdf5").write_bytes(raw)
    (d / "README.txt").write_text("not a granule")
    df = spark.read.format("netcdf").load(str(d))
    assert df.count() == 2 * t2m.size
    assert df.agg(F.sum("t2m")).first()[0] == 2 * t2m.sum()


def test_hdf5_time_pruning_is_exact_no_opt_in(spark, tmp_path):
    # unlike classic CDF record probing, the HDF5 path decodes the time
    # axis during planning, so pruning needs no assume_sorted_time
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual

    from xarray_dataaccessor_spark.sources.pyds import _NetCDFBatchReader

    p, _ = _h5_granule(
        tmp_path, chunks={"t2m": [8, 4, 6], "d2m": [8, 4, 6]}, compress=True
    )
    r = _NetCDFBatchReader({"path": p, "target_partition_bytes": "3000"})
    r.infer_schema()
    r._filters = [GreaterThanOrEqual(("time",), dt.datetime(2021, 6, 2, 12))]
    pruned = len(r.partitions())
    r2 = _NetCDFBatchReader({"path": p, "target_partition_bytes": "3000"})
    r2.infer_schema()
    assert pruned < len(r2.partitions())
    n = (
        spark.read.format("netcdf")
        .option("target_partition_bytes", 3000)
        .load(p)
        .filter("time >= timestamp'2021-06-02 12:00:00'")
        .count()
    )
    assert n == 12 * 4 * 6


def test_hdf5_contiguous_layout_windows(spark, tmp_path):
    p, t2m = _h5_granule(tmp_path)  # contiguous, no filters
    df = (
        spark.read.format("netcdf")
        .option("target_partition_bytes", 4000)
        .load(p)
    )
    assert df.rdd.getNumPartitions() > 1
    got = df.orderBy("time", "y", "x").toPandas()
    assert np.allclose(got["t2m"], t2m.reshape(-1))


def test_zarr_consolidated_metadata_is_used(spark, tmp_path):
    # consolidate, then DELETE the per-array metadata files: a read
    # that still works proves .zmetadata is the source of truth
    import shutil

    from xarray_dataaccessor_spark.sources.zarr import write_consolidated

    store, data = _zarr_store(tmp_path)
    write_consolidated(store)
    for var in ("t2m", "time", "y", "x"):
        for mf in (".zarray", ".zattrs"):
            p = os.path.join(store, var, mf)
            if os.path.exists(p):
                os.remove(p)
    df = spark.read.format("zarr").option("variable", "t2m").load(store)
    got = df.orderBy("time", "y", "x").toPandas()
    assert len(got) == data.size and np.allclose(got["t2m"], data.reshape(-1))
    assert str(got["time"].iloc[0]) == "2022-01-01 00:00:00"  # attrs too


def test_zarr_4d_pressure_levels(spark, tmp_path):
    # ARCO-ERA5 shape: (time, level, y, x) with a named level axis;
    # level becomes a column, and level-bounds prune chunks exactly
    from pyspark.sql.datasource import EqualTo

    from xarray_dataaccessor_spark.sources.pyds import _ZarrReader
    from xarray_dataaccessor_spark.sources.zarr import write_zarr

    store = str(tmp_path / "plev")
    nt, nl, ny, nx = 4, 3, 2, 5
    data = np.arange(nt * nl * ny * nx, dtype="f8").reshape(nt, nl, ny, nx)
    write_zarr(store, "z", data, ["time", "level", "y", "x"],
               chunks=[2, 1, 2, 5])
    write_zarr(store, "time", np.arange(nt, dtype="f8"), ["time"],
               attrs={"units": "hours since 2022-01-01"})
    write_zarr(store, "level", np.array([500.0, 700.0, 850.0]), ["level"])
    write_zarr(store, "y", np.arange(ny, dtype="f8"), ["y"])
    write_zarr(store, "x", np.arange(nx, dtype="f8"), ["x"])

    df = spark.read.format("zarr").option("variable", "z").load(store)
    assert [f.name for f in df.schema.fields] == ["time", "level", "y", "x", "z"]
    got = df.orderBy("time", "level", "y", "x").toPandas()
    assert len(got) == data.size
    assert np.allclose(got["z"], data.reshape(-1))
    assert sorted(got["level"].unique()) == [500.0, 700.0, 850.0]

    # level-chunk pruning: level chunks are size 1 -> exactly 1/3 kept
    r = _ZarrReader({"path": store, "variable": "z",
                     "target_partition_bytes": "1"})
    r._filters = [EqualTo(("level",), 700.0)]
    kept = sum(len(p.chunk_idx) for p in r.partitions())
    total = sum(len(p.chunk_idx) for p in _ZarrReader(
        {"path": store, "variable": "z", "target_partition_bytes": "1"}
    ).partitions())
    assert kept * 3 == total
    sel = df.filter("level = 700.0")
    assert sel.count() == nt * ny * nx
    assert abs(
        sel.agg(F.sum("z")).collect()[0][0] - data[:, 1, :, :].sum()
    ) < 1e-9


def test_netcdf_4d_pressure_levels(spark, tmp_path):
    # CDS pressure-level shape: (time, level, y, x) classic granule;
    # level becomes a column, record-range splitting still applies
    p = str(tmp_path / "plev.nc")
    nt, nl, ny, nx = 6, 3, 2, 4
    z = np.arange(nt * nl * ny * nx, dtype="f8").reshape(nt, nl, ny, nx)
    write_netcdf3(
        p,
        {"time": nt, "level": nl, "y": ny, "x": nx},
        {
            "time": (["time"], np.arange(nt, dtype="f8"),
                     {"units": "hours since 2020-01-01"}),
            "level": (["level"], np.array([500.0, 700.0, 850.0]), {}),
            "y": (["y"], 40.0 + np.arange(ny, dtype="f8"), {}),
            "x": (["x"], -80.0 + np.arange(nx, dtype="f8"), {}),
            "z": (["time", "level", "y", "x"], z, {}),
        },
        record_dim="time",
    )
    df = (
        spark.read.format("netcdf")
        .option("target_partition_bytes", 500)
        .load(p)
    )
    assert [f.name for f in df.schema.fields] == ["time", "level", "y", "x", "z"]
    assert df.rdd.getNumPartitions() > 1  # record ranges despite 4-D
    got = df.orderBy("time", "level", "y", "x").toPandas()
    assert len(got) == z.size
    assert np.allclose(got["z"], z.reshape(-1))
    sel = df.filter("level = 700.0")
    assert sel.count() == nt * ny * nx
    assert abs(sel.agg(F.sum("z")).collect()[0][0] - z[:, 1].sum()) < 1e-9


def test_geotiff_stream_tail_two_batches(spark, tmp_path):
    import shutil

    d = str(tmp_path / "scenes")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "out")

    def scene(i):
        write_geotiff(
            os.path.join(d, f"s{i}.tif"),
            np.full((4, 4), float(i), dtype="f8"),
            x_origin=0.0, y_origin=4.0, pixel_size=(1.0, 1.0),
        )

    def run():
        q = (
            spark.readStream.format("geotiff")
            .load(d)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    scene(0)
    scene(1)
    run()
    r1 = spark.read.parquet(sink).selectExpr(
        "count(*) c", "sum(value) s"
    ).collect()[0]
    assert (r1["c"], r1["s"]) == (32, 16.0)
    scene(2)
    run()
    r2 = spark.read.parquet(sink).selectExpr(
        "count(*) c", "sum(value) s"
    ).collect()[0]
    assert (r2["c"], r2["s"]) == (48, 48.0)


# ---------------------------------------------------------------------------
# round-12 regression fixes (ADVICE r11)
# ---------------------------------------------------------------------------


def test_webdataset_overwrite_removes_stale_shards(spark, tmp_path):
    """mode('overwrite') must not leave shards from a previous (larger)
    write behind — the reader globs all *.tar."""
    out = str(tmp_path / "wds")
    rows = [(f"k{i}", {"txt": bytearray(str(i).encode())}) for i in range(12)]
    df = spark.createDataFrame(rows, "key string, files map<string,binary>")
    df.repartition(4).write.format("webdataset").mode("append").save(out)
    assert len([n for n in os.listdir(out) if n.endswith(".tar")]) == 4

    df.limit(3).coalesce(1).write.format("webdataset").mode(
        "overwrite"
    ).save(out)
    tars = [n for n in os.listdir(out) if n.endswith(".tar")]
    assert tars == ["shard-000000.tar"]
    man = json.load(open(os.path.join(out, "_manifest.json")))
    assert sum(s["samples"] for s in man["shards"]) == 3
    assert spark.read.format("webdataset").load(out).count() == 3


def test_tail_offsets_are_name_based_not_positional():
    """A late file sorting BEFORE consumed names must not shift the
    window and re-emit an already-consumed granule (duplicates)."""
    from xarray_dataaccessor_spark.sources.pyds import (
        _tail_latest_offset,
        _tail_slice,
    )

    files = ["/d/g1.nc", "/d/g2.nc"]
    start = {"last": ""}
    end = _tail_latest_offset(files)
    assert end == {"last": "g2.nc"}
    assert _tail_slice(files, start, end) == files

    # g0 lands late (sorts before g2): the next batch must not replay
    # g1/g2; g0 is outside the high-water mark by documented contract
    files2 = ["/d/g0.nc", "/d/g1.nc", "/d/g2.nc", "/d/g3.nc"]
    end2 = _tail_latest_offset(files2)
    batch = _tail_slice(files2, end, end2)
    assert batch == ["/d/g3.nc"]

    # legacy count offsets from an old checkpoint still slice
    assert _tail_slice(files2, {"n": 1}, {"n": 3}) == files2[1:3]


def test_tiff_unsupported_codec_fails_at_planning(tmp_path):
    """JPEG/LZMA/ZSTD rasters must fail in _tiff_layout with the codec
    named, not as an opaque zlib error inside an executor task."""
    from xarray_dataaccessor_spark.sources.pyds import _tiff_layout

    p = str(tmp_path / "a.tif")
    write_geotiff(
        p, _raster(8, 8), x_origin=0.0, y_origin=8.0, pixel_size=(1.0, 1.0)
    )
    raw = bytearray(open(p, "rb").read())
    # IFD entry: tag(2) type(2)=SHORT(3) count(4)=1 value: patch 259
    # (compression) from 1 -> 7 (JPEG)
    pat = (259).to_bytes(2, "little") + (3).to_bytes(2, "little") + (
        1
    ).to_bytes(4, "little")
    i = raw.find(pat)
    assert i > 0
    raw[i + 8] = 7
    open(p, "wb").write(raw)
    with pytest.raises(NotImplementedError, match="compression 7"):
        _tiff_layout(p)
    # float samples tagged with the integer predictor would decode
    # garbage: refused at planning too
    bad = str(tmp_path / "float_pred2.tif")
    write_geotiff(
        bad, _raster(8, 8), x_origin=0.0, y_origin=8.0,
        pixel_size=(1.0, 1.0), predictor=2,
    )
    with pytest.raises(NotImplementedError, match="predictor 2"):
        _tiff_layout(bad)


def test_hdf5_schema_inference_is_header_only(spark, tmp_path):
    """infer_schema on a NetCDF4 granule must touch only header/B-tree/
    coordinate pages: corrupting every DATA chunk of the 3-D variable
    (which a full decode would explode on — deflate stream) must leave
    schema inference working."""
    from xarray_dataaccessor_spark.sources.hdf5 import parse_hdf5_layout
    from xarray_dataaccessor_spark.sources.pyds import _NetCDFReaderBase

    p = str(tmp_path / "g.h5")
    t2m = np.arange(6 * 4 * 3, dtype="f8").reshape(6, 4, 3)
    write_hdf5(
        p,
        {"time": 6, "latitude": 4, "longitude": 3},
        {
            "time": (
                ["time"],
                np.arange(6, dtype="f8"),
                {"units": "hours since 2021-06-01"},
            ),
            "latitude": (["latitude"], np.arange(4, dtype="f8"), {}),
            "longitude": (["longitude"], np.arange(3, dtype="f8"), {}),
            "t2m": (["time", "latitude", "longitude"], t2m, {}),
        },
        chunks={"t2m": [2, 4, 3]},
        compress=True,
    )
    lay = parse_hdf5_layout(open(p, "rb").read())
    chunks = lay["variables"]["t2m"]["chunks"]
    assert chunks, "fixture must be chunked"
    raw = bytearray(open(p, "rb").read())
    for _off, addr, size, _mask in chunks:
        raw[addr : addr + size] = b"\xff" * size
    open(p, "wb").write(raw)

    r = _NetCDFReaderBase({"path": p})
    schema = r.infer_schema()
    assert "t2m" in schema and "time" in schema
