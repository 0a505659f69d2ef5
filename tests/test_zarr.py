"""Pure-Python Zarr v2 ingestion: chunk-grain distributed decode (one
chunk file per task), edge-chunk trimming, CF time decoding, fill-value
masking — end-to-end from real store bytes to a pruned catalog query."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.sources.ingest import zarr_to_grid
from xarray_dataaccessor_spark.sources.zarr import (
    read_small_array,
    read_zarray,
    write_zarr,
    zarr_time_axis,
)

LONS = np.array([-83.476 + 0.25 * i for i in range(19)])
LATS = np.array([42.883 - 0.25 * j for j in range(7)])
HOURS = np.arange(73, dtype="i4") + 1043832  # hours since 1900 -> 2019-01-30


def _store(tmp_path, chunks=(16, 4, 8), compress=True):
    """73x7x19 ERA5-shaped store with deliberately non-dividing chunks
    (edge chunks on every axis)."""
    store = str(tmp_path / "era5.zarr")
    t2m = (
        270.0
        + np.arange(73)[:, None, None] * 0.1
        + np.arange(7)[None, :, None] * 0.01
        + np.arange(19)[None, None, :] * 0.001
    )
    write_zarr(store, "t2m", t2m, ["time", "latitude", "longitude"],
               chunks=list(chunks), compress=compress)
    write_zarr(store, "time", HOURS, ["time"],
               attrs={"units": "hours since 1900-01-01 00:00:00"}, compress=False)
    write_zarr(store, "latitude", LATS, ["latitude"], compress=False)
    write_zarr(store, "longitude", LONS, ["longitude"], compress=False)
    return store, t2m


def test_metadata_and_coordinate_reads(tmp_path):
    store, _ = _store(tmp_path)
    meta = read_zarray(store, "t2m")
    assert meta["shape"] == [73, 7, 19]
    assert meta["chunks"] == [16, 4, 8]
    assert meta["dims"] == ["time", "latitude", "longitude"]
    np.testing.assert_allclose(read_small_array(store, "longitude"), LONS)
    ts = zarr_time_axis(store, "time")
    assert str(ts[0]) == "2019-01-30T00:00:00.000000"


@pytest.mark.parametrize("compress", [True, False])
def test_distributed_decode_matches_source(spark, tmp_path, compress):
    store, t2m = _store(tmp_path, compress=compress)
    grid = zarr_to_grid(spark, store, "t2m")
    assert grid.columns == ["time", "y", "x", "t2m"]
    rows = grid.collect()
    assert len(rows) == 73 * 7 * 19
    # spot-check exact values through the chunk/trim/coordinate plumbing
    want = {}
    for it in (0, 40, 72):
        for iy in (0, 6):
            for ix in (0, 7, 18):
                want[(it, round(LATS[iy], 6), round(LONS[ix], 6))] = t2m[it, iy, ix]
    t0 = np.datetime64("2019-01-30T00:00:00", "us")
    hit = 0
    for r in rows:
        key = (
            int((np.datetime64(r["time"], "us") - t0) / np.timedelta64(1, "h")),
            round(r["y"], 6), round(r["x"], 6),
        )
        if key in want:
            assert r["t2m"] == pytest.approx(want[key], abs=1e-12)
            hit += 1
    assert hit == len(want)


def test_chunk_grain_parallelism(spark, tmp_path):
    # 5 time-chunks x 2 lat-chunks x 3 lon-chunks = 30 independent tasks
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    store, _ = _store(tmp_path)
    register_data_sources(spark)
    df = (
        spark.read.format("zarr")
        .option("variable", "t2m")
        .option("target_partition_bytes", 1)
        .load(store)
    )
    assert df.rdd.getNumPartitions() == 30


def test_fill_value_masked(spark, tmp_path):
    """Nodata comes from the .zattrs `_FillValue` (CF/xarray semantics),
    NOT from the .zarray `fill_value` (which marks unwritten chunk
    regions per the v2 spec)."""
    store = str(tmp_path / "f.zarr")
    data = np.array([[1.0, -9999.0], [3.0, 4.0]])
    write_zarr(store, "v", data, ["latitude", "longitude"], compress=False,
               attrs={"_FillValue": -9999.0})
    write_zarr(store, "latitude", np.array([1.0, 2.0]), ["latitude"], compress=False)
    write_zarr(store, "longitude", np.array([5.0, 6.0]), ["longitude"], compress=False)
    out = zarr_to_grid(spark, store, "v").collect()
    vals = {(r["y"], r["x"]): r["v"] for r in out}
    # NaN crosses the Arrow boundary as SQL null — the engine's nodata
    # convention (what the F7 fill operators consume)
    assert vals[(1.0, 6.0)] is None or np.isnan(vals[(1.0, 6.0)])
    assert vals[(2.0, 6.0)] == 4.0
    # 2-D arrays get the constant epoch time dimension
    assert all(str(r["time"]).startswith("1970-01-01") for r in out)


def test_spec_fill_value_zero_not_masked(spark, tmp_path):
    """A store written with the common default fill_value=0 must NOT turn
    legitimate zeros into NaN — fill_value marks unwritten chunk regions,
    not nodata (ADVICE r2)."""
    store = str(tmp_path / "z.zarr")
    data = np.array([[0.0, 2.0], [3.0, 0.0]])
    write_zarr(store, "v", data, ["latitude", "longitude"], compress=False)
    zpath = tmp_path / "z.zarr" / "v" / ".zarray"
    meta = json.loads(zpath.read_text())
    meta["fill_value"] = 0
    zpath.write_text(json.dumps(meta))
    write_zarr(store, "latitude", np.array([1.0, 2.0]), ["latitude"], compress=False)
    write_zarr(store, "longitude", np.array([5.0, 6.0]), ["longitude"], compress=False)
    out = zarr_to_grid(spark, store, "v").collect()
    vals = {(r["y"], r["x"]): r["v"] for r in out}
    assert vals[(1.0, 5.0)] == 0.0
    assert vals[(2.0, 6.0)] == 0.0


def test_nan_string_fill_value_handled(spark, tmp_path):
    """JSON serializes a NaN fill_value as the STRING "NaN"; it must be
    decoded (and needs no masking — NaN survives the float64 cast)."""
    store = str(tmp_path / "n.zarr")
    data = np.array([[1.0, np.nan], [3.0, 4.0]])
    write_zarr(store, "v", data, ["latitude", "longitude"], compress=False)
    zpath = tmp_path / "n.zarr" / "v" / ".zarray"
    meta = json.loads(zpath.read_text())
    meta["fill_value"] = "NaN"
    zpath.write_text(json.dumps(meta))
    write_zarr(store, "latitude", np.array([1.0, 2.0]), ["latitude"], compress=False)
    write_zarr(store, "longitude", np.array([5.0, 6.0]), ["longitude"], compress=False)
    out = zarr_to_grid(spark, store, "v").collect()
    vals = {(r["y"], r["x"]): r["v"] for r in out}
    assert vals[(1.0, 6.0)] is None or np.isnan(vals[(1.0, 6.0)])
    assert vals[(2.0, 5.0)] == 3.0


def test_blosc_blosclz_store_gated(tmp_path):
    """blosc-lz4/zlib/zstd/snappy now decode pure-Python; the remaining
    inner codec (blosclz) stays loudly gated."""
    store = tmp_path / "b.zarr" / "v"
    store.mkdir(parents=True)
    (store / ".zarray").write_text(json.dumps({
        "zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        "order": "C", "filters": None, "fill_value": None,
        "compressor": {"id": "blosc", "cname": "blosclz", "clevel": 5},
    }))
    with pytest.raises(NotImplementedError, match="blosclz"):
        read_zarray(str(tmp_path / "b.zarr"), "v")


@pytest.mark.parametrize("compressor", ["blosc-lz4", "blosc-zlib"])
def test_blosc_store_roundtrip(spark, tmp_path, compressor):
    """Blosc-compressed store (shuffled lz4/zlib chunks, the public ERA5
    Zarr mirror layout) decodes end-to-end through the distributed path."""
    store, t2m = _store(tmp_path, compress=False)
    import shutil

    shutil.rmtree(tmp_path / "era5.zarr" / "t2m")
    write_zarr(store, "t2m", t2m, ["time", "latitude", "longitude"],
               chunks=[16, 4, 8], compressor=compressor)
    out = zarr_to_grid(spark, store, "t2m")
    assert out.count() == 73 * 7 * 19
    row = out.filter(
        (F.col("y") == LATS[3]) & (F.col("x") == LONS[11])
    ).orderBy("time").first()
    assert row["t2m"] == pytest.approx(t2m[0, 3, 11])


def test_landing_and_catalog_roundtrip(spark, tmp_path):
    from xarray_dataaccessor_spark.catalog import DatasetCatalog
    from xarray_dataaccessor_spark.meta import BoundingBox
    from xarray_dataaccessor_spark.sources.ingest import land_grid_parquet

    store, _ = _store(tmp_path)
    grid = zarr_to_grid(spark, store, "t2m")
    landed = land_grid_parquet(grid, str(tmp_path), "era5_zarr")
    cat = DatasetCatalog()
    cat.register("era5_zarr", landed, ["t2m"])
    gf = cat.load(
        spark, "era5_zarr",
        bbox=BoundingBox(west=-83.0, south=41.5, east=-80.0, north=42.8),
        start_time="2019-01-30", end_time="2019-02-01",
    )
    assert gf.df.groupBy("time").agg(F.avg("t2m")).count() == 49


def _store_v3(tmp_path, compressor="zlib"):
    store = str(tmp_path / "era5_v3.zarr")
    t2m = (
        270.0
        + np.arange(73)[:, None, None] * 0.1
        + np.arange(7)[None, :, None] * 0.01
        + np.arange(19)[None, None, :] * 0.001
    )
    write_zarr(store, "t2m", t2m, ["time", "latitude", "longitude"],
               chunks=[16, 4, 8], compressor=compressor, zarr_format=3)
    write_zarr(store, "time", HOURS.astype("<i8"), ["time"],
               attrs={"units": "hours since 1900-01-01 00:00:00"},
               compressor=None, zarr_format=3)
    write_zarr(store, "latitude", LATS, ["latitude"], compressor=None, zarr_format=3)
    write_zarr(store, "longitude", LONS, ["longitude"], compressor=None, zarr_format=3)
    return store, t2m


def test_v3_metadata_normalized(tmp_path):
    """v3 zarr.json (data_type/chunk_grid/codecs/dimension_names) parses
    into the same meta dict shape as v2 — downstream is version-blind."""
    store, _ = _store_v3(tmp_path)
    meta = read_zarray(store, "t2m")
    assert meta["shape"] == [73, 7, 19]
    assert meta["chunks"] == [16, 4, 8]
    assert meta["dims"] == ["time", "latitude", "longitude"]
    assert meta["compressor"] == "zlib"
    assert meta["key_encoding"] == ("default", "/")
    np.testing.assert_allclose(read_small_array(store, "longitude"), LONS)
    ts = zarr_time_axis(store, "time")
    assert str(ts[0]) == "2019-01-30T00:00:00.000000"


@pytest.mark.parametrize("compressor", ["zlib", "blosc-lz4", None])
def test_v3_distributed_decode(spark, tmp_path, compressor):
    """Nested c/i/j/k chunk keys feed the same binaryFile + mapInPandas
    chunk-per-task path (recursive lookup, trailing-numeric key parse)."""
    store, t2m = _store_v3(tmp_path, compressor=compressor)
    out = zarr_to_grid(spark, store, "t2m")
    assert out.count() == 73 * 7 * 19
    row = out.filter(
        (F.col("y") == LATS[3]) & (F.col("x") == LONS[11])
    ).orderBy("time").first()
    assert row["t2m"] == pytest.approx(t2m[0, 3, 11])


def test_v3_unknown_codec_gated(tmp_path):
    import os

    store = str(tmp_path / "z3")
    os.makedirs(os.path.join(store, "v"))
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [4],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        "chunk_key_encoding": {"name": "default"},
        "fill_value": 0,
        "codecs": [{"name": "bytes"}, {"name": "delta", "configuration": {}}],
        "dimension_names": ["x"],
    }
    with open(os.path.join(store, "v", "zarr.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(NotImplementedError, match="delta"):
        read_zarray(store, "v")


def test_v3_flat_dot_keys_decode(spark, tmp_path):
    """v3 'default' chunk-key encoding with '.' separator produces flat
    'c.i.j.k' files — the third key layout the ingest path handles."""
    import json as _json
    import os

    store, t2m = _store_v3(tmp_path)
    # rewrite the t2m array to flat dotted keys
    import shutil

    var_dir = os.path.join(store, "t2m")
    meta = _json.load(open(os.path.join(var_dir, "zarr.json")))
    meta["chunk_key_encoding"] = {"name": "default", "configuration": {"separator": "."}}
    c_dir = os.path.join(var_dir, "c")
    for root, _dirs, files in os.walk(c_dir):
        for fn in files:
            full = os.path.join(root, fn)
            rel = os.path.relpath(full, c_dir).split(os.sep)
            shutil.move(full, os.path.join(var_dir, "c." + ".".join(rel)))
    shutil.rmtree(c_dir)
    with open(os.path.join(var_dir, "zarr.json"), "w") as f:
        _json.dump(meta, f)
    out = zarr_to_grid(spark, store, "t2m")
    assert out.count() == 73 * 7 * 19
    row = out.filter(
        (F.col("y") == LATS[3]) & (F.col("x") == LONS[11])
    ).orderBy("time").first()
    assert row["t2m"] == pytest.approx(t2m[0, 3, 11])


# ---------------------------------------------------------------------------
# Zarr v3 sharding_indexed (round 4): chunk-of-chunks objects with a
# CRC-32C-protected binary index — the layout large cloud arrays use to
# bound object count while keeping read granularity small.
# ---------------------------------------------------------------------------


def test_crc32c_check_vector():
    from xarray_dataaccessor_spark.sources.zarr import crc32c

    # RFC 3720 / published Castagnoli check value
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


@pytest.mark.parametrize("compressor", [None, "zlib", "blosc-lz4"])
def test_sharded_store_roundtrip(tmp_path, compressor):
    import os

    from xarray_dataaccessor_spark.sources.zarr import (
        chunk_relpath,
        decode_chunk,
    )

    rng = np.random.default_rng(0)
    data = rng.integers(0, 1000, (5, 13, 17)).astype("<f4")
    store = str(tmp_path / "sharded.zarr")
    write_zarr(store, "v", data, ["time", "y", "x"], chunks=[1, 4, 4],
               zarr_format=3, shards=[2, 8, 8], compressor=compressor)
    meta = read_zarray(store, "v")
    assert meta["sharding"]["chunks"] == [1, 4, 4]
    assert meta["chunks"] == [2, 8, 8]  # outer grid = shard grid
    out = np.zeros((6, 16, 24), dtype="f4")
    grid = [(s + c - 1) // c for s, c in zip(data.shape, meta["chunks"])]
    for idx in np.ndindex(*grid):
        p = os.path.join(store, "v", *chunk_relpath(meta, idx).split("/"))
        block = decode_chunk(open(p, "rb").read(), meta)
        sel = tuple(slice(i * c, i * c + c) for i, c in zip(idx, meta["chunks"]))
        out[sel] = block
    assert np.array_equal(out[:5, :13, :17], data)


def test_sharded_index_crc_guard(tmp_path):
    import os

    from xarray_dataaccessor_spark.sources.zarr import decode_chunk

    data = np.arange(32, dtype="<f4").reshape(4, 8)
    store = str(tmp_path / "crc.zarr")
    write_zarr(store, "v", data, ["y", "x"], chunks=[2, 4],
               zarr_format=3, shards=[4, 8], compressor=None)
    meta = read_zarray(store, "v")
    p = os.path.join(store, "v", "c", "0", "0")
    raw = bytearray(open(p, "rb").read())
    raw[-5] ^= 0xFF  # flip a bit inside the index
    with pytest.raises(ValueError, match="CRC-32C"):
        decode_chunk(bytes(raw), meta)


def test_sharded_distributed_decode(spark, tmp_path):
    """Sharded v3 store through the SAME binaryFile chunk-per-task
    ingest — one shard per task, reassembled inside decode_chunk, edge
    shards exercising the missing-inner-chunk fill path."""
    store = str(tmp_path / "sharded_grid.zarr")
    t2m = (
        270.0
        + np.arange(73)[:, None, None] * 0.1
        + np.arange(7)[None, :, None] * 0.01
        + np.arange(19)[None, None, :] * 0.001
    )
    write_zarr(store, "t2m", t2m, ["time", "latitude", "longitude"],
               chunks=[8, 4, 8], zarr_format=3, shards=[16, 8, 16],
               compressor="zlib")
    write_zarr(store, "time", HOURS, ["time"],
               attrs={"units": "hours since 1900-01-01 00:00:00"},
               compress=False, zarr_format=3)
    write_zarr(store, "latitude", LATS, ["latitude"], compress=False,
               zarr_format=3)
    write_zarr(store, "longitude", LONS, ["longitude"], compress=False,
               zarr_format=3)
    out = zarr_to_grid(spark, store, "t2m")
    assert out.count() == 73 * 7 * 19
    row = out.filter(
        (F.col("y") == LATS[3]) & (F.col("x") == LONS[11])
    ).orderBy("time").first()
    assert row["t2m"] == pytest.approx(t2m[0, 3, 11])


@pytest.mark.parametrize("compressor", ["zstd", "blosc-zstd", "blosc-snappy"])
def test_zstd_store_roundtrip_v2_and_v3(spark, tmp_path, compressor):
    """Pure-zstd and blosc-zstd chunks decode through the same
    distributed path (sources/zstd.py — no zstd binding in the
    container)."""
    if compressor.startswith("blosc-"):
        # v2 writer accepts all blosc inners; v3 writer keeps lz4/zlib
        formats = [2]
    else:
        formats = [2, 3]
    t2m = (
        270.0
        + np.arange(24)[:, None, None] * 0.1
        + np.arange(5)[None, :, None] * 0.01
        + np.arange(9)[None, None, :] * 0.001
    )
    for fmt in formats:
        store = str(tmp_path / f"z{fmt}_{compressor}.zarr")
        write_zarr(store, "t2m", t2m, ["time", "latitude", "longitude"],
                   chunks=[8, 4, 8], compressor=compressor, zarr_format=fmt)
        write_zarr(store, "time", np.arange(24, dtype="i4") + 1043832,
                   ["time"], attrs={"units": "hours since 1900-01-01 00:00:00"},
                   compress=False, zarr_format=fmt)
        write_zarr(store, "latitude", 42.883 - 0.25 * np.arange(5),
                   ["latitude"], compress=False, zarr_format=fmt)
        write_zarr(store, "longitude", -83.476 + 0.25 * np.arange(9),
                   ["longitude"], compress=False, zarr_format=fmt)
        meta = read_zarray(store, "t2m")
        assert meta["compressor"] in ("zstd", "blosc:zstd", "blosc:snappy")
        out = zarr_to_grid(spark, store, "t2m")
        assert out.count() == 24 * 5 * 9
        row = out.filter(
            (F.col("y") == 42.883 - 0.25 * 2) & (F.col("x") == -83.476 + 0.25 * 3)
        ).orderBy("time").first()
        assert row["t2m"] == pytest.approx(t2m[0, 2, 3])


def test_v3_transpose_codec_decodes(tmp_path):
    """v3 `transpose` codec: chunks stored in permuted (e.g. F-order)
    layout come back in C order."""
    import json
    import os

    from xarray_dataaccessor_spark.sources.zarr import decode_chunk

    store = str(tmp_path / "zt")
    os.makedirs(os.path.join(store, "v", "c", "0"))
    data = np.arange(24, dtype="<f8").reshape(4, 6)
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [4, 6],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 6]}},
        "chunk_key_encoding": {"name": "default"},
        "fill_value": 0,
        "codecs": [
            {"name": "transpose", "configuration": {"order": [1, 0]}},
            {"name": "bytes", "configuration": {"endian": "little"}},
        ],
        "dimension_names": ["y", "x"],
    }
    with open(os.path.join(store, "v", "zarr.json"), "w") as f:
        json.dump(meta, f)
    stored = data.T.copy()  # order [1, 0]: x-major storage
    with open(os.path.join(store, "v", "c", "0", "0"), "wb") as f:
        f.write(stored.tobytes())
    m = read_zarray(store, "v")
    assert m["transpose"] == [1, 0]
    block = decode_chunk(stored.tobytes(), m)
    assert np.array_equal(block, data)


def test_v3_transpose_store_through_zarr_to_grid(spark, tmp_path):
    """Regression (r4 ADVICE high): zarr_to_grid's executor-side decode
    meta must carry the `transpose` key — a transposed v3 store ingested
    distributed must match the driver-side decode, not a scrambled
    reshape."""
    import json
    import os

    store = str(tmp_path / "zt_ingest")
    os.makedirs(os.path.join(store, "v", "c", "0"))
    ny, nx = 4, 6
    data = (np.arange(ny * nx, dtype="<f8") * 1.5).reshape(ny, nx)
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [ny, nx],
        "data_type": "float64",
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": [ny, nx]}},
        "chunk_key_encoding": {"name": "default"},
        "fill_value": 0,
        "codecs": [
            {"name": "transpose", "configuration": {"order": [1, 0]}},
            {"name": "bytes", "configuration": {"endian": "little"}},
        ],
        "dimension_names": ["latitude", "longitude"],
    }
    with open(os.path.join(store, "v", "zarr.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(store, "v", "c", "0", "0"), "wb") as f:
        f.write(data.T.copy().tobytes())  # stored permuted per order [1,0]
    write_zarr(store, "latitude", 40.0 + np.arange(ny) * 0.5,
               ["latitude"], compress=False, zarr_format=3)
    write_zarr(store, "longitude", -80.0 + np.arange(nx) * 0.5,
               ["longitude"], compress=False, zarr_format=3)
    out = zarr_to_grid(spark, store, "v").toPandas()
    assert len(out) == ny * nx
    got = (out.sort_values(["y", "x"])["v"].to_numpy()
           .reshape(ny, nx))
    assert np.array_equal(got, data)
