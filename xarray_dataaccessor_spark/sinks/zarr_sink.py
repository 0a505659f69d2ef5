"""Distributed Zarr export: grid DataFrame -> cloud-native Zarr store.

The conversion real pipelines run at scale ("reformat ERA5 GRIB/NetCDF
to a cloud-optimized Zarr") as a Spark SINK: the driver writes only the
dimension-sized pieces — array metadata and coordinate arrays — and
every CHUNK is assembled, encoded (zlib / zstd / blosc, the same pure
codecs the reader uses) and written by the executor task that owns it.
No gather to the driver, no temp files: ``groupBy(chunk key) ->
applyInPandas`` gives one task per chunk, and chunk files are
independent objects, so concurrent task writes need no coordination —
exactly why the Zarr layout is the cloud-native target in the first
place (on S3 each task PUTs its object; here each task writes a file).

Round-trip contract (tested): a store written here is read back by the
distributed reader ``sources.ingest.zarr_to_grid`` — and by any
conforming Zarr v2/v3 implementation — bit-exactly.

Scale shape: one shuffle keyed on the chunk index (the exporter's only
exchange), each task holding exactly one chunk's rows (chunk sizes are
picked so a chunk fits a task comfortably — the same
``spark.sql.files.maxPartitionBytes`` reasoning as the readers). Axis
collects are dimension-sized by definition. Reference analogue: the
xarray engine's ``to_netcdf``/``to_zarr`` export step
(era5_from_cds.py downloads land in exactly this layout).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: epoch for the stored time axis (the CF convention ERA5 uses)
_TIME_UNITS = "hours since 1900-01-01 00:00:00"
_TIME_EPOCH = np.datetime64("1900-01-01T00:00:00", "us")


def _chunk_codec(compressor: str | None, typesize: int, zarr_format: int):
    """Resolve the compressor to a DRIVER-BOUND callable, so the task
    closure carries the encoder function itself (pickled by value) —
    a worker-side ``from xarray_dataaccessor_spark...`` import would
    fail on executors that don't have the package installed."""
    if compressor is None:
        return lambda raw: raw
    if compressor == "zlib":
        if zarr_format == 3:
            import gzip

            return lambda raw: gzip.compress(raw, 6)
        import zlib

        return lambda raw: zlib.compress(raw, 6)
    if compressor == "zstd":
        from xarray_dataaccessor_spark.sources.zstd import zstd_compress

        return zstd_compress
    if compressor in ("blosc-lz4", "blosc-zlib", "blosc-zstd", "blosc-snappy"):
        from xarray_dataaccessor_spark.sources.blosc import encode_blosc

        cname = compressor.split("-")[1]
        return lambda raw: encode_blosc(
            raw, typesize=typesize, cname=cname, shuffle=True
        )
    raise ValueError(f"Unsupported sink compressor {compressor!r}")


def grid_to_zarr(
    grid: DataFrame,
    store: str,
    variable: str,
    time_col: str = "time",
    y_col: str = "y",
    x_col: str = "x",
    chunks: tuple[int, int, int] = (24, 16, 16),
    compressor: str | None = "zlib",
    zarr_format: int = 2,
) -> dict:
    """Write a long-form ``(time, y, x, variable)`` grid DataFrame as a
    Zarr v2 or v3 store with float64 chunks; cells absent from the
    DataFrame become NaN (the store's declared nodata). Returns
    ``{"n_chunks": ..., "shape": ...}``.

    v2 stores use dotted chunk keys and a ``_FillValue`` attribute; v3
    stores use the default nested ``c/`` key encoding and the
    bytes+codec chain. Sharding is a read-side feature only — the
    sharded layout needs cross-chunk packing that would reintroduce a
    coordination point between tasks (``sharding_indexed`` is gated
    here by design)."""
    if zarr_format not in (2, 3):
        raise ValueError("zarr_format must be 2 or 3")
    spark = grid.sparkSession
    import xarray_dataaccessor_spark.sinks.zarr_sink as _self
    from xarray_dataaccessor_spark.session import ship_by_value
    from xarray_dataaccessor_spark.sources import blosc as _bl
    from xarray_dataaccessor_spark.sources import zarr as _z
    from xarray_dataaccessor_spark.sources import zstd as _zs

    # ship the encoders by value (executors may lack the package)
    ship_by_value(_bl, _zs, _self)

    # dimension-sized axis collects (the ONLY driver-side data)
    times = np.array(
        sorted(r[0] for r in grid.select(time_col).distinct().collect()),
        dtype="datetime64[us]",
    )
    ys = np.array(
        sorted((r[0] for r in grid.select(y_col).distinct().collect()),
               reverse=True),  # north-to-south, the reader's convention
        dtype="float64",
    )
    xs = np.array(
        sorted(r[0] for r in grid.select(x_col).distinct().collect()),
        dtype="float64",
    )
    shape = (len(times), len(ys), len(xs))
    ct, cy, cx = chunks

    # driver: metadata + coordinate arrays (existing single-node writer)
    t_hours = (times - _TIME_EPOCH) / np.timedelta64(1, "h")
    _z.write_zarr(store, time_col, t_hours.astype("float64"), [time_col],
                  attrs={"units": _TIME_UNITS}, compress=False,
                  zarr_format=zarr_format)
    _z.write_zarr(store, "latitude", ys, ["latitude"], compress=False,
                  zarr_format=zarr_format)
    _z.write_zarr(store, "longitude", xs, ["longitude"], compress=False,
                  zarr_format=zarr_format)
    _write_var_meta(store, variable, shape, chunks, compressor, zarr_format,
                    time_col)

    # broadcast value->index maps (axes are dimension-sized)
    t_map = spark.createDataFrame(
        [(t.item(), i) for i, t in enumerate(times)], f"{time_col} timestamp, __ti int"
    )
    y_map = spark.createDataFrame(
        [(float(v), i) for i, v in enumerate(ys)], f"{y_col} double, __yi int"
    )
    x_map = spark.createDataFrame(
        [(float(v), i) for i, v in enumerate(xs)], f"{x_col} double, __xi int"
    )
    rows = (
        grid.select(time_col, y_col, x_col, F.col(variable).alias("__v"))
        .join(F.broadcast(t_map), time_col)
        .join(F.broadcast(y_map), y_col)
        .join(F.broadcast(x_map), x_col)
        .select(
            (F.col("__ti") / ct).cast("int").alias("__c0"),
            (F.col("__yi") / cy).cast("int").alias("__c1"),
            (F.col("__xi") / cx).cast("int").alias("__c2"),
            (F.col("__ti") % ct).alias("__i0"),
            (F.col("__yi") % cy).alias("__i1"),
            (F.col("__xi") % cx).alias("__i2"),
            "__v",
        )
    )

    var_dir = os.path.join(store, variable)
    fmt = zarr_format
    codec = _chunk_codec(compressor, 8, zarr_format)

    def write_chunk(pdf):
        import os as _os

        import numpy as _np
        import pandas as _pd

        c0, c1, c2 = int(pdf["__c0"].iloc[0]), int(pdf["__c1"].iloc[0]), int(pdf["__c2"].iloc[0])
        block = _np.full((ct, cy, cx), _np.nan, dtype="float64")
        block[pdf["__i0"].to_numpy(), pdf["__i1"].to_numpy(),
              pdf["__i2"].to_numpy()] = pdf["__v"].to_numpy(dtype="float64")
        payload = codec(block.tobytes())
        if fmt == 3:
            d = _os.path.join(var_dir, "c", str(c0), str(c1))
            _os.makedirs(d, exist_ok=True)
            path = _os.path.join(d, str(c2))
        else:
            path = _os.path.join(var_dir, f"{c0}.{c1}.{c2}")
        with open(path, "wb") as fh:
            fh.write(payload)
        return _pd.DataFrame(
            {"c0": [c0], "c1": [c1], "c2": [c2], "n_cells": [len(pdf)]}
        )

    written = (
        rows.groupBy("__c0", "__c1", "__c2")
        .applyInPandas(write_chunk, "c0 int, c1 int, c2 int, n_cells long")
        .collect()  # chunk-count-sized: the sink's completion manifest
    )
    return {"n_chunks": len(written), "shape": shape}


def _write_var_meta(store, variable, shape, chunks, compressor, zarr_format,
                    time_col) -> None:
    """Variable-array metadata only (chunks arrive from executors).
    Mirrors the dict layouts of ``sources.zarr.write_zarr``; the
    round-trip test pins reader/writer agreement."""
    import json

    os.makedirs(os.path.join(store, variable), exist_ok=True)
    dims = [time_col, "latitude", "longitude"]
    if zarr_format == 2:
        if compressor is None:
            comp_meta = None
        elif compressor == "zlib":
            comp_meta = {"id": "zlib", "level": 6}
        elif compressor == "zstd":
            comp_meta = {"id": "zstd", "level": 3}
        elif compressor in ("blosc-lz4", "blosc-zlib", "blosc-zstd",
                            "blosc-snappy"):
            comp_meta = {
                "id": "blosc", "cname": compressor.split("-")[1],
                "clevel": 5, "shuffle": 1, "blocksize": 0,
            }
        else:
            raise ValueError(f"Unsupported sink compressor {compressor!r}")
        meta = {
            "zarr_format": 2, "shape": list(shape), "chunks": list(chunks),
            "dtype": "<f8", "order": "C", "filters": None,
            "fill_value": "NaN", "compressor": comp_meta,
        }
        with open(os.path.join(store, variable, ".zarray"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(store, variable, ".zattrs"), "w") as f:
            json.dump({"_ARRAY_DIMENSIONS": dims, "_FillValue": "NaN"}, f)
        return
    codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if compressor == "zlib":
        codecs.append({"name": "gzip", "configuration": {"level": 6}})
    elif compressor == "zstd":
        codecs.append({"name": "zstd", "configuration": {"level": 3}})
    elif compressor in ("blosc-lz4", "blosc-zlib", "blosc-zstd"):
        codecs.append({
            "name": "blosc",
            "configuration": {
                "cname": compressor.split("-")[1], "clevel": 5,
                "shuffle": "shuffle", "typesize": 8, "blocksize": 0,
            },
        })
    elif compressor is not None:
        raise ValueError(f"Unsupported v3 sink compressor {compressor!r}")
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": list(shape),
        "data_type": "float64",
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": list(chunks)}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": "NaN",
        "codecs": codecs,
        "dimension_names": dims,
        "attributes": {"_FillValue": "NaN"},
    }
    with open(os.path.join(store, variable, "zarr.json"), "w") as f:
        json.dump(meta, f)
