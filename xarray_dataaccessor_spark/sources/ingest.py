"""Ingestion connectors (S1-S5, SURVEY §2.1) — the reference's remote
accessors re-framed as an ingest-then-query layer.

The reference fetches NetCDF/GeoTIFF fragments per (variable, month)
request dict and assembles them eagerly; here the same enumeration logic
produces *file lists / API parameter sets* (pure, unit-testable), the
landers turn fragments into partitioned Parquet
(``dataset/variable/year=/month=``), and everything downstream is plain
``spark.read.parquet`` where Catalyst partition pruning replaces every
hand-rolled month/bbox crop (SURVEY §4).

Network/codec-dependent pieces (fsspec+h5netcdf NetCDF open, rasterio
GeoTIFF open, live CMR/CDS calls) are gated behind import-tries, with the
enumeration and layout logic fully real.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.functions.datetime_fns import to_datetime
from xarray_dataaccessor_spark.meta import BoundingBox

ERA5_S3_BUCKET = "era5-pds"


def month_range(start, end) -> list[tuple[int, int]]:
    """All (year, month) pairs intersecting [start, end] — the fragment
    enumeration of ``_get_requests_dicts`` (``era5_from_aws.py:327-346``),
    i.e. partition pruning done at request time."""
    start, end = to_datetime(start), to_datetime(end)
    out = []
    y, m = start.year, start.month
    while (y, m) <= (end.year, end.month):
        out.append((y, m))
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def era5_s3_paths(
    variables: Sequence[str], start, end, bucket: str = ERA5_S3_BUCKET
) -> list[str]:
    """S1: one S3 NetCDF object per (month, variable)
    (``s3://era5-pds/{year}/{month}/data/{var}.nc``,
    ``era5_from_aws.py:302-347``)."""
    return [
        f"s3://{bucket}/{y}/{m:02d}/data/{var}.nc"
        for (y, m) in month_range(start, end)
        for var in variables
    ]


def cds_request_dicts(
    variables: Sequence[str],
    bbox: BoundingBox,
    start,
    end,
    hours: Sequence[int] = tuple(range(24)),
) -> list[dict]:
    """S2: one CDS API request per (variable, week) with the bbox pushed
    into the request's ``area`` parameter — predicate pushdown into the
    source (``era5_from_cds.py:215-233, 406-474``)."""
    start, end = to_datetime(start), to_datetime(end)
    out = []
    for var in variables:
        cursor = start
        while cursor <= end:
            week_end = min(cursor + _dt.timedelta(days=6), end)
            days = [
                (cursor + _dt.timedelta(days=i)).day
                for i in range((week_end - cursor).days + 1)
            ]
            out.append(
                {
                    "variable": var,
                    "year": cursor.year,
                    "month": f"{cursor.month:02d}",
                    "day": [f"{d:02d}" for d in days],
                    "time": [f"{h:02d}:00" for h in hours],
                    # area = [north, west, south, east] per CDS convention
                    "area": [bbox.north, bbox.west, bbox.south, bbox.east],
                }
            )
            cursor = week_end + _dt.timedelta(days=1)
    return out


def cmr_granule_query(
    short_name: str, bbox: BoundingBox, start, end, page_size: int = 2000
) -> dict:
    """S3: NASA CMR granule-search parameters (REST ``granules.json``
    with ``bounding_box`` + ``temporal``, ``nasa_from_LPDAAC.py:398-457``)
    — catalog-level partition pruning."""
    fmt = "%Y-%m-%dT%H:%M:%SZ"
    return {
        "url": "https://cmr.earthdata.nasa.gov/search/granules.json",
        "params": {
            "short_name": short_name,
            "bounding_box[]": f"{bbox.west},{bbox.south},{bbox.east},{bbox.north}",
            "temporal": f"{to_datetime(start).strftime(fmt)},{to_datetime(end).strftime(fmt)}",
            "page_size": page_size,
        },
    }


def land_grid_parquet(
    df: DataFrame,
    base_dir: str,
    dataset_name: str,
    time_col: str = "time",
    mode: str = "overwrite",
    sort_spatial: bool = True,
    y_col: str = "y",
    x_col: str = "x",
) -> str:
    """Land a long-form grid DataFrame as year=/month=-partitioned
    Parquet — the layout every downstream time filter prunes on
    (Catalyst ``PartitionFilters``). This is the distributed half of every
    connector; the fragment openers below feed it.

    ``sort_spatial`` sorts rows within each file by (y, x) so Parquet
    row-group min/max stats form tight spatial zone maps — a bbox filter
    then skips whole row groups, the engine-level equivalent of the
    reference's per-fragment bbox crop."""
    path = f"{base_dir}/{dataset_name}"
    out = df.withColumn("year", F.year(time_col)).withColumn(
        "month", F.month(time_col)
    )
    if sort_spatial and y_col in df.columns and x_col in df.columns:
        out = out.sortWithinPartitions("year", "month", y_col, x_col)
    out.write.mode(mode).partitionBy("year", "month").parquet(path)
    return path


def open_netcdf_fragment(
    path: str,
    variable: str,
    time_var: str = "time",
    x_var: str | None = None,
    y_var: str | None = None,
):
    """S1/S4 NetCDF fragment opener (reference: fsspec + h5netcdf,
    ``era5_from_aws.py:349-376``, ``nasa_from_LPDAAC.py:480-489``).

    Classic NetCDF3 files decode through the built-in pure reader
    (``sources/netcdf3.py``), NetCDF4 (HDF5 container) files through the
    built-in pure HDF5 reader (``sources/hdf5.py``) — no external NetCDF
    stack needed; the opener dispatches on magic bytes. Returns
    the granule as a long-form pandas DataFrame ``(time, y, x, var)`` —
    granule-sized, the same unit of work the reference holds in memory
    per fragment."""
    from xarray_dataaccessor_spark.sources.netcdf3 import netcdf_fragment_to_pandas

    with open(path, "rb") as f:
        content = f.read()
    return netcdf_fragment_to_pandas(
        content, variable, time_var=time_var, x_var=x_var, y_var=y_var
    )


def netcdf_glob_to_grid(
    spark,
    pattern: str,
    variable: str,
    time_var: str = "time",
    x_var: str | None = None,
    y_var: str | None = None,
) -> DataFrame:
    """Distributed NetCDF ingestion: ``binaryFile`` source (one granule
    per task — Spark parallelizes over files and handles locality) ->
    Arrow-batched ``mapInPandas`` decode with the pure readers (classic
    CDF and NetCDF4/HDF5, dispatched on magic bytes) -> long-form
    grid rows ready for :func:`land_grid_parquet`.

    The decode modules are registered for by-value pickling so executor
    workers need neither this package nor any NetCDF/HDF5 library on
    their ``sys.path`` — the parsers travel with the task closure
    (stdlib struct + zlib + numpy only)."""
    from xarray_dataaccessor_spark.session import ship_by_value
    from xarray_dataaccessor_spark.sources import hdf5 as _h5
    from xarray_dataaccessor_spark.sources import netcdf3 as _nc

    ship_by_value(_nc, _h5)  # workers may not have the package

    frag_fn = _nc.netcdf_fragment_to_pandas

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                out = frag_fn(
                    bytes(content), variable,
                    time_var=time_var, x_var=x_var, y_var=y_var,
                )
                out[variable] = out[variable].astype("float64")
                yield out

    schema = f"time timestamp, y double, x double, {variable} double"
    binf = spark.read.format("binaryFile").load(pattern)
    return binf.select("content").mapInPandas(decode, schema)


def open_geotiff_fragment(path: str, variable: str, year: int | None = None):
    """S5 GeoTIFF fragment opener (reference: rasterio engine + constant
    time dim, ``nasa_from_LPDAAC.py:491-516``). Classic TIFFs decode
    through the built-in pure reader (``sources/geotiff.py`` — strips,
    tiles, DEFLATE, GeoTIFF tags); BigTIFF / exotic compressions raise
    with a pointer at the geo extras. Returns the granule as long-form
    pandas ``(time, y, x, var)`` with nodata as NaN."""
    from xarray_dataaccessor_spark.sources.geotiff import geotiff_fragment_to_pandas

    with open(path, "rb") as f:
        content = f.read()
    return geotiff_fragment_to_pandas(content, variable, year=year)


def geotiff_glob_to_grid(
    spark,
    pattern: str,
    variable: str,
    year: int | None = None,
) -> DataFrame:
    """Distributed GeoTIFF ingestion, the S5 twin of
    :func:`netcdf_glob_to_grid`: ``binaryFile`` source (one granule per
    task) -> Arrow-batched ``mapInPandas`` decode with the pure TIFF
    reader -> long-form grid rows ready for :func:`land_grid_parquet`.
    The parser ships by value; executors need no package install."""
    from xarray_dataaccessor_spark.session import ship_by_value
    from xarray_dataaccessor_spark.sources import geotiff as _gt

    ship_by_value(_gt)

    frag_fn = _gt.geotiff_fragment_to_pandas

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                yield frag_fn(bytes(content), variable, year=year)

    schema = f"time timestamp, y double, x double, {variable} double"
    binf = spark.read.format("binaryFile").load(pattern)
    return binf.select("content").mapInPandas(decode, schema)


def grib_glob_to_grid(
    spark,
    pattern: str,
    variable: str,
    category: int | None = None,
    number: int | None = None,
) -> DataFrame:
    """Distributed GRIB2 ingestion — the wire format the reference's CDS
    accessor can download instead of NetCDF (``era5_from_cds.py``
    request ``format`` param): ``binaryFile`` source (one GRIB file per
    task, each holding one message per timestep) -> ``mapInPandas``
    decode with the pure GRIB2 reader -> long-form grid rows. A message
    timestamp is ``ref_time + forecast_hour``; ``category``/``number``
    filter multi-parameter files to the requested variable. The parser
    ships by value; executors need no package install."""
    from xarray_dataaccessor_spark.session import ship_by_value
    from xarray_dataaccessor_spark.sources import grib2 as _gb

    ship_by_value(_gb)

    parse = _gb.parse_grib2

    def decode(batches):
        import datetime as _dt

        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            for content in pdf["content"]:
                for m in parse(bytes(content)):
                    if category is not None and m["category"] != category:
                        continue
                    if number is not None and m["number"] != number:
                        continue
                    ts = m["ref_time"] + _dt.timedelta(hours=int(m["forecast_hour"]))
                    ny, nx = m["data"].shape
                    yield _pd.DataFrame(
                        {
                            "time": _np.repeat(_np.datetime64(ts, "us"), ny * nx),
                            "y": _np.repeat(m["lats"], nx),
                            "x": _np.tile(m["lons"], ny),
                            variable: m["data"].reshape(-1),
                        }
                    )

    schema = f"time timestamp, y double, x double, {variable} double"
    binf = spark.read.format("binaryFile").load(pattern)
    return binf.select("content").mapInPandas(decode, schema)


def _zarr_nodata_sentinel(meta: Mapping) -> float | int | None:
    """Resolve the value to mask to NaN for a Zarr variable (see
    zarr_to_grid's scale note). Returns None when nothing should be
    masked — including the float-NaN case, which needs no masking since
    blocks are cast to float64 and NaN survives the cast."""
    import math

    def _decode(v):
        if isinstance(v, (list, tuple)):
            v = v[0] if v else None
        if isinstance(v, str):
            return {
                "NaN": float("nan"),
                "Infinity": float("inf"),
                "-Infinity": float("-inf"),
            }.get(v)
        return v

    attrs = meta.get("attrs") or {}
    nodata = _decode(attrs.get("_FillValue", attrs.get("missing_value")))
    if nodata is None:
        fv = _decode(meta.get("fill_value"))
        if isinstance(fv, float) and math.isnan(fv):
            nodata = fv
    if isinstance(nodata, float) and math.isnan(nodata):
        return None  # already NaN after the float64 cast; == would never match
    return nodata


def zarr_to_grid(
    spark,
    store: str,
    variable: str,
    time_var: str = "time",
    x_var: str | None = None,
    y_var: str | None = None,
) -> DataFrame:
    """Distributed Zarr v2 ingestion — the cloud-native sibling of
    :func:`netcdf_glob_to_grid` / :func:`geotiff_glob_to_grid`, and the
    best Spark fit of the three: the store IS a chunk manifest, so
    ``binaryFile`` over the variable's chunk files gives one
    independently-decodable block per task with no header coordination.
    Coordinate axes (dimension-sized by definition) are read driver-side
    and travel in the task closure; each task trims its edge-padded
    block and emits long-form ``(time, y, x, var)`` rows.

    Supports (time, y, x) and (y, x) arrays with xarray's
    ``_ARRAY_DIMENSIONS`` naming (v2) or ``dimension_names`` (v3);
    zlib/gzip/raw/blosc-lz4/blosc-zlib chunks, dotted v2 keys and nested
    v3 ``c/i/j/k`` keys."""
    import numpy as np

    from xarray_dataaccessor_spark.session import ship_by_value
    from xarray_dataaccessor_spark.sources import blosc as _bl
    from xarray_dataaccessor_spark.sources import zarr as _z
    from xarray_dataaccessor_spark.sources import zstd as _zs

    ship_by_value(_z, _bl, _zs)  # workers may not have the package

    meta = _z.read_zarray(store, variable)
    dims = meta["dims"] or []
    if len(meta["shape"]) not in (2, 3):
        raise ValueError("zarr_to_grid expects a 2-D (y,x) or 3-D (t,y,x) array")

    def pick(cands, fallback_pos):
        for c in cands:
            if c in dims:
                return c
        return dims[fallback_pos] if dims else None

    x_name = x_var or pick(("longitude", "lon", "x"), -1)
    y_name = y_var or pick(("latitude", "lat", "y"), -2)
    xs = _z.read_small_array(store, x_name).astype("float64")
    ys = _z.read_small_array(store, y_name).astype("float64")
    has_time = len(meta["shape"]) == 3
    if has_time:
        t_name = time_var if time_var in dims or not dims else dims[0]
        times = np.asarray(_z.zarr_time_axis(store, t_name), dtype="datetime64[us]")
    else:
        times = np.asarray([np.datetime64("1970-01-01", "us")])

    shape, chunks = meta["shape"], meta["chunks"]
    decode = _z.decode_chunk
    # Nodata sentinel: the .zattrs `_FillValue`/`missing_value` attribute
    # (xarray/CF semantics). The .zarray `fill_value` marks UNWRITTEN chunk
    # regions per the v2 spec, not nodata — a store written with the common
    # default fill_value=0 must NOT turn legitimate zeros into NaN. It is
    # used as a mask only when it is itself a float NaN (the one case where
    # the two notions coincide). JSON spells non-finite floats as the
    # strings "NaN"/"Infinity"/"-Infinity"; decode those before comparing.
    nodata = _zarr_nodata_sentinel(meta)

    key_kind, key_sep = meta.get("key_encoding", ("v2", "."))

    def to_rows(batches):
        import os as _os

        import pandas as pd

        def parse_idx(path):
            if key_kind == "default" and key_sep == "/":
                # v3 nested keys .../c/i/j/k: trailing numeric components
                nums = []
                for part in reversed(path.rstrip("/").split("/")):
                    if part.isdigit():
                        nums.append(int(part))
                    else:
                        break
                return list(reversed(nums))
            parts = _os.path.basename(path).split(key_sep)
            if key_kind == "default":  # flat "c<sep>i<sep>j" keys
                parts = parts[1:]
            return [int(p) for p in parts]

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                idx = parse_idx(path)
                block = decode(bytes(content), {"compressor": meta["compressor"],
                                                "dtype": meta["dtype"],
                                                "chunks": chunks,
                                                "sharding": meta.get("sharding"),
                                                "fill_value": meta.get("fill_value"),
                                                "transpose": meta.get("transpose")})
                lo = [i * c for i, c in zip(idx, chunks)]
                keep = tuple(
                    slice(0, min(c, s - l)) for c, s, l in zip(chunks, shape, lo)
                )
                block = np.asarray(block[keep], dtype="float64")
                if nodata is not None:
                    block = np.where(block == nodata, np.nan, block)
                if not has_time:
                    block = block[np.newaxis, ...]
                    t_sel = times
                else:
                    t_sel = times[lo[0] : lo[0] + block.shape[0]]
                y_sel = ys[lo[-2] : lo[-2] + block.shape[1]]
                x_sel = xs[lo[-1] : lo[-1] + block.shape[2]]
                nt, ny, nx = block.shape
                yield pd.DataFrame(
                    {
                        "time": np.repeat(t_sel, ny * nx),
                        "y": np.tile(np.repeat(y_sel, nx), nt),
                        "x": np.tile(x_sel, nt * ny),
                        variable: block.reshape(-1),
                    }
                )

    schema = f"time timestamp, y double, x double, {variable} double"
    # leaf chunk-file names: digits for v2 dotted and v3 nested keys,
    # "c<sep>i<sep>j" for the flat v3 default encoding
    glob = "c*" if (key_kind == "default" and key_sep != "/") else "[0-9]*"
    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(os.path.join(store, variable))
    )
    return binf.select("path", "content").mapInPandas(to_rows, schema)


def fetch_cds(requests: Sequence[Mapping], api_key: str | None = None):  # pragma: no cover
    """S2 live CDS fetch — gated on cdsapi + credentials."""
    try:
        import cdsapi  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "Live CDS retrieval requires the cdsapi package (not installed); "
            "cds_request_dicts() still produces the full request batch."
        ) from exc


def register_landed_dataset(
    catalog,
    spark: SparkSession,
    name: str,
    path: str,
    variables: Sequence[str],
):
    """Register landed Parquet in the catalog so ``catalog.load`` gives
    the pruned scan (bbox/time/variable pushdown all Catalyst-side)."""
    return catalog.register(name, path, variables)
