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


def open_netcdf_fragment(path: str, variable: str):
    """S1/S4 NetCDF fragment opener (reference: fsspec + h5netcdf,
    ``era5_from_aws.py:349-376``, ``nasa_from_LPDAAC.py:480-489``).

    Classic NetCDF3 and NetCDF4 (HDF5 container) files decode through
    the built-in pure readers (``sources/netcdf3.py::read_grid``) — no
    external NetCDF stack needed. Returns the granule as a long-form
    pandas DataFrame ``(time, y, x, var)`` — granule-sized, the same
    unit of work the reference holds in memory per fragment."""
    from xarray_dataaccessor_spark.sources.netcdf3 import netcdf_fragment_to_pandas

    with open(path, "rb") as f:
        content = f.read()
    return netcdf_fragment_to_pandas(content, variable)


def netcdf_glob_to_grid(spark, pattern: str, variable: str) -> DataFrame:
    """Distributed NetCDF ingestion: a ``binaryFile`` scan (one granule
    per task; the JVM lists the files) -> ``mapInArrow`` decode through
    ``netcdf3.read_grid``, the read ``format("netcdf")`` uses (classic
    CDF and NetCDF4/HDF5, CF-decoded) -> rows built by the data
    sources' ``_grid_batches``: long-form ``(time, y, x, <variable>)``
    ready for :func:`land_grid_parquet`.

    Not a ``format("netcdf")`` read: the Python data source planner
    costs about 0.3-0.4 s per ``load()`` and per planned action, and
    through it the perfbench backfill op (decode, merge, land one month
    of two variables) took a median 3.00 s against 1.73 s here (4-vCPU
    host, ``local[2]``). The decode modules are registered for by-value
    pickling, so executor workers need neither this package nor a
    NetCDF library."""
    from xarray_dataaccessor_spark.sources import pyds
    from xarray_dataaccessor_spark.sources.netcdf3 import read_grid

    pyds._ship_by_value()  # workers may not have the package
    columns = ["y", "x", variable]
    grid_batches = pyds._grid_batches

    def decode(batches):
        for batch in batches:
            for content in batch.column("content").to_pylist():
                yield from grid_batches([read_grid(content, [variable])], columns)

    binf = spark.read.format("binaryFile").load(pattern)
    return binf.select("content").mapInArrow(decode, pyds._grid_schema(columns))


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
    :func:`netcdf_glob_to_grid`: ``spark.read.format("geotiff")``
    (``sources/pyds.py``) over the glob — one task per ~128 MiB of
    strips/tiles, overview IFDs skipped, GDAL nodata as null — giving
    long-form grid rows ready for :func:`land_grid_parquet`. ``year``
    stamps the constant time (Jan 1; the epoch when absent)."""
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    reader = spark.read.format("geotiff").option("variable", variable)
    if year is not None:
        reader = reader.option("year", year)
    return reader.load(pattern)


def grib_glob_to_grid(
    spark,
    pattern: str,
    variable: str,
    category: int | None = None,
    number: int | None = None,
) -> DataFrame:
    """Distributed GRIB2 ingestion — the wire format the reference's CDS
    accessor can download instead of NetCDF (``era5_from_cds.py``
    request ``format`` param): ``spark.read.format("grib2")``
    (``sources/pyds.py``) over the glob, decoding with the pure GRIB2
    reader into long-form grid rows. A message timestamp is
    ``ref_time + forecast_hour``; ``category``/``number`` filter
    multi-parameter files to the requested variable; bitmap-masked
    cells are null."""
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    reader = spark.read.format("grib2").option("variable", variable)
    if category is not None:
        reader = reader.option("category", category)
    if number is not None:
        reader = reader.option("number", number)
    return reader.load(pattern)


def zarr_to_grid(spark, store: str, variable: str) -> DataFrame:
    """Distributed Zarr v2/v3 ingestion — the cloud-native sibling of
    :func:`netcdf_glob_to_grid` / :func:`geotiff_glob_to_grid`, and the
    best Spark fit of the three: ``spark.read.format("zarr")``
    (``sources/pyds.py``) plans its tasks straight from the store's
    chunk grid, decodes each chunk independently and trims edge
    padding into long-form ``(time, y, x, var)`` rows (plus ``level``
    for 4-D arrays); ``_FillValue`` cells are null.

    Supports (y, x), (time, y, x) and (time, level, y, x) arrays with
    xarray's ``_ARRAY_DIMENSIONS`` naming (v2) or ``dimension_names``
    (v3); zlib/gzip/zstd/raw/blosc chunks, dotted v2 keys, flat and
    nested v3 keys, and sharded v3 stores."""
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    return spark.read.format("zarr").option("variable", variable).load(store)


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
