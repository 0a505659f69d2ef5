"""First-class Spark data sources for the engine's pure-Python granule
formats, built on the PySpark 4 Python Data Source API
(``pyspark.sql.datasource``): ``spark.read.format("netcdf")`` /
``"geotiff"`` / ``"webdataset"`` instead of driver-side glue.

Why this matters at 100 TB: the reference opens granules eagerly with
xarray on one node (``era5_from_aws.py:349-376``,
``nasa_from_LPDAAC.py:480-489``); here every granule becomes a set of
Spark INPUT PARTITIONS planned from the file HEADER alone — a classic
NetCDF file with a record (time) dimension splits into record-range
partitions of ~``target_partition_bytes`` each, so one 100 GB granule
scans as hundreds of parallel tasks, each seek-reading only its byte
range. Filter pushdown (``pushFilters``) prunes whole granules by
their x/y coordinate extent and — where safe — record ranges by time,
before a single data byte is read. All filters are reported back as
unhandled, so Spark re-applies them and pruning can never change
results, only skip I/O (the same best-effort contract as parquet
row-group pruning).

Executor-side decode calls the engine's pure readers —
``netcdf3.read_grid`` (classic CDF and NetCDF4/HDF5; also behind
``ingest.netcdf_glob_to_grid``) and ``geotiff.decode_block`` — and
yields Arrow record batches (the API's vectorized fast path), so rows
never materialize one-by-one in Python.
"""

from __future__ import annotations

import glob as _glob
import os
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from xarray_dataaccessor_spark.sources.geotiff import (
    block_window,
    decode_block,
    tiff_layout,
)
from xarray_dataaccessor_spark.sources.grib2 import parse_grib2
from xarray_dataaccessor_spark.sources.netcdf3 import (
    _LEVEL_NAMES,
    _X_NAMES,
    _Y_NAMES,
    data_variables,
    decode_time_units,
    decode_times,
    grid_axes,
    netcdf_layout,
    read_grid,
    read_variable,
)
from xarray_dataaccessor_spark.sources.zarr import (
    chunk_relpath,
    decode_chunk,
    nodata_sentinel,
    read_small_array,
    read_zarray,
)


def _ship_by_value() -> None:
    """Data source classes (and their partition objects) are pickled to
    Python workers that may not have this package on sys.path; register
    the decode modules AND this module for by-value pickling so the
    whole reader travels with the plan (the ingest/webdataset pattern —
    stdlib struct/zlib + numpy on the worker is all that's assumed)."""
    import xarray_dataaccessor_spark.sources.pyds as _self
    from xarray_dataaccessor_spark.session import ship_by_value
    from xarray_dataaccessor_spark.sources import blosc as _bl
    from xarray_dataaccessor_spark.sources import geotiff as _gt
    from xarray_dataaccessor_spark.sources import grib2 as _gb
    from xarray_dataaccessor_spark.sources import hdf5 as _h5
    from xarray_dataaccessor_spark.sources import netcdf3 as _nc
    from xarray_dataaccessor_spark.sources import zarr as _z
    from xarray_dataaccessor_spark.sources import zstd as _zs

    ship_by_value(_nc, _h5, _gt, _gb, _bl, _zs, _z, _self)

__all__ = [
    "NetCDFDataSource",
    "GeoTIFFDataSource",
    "WebDatasetDataSource",
    "ZarrDataSource",
    "GRIB2DataSource",
    "register_data_sources",
]

#: leading bytes of a NetCDF granule: classic CDF-1/CDF-2, and the HDF5
#: superblock of a NetCDF4 file (often named ``*.h5``/``*.hdf5``)
_NETCDF_MAGICS = (b"CDF\x01", b"CDF\x02", b"\x89HDF")


def _has_magic(path: str, magics: tuple[bytes, ...]) -> bool:
    with open(path, "rb") as f:
        return f.read(max(map(len, magics))).startswith(magics)


def _expand_paths(
    path: str, suffixes: tuple[str, ...], magics: tuple[bytes, ...] = ()
) -> list[str]:
    """A load() path -> sorted file list: file, directory, or glob. A
    directory keeps the files named with one of ``suffixes`` and, when
    ``magics`` is given, every other file that starts with one of them."""
    if os.path.isdir(path):
        names = [os.path.join(path, f) for f in os.listdir(path)]
        out = [
            p
            for p in names
            if os.path.isfile(p)
            and (p.endswith(suffixes) or (magics and _has_magic(p, magics)))
        ]
    elif any(ch in path for ch in "*?["):
        out = [p for p in _glob.glob(path) if os.path.isfile(p)]
    elif os.path.isfile(path):
        out = [path]
    else:
        raise FileNotFoundError(f"No such file, directory, or glob: {path}")
    if not out:
        raise FileNotFoundError(f"No granules matched {path!r}")
    return sorted(out)


def _grid_schema(columns: list[str], granule: bool = False) -> str:
    """DDL of a grid reader's rows: ``time`` then ``columns`` (axes and
    variables, all double), then ``granule`` — the contract
    :func:`_grid_batches` emits."""
    cols = ["time timestamp"] + [f"`{c}` double" for c in columns]
    if granule:
        cols.append("granule string")
    return ", ".join(cols)


def _grid_batches(
    frames: list, columns: list[str], granule: str | None = None
) -> Iterator:
    """Decoded grid frames -> Arrow record batches, the one place every
    grid reader builds its rows. ``time`` is a UTC ``timestamp`` (the
    type ``netcdf_glob_to_grid``, landed parquet and every operator
    use); every other column of ``columns`` is float64 with NaN — decoded
    nodata — as SQL null (skipped by ``avg``, like xarray's ``skipna``);
    ``granule`` stamps the source file's basename on every row."""
    import pyarrow as pa

    if not frames:
        return

    def cat(name, dtype):
        parts = [np.asarray(fr[name]) for fr in frames]
        col = parts[0] if len(parts) == 1 else np.concatenate(parts)
        return col.astype(dtype, copy=False)

    time = cat("time", "datetime64[us]")
    cols = {"time": pa.array(time, type=pa.timestamp("us", tz="UTC"))}
    for c in columns:
        cols[c] = pa.array(cat(c, "f8"), type=pa.float64(), from_pandas=True)
    if granule is not None:
        cols["granule"] = pa.array([granule] * len(time), type=pa.string())
    yield from pa.table(cols).to_batches(max_chunksize=1 << 16)


def _mmap(path: str):
    """A read-only map of the whole file: parsers index it like bytes,
    and only the pages they touch are read."""
    import mmap

    with open(path, "rb") as f:
        return mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)


@dataclass
class _NcPartition(InputPartition):
    """One (granule, record-range) task: records ``[rec_lo, rec_hi)`` of
    the granule's record dim (``netcdf3.netcdf_layout``), or the whole
    granule when ``whole``."""

    path: str
    rec_lo: int = 0
    rec_hi: int = 0
    whole: bool = True


def _bounds_from_filters(
    filters: list[Filter], col: str
) -> tuple[float | None, float | None]:
    """(lo, hi) bounds implied by pushed filters on a column (closed
    bounds; open/closed distinction doesn't matter for PRUNING — at
    worst a boundary partition survives and Spark's re-applied filter
    removes its rows)."""
    import datetime as _dt

    lo = hi = None
    for f in filters:
        if getattr(f, "attribute", None) != (col,):
            continue
        v = getattr(f, "value", None)
        if v is None:
            continue
        try:
            if isinstance(v, _dt.datetime):
                # NEVER v.timestamp(): that reads a naive datetime in the
                # PROCESS timezone, shifting the bound by the UTC offset on
                # a non-UTC driver — and a shifted bound prunes partitions
                # that contain matching rows (silent missing data). The
                # column is a UTC timestamp and Spark pushes tz-aware UTC
                # datetimes; a naive bound is read as naive-UTC µs.
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                fv = float(np.datetime64(v, "us").astype("int64"))
            else:
                fv = float(v)
        except (TypeError, ValueError):
            continue
        if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            lo = fv if lo is None else max(lo, fv)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            hi = fv if hi is None else min(hi, fv)
        elif isinstance(f, EqualTo):
            lo = fv if lo is None else max(lo, fv)
            hi = fv if hi is None else min(hi, fv)
    return lo, hi


class _NetCDFReaderBase:
    """Shared planning/decode for the batch and stream NetCDF readers."""

    def __init__(self, options: dict):
        self.options = dict(options)
        self.path = self.options.get("path")
        if not self.path:
            raise ValueError("netcdf data source requires a path")
        self.variables = [
            v.strip()
            for v in self.options.get("variables", "").split(",")
            if v.strip()
        ]
        self.target_bytes = int(
            self.options.get("target_partition_bytes", 128 * 1024 * 1024)
        )
        self.include_granule = (
            str(self.options.get("include_granule", "false")).lower() == "true"
        )
        self.assume_sorted_time = (
            str(self.options.get("assume_sorted_time", "false")).lower()
            == "true"
        )
        #: set by infer_schema when the granules carry a pressure-level
        #: dimension (CDS pressure-level shape): emit a `level` column
        self.level_var: str | None = None
        self._filters: list[Filter] = []

    # -- planning -----------------------------------------------------
    def _files(self) -> list[str]:
        return _expand_paths(self.path, (".nc", ".nc4", ".cdf"), _NETCDF_MAGICS)

    def _plan_file(self, path: str) -> list[_NcPartition]:
        """Header-only planning (``netcdf_layout`` through an mmap; data
        pages are never read): granule bbox pruning, then windows of
        ~``target_partition_bytes`` of decoded values along the record
        dim, then time pruning of the windows. A truncated or corrupt
        granule raises here, at planning."""
        mm = _mmap(path)
        lay = netcdf_layout(mm)
        vs = lay["variables"]
        t, _lev, y, x = grid_axes(vs)
        # granule-level bbox pruning from pushed x/y filters: two
        # axis-sized reads per granule — never the data cube
        for col, name in (("y", y), ("x", x)):
            lo, hi = _bounds_from_filters(self._filters, col)
            if name is None or (lo is None and hi is None):
                continue
            axis = np.asarray(read_variable(mm, lay, name), dtype="f8")
            if (hi is not None and axis.min() > hi) or (
                lo is not None and axis.max() < lo
            ):
                return []
        rdim = lay["record_dim"]
        n = lay["dims"].get(rdim, 0) if rdim else 0
        windowed = [vs[v] for v in self.variables if rdim in vs[v]["dims"]]
        if n <= 0 or not windowed:
            return [_NcPartition(path)]
        # DECODED bytes per record across the requested vars bound task
        # memory; stored bytes would let a well-compressed granule
        # produce one OOM-sized task
        per_row = sum(
            int(np.prod(v["shape"])) // n * v["dtype"].itemsize for v in windowed
        )
        rows = max(1, self.target_bytes // max(per_row, 1))
        ranges = [(lo, min(lo + rows, n)) for lo in range(0, n, rows)]
        tlo, thi = _bounds_from_filters(self._filters, "time")
        if t is not None and rdim in vs[t]["dims"] and (tlo, thi) != (None, None):
            bounds = self._time_bounds(mm, lay, t, ranges)
            if bounds is not None:
                ranges = [
                    r
                    for r, (first, last) in zip(ranges, bounds)
                    if not (thi is not None and first > thi)
                    and not (tlo is not None and last < tlo)
                ]
        if ranges == [(0, n)]:
            return [_NcPartition(path)]
        return [_NcPartition(path, lo, hi, whole=False) for lo, hi in ranges]

    def _time_bounds(self, mm, lay: dict, t: str, ranges: list) -> list | None:
        """(first, last) epoch µs of each record range, or None when
        ranges cannot be pruned. An HDF5 time axis is decoded with the
        layout, so its bounds are exact; a classic record time is
        probed at each range's first and last record, which bounds the
        range only when time is CF-monotonic — the caller vouches for
        that with ``assume_sorted_time``, since probes cannot prove
        it, and pruning must never drop matching rows."""
        tv = lay["variables"][t]

        def us(values):
            return decode_times(values, tv["attrs"]).astype("datetime64[us]").astype("int64")

        if "data" in tv:
            axis = us(tv["data"])
            return [(axis[lo:hi].min(), axis[lo:hi].max()) for lo, hi in ranges]
        if not self.assume_sorted_time:
            return None
        return [
            (us(read_variable(mm, lay, t, (lo, lo + 1)))[0],
             us(read_variable(mm, lay, t, (hi - 1, hi)))[0])
            for lo, hi in ranges
        ]

    def plan_partitions(self) -> list[_NcPartition]:
        parts: list[_NcPartition] = []
        for p in self._files():
            parts.extend(self._plan_file(p))
        return parts

    # -- schema -------------------------------------------------------
    def infer_schema(self) -> str:
        # header-only layout parse through an mmap: schema inference
        # stays O(header) even for a 100 GB granule
        first = self._files()[0]
        vs = netcdf_layout(_mmap(first))["variables"]
        missing = [v for v in self.variables if v not in vs]
        if missing:
            # fail at schema time with the granule's inventory, not
            # as a KeyError inside an executor task
            raise ValueError(
                f"variables {missing} not in {first} (has {sorted(vs)})"
            )
        data_vars = self.variables or data_variables(vs)
        # pressure-level detection (CDS pressure-level downloads):
        # every chosen var must agree on carrying the level dim
        lev = grid_axes(vs)[1]
        if lev is not None and data_vars:
            lev_dim = (vs[lev]["dims"] or [lev])[0]
            has = [lev_dim in vs[v]["dims"] for v in data_vars]
            if all(has):
                self.level_var = lev
            elif any(has):
                raise ValueError(
                    f"variables mix level and non-level shapes in "
                    f"{first}; pass an explicit 'variables' option "
                    "with one shape"
                )
        if not data_vars:
            raise ValueError(f"No data variables detected in {first}")
        self.variables = data_vars
        return _grid_schema(self._columns(), self.include_granule)

    def _columns(self) -> list[str]:
        return (
            (["level"] if self.level_var else [])
            + ["y", "x"]
            + list(self.variables)
        )

    # -- executor-side decode ------------------------------------------
    def read_partition(self, part: _NcPartition) -> Iterator:
        window = None if part.whole else (part.rec_lo, part.rec_hi)
        cols = read_grid(
            _mmap(part.path), self.variables, window, self.level_var is not None
        )
        granule = os.path.basename(part.path) if self.include_granule else None
        return _grid_batches([cols], self._columns(), granule)


class _NetCDFBatchReader(_NetCDFReaderBase, DataSourceReader):
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # remember the prunable ones, hand EVERYTHING back to Spark:
        # pruning is an I/O optimization, never a semantics change
        self._filters = [
            f
            for f in filters
            if isinstance(
                f,
                (
                    EqualTo,
                    GreaterThan,
                    GreaterThanOrEqual,
                    LessThan,
                    LessThanOrEqual,
                ),
            )
        ]
        return filters

    def partitions(self) -> list[InputPartition]:
        return self.plan_partitions()

    def read(self, partition: _NcPartition) -> Iterator:
        return self.read_partition(partition)


def _tail_latest_offset(files: list[str]) -> dict:
    """Offset for a granule-tail stream = max basename seen so far.
    A count-based offset re-emits an old granule (and permanently
    skips the new one) whenever a late file sorts before consumed
    names; the max-name offset makes the contract explicit: only
    files with basenames strictly greater than the consumed high-water
    mark are emitted, so names must be monotonically increasing
    (timestamped granules are). Files must still land atomically
    (rename into place)."""
    return {"last": os.path.basename(files[-1]) if files else ""}


def _tail_slice(files: list[str], start: dict, end: dict) -> list[str]:
    """Micro-batch file selection between two offsets. Understands the
    name-based offsets above and (read-only) legacy ``{"n": count}``
    offsets from pre-existing checkpoints — including the MIXED case
    hit exactly once per upgraded checkpoint: a legacy count-based
    ``start`` paired with a fresh name-based ``end``. A legacy count is
    converted to a name high-water mark (the basename of the last
    already-consumed file, valid under the documented monotonic-name
    contract) before the ``lo < name <= hi`` filter, so the first
    post-upgrade batch does NOT re-emit already-consumed granules."""

    def _name_hwm(off: dict) -> str:
        if "last" in off:
            return off["last"]
        n = min(off.get("n", 0), len(files))
        return os.path.basename(files[n - 1]) if n > 0 else ""

    if "last" in start or "last" in end:
        lo = _name_hwm(start)
        hi = _name_hwm(end)
        return [
            p for p in files if lo < os.path.basename(p) <= hi
        ]
    return files[start.get("n", 0) : end.get("n", 0)]


class _NetCDFStreamReader(_NetCDFReaderBase, DataSourceStreamReader):
    """Granule-tail stream: the directory is an append-only feed of
    granules (the reference's 'fetch new ERA5 files as CDS publishes
    them' loop, as a Structured Streaming source). Offset = max
    consumed basename (see :func:`_tail_latest_offset`)."""

    def initialOffset(self) -> dict:
        return {"last": ""}

    def latestOffset(self) -> dict:
        try:
            return _tail_latest_offset(self._files())
        except FileNotFoundError:
            return {"last": ""}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        files = _tail_slice(self._files(), start, end)
        parts: list[_NcPartition] = []
        for p in files:
            parts.extend(self._plan_file(p))
        # a fully-pruned microbatch still needs >=1 (empty) partition
        return parts or [_NcPartition("", 0, 0, whole=False)]

    def read(self, partition: _NcPartition) -> Iterator:
        if not partition.path:
            return iter(())
        return self.read_partition(partition)

    def commit(self, end: dict) -> None:
        pass


class NetCDFDataSource(DataSource):
    """``spark.read.format("netcdf").load(path)`` — classic CDF-1/2 and
    NetCDF4/HDF5 granules as long-form ``(time, y, x, <vars...>)`` rows.

    Options: ``variables`` (comma list; default = auto-detected data
    vars), ``target_partition_bytes`` (record-range split target,
    default 128 MiB), ``include_granule`` (provenance column),
    ``assume_sorted_time`` (enables record-range pruning from pushed
    time predicates; requires CF-monotonic time).

    Also a streaming source (``spark.readStream.format("netcdf")``):
    new granules in the directory become micro-batches."""

    @classmethod
    def name(cls) -> str:
        return "netcdf"

    def schema(self):
        return _NetCDFReaderBase(self.options).infer_schema()

    def reader(self, schema) -> DataSourceReader:
        r = _NetCDFBatchReader(self.options)
        r.infer_schema()
        return r

    def streamReader(self, schema) -> DataSourceStreamReader:
        r = _NetCDFStreamReader(self.options)
        r.infer_schema()
        return r


# ---------------------------------------------------------------------------
# GeoTIFF
# ---------------------------------------------------------------------------


@dataclass
class _TiffPartition(InputPartition):
    """One (file, block-range) task with everything read() needs to
    decode WITHOUT re-walking the IFD: the image ``layout``
    (:func:`_tiff_layout` — per-block byte ranges and the grid
    geometry; block-counted lists, not data-sized)."""

    path: str
    block_ids: list[int] = field(default_factory=list)
    layout: dict = field(default_factory=dict)
    year: int | None = None


def _tiff_layout(path: str) -> dict:
    """``geotiff.tiff_layout`` of the first full-resolution image, read
    through an mmap (IFD pages only — never pixel data). A raster
    without GeoTIFF georeferencing is refused."""
    lay = tiff_layout(_mmap(path))
    if lay["x0"] is None:
        raise ValueError(
            f"{path}: TIFF lacks GeoTIFF georeferencing (scale + tiepoint)"
        )
    return lay


class _GeoTIFFReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.path = self.options.get("path")
        if not self.path:
            raise ValueError("geotiff data source requires a path")
        self.variable = self.options.get("variable", "value")
        self.target_bytes = int(
            self.options.get("target_partition_bytes", 128 * 1024 * 1024)
        )
        self.include_granule = (
            str(self.options.get("include_granule", "false")).lower() == "true"
        )
        self.year = (
            int(self.options["year"]) if "year" in self.options else None
        )
        self._filters: list[Filter] = []

    def _files(self) -> list[str]:
        return _expand_paths(self.path, (".tif", ".tiff"))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self._filters = [
            f
            for f in filters
            if isinstance(
                f,
                (
                    EqualTo,
                    GreaterThan,
                    GreaterThanOrEqual,
                    LessThan,
                    LessThanOrEqual,
                ),
            )
        ]
        return filters

    def _block_extent(
        self, lay: dict, bi: int
    ) -> tuple[float, float, float, float]:
        """(ymin, ymax, xmin, xmax) of one block's cell centers."""
        r0, c0, rows, cols = block_window(lay, bi)
        ys = (lay["y0"] - r0 * lay["dy"], lay["y0"] - (r0 + rows - 1) * lay["dy"])
        xs = (lay["x0"] + c0 * lay["dx"], lay["x0"] + (c0 + cols - 1) * lay["dx"])
        return min(ys), max(ys), min(xs), max(xs)

    def _group(self, path: str, lay: dict, blocks) -> list[_TiffPartition]:
        """Block ids -> tasks of ~``target_partition_bytes`` stored bytes."""
        parts: list[_TiffPartition] = []
        group: list[int] = []
        acc = 0
        for bi in blocks:
            group.append(bi)
            acc += lay["counts"][bi]
            if acc >= self.target_bytes:
                parts.append(_TiffPartition(path, group, lay, self.year))
                group, acc = [], 0
        if group:
            parts.append(_TiffPartition(path, group, lay, self.year))
        return parts

    def partitions(self) -> list[InputPartition]:
        ylo, yhi = _bounds_from_filters(self._filters, "y")
        xlo, xhi = _bounds_from_filters(self._filters, "x")
        parts: list[_TiffPartition] = []
        for path in self._files():
            lay = _tiff_layout(path)
            keep: list[int] = []
            for bi in range(len(lay["offsets"])):
                if ylo is not None or yhi is not None or xlo is not None or xhi is not None:
                    bymin, bymax, bxmin, bxmax = self._block_extent(lay, bi)
                    if yhi is not None and bymin > yhi:
                        continue
                    if ylo is not None and bymax < ylo:
                        continue
                    if xhi is not None and bxmin > xhi:
                        continue
                    if xlo is not None and bxmax < xlo:
                        continue
                keep.append(bi)
            parts.extend(self._group(path, lay, keep))
        return parts or [_TiffPartition("")]

    def read(self, partition: _TiffPartition) -> Iterator:
        lay = partition.layout
        stamp = np.datetime64(
            f"{partition.year}-01-01" if partition.year else "1970-01-01", "us"
        )
        mm = _mmap(partition.path) if partition.block_ids else None
        frames = []
        for bi in partition.block_ids:
            off = lay["offsets"][bi]
            vals = decode_block(mm[off : off + lay["counts"][bi]], lay, bi).astype("f8")
            if lay["nodata"] is not None:
                vals = np.where(vals == lay["nodata"], np.nan, vals)
            r0, c0, rows, cols = block_window(lay, bi)
            ys = lay["y0"] - (r0 + np.arange(rows)) * lay["dy"]
            xs = lay["x0"] + (c0 + np.arange(cols)) * lay["dx"]
            frames.append(
                {
                    "time": np.repeat(stamp, rows * cols),
                    "y": np.repeat(ys, cols),
                    "x": np.tile(xs, rows),
                    self.variable: vals.reshape(-1),
                }
            )
        granule = (
            os.path.basename(partition.path) if self.include_granule else None
        )
        yield from _grid_batches(frames, ["y", "x", self.variable], granule)


class _GeoTIFFStreamReader(DataSourceStreamReader):
    """Granule-tail stream over a directory of rasters (new scene
    lands -> micro-batch), same offset contract as the netcdf tail:
    max consumed basename (:func:`_tail_latest_offset`),
    atomic-rename landing."""

    def __init__(self, options: dict):
        self._reader = _GeoTIFFReader(options)

    def initialOffset(self) -> dict:
        return {"last": ""}

    def latestOffset(self) -> dict:
        try:
            return _tail_latest_offset(self._reader._files())
        except FileNotFoundError:
            return {"last": ""}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        files = _tail_slice(self._reader._files(), start, end)
        parts: list[_TiffPartition] = []
        for path in files:
            lay = _tiff_layout(path)
            parts.extend(self._reader._group(path, lay, range(len(lay["offsets"]))))
        return parts or [_TiffPartition("")]

    def read(self, partition: _TiffPartition) -> Iterator:
        if not partition.path:
            return iter(())
        return self._reader.read(partition)

    def commit(self, end: dict) -> None:
        pass


class GeoTIFFDataSource(DataSource):
    """``spark.read.format("geotiff").load(path)`` — single-band
    GeoTIFF/COG rasters as ``(time, y, x, <variable>)`` rows. Partition
    planning walks ONLY the IFD chain with seeks (skipping
    reduced-resolution overview IFDs), groups strips/tiles into
    ~``target_partition_bytes`` tasks, and prunes blocks against pushed
    x/y predicates via the geotransform BEFORE reading pixel bytes —
    an AOI query over a continental COG mosaic touches only the
    overlapping tiles' byte ranges.

    Options: ``variable`` (output column name, default 'value'),
    ``year`` (constant time stamp, reference
    ``nasa_from_LPDAAC.py:491-516``), ``target_partition_bytes``,
    ``include_granule``.

    Also a streaming source (``spark.readStream.format("geotiff")``):
    newly landed rasters in the directory become micro-batches."""

    @classmethod
    def name(cls) -> str:
        return "geotiff"

    def schema(self):
        r = _GeoTIFFReader(self.options)
        return _grid_schema(["y", "x", r.variable], r.include_granule)

    def reader(self, schema) -> DataSourceReader:
        return _GeoTIFFReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _GeoTIFFStreamReader(self.options)


# ---------------------------------------------------------------------------
# WebDataset (tar shards)
# ---------------------------------------------------------------------------


@dataclass
class _ShardPartition(InputPartition):
    path: str


class _WebDatasetReader(DataSourceReader):
    """One partition per .tar shard — the WebDataset contract (shard =
    unit of parallelism). Members group by key (basename before the
    first dot); each key yields one row with an ext->bytes map."""

    def __init__(self, options: dict):
        self.options = dict(options)
        self.path = self.options.get("path")
        if not self.path:
            raise ValueError("webdataset data source requires a path")

    def _files(self) -> list[str]:
        return _expand_paths(self.path, (".tar",))

    def partitions(self) -> list[InputPartition]:
        return [_ShardPartition(p) for p in self._files()]

    def read(self, partition: _ShardPartition) -> Iterator:
        import io
        import tarfile

        shard = os.path.basename(partition.path)
        with open(partition.path, "rb") as f:
            data = f.read()
        by_key: dict[str, dict[str, bytes]] = {}
        order: list[str] = []
        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
            for m in tf.getmembers():
                if not m.isfile():
                    continue
                base = os.path.basename(m.name)
                key, _, ext = base.partition(".")
                payload = tf.extractfile(m).read()
                if key not in by_key:
                    by_key[key] = {}
                    order.append(key)
                by_key[key][ext] = payload
        for key in order:
            yield (shard, key, by_key[key])


@dataclass
class _ShardCommit(WriterCommitMessage):
    tmp: str
    pid: int
    n: int


class _WebDatasetWriter(DataSourceWriter):
    """DataSourceWriter: each partition lands one tar shard under a
    temp name and reports it in its commit message; the driver-side
    ``commit`` renames shards into place and writes a ``_manifest.json``
    — write-side atomicity without a Hadoop committer. ``abort`` reaps
    the temp files."""

    def __init__(self, options: dict, overwrite: bool):
        self.options = dict(options)
        self.path = self.options.get("path")
        if not self.path:
            raise ValueError("webdataset sink requires a path")
        self.prefix = self.options.get("prefix", "shard")
        self.overwrite = overwrite

    def write(self, iterator):
        import tarfile
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(
            self.path, f"._tmp_{self.prefix}-{pid:06d}-{uuid.uuid4().hex}.tar"
        )
        n = 0
        with tarfile.open(tmp, "w") as tf:
            for row in iterator:
                d = row.asDict(recursive=True)
                key = str(d.get("key", n))
                files = d.get("files") or {}
                for ext, payload in sorted(files.items()):
                    if payload is None:
                        continue
                    if isinstance(payload, str):
                        payload = payload.encode("utf-8")
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(payload)
                    import io as _io

                    tf.addfile(info, _io.BytesIO(bytes(payload)))
                n += 1
        return _ShardCommit(tmp=tmp, pid=pid, n=n)

    def commit(self, messages):
        import glob as _glob
        import json

        final = []
        names = set()
        for m in messages:
            if m is None:
                continue
            name = f"{self.prefix}-{m.pid:06d}.tar"
            os.replace(m.tmp, os.path.join(self.path, name))
            names.add(name)
            final.append({"shard": name, "samples": m.n})
        if self.overwrite:
            # mode("overwrite") must not leave stale shards from a
            # previous (larger) write: the reader globs all *.tar
            for old in _glob.glob(
                os.path.join(self.path, f"{self.prefix}-*.tar")
            ):
                if os.path.basename(old) not in names:
                    os.remove(old)
        with open(os.path.join(self.path, "_manifest.json"), "w") as f:
            json.dump({"shards": final}, f, indent=1, sort_keys=True)

    def abort(self, messages):
        for m in messages or []:
            if m is not None and os.path.exists(m.tmp):
                os.remove(m.tmp)


class WebDatasetDataSource(DataSource):
    """``spark.read.format("webdataset").load(dir)`` and
    ``df.write.format("webdataset").save(dir)`` — tar-shard datasets
    (the multimodal training-data interchange format). Read: one
    partition per shard, rows ``(shard, key, files map<string,binary>)``.
    Write: input rows ``(key string, files map<string,binary>)``; each
    partition writes one shard atomically (temp name + driver-side
    rename in ``commit``), with a ``_manifest.json`` recording the
    landed shards."""

    @classmethod
    def name(cls) -> str:
        return "webdataset"

    def schema(self):
        return "shard string, key string, files map<string,binary>"

    def reader(self, schema) -> DataSourceReader:
        return _WebDatasetReader(self.options)

    def writer(self, schema, overwrite: bool):
        return _WebDatasetWriter(self.options, overwrite)


# ---------------------------------------------------------------------------
# Zarr (chunk-native cloud stores)
# ---------------------------------------------------------------------------


@dataclass
class _ZarrPartition(InputPartition):
    """One task = one (or a byte-budgeted group of) chunk objects.
    Chunk indices are grid coordinates; geometry travels in the reader,
    not here."""

    store: str
    variable: str
    chunk_idx: list[tuple[int, ...]] = field(default_factory=list)


class _ZarrReader(DataSourceReader):
    """The best-fitting format of the four: a Zarr store IS a chunk
    manifest, so partitions come straight from the metadata chunk grid
    (no listing, no header probing), and pushed time/y/x predicates
    prune chunks EXACTLY by comparing each chunk's coordinate-axis
    slice min/max against the bounds — the axes are dimension-sized and
    in memory, so no monotonicity assumption is needed (unlike the
    NetCDF record probe). A missing chunk object decodes as
    ``fill_value`` per the v2 spec (no rows when it is null), and cells
    equal to the nodata sentinel (:func:`zarr.nodata_sentinel`) are
    null."""

    def __init__(self, options: dict):
        self.options = dict(options)
        self.store = self.options.get("path")
        if not self.store:
            raise ValueError("zarr data source requires a store path")
        self.variable = self.options.get("variable")
        if not self.variable:
            raise ValueError("zarr data source requires option 'variable'")
        self.target_bytes = int(
            self.options.get("target_partition_bytes", 128 * 1024 * 1024)
        )
        self._filters: list[Filter] = []
        self._geom = None

    # -- geometry (driver/planner side, axis-sized reads only) ---------
    def _geometry(self) -> dict:
        if self._geom is not None:
            return self._geom
        meta = read_zarray(self.store, self.variable)
        nd = len(meta["shape"])
        if nd not in (2, 3, 4):
            raise ValueError(
                "zarr data source expects a 2-D (y,x), 3-D (t,y,x), or "
                "4-D (t,level,y,x) array"
            )
        dims = meta["dims"] or []

        def pick(cands, fallback_pos):
            for c in cands:
                if c in dims:
                    return c
            return dims[fallback_pos] if dims else None

        x_name = pick(_X_NAMES, -1)
        y_name = pick(_Y_NAMES, -2)
        xs = read_small_array(self.store, x_name).astype("f8")
        ys = read_small_array(self.store, y_name).astype("f8")
        levels = None
        if nd == 4:
            # pressure-level archives (ARCO-ERA5 shape): dim 1 is the
            # level axis, whatever the store names it
            lev_name = pick(_LEVEL_NAMES, 1)
            levels = read_small_array(self.store, lev_name).astype("f8")
        if nd >= 3:
            t_name = "time" if ("time" in dims or not dims) else dims[0]
            # inline zarr_time_axis: its function-level netcdf3 import
            # resolves on workers, where the package may be absent
            tmeta = read_zarray(self.store, t_name)
            tvals = read_small_array(self.store, t_name)
            units = tmeta["attrs"].get("units")
            if isinstance(units, str) and "since" in units:
                tvals = decode_time_units(tvals, units)
            times = np.asarray(tvals, dtype="datetime64[us]")
        else:
            times = np.asarray([np.datetime64("1970-01-01", "us")])
        self._geom = {
            "meta": meta,
            "xs": xs,
            "ys": ys,
            "times": times,
            "levels": levels,
        }
        return self._geom

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self._filters = [
            f
            for f in filters
            if isinstance(
                f,
                (
                    EqualTo,
                    GreaterThan,
                    GreaterThanOrEqual,
                    LessThan,
                    LessThanOrEqual,
                ),
            )
        ]
        return filters

    def partitions(self) -> list[InputPartition]:
        import itertools

        g = self._geometry()
        meta = g["meta"]
        shape, chunks = meta["shape"], meta["chunks"]
        nd = len(shape)
        grid = [(shape[d] + chunks[d] - 1) // chunks[d] for d in range(nd)]

        # axis slices per dim position: 4-D (t, level, y, x),
        # 3-D (t, y, x), 2-D (y, x) — all prunable the same way
        t_axis = g["times"].astype("int64").astype("f8")
        if nd == 4:
            axes = [t_axis, g["levels"], g["ys"], g["xs"]]
            names = ["time", "level", "y", "x"]
        elif nd == 3:
            axes = [t_axis, g["ys"], g["xs"]]
            names = ["time", "y", "x"]
        else:
            axes = [g["ys"], g["xs"]]
            names = ["y", "x"]
        bounds = [_bounds_from_filters(self._filters, n) for n in names]

        def chunk_survives(idx: tuple[int, ...]) -> bool:
            for d, ci in enumerate(idx):
                lo_b, hi_b = bounds[d]
                if lo_b is None and hi_b is None:
                    continue
                sl = axes[d][ci * chunks[d] : (ci + 1) * chunks[d]]
                if len(sl) == 0:
                    return False
                if hi_b is not None and float(sl.min()) > hi_b:
                    return False
                if lo_b is not None and float(sl.max()) < lo_b:
                    return False
            return True

        kept = [
            idx
            for idx in itertools.product(*(range(n) for n in grid))
            if chunk_survives(idx)
        ]
        # group by ACTUAL on-disk bytes (missing chunk = fill = 0 bytes)
        parts: list[_ZarrPartition] = []
        group: list[tuple[int, ...]] = []
        acc = 0
        for idx in kept:
            p = os.path.join(
                self.store, self.variable, chunk_relpath(meta, idx)
            )
            sz = os.path.getsize(p) if os.path.exists(p) else 0
            group.append(idx)
            acc += sz
            if acc >= self.target_bytes:
                parts.append(_ZarrPartition(self.store, self.variable, group))
                group, acc = [], 0
        if group:
            parts.append(_ZarrPartition(self.store, self.variable, group))
        return parts or [_ZarrPartition(self.store, self.variable, [])]

    def read(self, partition: _ZarrPartition) -> Iterator:
        g = self._geometry()
        meta = g["meta"]
        shape, chunks = meta["shape"], meta["chunks"]
        nd = len(shape)
        xs, ys, times = g["xs"], g["ys"], g["times"]
        fill = meta.get("fill_value")
        nodata = nodata_sentinel(meta)
        frames = []
        for idx in partition.chunk_idx:
            p = os.path.join(
                partition.store, partition.variable, chunk_relpath(meta, idx)
            )
            if os.path.exists(p):
                with open(p, "rb") as f:
                    block = decode_chunk(f.read(), meta)
            elif fill is not None:
                block = np.full(
                    chunks, _json_float(fill), dtype=meta["dtype"]
                )
            else:
                continue  # unwritten chunk with no fill: no rows
            # trim the edge padding to the array bounds
            lo = [idx[d] * chunks[d] for d in range(nd)]
            hi = [min(lo[d] + chunks[d], shape[d]) for d in range(nd)]
            block = block[
                tuple(slice(0, hi[d] - lo[d]) for d in range(nd))
            ]
            if nd == 2:
                block = block[np.newaxis, ...]
                tsl = times
            else:
                tsl = times[lo[0] : hi[0]]
            if nd == 4:
                levsl = g["levels"][lo[1] : hi[1]]
            else:
                block = block[:, np.newaxis, ...]
                levsl = np.asarray([0.0])
            ysl = ys[lo[-2] : hi[-2]]
            xsl = xs[lo[-1] : hi[-1]]
            ntc, nlc, nyc, nxc = block.shape
            fr = {
                "time": np.repeat(tsl[:ntc], nlc * nyc * nxc),
                "y": np.tile(np.repeat(ysl, nxc), ntc * nlc),
                "x": np.tile(xsl, ntc * nlc * nyc),
                self.variable: _masked(block, nodata).reshape(-1),
            }
            if nd == 4:
                fr["level"] = np.tile(np.repeat(levsl, nyc * nxc), ntc)
            frames.append(fr)
        yield from _grid_batches(frames, self._columns())

    def _columns(self) -> list[str]:
        lev = ["level"] if self._geometry()["levels"] is not None else []
        return lev + ["y", "x", self.variable]


def _masked(block: np.ndarray, nodata) -> np.ndarray:
    """A decoded Zarr block as float64 with its nodata cells NaN."""
    vals = block.astype("f8")
    return vals if nodata is None else np.where(vals == nodata, np.nan, vals)


def _json_float(v):
    """Zarr JSON spells non-finite floats as strings."""
    if isinstance(v, str):
        return {"NaN": float("nan"), "Infinity": float("inf"),
                "-Infinity": float("-inf")}.get(v, float(v))
    return v


@dataclass
class _ZarrStreamPartition(InputPartition):
    store: str
    variable: str
    chunk_idx: list[tuple[int, ...]] = field(default_factory=list)
    t_lo: int = 0  # global time-row window [t_lo, t_hi) for trimming
    t_hi: int = 0


class _ZarrStreamReader(DataSourceStreamReader):
    """Time-append tail over a growing Zarr store: cloud pipelines
    append along the time dimension (rewrite ``.zarray`` shape after
    landing the new chunk objects), so the STORE METADATA is the
    offset log — ``latestOffset`` is one small JSON read, a micro-batch
    is the time-row window [start, end), and its partitions are exactly
    the chunk objects overlapping that window (trimmed at the edges, so
    a chunk straddling two batches never double-emits). Requires
    shape-last append discipline (chunks land before the shape bump),
    the same atomicity contract every Zarr appender honors."""

    def __init__(self, options: dict):
        self.options = dict(options)
        self.store = self.options.get("path")
        if not self.store:
            raise ValueError("zarr data source requires a store path")
        self.variable = self.options.get("variable")
        if not self.variable:
            raise ValueError("zarr data source requires option 'variable'")

    def initialOffset(self) -> dict:
        return {"nrows": 0}

    def latestOffset(self) -> dict:
        meta = read_zarray(self.store, self.variable)
        if len(meta["shape"]) != 3:
            raise ValueError(
                "zarr streaming requires a 3-D (time, y, x) array"
            )
        return {"nrows": int(meta["shape"][0])}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        import itertools

        t_lo, t_hi = start["nrows"], end["nrows"]
        if t_hi <= t_lo:
            return [_ZarrStreamPartition(self.store, self.variable)]
        meta = read_zarray(self.store, self.variable)
        shape, chunks = meta["shape"], meta["chunks"]
        grid_yx = [
            (shape[d] + chunks[d] - 1) // chunks[d] for d in (1, 2)
        ]
        tc_lo, tc_hi = t_lo // chunks[0], (t_hi - 1) // chunks[0] + 1
        parts = [
            _ZarrStreamPartition(
                self.store,
                self.variable,
                [(tc,) + yx],
                t_lo,
                t_hi,
            )
            for tc in range(tc_lo, tc_hi)
            for yx in itertools.product(*(range(n) for n in grid_yx))
        ]
        return parts or [_ZarrStreamPartition(self.store, self.variable)]

    def read(self, partition: _ZarrStreamPartition) -> Iterator:
        if not partition.chunk_idx:
            return
        # re-read geometry from the store: the stream reader outlives
        # appends, so cached axes would go stale
        meta = read_zarray(partition.store, partition.variable)
        dims = meta["dims"] or []

        def pick(cands, fallback_pos):
            for c in cands:
                if c in dims:
                    return c
            return dims[fallback_pos] if dims else None

        xs = read_small_array(
            partition.store, pick(_X_NAMES, -1)
        ).astype("f8")
        ys = read_small_array(
            partition.store, pick(_Y_NAMES, -2)
        ).astype("f8")
        t_name = "time" if ("time" in dims or not dims) else dims[0]
        tmeta = read_zarray(partition.store, t_name)
        tvals = read_small_array(partition.store, t_name)
        units = tmeta["attrs"].get("units")
        if isinstance(units, str) and "since" in units:
            tvals = decode_time_units(tvals, units)
        times = np.asarray(tvals, dtype="datetime64[us]")

        shape, chunks = meta["shape"], meta["chunks"]
        fill = meta.get("fill_value")
        nodata = nodata_sentinel(meta)
        frames = []
        for idx in partition.chunk_idx:
            p = os.path.join(
                partition.store, partition.variable, chunk_relpath(meta, idx)
            )
            if os.path.exists(p):
                with open(p, "rb") as f:
                    block = decode_chunk(f.read(), meta)
            elif fill is not None:
                block = np.full(chunks, _json_float(fill), dtype=meta["dtype"])
            else:
                continue
            lo = [idx[d] * chunks[d] for d in range(3)]
            hi = [min(lo[d] + chunks[d], shape[d]) for d in range(3)]
            # batch-window trim on the time axis: [t_lo, t_hi) only
            w_lo = max(lo[0], partition.t_lo)
            w_hi = min(hi[0], partition.t_hi)
            if w_hi <= w_lo:
                continue
            block = block[
                w_lo - lo[0] : w_hi - lo[0],
                : hi[1] - lo[1],
                : hi[2] - lo[2],
            ]
            tsl = times[w_lo:w_hi]
            ysl = ys[lo[1] : hi[1]]
            xsl = xs[lo[2] : hi[2]]
            ntc, nyc, nxc = block.shape
            frames.append(
                {
                    "time": np.repeat(tsl, nyc * nxc),
                    "y": np.tile(np.repeat(ysl, nxc), ntc),
                    "x": np.tile(xsl, ntc * nyc),
                    self.variable: _masked(block, nodata).reshape(-1),
                }
            )
        yield from _grid_batches(frames, ["y", "x", self.variable])

    def commit(self, end: dict) -> None:
        pass


class ZarrDataSource(DataSource):
    """``spark.read.format("zarr").option("variable", v).load(store)``
    — Zarr v2/v3 arrays (incl. sharding_indexed) as long-form
    ``(time, y, x, <variable>)`` rows. Partitions come straight from
    the metadata chunk grid; pushed time/y/x predicates prune chunks
    exactly against the coordinate axes; missing chunks surface as
    ``fill_value`` rows per the spec. The cloud-native scale path: a
    100 TB store plans from one JSON document + three axis reads.

    Also a streaming source (``spark.readStream.format("zarr")``):
    time-dimension appends become micro-batches, with the store's own
    shape metadata as the offset log (see ``_ZarrStreamReader``)."""

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def schema(self):
        return _grid_schema(_ZarrReader(self.options)._columns())

    def reader(self, schema) -> DataSourceReader:
        return _ZarrReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _ZarrStreamReader(self.options)


# ---------------------------------------------------------------------------
# GRIB2 (message-granular meteorological wire format)
# ---------------------------------------------------------------------------


@dataclass
class _GribPartition(InputPartition):
    """A byte-budgeted group of (offset, length) message ranges within
    one file — read() seek-reads exactly these ranges."""

    path: str
    ranges: list[tuple[int, int]] = field(default_factory=list)


def _grib_message_index(path: str) -> list[tuple[int, int, int]]:
    """Seek-walk the message chain reading ~64 bytes per message:
    section 0 gives the total length (the hop), section 1 (always
    immediately after) gives the reference time. Returns
    ``(offset, length, ref_time_us)`` per message — O(messages) seeks,
    never the packed data."""
    import calendar

    size = os.path.getsize(path)
    out: list[tuple[int, int, int]] = []
    with open(path, "rb") as f:
        pos = 0
        while pos < size:
            f.seek(pos)
            head = f.read(64)
            if head[:4] != b"GRIB":
                if not head.strip(b"\x00"):
                    break  # trailing padding
                raise ValueError(f"{path}: GRIB indicator not found at {pos}")
            if head[7] != 2:
                raise NotImplementedError(
                    f"GRIB edition {head[7]} (want 2)"
                )
            total_len = int.from_bytes(head[8:16], "big")
            # section 1 starts at octet 16; its body carries the
            # reference time at octets 12-18 (year u2, mo, dy, hr, mi, se)
            s1 = head[16:]
            if len(s1) >= 23 and s1[4] == 1:
                yr = int.from_bytes(s1[12:14], "big")
                ref_us = int(
                    calendar.timegm(
                        (yr, s1[14], s1[15], s1[16], s1[17], s1[18], 0, 0, 0)
                    )
                ) * 1_000_000
            else:
                ref_us = -(2**62)  # unknown: never prune
            out.append((pos, total_len, ref_us))
            pos += total_len
    return out


class _GribReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.path = self.options.get("path")
        if not self.path:
            raise ValueError("grib2 data source requires a path")
        self.variable = self.options.get("variable", "value")
        self.category = (
            int(self.options["category"]) if "category" in self.options else None
        )
        self.number = (
            int(self.options["number"]) if "number" in self.options else None
        )
        self.target_bytes = int(
            self.options.get("target_partition_bytes", 128 * 1024 * 1024)
        )
        self._filters: list[Filter] = []

    def _files(self) -> list[str]:
        return _expand_paths(self.path, (".grib2", ".grb2", ".grib", ".grb"))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self._filters = [
            f
            for f in filters
            if isinstance(
                f,
                (
                    EqualTo,
                    GreaterThan,
                    GreaterThanOrEqual,
                    LessThan,
                    LessThanOrEqual,
                ),
            )
        ]
        return filters

    def partitions(self) -> list[InputPartition]:
        _, thi = _bounds_from_filters(self._filters, "time")
        parts: list[_GribPartition] = []
        for path in self._files():
            idx = _grib_message_index(path)
            # hi-bound pruning only: a field's timestamp is
            # ref_time + forecast_hour >= ref_time, so ref_time > hi
            # proves no rows can match; the lo bound CANNOT prune
            # (forecast_hour is unbounded upward and lives in section 4)
            kept = [
                (off, ln)
                for off, ln, ref in idx
                if thi is None or ref <= thi
            ]
            group: list[tuple[int, int]] = []
            acc = 0
            for off, ln in kept:
                group.append((off, ln))
                acc += ln
                if acc >= self.target_bytes:
                    parts.append(_GribPartition(path, group))
                    group, acc = [], 0
            if group:
                parts.append(_GribPartition(path, group))
        return parts or [_GribPartition(self._files()[0], [])]

    def read(self, partition: _GribPartition) -> Iterator:
        import datetime as _dt

        frames = []
        with open(partition.path, "rb") as f:
            for off, ln in partition.ranges:
                f.seek(off)
                for m in parse_grib2(f.read(ln)):
                    if (
                        self.category is not None
                        and m["category"] != self.category
                    ):
                        continue
                    if self.number is not None and m["number"] != self.number:
                        continue
                    ts = m["ref_time"] + _dt.timedelta(
                        hours=int(m["forecast_hour"])
                    )
                    ny, nx = m["data"].shape
                    frames.append(
                        {
                            "time": np.repeat(
                                np.datetime64(ts, "us"), ny * nx
                            ),
                            "y": np.repeat(m["lats"], nx),
                            "x": np.tile(m["lons"], ny),
                            self.variable: m["data"].reshape(-1),
                        }
                    )
        yield from _grid_batches(frames, ["y", "x", self.variable])


class GRIB2DataSource(DataSource):
    """``spark.read.format("grib2").load(path)`` — GRIB2 message files
    as ``(time, y, x, <variable>)`` rows. Partition planning seek-walks
    the message chain (~64 header bytes per message, never the packed
    data), groups messages into byte-budgeted tasks, and prunes by a
    pushed time UPPER bound via each message's section-1 reference time
    (``ref_time + forecast_hour >= ref_time``, so only the hi bound can
    prove emptiness). Options: ``variable`` (output column name),
    ``category``/``number`` (parameter filters for multi-parameter
    files), ``target_partition_bytes``."""

    @classmethod
    def name(cls) -> str:
        return "grib2"

    def schema(self):
        return _grid_schema(["y", "x", _GribReader(self.options).variable])

    def reader(self, schema) -> DataSourceReader:
        return _GribReader(self.options)


def register_data_sources(spark) -> None:
    """Idempotently register all engine data sources on a session."""
    _ship_by_value()
    for cls in (
        NetCDFDataSource,
        GeoTIFFDataSource,
        WebDatasetDataSource,
        ZarrDataSource,
        GRIB2DataSource,
    ):
        spark.dataSource.register(cls)
