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

Executor-side decode reuses the engine's pure readers
(``sources/netcdf3.py`` / ``sources/hdf5.py`` / ``sources/geotiff.py``)
and yields Arrow record batches (the API's vectorized fast path), so
rows never materialize one-by-one in Python.
"""

from __future__ import annotations

import glob as _glob
import os
import struct
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
    _TYPE_SIZES,
    TAG_BITS,
    TAG_COMPRESSION,
    TAG_GDAL_NODATA,
    TAG_HEIGHT,
    TAG_PIXEL_SCALE,
    TAG_PREDICTOR,
    TAG_ROWS_PER_STRIP,
    TAG_SAMPLE_FORMAT,
    TAG_SAMPLES_PER_PIXEL,
    TAG_STRIP_COUNTS,
    TAG_STRIP_OFFSETS,
    TAG_SUBFILE_TYPE,
    TAG_TIEPOINT,
    TAG_TILE_COUNTS,
    TAG_TILE_HEIGHT,
    TAG_TILE_OFFSETS,
    TAG_TILE_WIDTH,
    TAG_WIDTH,
    _lzw_decode_tiff,
    _packbits_decode,
)
from xarray_dataaccessor_spark.sources.grib2 import parse_grib2
from xarray_dataaccessor_spark.sources.hdf5 import (
    decode_chunk_block,
    parse_hdf5_layout,
)
from xarray_dataaccessor_spark.sources.netcdf3 import (
    _DTYPES,
    _X_NAMES,
    _Y_NAMES,
    TruncatedHeader,
    decode_time_units,
    netcdf_fragment_to_pandas,
    parse_netcdf3_header,
)
from xarray_dataaccessor_spark.sources.zarr import (
    chunk_relpath,
    decode_chunk,
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

_HDF5_MAGIC = b"\x89HDF\r\n\x1a\n"
_LEVEL_NAMES = ("level", "lev", "plev", "pressure_level", "isobaricInhPa")


def _expand_paths(path: str, suffixes: tuple[str, ...]) -> list[str]:
    """A load() path -> sorted file list: file, directory, or glob."""
    if os.path.isdir(path):
        out = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(suffixes)
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


def _read_header(path: str) -> dict:
    """Header-only parse of a classic-CDF file: read a 64 KiB prefix,
    escalate geometrically on truncation. Never reads the data section
    — this is the planner's O(header) contract."""
    size = os.path.getsize(path)
    want = min(size, 64 * 1024)
    with open(path, "rb") as f:
        buf = f.read(want)
        while True:
            try:
                hdr = parse_netcdf3_header(buf, strict=True)
                break
            except (TruncatedHeader, struct.error, IndexError):
                if len(buf) >= size:
                    raise ValueError(
                        f"{path}: header parse ran past the file end "
                        "(corrupt classic-CDF header)"
                    )
                buf += f.read(min(size, len(buf) * 4) - len(buf))
    hdr["file_size"] = size
    return hdr


def _fixed_var_data(path: str, hdr: dict, name: str) -> np.ndarray:
    """Targeted seek-read of one FIXED (non-record) variable's values.
    Cost is the variable's own bytes (a coordinate axis, not the cube)."""
    dims = dict(hdr["dims"])
    for vname, dimids, _atts, nc_type, _vsize, begin in hdr["vars"]:
        if vname != name:
            continue
        shape = [hdr["dims"][i][1] for i in dimids]
        if shape and hdr["dims"][dimids[0]][1] == 0:
            raise ValueError(f"{name} is a record variable")
        dt = _DTYPES[nc_type]
        count = int(np.prod(shape)) if shape else 1
        with open(path, "rb") as f:
            f.seek(begin)
            raw = f.read(count * dt.itemsize)
        arr = np.frombuffer(raw, dtype=dt, count=count)
        if nc_type != 2:  # NC_CHAR
            arr = arr.astype(dt.newbyteorder("="))
        return arr.reshape(shape)
    raise KeyError(f"{name} not in {path} (has {[v[0] for v in hdr['vars']]})")


def _var_entry(hdr: dict, name: str):
    for v in hdr["vars"]:
        if v[0] == name:
            return v
    raise KeyError(name)


def _is_record(hdr: dict, entry) -> bool:
    return bool(entry[1]) and hdr["dims"][entry[1][0]][1] == 0


def _probe_record_time(path: str, hdr: dict, tname: str, recs: list[int]):
    """Seek-read single time values at the given record indices (one
    itemsize read per probe — O(probes), not O(records))."""
    entry = _var_entry(hdr, tname)
    dt = _DTYPES[entry[3]]
    out = []
    with open(path, "rb") as f:
        for r in recs:
            f.seek(entry[5] + r * hdr["stride"])
            out.append(
                np.frombuffer(f.read(dt.itemsize), dtype=dt)[0]
            )
    return np.asarray(out).astype(np.dtype(dt).newbyteorder("="))


def _decode_times(values: np.ndarray, atts: dict) -> np.ndarray:
    units = atts.get("units")
    if isinstance(units, str) and "since" in units:
        return decode_time_units(np.asarray(values), units)
    # already epoch-ish numbers: interpret as microseconds since epoch
    return np.asarray(values, dtype="int64").view("datetime64[us]")


def _detect_axes(hdr: dict) -> tuple[str | None, str | None, str | None]:
    names = [v[0] for v in hdr["vars"]]

    def pick(cands):
        for c in cands:
            if c in names:
                return c
        return None

    x = pick(_X_NAMES)
    y = pick(_Y_NAMES)
    t = "time" if "time" in names else None
    return t, y, x


def _detect_level(hdr: dict) -> str | None:
    names = [v[0] for v in hdr["vars"]]
    for c in _LEVEL_NAMES:
        if c in names:
            return c
    return None


def _var_dim_names(hdr: dict, entry) -> list[str]:
    return [hdr["dims"][i][0] for i in entry[1]]


def _data_var_names(hdr: dict) -> list[str]:
    """Data variables = everything that is not a detected coordinate
    axis and has >= 2 dims (the grid cube shape)."""
    t, y, x = _detect_axes(hdr)
    coords = {t, y, x, _detect_level(hdr)} - {None}
    return [
        v[0]
        for v in hdr["vars"]
        if v[0] not in coords and len(v[1]) >= 2
    ]


@dataclass
class _NcPartition(InputPartition):
    """One (granule, record-range) task. ``rec_lo``/``rec_hi`` bound
    the record window ([0, 0) = fixed-layout or HDF5 whole file)."""

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
                # column is timestamp_ntz; treat the bound as naive-UTC µs.
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
        return _expand_paths(self.path, (".nc", ".nc4", ".cdf"))

    # -- HDF5 (NetCDF4) planning: chunk index via mmap, split on time --
    def _h5_layout(self, path: str) -> dict | None:
        """Header/B-tree/coordinate-only layout parse via mmap (data
        pages untouched). None when the granule can't be windowed
        (no 3-D (t,y,x) shape, exotic layout) — caller falls back to a
        whole-granule partition."""
        import mmap as _mmap

        try:
            with open(path, "rb") as f:
                mm = _mmap.mmap(f.fileno(), 0, access=_mmap.ACCESS_READ)
                lay = parse_hdf5_layout(mm)
        except Exception:
            return None
        names = list(lay["variables"])

        def pick(cands):
            for c in cands:
                if c in names:
                    return c
            return None

        x, y = pick(_X_NAMES), pick(_Y_NAMES)
        t = "time" if "time" in names else None
        if x is None or y is None or t is None:
            return None
        data_vars = self.variables or [
            n
            for n in names
            if n not in (t, y, x) and len(lay["variables"][n]["shape"]) >= 2
        ]
        for v in data_vars:
            dv = lay["variables"].get(v)
            if (
                dv is None
                or dv.get("layout_only") is not True
                or len(dv["shape"]) != 3
                or dv["layout"][0] not in ("chunked", "contiguous")
            ):
                return None  # not windowable; whole-granule fallback
        tv = lay["variables"][t]
        times = _decode_times(tv["data"], tv["attrs"]).astype("datetime64[us]")
        return {
            "lay": lay,
            "t": t,
            "y": y,
            "x": x,
            "data_vars": data_vars,
            "times": times,
            "ys": np.asarray(lay["variables"][y]["data"], dtype="f8").ravel(),
            "xs": np.asarray(lay["variables"][x]["data"], dtype="f8").ravel(),
        }

    def _plan_h5_file(self, path: str) -> list[_NcPartition]:
        g = self._h5_layout(path)
        if g is None:
            return [_NcPartition(path)]
        # granule-level bbox pruning (same contract as the classic path)
        for cname, axis in (("y", g["ys"]), ("x", g["xs"])):
            lo, hi = _bounds_from_filters(self._filters, cname)
            if lo is None and hi is None:
                continue
            if (hi is not None and float(axis.min()) > hi) or (
                lo is not None and float(axis.max()) < lo
            ):
                return []
        nt = len(g["times"])
        if nt <= 0:
            return [_NcPartition(path)]
        # UNCOMPRESSED bytes per time row across requested vars -> row
        # ranges: decoded size is what bounds task memory (the classic
        # path's stride is likewise the unpacked record size); stored
        # bytes would let a well-compressed granule produce one
        # OOM-sized task
        per_row = max(
            1,
            sum(
                int(np.prod(g["lay"]["variables"][v]["shape"][1:]))
                * g["lay"]["variables"][v]["dtype"].itemsize
                for v in g["data_vars"]
            ),
        )
        rows_per = max(1, self.target_bytes // per_row)
        ranges = [(lo, min(lo + rows_per, nt)) for lo in range(0, nt, rows_per)]
        # EXACT time pruning: the axis is decoded, no sortedness opt-in
        # needed — a range survives iff any of its axis values fits
        tlo, thi = _bounds_from_filters(self._filters, "time")
        if tlo is not None or thi is not None:
            us = g["times"].astype("int64")
            kept = []
            for lo_r, hi_r in ranges:
                sl = us[lo_r:hi_r]
                if thi is not None and float(sl.min()) > thi:
                    continue
                if tlo is not None and float(sl.max()) < tlo:
                    continue
                kept.append((lo_r, hi_r))
            ranges = kept
        if len(ranges) == 1 and ranges[0] == (0, nt):
            return [_NcPartition(path)]
        return [
            _NcPartition(path, rec_lo=lo, rec_hi=hi, whole=False)
            for lo, hi in ranges
        ]

    def _plan_file(self, path: str) -> list[_NcPartition]:
        with open(path, "rb") as f:
            magic = f.read(8)
        if magic == _HDF5_MAGIC:
            return self._plan_h5_file(path)
        hdr = _read_header(path)
        t, y, x = _detect_axes(hdr)

        # granule-level bbox pruning from pushed x/y filters: the
        # coordinate axes are fixed variables, so this is two targeted
        # axis-sized reads per granule — never the data cube
        for cname in (y, x):
            if cname is None:
                continue
            lo, hi = _bounds_from_filters(self._filters, "y" if cname == y else "x")
            if lo is None and hi is None:
                continue
            entry = _var_entry(hdr, cname)
            if _is_record(hdr, entry):
                continue
            axis = _fixed_var_data(path, hdr, cname).astype("f8")
            if (hi is not None and float(axis.min()) > hi) or (
                lo is not None and float(axis.max()) < lo
            ):
                return []

        numrecs, stride = hdr["numrecs"], hdr["stride"]
        if numrecs <= 0 or stride <= 0:
            return [_NcPartition(path)]
        recs_per = max(1, self.target_bytes // max(stride, 1))
        ranges = [
            (lo, min(lo + recs_per, numrecs))
            for lo in range(0, numrecs, recs_per)
        ]

        # record-range time pruning: only when time IS the record axis,
        # bounds were pushed, and the caller vouches for CF-monotonic
        # time (assume_sorted_time) — boundary probes alone cannot prove
        # inner monotonicity, and pruning must never drop matching rows
        tlo, thi = _bounds_from_filters(self._filters, "time")
        if (
            t is not None
            and (tlo is not None or thi is not None)
            and self.assume_sorted_time
        ):
            entry = _var_entry(hdr, t)
            if _is_record(hdr, entry):
                probes = sorted({r for pr in ranges for r in (pr[0], pr[1] - 1)})
                vals = _probe_record_time(path, hdr, t, probes)
                times = _decode_times(vals, entry[2]).astype("datetime64[us]")
                us = times.astype("int64")
                by_rec = dict(zip(probes, us))
                kept = []
                for lo_r, hi_r in ranges:
                    lo_us, hi_us = by_rec[lo_r], by_rec[hi_r - 1]
                    if thi is not None and lo_us > thi:
                        continue
                    if tlo is not None and hi_us < tlo:
                        continue
                    kept.append((lo_r, hi_r))
                ranges = kept
        if len(ranges) == 1 and ranges[0] == (0, numrecs):
            return [_NcPartition(path)]
        return [
            _NcPartition(path, rec_lo=lo, rec_hi=hi, whole=False)
            for lo, hi in ranges
        ]

    def plan_partitions(self) -> list[_NcPartition]:
        parts: list[_NcPartition] = []
        for p in self._files():
            parts.extend(self._plan_file(p))
        return parts

    # -- schema -------------------------------------------------------
    def infer_schema(self) -> str:
        first = self._files()[0]
        with open(first, "rb") as f:
            magic = f.read(8)
        if magic == _HDF5_MAGIC:
            # header-only layout parse (mmap: header/B-tree/coordinate
            # pages, no data chunks) — schema inference must stay
            # O(header) even for a 100 GB NetCDF4 granule
            import mmap as _mmap

            with open(first, "rb") as f:
                mm = _mmap.mmap(f.fileno(), 0, access=_mmap.ACCESS_READ)
                parsed = parse_hdf5_layout(mm)
            names = list(parsed["variables"])

            def pick(cands):
                for c in cands:
                    if c in names:
                        return c
                return None

            coords = {pick(_X_NAMES), pick(_Y_NAMES), "time"} - {None}
            data_vars = self.variables or [
                n
                for n in names
                if n not in coords and len(parsed["variables"][n]["dims"]) >= 2
            ]
            for n in data_vars:
                extra = [
                    d for d in parsed["variables"][n]["dims"][:-2]
                    if d != "time"
                ]
                if extra:
                    raise NotImplementedError(
                        f"{first}: HDF5 variable {n!r} has extra dims "
                        f"{extra}; pressure-level columns are supported "
                        "for classic-CDF and zarr granules only"
                    )
        else:
            hdr = _read_header(first)
            present = {v[0] for v in hdr["vars"]}
            missing = [v for v in self.variables if v not in present]
            if missing:
                # fail at schema time with the granule's inventory, not
                # as a KeyError inside an executor task
                raise ValueError(
                    f"variables {missing} not in {first} "
                    f"(has {sorted(present)})"
                )
            data_vars = self.variables or _data_var_names(hdr)
            # pressure-level detection (CDS pressure-level downloads):
            # every chosen var must agree on carrying the level dim
            lev = _detect_level(hdr)
            if lev is not None and data_vars:
                lev_dim = _var_dim_names(hdr, _var_entry(hdr, lev))[0]
                has = [
                    lev_dim in _var_dim_names(hdr, _var_entry(hdr, v))
                    for v in data_vars
                ]
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
        cols = ["time timestamp_ntz"] + (
            ["level double"] if self.level_var else []
        ) + ["y double", "x double"] + [
            f"`{v}` double" for v in data_vars
        ]
        if self.include_granule:
            cols.append("granule string")
        return ", ".join(cols)

    # -- executor-side decode ------------------------------------------
    def read_partition(self, part: _NcPartition) -> Iterator:
        import pyarrow as pa

        path = part.path
        with open(path, "rb") as f:
            magic = f.read(8)
        if magic == _HDF5_MAGIC:
            pdf = (
                self._whole_file_wide(path)
                if part.whole
                else self._h5_window_wide(part)
            )
        else:
            pdf = self._classic_window_wide(part)
        batch_rows = 1 << 16
        schema_names = (
            ["time"]
            + (["level"] if self.level_var else [])
            + ["y", "x"]
            + list(self.variables)
            + (["granule"] if self.include_granule else [])
        )
        tbl = pa.table(
            {
                "time": pa.array(pdf["time"], type=pa.timestamp("us")),
                **(
                    {"level": pa.array(pdf["level"], type=pa.float64())}
                    if self.level_var
                    else {}
                ),
                "y": pa.array(pdf["y"], type=pa.float64()),
                "x": pa.array(pdf["x"], type=pa.float64()),
                **{
                    v: pa.array(pdf[v], type=pa.float64())
                    for v in self.variables
                },
                **(
                    {"granule": pa.array(pdf["granule"])}
                    if self.include_granule
                    else {}
                ),
            }
        ).select(schema_names)
        for batch in tbl.to_batches(max_chunksize=batch_rows):
            yield batch

    def _whole_file_wide(self, path: str):
        """HDF5 (NetCDF4) or coordless fallback: full parse, wide frame."""
        with open(path, "rb") as f:
            content = f.read()
        out = None
        for v in self.variables:
            frag = netcdf_fragment_to_pandas(content, v)
            if out is None:
                out = frag
            else:
                out = out.merge(frag, on=["time", "y", "x"], how="outer")
        if self.include_granule:
            out["granule"] = os.path.basename(path)
        return out

    def _h5_window_wide(self, part: _NcPartition):
        """NetCDF4/HDF5 time-window decode: mmap the granule, decode
        ONLY the chunks (or the contiguous byte window) overlapping
        records [rec_lo, rec_hi) per requested variable — data pages
        outside the window are never touched."""
        import mmap as _mmap

        import pandas as pd

        g = self._h5_layout(part.path)
        if g is None:  # raced layout change; fall back to whole file
            return self._whole_file_wide(part.path)
        t_lo, t_hi = part.rec_lo, part.rec_hi
        n_win = t_hi - t_lo
        ys, xs = g["ys"], g["xs"]
        ny, nx = len(ys), len(xs)
        frames = {}
        with open(part.path, "rb") as f:
            mm = _mmap.mmap(f.fileno(), 0, access=_mmap.ACCESS_READ)
            for v in self.variables:
                dv = g["lay"]["variables"][v]
                shape = dv["shape"]
                dtype = dv["dtype"]
                if dv["layout"][0] == "contiguous":
                    _, addr, _size = dv["layout"]
                    row = shape[1] * shape[2] * dtype.itemsize
                    raw = mm[addr + t_lo * row : addr + t_hi * row]
                    arr = np.frombuffer(raw, dtype=dtype).reshape(
                        n_win, shape[1], shape[2]
                    )
                else:
                    arr = np.zeros((n_win, shape[1], shape[2]), dtype=dtype)
                    cdims = dv["chunk_dims"]
                    for chunk in dv["chunks"]:
                        offs = chunk[0]
                        if offs[0] >= t_hi or offs[0] + cdims[0] <= t_lo:
                            continue  # chunk outside the time window
                        block = decode_chunk_block(mm, dv, chunk)
                        b_lo = max(offs[0], t_lo)
                        b_hi = min(offs[0] + cdims[0], t_hi, shape[0])
                        sel_y = slice(offs[1], min(offs[1] + cdims[1], shape[1]))
                        sel_x = slice(offs[2], min(offs[2] + cdims[2], shape[2]))
                        arr[
                            b_lo - t_lo : b_hi - t_lo, sel_y, sel_x
                        ] = block[
                            b_lo - offs[0] : b_hi - offs[0],
                            : sel_y.stop - sel_y.start,
                            : sel_x.stop - sel_x.start,
                        ]
                frames[v] = np.ascontiguousarray(arr).astype("f8")
        times = g["times"][t_lo:t_hi]
        out = pd.DataFrame(
            {
                "time": np.repeat(times, ny * nx),
                "y": np.tile(np.repeat(ys, nx), n_win),
                "x": np.tile(xs, n_win * ny),
                **{v: a.reshape(-1) for v, a in frames.items()},
            }
        )
        if self.include_granule:
            out["granule"] = os.path.basename(part.path)
        return out

    def _classic_window_wide(self, part: _NcPartition):
        """Classic CDF: decode ONLY this partition's record window via
        one contiguous seek-read of ``(rec_hi-rec_lo) * stride`` bytes
        (plus axis-sized coordinate reads)."""
        import pandas as pd

        path = part.path
        hdr = _read_header(path)
        t, yname, xname = _detect_axes(hdr)
        if yname is None or xname is None:
            return self._whole_file_wide(path)
        numrecs, stride = hdr["numrecs"], hdr["stride"]
        rec_lo, rec_hi = (
            (0, numrecs) if part.whole else (part.rec_lo, part.rec_hi)
        )

        ys = _fixed_var_data(path, hdr, yname).astype("f8").ravel()
        xs = _fixed_var_data(path, hdr, xname).astype("f8").ravel()
        ny, nx = len(ys), len(xs)

        rec_entries = [v for v in hdr["vars"] if _is_record(hdr, v)]
        window = None
        rec_base = min((v[5] for v in rec_entries), default=0)
        n_win = rec_hi - rec_lo
        if rec_entries and n_win > 0:
            with open(path, "rb") as f:
                f.seek(rec_base + rec_lo * stride)
                window = np.frombuffer(
                    f.read(n_win * stride), dtype="u1"
                ).reshape(n_win, stride)

        def record_var_values(entry) -> np.ndarray:
            dt = _DTYPES[entry[3]]
            per_shape = [hdr["dims"][i][1] for i in entry[1][1:]]
            per_count = int(np.prod(per_shape)) if per_shape else 1
            off = entry[5] - rec_base
            chunk = window[:, off : off + per_count * dt.itemsize]
            return (
                np.ascontiguousarray(chunk)
                .view(dt)
                .astype(np.dtype(dt).newbyteorder("="))
                .reshape([n_win] + per_shape)
            )

        # time axis for the window
        if t is not None:
            entry = _var_entry(hdr, t)
            if _is_record(hdr, entry):
                tvals = record_var_values(entry).ravel()
            else:
                tvals = _fixed_var_data(path, hdr, t).ravel()[rec_lo:rec_hi] \
                    if numrecs else _fixed_var_data(path, hdr, t).ravel()
            times = _decode_times(tvals, entry[2]).astype("datetime64[us]")
        else:
            times = np.asarray([np.datetime64("1970-01-01", "us")])

        levels = None
        if self.level_var:
            levels = (
                _fixed_var_data(path, hdr, self.level_var).astype("f8").ravel()
            )
        nlev = len(levels) if levels is not None else 1

        frames = {}
        nt = None
        for v in self.variables:
            entry = _var_entry(hdr, v)
            if _is_record(hdr, entry):
                arr = record_var_values(entry)
            else:
                # fixed data cube (no record dim): decode whole, one task
                arr = _fixed_var_data(path, hdr, v)
                if arr.ndim == 2 or (self.level_var and arr.ndim == 3):
                    arr = arr[np.newaxis, ...]
            # target rank: 4 with a level column, else 3 — squeeze
            # size-1 extras beyond that (e.g. a degenerate height dim)
            want = 4 if self.level_var else 3
            while arr.ndim > want:
                ax = next(
                    (i for i in range(1, arr.ndim) if arr.shape[i] == 1), None
                )
                if ax is None:
                    raise ValueError(
                        f"{v}: >{want} non-degenerate dims unsupported "
                        f"(shape {arr.shape})"
                    )
                arr = np.squeeze(arr, axis=ax)
            if arr.ndim == 2:
                arr = arr[np.newaxis, ...]
            if self.level_var and arr.ndim == 3:
                arr = arr[:, np.newaxis, ...]
            frames[v] = arr.astype("f8")
            nt = arr.shape[0] if nt is None else nt

        nt = nt or 1
        times = (
            times[:nt]
            if len(times) >= nt
            else np.resize(times, nt)
        )
        cols = {"time": np.repeat(times, nlev * ny * nx)}
        if self.level_var:
            cols["level"] = np.tile(np.repeat(levels, ny * nx), nt)
        cols["y"] = np.tile(np.repeat(ys, nx), nt * nlev)
        cols["x"] = np.tile(xs, nt * nlev * ny)
        out = pd.DataFrame(
            {**cols, **{v: a.reshape(-1) for v, a in frames.items()}}
        )
        if self.include_granule:
            out["granule"] = os.path.basename(path)
        return out


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
    decode WITHOUT re-walking the IFD: per-block byte ranges and the
    grid geometry. Offsets/counts lists are block-counted (a few ints
    per strip/tile), not data-sized."""

    path: str
    block_ids: list[int] = field(default_factory=list)
    # layout
    width: int = 0
    height: int = 0
    dtype: str = "f8"
    compression: int = 1
    predictor: int = 1
    tiled: bool = False
    tile_w: int = 0
    tile_h: int = 0
    rows_per_strip: int = 0
    offsets: list[int] = field(default_factory=list)
    counts: list[int] = field(default_factory=list)
    x0: float = 0.0
    dx: float = 1.0
    y0: float = 0.0
    dy: float = 1.0
    nodata: float | None = None
    year: int | None = None


def _tiff_layout(path: str) -> dict:
    """Header/IFD-only TIFF walk with SEEKS — never reads pixel data.
    Returns block geometry + byte ranges + geotransform for the first
    full-resolution IFD."""
    with open(path, "rb") as f:
        head = f.read(16)
        if head[:2] in (b"II", b"MM"):
            bo = "<" if head[:2] == b"II" else ">"
        else:
            raise ValueError(f"{path}: not a TIFF")
        (magic,) = struct.unpack(bo + "H", head[2:4])
        big = magic == 43
        if big:
            (ifd_off,) = struct.unpack(bo + "Q", head[8:16])
        elif magic == 42:
            (ifd_off,) = struct.unpack(bo + "I", head[4:8])
        else:
            raise ValueError(f"{path}: bad TIFF magic {magic}")

        def read_at(off: int, n: int) -> bytes:
            f.seek(off)
            return f.read(n)

        _unpack_fmt = {
            1: "B", 2: "c", 3: "H", 4: "I", 5: "II", 6: "b",
            8: "h", 9: "i", 11: "f", 12: "d", 16: "Q", 17: "q",
        }

        def values(ftype: int, count: int, value_field: bytes):
            size = _TYPE_SIZES[ftype] * count
            inline = 8 if big else 4
            if size <= inline:
                raw = value_field[:size]
            else:
                (off,) = struct.unpack(
                    bo + ("Q" if big else "I"), value_field
                )
                raw = read_at(off, size)
            if ftype == 2:
                return raw.rstrip(b"\x00").decode("ascii", errors="replace")
            if ftype == 5:  # RATIONAL pairs
                ints = struct.unpack(bo + "I" * (2 * count), raw)
                return [
                    ints[2 * i] / (ints[2 * i + 1] or 1) for i in range(count)
                ]
            fmt = _unpack_fmt[ftype]
            return list(struct.unpack(bo + fmt * count, raw))

        while True:
            if big:
                (n_entries,) = struct.unpack(bo + "Q", read_at(ifd_off, 8))
                entry_base, entry_len = ifd_off + 8, 20
            else:
                (n_entries,) = struct.unpack(bo + "H", read_at(ifd_off, 2))
                entry_base, entry_len = ifd_off + 2, 12
            blob = read_at(entry_base, entry_len * int(n_entries) + 8)
            tags: dict[int, object] = {}
            for i in range(int(n_entries)):
                e = blob[entry_len * i : entry_len * (i + 1)]
                if big:
                    tag, ftype, count = struct.unpack(bo + "HHQ", e[:12])
                    vf = e[12:20]
                else:
                    tag, ftype, count = struct.unpack(bo + "HHI", e[:8])
                    vf = e[8:12]
                if ftype in _TYPE_SIZES:
                    tags[tag] = values(ftype, int(count), vf)
            subfile = int(tags.get(TAG_SUBFILE_TYPE, [0])[0])
            next_pos = entry_base + entry_len * int(n_entries)
            nxt_raw = blob[
                entry_len * int(n_entries) : entry_len * int(n_entries)
                + (8 if big else 4)
            ]
            next_off = (
                struct.unpack(bo + ("Q" if big else "I"), nxt_raw)[0]
                if len(nxt_raw) >= (8 if big else 4)
                else 0
            )
            if subfile & 1 and next_off:  # reduced-resolution overview
                ifd_off = int(next_off)
                continue
            break

    width = int(tags[TAG_WIDTH][0])
    height = int(tags[TAG_HEIGHT][0])
    bits = int(tags.get(TAG_BITS, [32])[0])
    sample_format = int(tags.get(TAG_SAMPLE_FORMAT, [1])[0])
    spp = int(tags.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    if spp != 1:
        raise NotImplementedError(
            "Multi-sample TIFFs need the geo extras (rasterio)"
        )
    kind = {1: "u", 2: "i", 3: "f"}.get(sample_format)
    if kind is None:
        raise NotImplementedError(
            f"TIFF sample format {sample_format} unsupported"
        )
    compression = int(tags.get(TAG_COMPRESSION, [1])[0])
    # 1=none, 5=LZW, 8/32946=DEFLATE, 32773=PackBits. Anything else
    # (JPEG=7, LZMA=34925, ZSTD=50000, ...) must fail HERE at planning
    # time with the codec named, not as an opaque zlib error deep in an
    # executor task.
    if compression not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {compression} unsupported "
            "(supported: 1=none, 5=LZW, 8/32946=DEFLATE, 32773=PackBits)"
        )
    out = {
        "width": width,
        "height": height,
        "dtype": f"{bo}{kind}{bits // 8}",
        "compression": compression,
        "predictor": int(tags.get(TAG_PREDICTOR, [1])[0]),
    }
    if TAG_TILE_OFFSETS in tags:
        out.update(
            tiled=True,
            tile_w=int(tags[TAG_TILE_WIDTH][0]),
            tile_h=int(tags[TAG_TILE_HEIGHT][0]),
            rows_per_strip=0,
            offsets=[int(v) for v in tags[TAG_TILE_OFFSETS]],
            counts=[int(v) for v in tags[TAG_TILE_COUNTS]],
        )
    else:
        out.update(
            tiled=False,
            tile_w=0,
            tile_h=0,
            rows_per_strip=int(tags.get(TAG_ROWS_PER_STRIP, [height])[0]),
            offsets=[int(v) for v in tags[TAG_STRIP_OFFSETS]],
            counts=[int(v) for v in tags[TAG_STRIP_COUNTS]],
        )
    if TAG_PIXEL_SCALE not in tags or TAG_TIEPOINT not in tags:
        raise ValueError(
            f"{path}: TIFF lacks GeoTIFF georeferencing (scale + tiepoint)"
        )
    sx, sy = tags[TAG_PIXEL_SCALE][0], tags[TAG_PIXEL_SCALE][1]
    tp = tags[TAG_TIEPOINT]
    col0, row0, _, gx, gy = tp[0], tp[1], tp[2], tp[3], tp[4]
    out["x0"] = gx + (0 - col0 + 0.5) * sx
    out["dx"] = float(sx)
    out["y0"] = gy - (0 - row0 + 0.5) * sy
    out["dy"] = float(sy)
    nodata = None
    if TAG_GDAL_NODATA in tags:
        try:
            nodata = float(str(tags[TAG_GDAL_NODATA]).strip())
        except ValueError:
            pass
    out["nodata"] = nodata
    return out


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
        if lay["tiled"]:
            across = (lay["width"] + lay["tile_w"] - 1) // lay["tile_w"]
            r0 = (bi // across) * lay["tile_h"]
            c0 = (bi % across) * lay["tile_w"]
            rows = min(lay["tile_h"], lay["height"] - r0)
            cols = min(lay["tile_w"], lay["width"] - c0)
        else:
            r0, c0 = bi * lay["rows_per_strip"], 0
            rows = min(lay["rows_per_strip"], lay["height"] - r0)
            cols = lay["width"]
        ys = (lay["y0"] - r0 * lay["dy"], lay["y0"] - (r0 + rows - 1) * lay["dy"])
        xs = (lay["x0"] + c0 * lay["dx"], lay["x0"] + (c0 + cols - 1) * lay["dx"])
        return min(ys), max(ys), min(xs), max(xs)

    def partitions(self) -> list[InputPartition]:
        ylo, yhi = _bounds_from_filters(self._filters, "y")
        xlo, xhi = _bounds_from_filters(self._filters, "x")
        parts: list[_TiffPartition] = []
        for path in self._files():
            lay = _tiff_layout(path)
            n_blocks = len(lay["offsets"])
            keep: list[int] = []
            for bi in range(n_blocks):
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
            # group pruned block list into ~target_bytes tasks
            group: list[int] = []
            acc = 0
            for bi in keep:
                group.append(bi)
                acc += lay["counts"][bi]
                if acc >= self.target_bytes:
                    parts.append(
                        _TiffPartition(
                            path, block_ids=group, year=self.year, **lay
                        )
                    )
                    group, acc = [], 0
            if group:
                parts.append(
                    _TiffPartition(path, block_ids=group, year=self.year, **lay)
                )
        return parts or [
            _TiffPartition(
                self._files()[0],
                block_ids=[],
                year=self.year,
                **_tiff_layout(self._files()[0]),
            )
        ]

    def read(self, partition: _TiffPartition) -> Iterator:
        import pyarrow as pa
        import zlib

        lay = partition
        dtype = np.dtype(lay.dtype)
        bo = lay.dtype[0]

        def decode_block(raw: bytes, rows: int, cols: int) -> np.ndarray:
            if lay.compression == 5:
                raw = _lzw_decode_tiff(raw)
            elif lay.compression == 32773:
                raw = _packbits_decode(raw)
            elif lay.compression != 1:
                want = rows * cols * dtype.itemsize
                raw = zlib.decompressobj().decompress(raw, want)
            if lay.predictor == 3:
                nb = dtype.itemsize
                b = np.frombuffer(raw, dtype="u1", count=rows * cols * nb)
                b = b.reshape(rows, nb * cols)
                b = np.cumsum(b.astype(np.uint16), axis=1).astype(np.uint8)
                planes = b.reshape(rows, nb, cols)
                inter = np.moveaxis(planes, 1, 2).reshape(rows, cols * nb)
                return (
                    np.frombuffer(inter.tobytes(), dtype=np.dtype(f">f{nb}"))
                    .reshape(rows, cols)
                    .astype(dtype)
                )
            arr = np.frombuffer(raw, dtype=dtype, count=rows * cols).reshape(
                rows, cols
            )
            if lay.predictor == 2:
                arr = np.cumsum(
                    arr.astype(np.int64), axis=1, dtype=np.int64
                ).astype(dtype)
            elif lay.predictor != 1:
                raise NotImplementedError(
                    f"TIFF predictor {lay.predictor} unsupported"
                )
            return arr

        stamp = np.datetime64(
            f"{lay.year}-01-01" if lay.year else "1970-01-01", "us"
        )
        frames = []
        with open(lay.path, "rb") as f:
            for bi in lay.block_ids:
                f.seek(lay.offsets[bi])
                raw = f.read(lay.counts[bi])
                if lay.tiled:
                    across = (lay.width + lay.tile_w - 1) // lay.tile_w
                    r0 = (bi // across) * lay.tile_h
                    c0 = (bi % across) * lay.tile_w
                    rows = min(lay.tile_h, lay.height - r0)
                    cols = min(lay.tile_w, lay.width - c0)
                    block = decode_block(raw, lay.tile_h, lay.tile_w)[
                        :rows, :cols
                    ]
                else:
                    r0, c0 = bi * lay.rows_per_strip, 0
                    rows = min(lay.rows_per_strip, lay.height - r0)
                    cols = lay.width
                    block = decode_block(raw, rows, cols)
                vals = block.astype("f8")
                if lay.nodata is not None:
                    vals = np.where(vals == lay.nodata, np.nan, vals)
                ys = lay.y0 - (r0 + np.arange(rows)) * lay.dy
                xs = lay.x0 + (c0 + np.arange(cols)) * lay.dx
                frames.append(
                    {
                        "time": np.repeat(stamp, rows * cols),
                        "y": np.repeat(ys, cols),
                        "x": np.tile(xs, rows),
                        "v": vals.reshape(-1),
                    }
                )
        if not frames:
            return
        times = np.concatenate([fr["time"] for fr in frames])
        cols_out = {
            "time": pa.array(times, type=pa.timestamp("us")),
            "y": pa.array(
                np.concatenate([fr["y"] for fr in frames]), type=pa.float64()
            ),
            "x": pa.array(
                np.concatenate([fr["x"] for fr in frames]), type=pa.float64()
            ),
            self.variable: pa.array(
                np.concatenate([fr["v"] for fr in frames]), type=pa.float64()
            ),
        }
        if self.include_granule:
            n = len(times)
            cols_out["granule"] = pa.array(
                [os.path.basename(lay.path)] * n
            )
        tbl = pa.table(cols_out)
        for batch in tbl.to_batches(max_chunksize=1 << 16):
            yield batch


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
            n_blocks = len(lay["offsets"])
            group: list[int] = []
            acc = 0
            for bi in range(n_blocks):
                group.append(bi)
                acc += lay["counts"][bi]
                if acc >= self._reader.target_bytes:
                    parts.append(
                        _TiffPartition(
                            path, block_ids=group,
                            year=self._reader.year, **lay,
                        )
                    )
                    group, acc = [], 0
            if group:
                parts.append(
                    _TiffPartition(
                        path, block_ids=group, year=self._reader.year, **lay
                    )
                )
        return parts or [
            _TiffPartition(
                "", block_ids=[], width=0, height=0, dtype="f8",
                compression=1, predictor=1, tiled=False, tile_w=0,
                tile_h=0, rows_per_strip=0, offsets=[], counts=[],
                x0=0.0, dx=1.0, y0=0.0, dy=1.0, nodata=None, year=None,
            )
        ]

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
        cols = [
            "time timestamp_ntz",
            "y double",
            "x double",
            f"`{r.variable}` double",
        ]
        if r.include_granule:
            cols.append("granule string")
        return ", ".join(cols)

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
    ``fill_value`` per the v2 spec, which the binaryFile-listing ingest
    path (``ingest.zarr_to_grid``) structurally cannot represent."""

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
        import pyarrow as pa

        g = self._geometry()
        meta = g["meta"]
        shape, chunks = meta["shape"], meta["chunks"]
        nd = len(shape)
        xs, ys, times = g["xs"], g["ys"], g["times"]
        fill = meta.get("fill_value")
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
                "v": block.astype("f8").reshape(-1),
            }
            if nd == 4:
                fr["level"] = np.tile(np.repeat(levsl, nyc * nxc), ntc)
            frames.append(fr)
        if not frames:
            return
        cols = {
            "time": pa.array(
                np.concatenate([fr["time"] for fr in frames]),
                type=pa.timestamp("us"),
            ),
        }
        if nd == 4:
            cols["level"] = pa.array(
                np.concatenate([fr["level"] for fr in frames]),
                type=pa.float64(),
            )
        cols["y"] = pa.array(
            np.concatenate([fr["y"] for fr in frames]), type=pa.float64()
        )
        cols["x"] = pa.array(
            np.concatenate([fr["x"] for fr in frames]), type=pa.float64()
        )
        cols[self.variable] = pa.array(
            np.concatenate([fr["v"] for fr in frames]), type=pa.float64()
        )
        tbl = pa.table(cols)
        for batch in tbl.to_batches(max_chunksize=1 << 16):
            yield batch


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
        import pyarrow as pa

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
                    "v": block.astype("f8").reshape(-1),
                }
            )
        if not frames:
            return
        tbl = pa.table(
            {
                "time": pa.array(
                    np.concatenate([fr["time"] for fr in frames]),
                    type=pa.timestamp("us"),
                ),
                "y": pa.array(
                    np.concatenate([fr["y"] for fr in frames]),
                    type=pa.float64(),
                ),
                "x": pa.array(
                    np.concatenate([fr["x"] for fr in frames]),
                    type=pa.float64(),
                ),
                self.variable: pa.array(
                    np.concatenate([fr["v"] for fr in frames]),
                    type=pa.float64(),
                ),
            }
        )
        for batch in tbl.to_batches(max_chunksize=1 << 16):
            yield batch

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
        r = _ZarrReader(self.options)
        g = r._geometry()
        lev = "level double, " if g["levels"] is not None else ""
        return (
            f"time timestamp_ntz, {lev}y double, x double, "
            f"`{r.variable}` double"
        )

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

        import pyarrow as pa

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
                            "v": m["data"].reshape(-1).astype("f8"),
                        }
                    )
        if not frames:
            return
        tbl = pa.table(
            {
                "time": pa.array(
                    np.concatenate([fr["time"] for fr in frames]),
                    type=pa.timestamp("us"),
                ),
                "y": pa.array(
                    np.concatenate([fr["y"] for fr in frames]),
                    type=pa.float64(),
                ),
                "x": pa.array(
                    np.concatenate([fr["x"] for fr in frames]),
                    type=pa.float64(),
                ),
                self.variable: pa.array(
                    np.concatenate([fr["v"] for fr in frames]),
                    type=pa.float64(),
                ),
            }
        )
        for batch in tbl.to_batches(max_chunksize=1 << 16):
            yield batch


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
        r = _GribReader(self.options)
        return (
            "time timestamp_ntz, y double, x double, "
            f"`{r.variable}` double"
        )

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
