"""Pure-Python NetCDF3 "classic" reader/writer (no external NetCDF
stack) — makes S1/S4 ingestion actually runnable in minimal containers:
real NetCDF bytes -> long-form rows -> ``land_grid_parquet``.

Implements the published classic file format (CDF-1 magic ``CDF\\x01``
and the 64-bit-offset CDF-2 ``CDF\\x02``; format spec is public Unidata
documentation): header with dim/attr/var lists, fixed-size variables at
absolute offsets, record variables interleaved per record (with the
single-record-variable no-padding special case). NetCDF4 files are HDF5
containers and route through the sibling pure HDF5 reader
(``sources/hdf5.py``): :func:`netcdf_layout` dispatches on the magic
bytes, and :func:`read_grid` — the one NetCDF decode behind
``ingest.netcdf_glob_to_grid``, ``spark.read.format("netcdf")`` and
:func:`netcdf_fragment_to_pandas` — reads both generations, applying CF
packing and missing values and matching dims to axes by name.

Reference parity: the reference opens granules with xarray/h5netcdf
(``era5_from_aws.py:349-376``, ``nasa_from_LPDAAC.py:480-489``) and its
offline fixture is exactly such a classic file
(``testing/test_data/cds_era5_dataset.nc``: 73x7x19, golden axes at
``test_2_era5.py:131-156``). The writer here exists to build equivalent
fixtures; the reader is the ingestion path.

Everything below is stdlib ``struct`` + numpy plus the sibling HDF5
module, imported at module level, so both modules ship to executors BY
VALUE with the decode closures (``sources/pyds.py::_ship_by_value``,
used by ``format("netcdf")`` and ``ingest.netcdf_glob_to_grid``):
workers need neither this package nor a NetCDF library.
"""

from __future__ import annotations

import struct

import numpy as np

# module-level so the names ship BY VALUE with this module's functions
# (a function-local import would run on executors whose sys.path lacks
# the package)
from xarray_dataaccessor_spark.sources.hdf5 import _SIG as _HDF5_SIG
from xarray_dataaccessor_spark.sources.hdf5 import parse_hdf5_layout, read_dataset

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
_DTYPES = {
    NC_BYTE: np.dtype("i1"),
    NC_CHAR: np.dtype("S1"),
    NC_SHORT: np.dtype(">i2"),
    NC_INT: np.dtype(">i4"),
    NC_FLOAT: np.dtype(">f4"),
    NC_DOUBLE: np.dtype(">f8"),
}
_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C


def _pad4(n: int) -> int:
    return (4 - n % 4) % 4


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def i4(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.pos)
        self.pos += 4
        return v

    def u4(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.pos)
        self.pos += 4
        return v

    def i8(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.pos)
        self.pos += 8
        return v

    def name(self) -> str:
        n = self.i4()
        s = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += n + _pad4(n)
        return s

    def att_values(self, nc_type: int, n: int):
        dt = _DTYPES[nc_type]
        nbytes = dt.itemsize * n
        raw = self.buf[self.pos : self.pos + nbytes]
        self.pos += nbytes + _pad4(nbytes)
        if nc_type == NC_CHAR:
            return raw.decode("utf-8", errors="replace")
        return np.frombuffer(raw, dtype=dt).tolist()


def parse_netcdf3_header(buf: bytes) -> dict:
    """Parse ONLY the classic-CDF header (no data reads) into::

        {"offsets64": bool, "numrecs": int, "dims": [(name, size)],
         "attrs": {...}, "vars": [(name, dimids, atts, nc_type, vsize,
         begin)], "stride": int, "header_end": int}

    ``stride`` is the record-section stride in bytes (0 when the file
    has no record variables). With ``buf`` an mmap of the granule only
    the header pages are read — what makes partition planning O(header)
    instead of O(file) at 100 TB archive scale."""
    if buf[:4] == b"\x89HDF":
        raise NotImplementedError(
            "This is a NetCDF4 (HDF5) file; parse_netcdf3 handles classic "
            "CDF only — use sources.hdf5.parse_hdf5 (or the dispatching "
            "netcdf_fragment_to_pandas, which routes on magic bytes)."
        )
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError("Not a classic NetCDF file (bad magic)")
    offsets64 = buf[3] == 2
    r = _Reader(buf)
    r.pos = 4
    numrecs = r.i4()

    def tagged_count(expected_tag):
        tag = r.i4()
        n = r.i4()
        if tag == 0 and n == 0:
            return 0
        if tag != expected_tag:
            raise ValueError(f"Bad header tag {tag:#x}, expected {expected_tag:#x}")
        return n

    dims: list[tuple[str, int]] = []
    for _ in range(tagged_count(_NC_DIMENSION)):
        dname = r.name()
        dims.append((dname, r.i4()))

    def read_atts():
        out = {}
        for _ in range(tagged_count(_NC_ATTRIBUTE)):
            aname = r.name()
            atype = r.i4()
            n = r.i4()
            out[aname] = r.att_values(atype, n)
        return out

    global_atts = read_atts()

    variables = []
    for _ in range(tagged_count(_NC_VARIABLE)):
        vname = r.name()
        ndims = r.i4()
        dimids = [r.i4() for _ in range(ndims)]
        vatts = read_atts()
        nc_type = r.i4()
        # vsize is UNSIGNED per the CDF spec; 2^32-1 is the documented
        # overflow marker for record sets >= 4 GiB (a signed read would
        # produce a negative/garbage record stride and silently misread
        # every record variable)
        vsize = r.u4()
        if vsize == 0xFFFFFFFF:
            raise NotImplementedError(
                "Classic NetCDF file with vsize overflow marker (per-record "
                "set >= 4 GiB); the exact chunk sizes are not recoverable "
                "from the header — install the geo extras (netCDF4/h5netcdf)."
            )
        begin = r.i8() if offsets64 else r.i4()
        variables.append((vname, dimids, vatts, nc_type, vsize, begin))

    rec_vars = [v for v in variables if v[1] and dims[v[1][0]][1] == 0]
    if len(rec_vars) == 1:
        # single record variable: the spec drops the 4-byte alignment
        per = int(np.prod([dims[i][1] for i in rec_vars[0][1][1:]]) or 1)
        stride = per * _DTYPES[rec_vars[0][3]].itemsize
    else:
        stride = sum(rv[4] for rv in rec_vars)
    return {
        "offsets64": offsets64,
        "numrecs": numrecs,
        "dims": dims,
        "attrs": global_atts,
        "vars": variables,
        "stride": stride,
        "header_end": r.pos,
    }


def _classic_layout(buf) -> dict:
    """:func:`parse_netcdf3_header` as the layout view :func:`netcdf_layout`
    shares with HDF5 granules."""
    hdr = parse_netcdf3_header(buf)
    numrecs, dims = hdr["numrecs"], hdr["dims"]
    variables = {
        vname: {
            "dims": [dims[i][0] for i in dimids],
            "shape": [dims[i][1] or numrecs for i in dimids],
            "attrs": atts,
            "dtype": _DTYPES[nc_type],
            "begin": begin,
        }
        for vname, dimids, atts, nc_type, _vsize, begin in hdr["vars"]
    }
    return {
        "dims": {name: size or numrecs for name, size in dims},
        "attrs": hdr["attrs"],
        "variables": variables,
        "record_dim": next((name for name, size in dims if size == 0), None),
        "stride": hdr["stride"],
    }


def parse_netcdf3(buf: bytes) -> dict:
    """Parse classic NetCDF bytes into
    ``{dims, attrs, variables: {name: {dims, attrs, data}}}`` with
    native-endian numpy arrays. Raises on NetCDF4/HDF5 input."""
    lay = _classic_layout(buf)
    variables = {
        name: {"dims": v["dims"], "attrs": v["attrs"], "data": read_variable(buf, lay, name)}
        for name, v in lay["variables"].items()
    }
    return {"dims": lay["dims"], "attrs": lay["attrs"], "variables": variables}


def netcdf_layout(buf) -> dict:
    """Header-only view of a classic-CDF or NetCDF4/HDF5 granule (dispatch
    on the magic bytes): ``{dims, attrs, variables: {name: {dims, shape,
    attrs, dtype, ...}}, record_dim}``. ``record_dim`` is the dimension a
    read window indexes: the unlimited dimension of a classic file, the
    time dimension of an HDF5 one. With ``buf`` an mmap only header
    pages (and, for HDF5, chunk B-tree and coordinate pages) are read."""
    if buf[:8] != _HDF5_SIG:
        return _classic_layout(buf)
    lay = parse_hdf5_layout(buf)
    t = grid_axes(lay["variables"])[0]
    tv = lay["variables"][t] if t else None
    lay["record_dim"] = tv["dims"][0] if tv is not None and tv["dims"] else None
    return lay


def read_variable(buf, layout: dict, name: str, window=None) -> np.ndarray:
    """One variable's values as a native-endian array (``NC_CHAR`` stays
    bytes). With ``window = (lo, hi)`` only indices ``[lo, hi)`` of the
    layout's ``record_dim`` are read, when the variable has that dim: a
    classic record variable reads one strided byte range, an HDF5 one
    only the chunks (or contiguous rows) the window overlaps."""
    v = layout["variables"][name]
    axis = None
    if window is not None and layout["record_dim"] in v["dims"]:
        axis = v["dims"].index(layout["record_dim"])
    if "begin" not in v:  # HDF5
        if "data" in v:  # 1-D, decoded with the layout
            return v["data"] if axis is None else v["data"][slice(*window)]
        return read_dataset(buf, v, axis, *(window or (0, None)))
    dt, shape, begin = v["dtype"], list(v["shape"]), v["begin"]
    if v["dims"] and v["dims"][0] == layout["record_dim"]:
        lo, hi = window or (0, shape[0])
        hi = min(hi, shape[0])
        lo = min(lo, hi)
        stride = layout["stride"]
        per = int(np.prod(shape[1:])) * dt.itemsize
        end = begin + (hi - 1) * stride + per
        if hi > lo and end > len(buf):
            raise ValueError(
                f"Record variable {name!r} extends past the file end "
                f"(begin={begin}, stride={stride}, numrecs={shape[0]}) — "
                "corrupt header or unsupported layout."
            )
        start = begin + lo * stride
        flat = np.frombuffer(buf, dtype="u1", count=max(end - start, 0), offset=start)
        recs = np.lib.stride_tricks.as_strided(flat, (hi - lo, per), (stride, 1))
        data = np.ascontiguousarray(recs).view(dt).reshape([hi - lo] + shape[1:])
    else:
        count = int(np.prod(shape))
        data = np.frombuffer(buf, dtype=dt, count=count, offset=begin).reshape(shape)
    return data if dt.kind == "S" else data.astype(dt.newbyteorder("="))


def decode_time_units(values: np.ndarray, units: str) -> np.ndarray:
    """CF-style ``'<unit> since <datetime>'`` -> datetime64[us] array.
    Supports seconds/minutes/hours/days (the ERA5/CDS set)."""
    import datetime as dt
    import re

    m = re.match(
        r"\s*(second|minute|hour|day)s?\s+since\s+"
        r"(\d{4})-(\d{1,2})-(\d{1,2})(?:[ T](\d{1,2}):(\d{1,2})(?::(\d{1,2}))?)?",
        units,
    )
    if not m:
        raise ValueError(f"Unsupported time units: {units!r}")
    unit = m.group(1)
    base = dt.datetime(
        int(m.group(2)), int(m.group(3)), int(m.group(4)),
        int(m.group(5) or 0), int(m.group(6) or 0), int(m.group(7) or 0),
    )
    seconds = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit]
    base64 = np.datetime64(base, "us")
    return base64 + (np.asarray(values, dtype="int64") * seconds * 1_000_000).astype(
        "timedelta64[us]"
    )


def decode_times(values: np.ndarray, attrs: dict) -> np.ndarray:
    """A time variable's values -> datetime64[us]: CF ``'<unit> since'``
    units decode; without them the values are microseconds since the
    epoch."""
    units = attrs.get("units")
    if isinstance(units, str) and "since" in units:
        return decode_time_units(values, units)
    return np.asarray(values, dtype="int64").view("datetime64[us]")


_CF_MISSING = ("_FillValue", "missing_value")


def cf_decode(raw: np.ndarray, attrs: dict) -> np.ndarray:
    """CF decoding, as xarray's default open does: cells equal to
    ``_FillValue`` or ``missing_value`` (compared in packed units) become
    NaN, then ``scale_factor`` and ``add_offset`` apply. Output is
    float64 (``raw`` itself when it already is: decoded in place); a
    variable without these attributes is only cast."""
    out = raw.astype("f8", copy=False)
    fills = np.asarray(
        [m for k in _CF_MISSING if k in attrs for m in np.ravel(attrs[k])], dtype="f8"
    )
    if fills.size:
        if raw.dtype.kind == "f":
            fills = fills.astype(raw.dtype)
        out[np.isin(raw, fills)] = np.nan
    if "scale_factor" in attrs:
        out *= float(np.ravel(attrs["scale_factor"])[0])
    if "add_offset" in attrs:
        out += float(np.ravel(attrs["add_offset"])[0])
    return out


_TIME_NAMES = ("time", "valid_time")  # current CDS NetCDF uses valid_time
_X_NAMES = ("longitude", "lon", "x")
_Y_NAMES = ("latitude", "lat", "y")
_LEVEL_NAMES = ("level", "lev", "plev", "pressure_level", "isobaricInhPa")


def grid_axes(variables: dict) -> tuple[str | None, str | None, str | None, str | None]:
    """Names of the ``(time, level, y, x)`` coordinate variables, each
    None when the granule has none (the first of each axis's
    conventional names present)."""

    def pick(cands):
        return next((c for c in cands if c in variables), None)

    return pick(_TIME_NAMES), pick(_LEVEL_NAMES), pick(_Y_NAMES), pick(_X_NAMES)


def data_variables(variables: dict) -> list[str]:
    """Every variable that is not a coordinate axis and has at least two
    dims (the grid cube shape)."""
    axes = set(grid_axes(variables))
    return [n for n, v in variables.items() if n not in axes and len(v["dims"]) >= 2]


def read_grid(buf, variables: list[str], window=None, level: bool = False) -> dict:
    """One granule (bytes or an mmap; classic CDF or NetCDF4/HDF5) ->
    long-form grid columns ``time``, [``level``], ``y``, ``x`` and one
    float64 column per variable, CF-decoded (:func:`cf_decode`: nodata
    is NaN). ``window = (lo, hi)`` reads only those records of the
    layout's record dim (:func:`read_variable`).

    Each variable's dims are matched to the axes BY NAME, whatever
    order they are stored in, and rows come out in (time, [level], y,
    x) order. A size-1 extra dim is squeezed; any other extra dim (a
    level dim when ``level`` is False) raises ValueError naming the
    variable's dims. A variable without the time dim gets one epoch
    time stamp."""
    lay = netcdf_layout(buf)
    vs = lay["variables"]
    for v in variables:
        if v not in vs:
            raise KeyError(f"Variable {v!r} not in granule (has {sorted(vs)})")
    t, lev, y, x = grid_axes(vs)
    if y is None or x is None:
        raise ValueError("Could not detect x/y coordinate variables")

    def dim(name):
        return vs[name]["dims"][0] if name and vs[name]["dims"] else name

    def axis(name):
        return np.asarray(read_variable(buf, lay, name), dtype="f8").ravel()

    want = [dim(t)] + ([dim(lev)] if level else []) + [dim(y), dim(x)]
    named = [d for d in want if d]
    cubes = []
    for v in variables:
        arr = cf_decode(read_variable(buf, lay, v, window), vs[v]["attrs"])
        dims = list(vs[v]["dims"])
        for d in [d for d in dims if d not in want]:
            if arr.shape[dims.index(d)] != 1:
                raise ValueError(
                    f"variable {v!r} has dims {vs[v]['dims']}: {d!r} is not one "
                    f"of the grid axes {named} and has more than one index"
                )
            arr = arr.squeeze(dims.index(d))
            dims.remove(d)
        if dim(t) not in dims:
            arr, dims = arr[np.newaxis], [dim(t)] + dims
        if set(dims) != set(want):
            raise ValueError(
                f"variable {v!r} has dims {vs[v]['dims']}; a grid variable needs {named}"
            )
        cubes.append(arr.transpose([dims.index(d) for d in want]))
    if any(c.shape != cubes[0].shape for c in cubes):
        raise ValueError(f"variables {variables} differ in shape")
    if t is not None and dim(t) in vs[variables[0]]["dims"]:
        times = decode_times(read_variable(buf, lay, t, window), vs[t]["attrs"])
    else:
        times = np.asarray(["1970-01-01"], dtype="datetime64[us]")
    ys, xs = axis(y), axis(x)
    nt, nl, ny, nx = cubes[0].shape[0], cubes[0].shape[1] if level else 1, len(ys), len(xs)
    cols = {"time": np.repeat(times.astype("datetime64[us]"), nl * ny * nx)}
    if level:
        cols["level"] = np.tile(np.repeat(axis(lev), ny * nx), nt)
    cols["y"] = np.tile(np.repeat(ys, nx), nt * nl)
    cols["x"] = np.tile(xs, nt * nl * ny)
    cols.update({v: c.reshape(-1) for v, c in zip(variables, cubes)})
    return cols


def netcdf_fragment_to_pandas(content: bytes, variable: str):
    """One granule's bytes -> long-form pandas DataFrame
    ``(time, y, x, <variable>)`` — the reference's per-granule
    ``xr.open_dataset(...).to_dataframe()`` shape: :func:`read_grid`
    over the whole granule. Classic CDF-1/CDF-2 and NetCDF4 (HDF5
    container) both decode, dispatched on the magic bytes — the same
    dual opener the reference gets from xarray's engine
    auto-detection."""
    import pandas as pd

    return pd.DataFrame(read_grid(content, [variable]))


# ---------------------------------------------------------------------------
# Writer (fixture/export support): fixed-size dims, CDF-1.
# ---------------------------------------------------------------------------


def write_netcdf3(
    path: str,
    dims: dict[str, int],
    variables: dict[str, tuple[list[str], np.ndarray, dict]],
    global_attrs: dict | None = None,
    record_dim: str | None = None,
) -> str:
    """Minimal classic CDF-1 writer (byte/short/int/float/double + char
    attributes) — enough to build reference-shaped fixtures (73x7x19
    ERA5 grids) and to export small grids.

    ``record_dim`` names an UNLIMITED dimension: variables whose first
    dim is it are laid out interleaved per record (the spec's record
    section, with the single-record-variable no-padding exception),
    and the header stores dim size 0 + numrecs — the layout the
    data-source record-range partitioner exercises."""
    dim_names = list(dims)
    dim_ids = {n: i for i, n in enumerate(dim_names)}
    if record_dim is not None and record_dim not in dim_ids:
        raise ValueError(f"record_dim {record_dim!r} not in dims")
    typemap = {
        np.dtype("f8"): NC_DOUBLE,
        np.dtype("f4"): NC_FLOAT,
        np.dtype("i8"): NC_INT,  # classic format has no 64-bit int
        np.dtype("i4"): NC_INT,
        np.dtype("i2"): NC_SHORT,
        np.dtype("i1"): NC_BYTE,
    }

    def name_bytes(s: str) -> bytes:
        b = s.encode("utf-8")
        return struct.pack(">i", len(b)) + b + b"\x00" * _pad4(len(b))

    def atts_bytes(atts: dict) -> bytes:
        if not atts:
            return struct.pack(">ii", 0, 0)
        out = struct.pack(">ii", _NC_ATTRIBUTE, len(atts))
        for k, v in atts.items():
            out += name_bytes(k)
            if isinstance(v, str):
                b = v.encode("utf-8")
                out += struct.pack(">ii", NC_CHAR, len(b)) + b
                out += b"\x00" * _pad4(len(b))
            else:
                arr = np.asarray(v)
                if arr.dtype.kind == "f":
                    out += struct.pack(">ii", NC_DOUBLE, arr.size)
                    out += arr.astype(">f8").tobytes()
                else:
                    out += struct.pack(">ii", NC_INT, arr.size)
                    out += arr.astype(">i4").tobytes()
        return out

    # two passes: sizes first, then offsets. Entry tuple:
    # (name, vdims, vatts, nc_type, raw, vsize, is_record, per_rec_bytes)
    rec_names = [
        v for v, (vdims, _d, _a) in variables.items()
        if record_dim is not None and vdims and vdims[0] == record_dim
    ]
    single_rec = len(rec_names) == 1
    numrecs = 0
    var_entries = []
    for vname, (vdims, data, vatts) in variables.items():
        data = np.asarray(data)
        nc_type = typemap[np.dtype(data.dtype.str.lstrip("<>="))]
        raw = data.astype(_DTYPES[nc_type]).tobytes()
        if vname in rec_names:
            nrec = int(data.shape[0])
            numrecs = max(numrecs, nrec)
            per = len(raw) // nrec if nrec else 0
            # spec: vsize is the PADDED per-record chunk; with exactly
            # one record variable the alignment (and padding) is waived
            vsize = per if single_rec else per + _pad4(per)
            var_entries.append((vname, vdims, vatts, nc_type, raw, vsize, True, per))
        else:
            vsize = len(raw) + _pad4(len(raw))
            var_entries.append(
                (vname, vdims, vatts, nc_type, raw, vsize, False, 0)
            )

    header = b"CDF\x01" + struct.pack(">i", numrecs)
    header += struct.pack(">ii", _NC_DIMENSION, len(dim_names))
    for n in dim_names:
        size = 0 if n == record_dim else dims[n]
        header += name_bytes(n) + struct.pack(">i", size)
    header += atts_bytes(global_attrs or {})

    def var_header(begin_by_name):
        out = struct.pack(">ii", _NC_VARIABLE, len(var_entries))
        for vname, vdims, vatts, nc_type, _raw, vsize, _rec, _per in var_entries:
            out += name_bytes(vname)
            out += struct.pack(">i", len(vdims))
            for d in vdims:
                out += struct.pack(">i", dim_ids[d])
            out += atts_bytes(vatts or {})
            out += struct.pack(">iii", nc_type, vsize, begin_by_name[vname])
        return out

    # measure header with dummy offsets, then assign real ones:
    # fixed variables first, then the interleaved record section
    dummy = {v[0]: 0 for v in var_entries}
    header_len = len(header) + len(var_header(dummy))
    begins, off = {}, header_len
    for vname, _vdims, _vatts, _t, _raw, vsize, is_rec, _per in var_entries:
        if not is_rec:
            begins[vname] = off
            off += vsize
    rec_start = off
    for vname, _vdims, _vatts, _t, _raw, vsize, is_rec, _per in var_entries:
        if is_rec:
            begins[vname] = off
            off += vsize  # offset of this var's chunk within one record

    # bytearray, not bytes +=: the record loop appends one chunk per
    # (record, variable) and immutable-bytes concatenation is O(n^2) —
    # a 200 MB granule took minutes instead of seconds
    body = bytearray()
    for vname, _vdims, _vatts, _t, raw, vsize, is_rec, _per in var_entries:
        if not is_rec:
            body += raw + b"\x00" * (vsize - len(raw))
    assert len(body) + header_len == rec_start
    rec_entries_w = [e for e in var_entries if e[6]]
    for rec in range(numrecs):
        for vname, _vdims, _vatts, _t, raw, vsize, is_rec, per in rec_entries_w:
            chunk = raw[rec * per : (rec + 1) * per]
            body += chunk
            if vsize != per:
                body += b"\x00" * (vsize - per)

    with open(path, "wb") as f:
        f.write(header + var_header(begins) + bytes(body))
    return path
