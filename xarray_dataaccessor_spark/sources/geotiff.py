"""Pure-Python GeoTIFF reader/writer (no rasterio) — makes S5 granule
ingestion runnable in minimal containers, completing the NetCDF3 move
(``sources/netcdf3.py``) for the reference's LP-DAAC TIFF path
(``_get_tiff_granule``, ``nasa_from_LPDAAC.py:491-516``).

Implements the published baseline TIFF 6.0 format (both byte orders,
strip and tile layouts, uncompressed + DEFLATE/LZW/PackBits with the
integer horizontal predictor AND the TechNote-3 floating-point
predictor) and the GeoTIFF georeferencing tags (ModelPixelScale 33550,
ModelTiepoint 33922, GeoKeyDirectory 34735 for the EPSG code, GDAL's
nodata tag 42113) plus the BigTIFF (v43) container — 8-byte offsets,
20-byte IFD entries, LONG8/SLONG8/IFD8 field types. Exotic compressions
are detected and rejected with a pointer at the optional geo extras.

Like the NetCDF3 module this is stdlib (``struct``/``zlib``) + numpy
only and free of package-level imports, so the module ships to
executors by value with the geotiff data source
(``sources/pyds.py::register_data_sources``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# TIFF field types -> (struct code, size); rationals handled as pairs
_TYPE_SIZES = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8,
    # BigTIFF additions: LONG8 / SLONG8 / IFD8
    16: 8, 17: 8, 18: 8,
}
_TYPE_FMT = {
    1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d",
    16: "Q", 17: "q", 18: "Q",
}

TAG_SUBFILE_TYPE = 254
TAG_WIDTH, TAG_HEIGHT = 256, 257
TAG_BITS, TAG_COMPRESSION, TAG_PHOTOMETRIC = 258, 259, 262
TAG_STRIP_OFFSETS, TAG_SAMPLES_PER_PIXEL, TAG_ROWS_PER_STRIP = 273, 277, 278
TAG_STRIP_COUNTS, TAG_PREDICTOR, TAG_SAMPLE_FORMAT = 279, 317, 339
TAG_TILE_WIDTH, TAG_TILE_HEIGHT, TAG_TILE_OFFSETS, TAG_TILE_COUNTS = 322, 323, 324, 325
TAG_PIXEL_SCALE, TAG_TIEPOINT, TAG_GEO_KEYS, TAG_GDAL_NODATA = 33550, 33922, 34735, 42113
GEOKEY_GEOGRAPHIC_CRS, GEOKEY_PROJECTED_CRS = 2048, 3072


def _read_ifd_values(buf, bo, ftype, count, value_field, big=False):
    size = _TYPE_SIZES[ftype] * count
    if count < 0 or size > len(buf):
        raise ValueError(
            f"TIFF IFD entry count {count} exceeds the file size "
            "(corrupt directory)"
        )
    inline = 8 if big else 4
    raw = value_field[:size] if size <= inline else None
    if raw is None:
        (offset,) = struct.unpack(bo + ("Q" if big else "I"), value_field)
        raw = buf[offset : offset + size]
    if ftype == 2:
        return raw.split(b"\x00")[0].decode("ascii", errors="replace")
    if ftype in (5, 10):  # (s)rational pairs
        code = "I" if ftype == 5 else "i"
        vals = struct.unpack(bo + code * (2 * count), raw)
        return [vals[i] / vals[i + 1] for i in range(0, len(vals), 2)]
    vals = struct.unpack(bo + _TYPE_FMT[ftype] * count, raw)
    return list(vals)


def _lzw_decode_tiff(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 section 13): MSB-first bit packing,
    Clear=256 / EOI=257, code width 9->12 with the EARLY-CHANGE
    convention (libtiff's): the encoder widens when its table reaches
    2^w - 1, the decoder — whose table lags one entry — at 2^w - 2."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list = []
    width = 9
    prev = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    acc = bits = 0
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            code = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == CLEAR:
                reset()
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(table[prev] + entry[:1])
            else:  # KwKwK
                entry = table[prev] + table[prev][:1]
                table.append(entry)
            out += entry
            # early change, decoder side: the decoder's table lags the
            # encoder's by one entry (the first code after a clear adds
            # nothing), so it must widen one entry before 2^w - 1
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
            prev = code
    return bytes(out)


def _lzw_encode_tiff(data: bytes) -> bytes:
    """Matching TIFF-LZW encoder (fixture writer; same early-change
    convention as the decoder)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = bits = 0

    def emit(code, w):
        nonlocal acc, bits
        acc = (acc << w) | code
        bits += w
        while bits >= 8:
            out.append((acc >> (bits - 8)) & 0xFF)
            bits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(CLEAR, width)
    buf = b""
    for b in bytes(data):
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == 4094:  # spec: clear before the table fills
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        buf = bytes([b])
    if buf:
        emit(table[buf], width)
    emit(EOI, width)
    if bits:
        out.append((acc << (8 - bits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits (Apple RLE, TIFF 6.0 section 9)."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = data[pos] - 256 if data[pos] > 127 else data[pos]
        pos += 1
        if n >= 0:
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n != -128:  # -128 is a no-op
            out += data[pos : pos + 1] * (1 - n)
            pos += 1
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Matching PackBits encoder (runs >= 3 become repeats)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            run = 1
            while i + run < n and data[i + run] == data[i] and run < 128:
                run += 1
            if run >= 3:
                break
            if i - lit + run > 128:
                # flush: a 2-byte step at offset 127 would make the
                # literal 129 bytes and the header 0x80 (a no-op).
                break
            i += run
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def _tiff_header(buf: bytes):
    """TIFF header -> (byte order, is_bigtiff, first IFD offset)."""
    if buf[:2] == b"II":
        bo = "<"
    elif buf[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("Not a TIFF file (bad byte-order mark)")
    (magic,) = struct.unpack(bo + "H", buf[2:4])
    big = magic == 43
    if big:
        # BigTIFF (TIFF v43, public Adobe/AWare spec): 8-byte offsets.
        off_size, pad = struct.unpack(bo + "HH", buf[4:8])
        if off_size != 8 or pad != 0:
            raise ValueError(f"BigTIFF with unsupported offset size {off_size}")
        (ifd_off,) = struct.unpack(bo + "Q", buf[8:16])
    elif magic == 42:
        (ifd_off,) = struct.unpack(bo + "I", buf[4:8])
    else:
        raise ValueError(f"Not a TIFF file (magic {magic})")
    return bo, big, int(ifd_off)


def parse_geotiff(buf: bytes) -> dict:
    """Parse GeoTIFF bytes into ``{width, height, data, x_axis, y_axis,
    nodata, epsg}`` with pixel-CENTER coordinate axes (the convention a
    rioxarray open yields for a PixelIsArea granule); classic TIFF and
    BigTIFF. Raises on unsupported compression. Reads the FIRST IFD
    (the full-resolution image of a COG); :func:`parse_geotiff_overviews`
    walks the whole chain."""
    bo, big, ifd_off = _tiff_header(buf)
    return _decode_ifd(buf, bo, big, ifd_off)[0]


def parse_geotiff_overviews(buf: bytes) -> list[dict]:
    """Every image in the IFD chain, in chain order — for a
    Cloud-Optimized GeoTIFF: ``[full resolution, overview/2,
    overview/4, ...]`` (each dict shaped like :func:`parse_geotiff`'s,
    plus ``subfile_type``)."""
    bo, big, off = _tiff_header(buf)
    out: list[dict] = []
    seen: set[int] = set()
    while off and off not in seen and len(out) < 64:
        seen.add(off)
        parsed, off = _decode_ifd(buf, bo, big, off)
        out.append(parsed)
    return out


def _ifd_tags(buf, bo: str, big: bool, ifd_off: int) -> tuple[dict, int]:
    """Walk ONE IFD: ``({tag: values}, next IFD offset or 0)``. ``buf``
    is the file's bytes or an mmap of it (only the IFD and its
    out-of-line values are read)."""
    if big:
        (n_entries,) = struct.unpack(bo + "Q", buf[ifd_off : ifd_off + 8])
        entry_base, entry_len = ifd_off + 8, 20
    else:
        (n_entries,) = struct.unpack(bo + "H", buf[ifd_off : ifd_off + 2])
        entry_base, entry_len = ifd_off + 2, 12
    tags: dict[int, object] = {}
    for i in range(int(n_entries)):
        entry = buf[entry_base + entry_len * i : entry_base + entry_len * (i + 1)]
        if big:
            tag, ftype, count = struct.unpack(bo + "HHQ", entry[:12])
            value_field = entry[12:20]
        else:
            tag, ftype, count = struct.unpack(bo + "HHI", entry[:8])
            value_field = entry[8:12]
        if ftype not in _TYPE_SIZES:
            continue
        tags[tag] = _read_ifd_values(buf, bo, ftype, int(count), value_field, big)
    next_pos = entry_base + entry_len * int(n_entries)
    fmt = "Q" if big else "I"
    width_b = 8 if big else 4
    if next_pos + width_b <= len(buf):
        (next_off,) = struct.unpack(bo + fmt, buf[next_pos : next_pos + width_b])
    else:
        next_off = 0
    return tags, int(next_off)


def _ifd_layout(tags: dict, bo: str) -> dict:
    """The format checks and the image layout of one IFD: ``{width,
    height, dtype, compression, predictor, tiled, tile_w, tile_h,
    rows_per_strip, offsets, counts}`` — what :func:`decode_block`
    needs — plus the georeferencing ``x0, dx, y0, dy`` (pixel-CENTER
    axes ``x0 + i * dx`` and ``y0 - j * dy``; None without the GeoTIFF
    scale and tiepoint tags), ``nodata`` and ``epsg``. Unsupported
    input raises here, before any pixel byte is read."""
    width = int(tags[TAG_WIDTH][0])
    height = int(tags[TAG_HEIGHT][0])
    bits = int(tags.get(TAG_BITS, [32])[0])
    compression = int(tags.get(TAG_COMPRESSION, [1])[0])
    predictor = int(tags.get(TAG_PREDICTOR, [1])[0])
    sample_format = int(tags.get(TAG_SAMPLE_FORMAT, [1])[0])
    spp = int(tags.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    if spp != 1:
        raise NotImplementedError("Multi-sample TIFFs need the geo extras (rasterio)")
    # 1=none, 5=LZW, 8/32946=DEFLATE, 32773=PackBits. Anything else
    # (JPEG=7, LZMA=34925, ZSTD=50000, ...) fails here with the codec
    # named, not as an opaque zlib error deep in a decode
    if compression not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {compression} unsupported (none/LZW/PackBits/DEFLATE); "
            "install the geo extras (rasterio)."
        )
    kind = {1: "u", 2: "i", 3: "f"}.get(sample_format)
    if kind is None:
        raise NotImplementedError(f"TIFF sample format {sample_format} unsupported")
    if bits not in (8, 16, 32, 64) or (kind == "f" and bits < 32):
        raise ValueError(
            f"TIFF bits-per-sample {bits} with sample format {kind!r} "
            "unsupported (corrupt header?)"
        )
    if predictor == 2 and kind == "f":
        # predictor 2 is INTEGER horizontal differencing; running it through
        # an int64 cumsum on float samples truncates the deltas and decodes
        # garbage. (Float TIFFs use predictor 3, supported below.)
        raise NotImplementedError(
            "TIFF predictor 2 with floating-point samples is invalid input "
            "for the built-in reader; install the geo extras (rasterio)."
        )
    if predictor not in (1, 2, 3):
        raise NotImplementedError(f"TIFF predictor {predictor} unsupported")
    lay = {
        "width": width,
        "height": height,
        "dtype": f"{bo}{kind}{bits // 8}",
        "compression": compression,
        "predictor": predictor,
    }
    if TAG_TILE_OFFSETS in tags:
        lay.update(
            tiled=True,
            tile_w=int(tags[TAG_TILE_WIDTH][0]),
            tile_h=int(tags[TAG_TILE_HEIGHT][0]),
            rows_per_strip=0,
            offsets=[int(v) for v in tags[TAG_TILE_OFFSETS]],
            counts=[int(v) for v in tags[TAG_TILE_COUNTS]],
        )
    else:
        lay.update(
            tiled=False,
            tile_w=0,
            tile_h=0,
            rows_per_strip=int(tags.get(TAG_ROWS_PER_STRIP, [height])[0]),
            offsets=[int(v) for v in tags[TAG_STRIP_OFFSETS]],
            counts=[int(v) for v in tags[TAG_STRIP_COUNTS]],
        )

    lay.update(x0=None, dx=None, y0=None, dy=None, nodata=None, epsg=None)
    if TAG_PIXEL_SCALE in tags and TAG_TIEPOINT in tags:
        sx, sy = tags[TAG_PIXEL_SCALE][0], tags[TAG_PIXEL_SCALE][1]
        col0, row0, _, gx, gy = tags[TAG_TIEPOINT][:5]
        # raster-space tiepoint is the cell's upper-left corner; centers
        # sit half a step in (GeoTIFF PixelIsArea, rasterio's xy(...,'center'))
        lay.update(
            x0=gx + (0.5 - col0) * sx, dx=float(sx),
            y0=gy - (0.5 - row0) * sy, dy=float(sy),
        )
    if TAG_GDAL_NODATA in tags:
        try:
            lay["nodata"] = float(str(tags[TAG_GDAL_NODATA]).strip())
        except ValueError:
            pass
    if TAG_GEO_KEYS in tags:
        keys = tags[TAG_GEO_KEYS]
        # GeoKeyDirectory: header of 4 shorts, then (key, location, count,
        # value) quartets; location 0 => value inline
        for k in range(4, len(keys) - 3, 4):
            key_id, loc, _cnt, val = keys[k : k + 4]
            if key_id in (GEOKEY_PROJECTED_CRS, GEOKEY_GEOGRAPHIC_CRS) and loc == 0:
                lay["epsg"] = int(val)
                if key_id == GEOKEY_PROJECTED_CRS:
                    break
    return lay


def tiff_layout(buf) -> dict:
    """:func:`_ifd_layout` of the first full-resolution image (overview
    IFDs of a COG skipped) — the IFD chain walk only: with ``buf`` an
    mmap, no pixel byte is read."""
    bo, big, off = _tiff_header(buf)
    tags, nxt = _ifd_tags(buf, bo, big, off)
    while int(tags.get(TAG_SUBFILE_TYPE, [0])[0]) & 1 and nxt:  # overview
        tags, nxt = _ifd_tags(buf, bo, big, nxt)
    return _ifd_layout(tags, bo)


def block_window(lay: dict, bi: int) -> tuple[int, int, int, int]:
    """``(first row, first col, rows, cols)`` of strip or tile ``bi``
    inside the image (a layout from :func:`_ifd_layout`)."""
    if lay["tiled"]:
        across = (lay["width"] + lay["tile_w"] - 1) // lay["tile_w"]
        r0, c0 = (bi // across) * lay["tile_h"], (bi % across) * lay["tile_w"]
        return r0, c0, min(lay["tile_h"], lay["height"] - r0), min(lay["tile_w"], lay["width"] - c0)
    r0 = bi * lay["rows_per_strip"]
    return r0, 0, min(lay["rows_per_strip"], lay["height"] - r0), lay["width"]


def decode_block(raw: bytes, lay: dict, bi: int) -> np.ndarray:
    """Stored strip or tile ``bi`` -> its ``(rows, cols)`` samples in the
    file's dtype (tile padding trimmed): decompression (LZW, PackBits,
    DEFLATE), then the horizontal (2) or floating-point (3) predictor
    undone."""
    _r0, _c0, rows, cols = block_window(lay, bi)
    if lay["tiled"]:  # a tile is stored whole, padding included
        rows_s, cols_s = lay["tile_h"], lay["tile_w"]
    else:
        rows_s, cols_s = rows, cols
    dtype = np.dtype(lay["dtype"])
    compression, predictor = lay["compression"], lay["predictor"]
    if compression == 5:
        raw = _lzw_decode_tiff(raw)
    elif compression == 32773:
        raw = _packbits_decode(raw)
    elif compression != 1:
        # bounded inflate: a corrupt/hostile deflate stream can
        # otherwise expand without limit before any length check
        raw = zlib.decompressobj().decompress(raw, rows_s * cols_s * dtype.itemsize)
    if predictor == 3:
        # TIFF TechNote 3 floating-point differencing: per row the
        # float bytes are stored plane-separated (all MSBs first,
        # big-endian order) and byte-wise horizontally differenced;
        # undo = byte cumsum across the row, then re-interleave
        nb = dtype.itemsize
        b = np.frombuffer(raw, dtype="u1", count=rows_s * cols_s * nb)
        b = b.reshape(rows_s, nb * cols_s)
        # byte-wise cumsum mod 256 (uint16 wraparound preserves the
        # low byte, so any row length is safe)
        b = np.cumsum(b.astype(np.uint16), axis=1).astype(np.uint8)
        planes = b.reshape(rows_s, nb, cols_s)
        inter = np.moveaxis(planes, 1, 2).reshape(rows_s, cols_s * nb)
        arr = (
            np.frombuffer(inter.tobytes(), dtype=np.dtype(f">f{nb}"))
            .reshape(rows_s, cols_s)
            .astype(dtype)
        )
    else:
        arr = np.frombuffer(raw, dtype=dtype, count=rows_s * cols_s).reshape(rows_s, cols_s)
        if predictor == 2:
            arr = np.cumsum(arr.astype(np.int64), axis=1, dtype=np.int64).astype(dtype)
    return arr[:rows, :cols]


def _decode_ifd(buf: bytes, bo: str, big: bool, ifd_off: int):
    """Decode ONE IFD -> (parsed dict, next IFD offset or 0)."""
    tags, next_off = _ifd_tags(buf, bo, big, ifd_off)
    lay = _ifd_layout(tags, bo)
    width, height = lay["width"], lay["height"]
    if height <= 0 or width <= 0 or height * width > (1 << 28):
        raise ValueError(
            f"TIFF dimensions {width}x{height} invalid or beyond the "
            "2^28-pixel sanity cap (corrupt header)"
        )
    data = np.zeros((height, width), dtype=lay["dtype"])
    for bi, (off, cnt) in enumerate(zip(lay["offsets"], lay["counts"])):
        r0, c0, rows, cols = block_window(lay, bi)
        data[r0 : r0 + rows, c0 : c0 + cols] = decode_block(buf[off : off + cnt], lay, bi)
    data = data.astype(data.dtype.newbyteorder("="))

    x_axis = y_axis = None
    if lay["x0"] is not None:
        x_axis = lay["x0"] + np.arange(width) * lay["dx"]
        y_axis = lay["y0"] - np.arange(height) * lay["dy"]
    return {
        "width": width,
        "height": height,
        "data": data,
        "x_axis": x_axis,
        "y_axis": y_axis,
        "nodata": lay["nodata"],
        "epsg": lay["epsg"],
        "subfile_type": int(tags.get(TAG_SUBFILE_TYPE, [0])[0]),
    }, next_off


def geotiff_fragment_to_pandas(content: bytes, variable: str, year: int | None = None):
    """One granule's bytes -> long-form pandas DataFrame
    ``(time, y, x, <variable>)`` — the reference's per-granule
    ``squeeze()`` + rename + ``expand_dims(time=[year])`` shape
    (``nasa_from_LPDAAC.py:491-516``). Nodata cells become NaN; the
    constant time dimension is Jan 1 of ``year`` (epoch when absent)."""
    import datetime as dt

    import pandas as pd

    parsed = parse_geotiff(content)
    if parsed["x_axis"] is None:
        raise ValueError("TIFF lacks GeoTIFF georeferencing (scale + tiepoint)")
    vals = parsed["data"].astype("float64")
    if parsed["nodata"] is not None:
        vals = np.where(vals == parsed["nodata"], np.nan, vals)
    ny, nx = vals.shape
    stamp = np.datetime64(dt.datetime(year, 1, 1) if year else "1970-01-01", "us")
    return pd.DataFrame(
        {
            "time": np.repeat(stamp, ny * nx),
            "y": np.repeat(parsed["y_axis"], nx),
            "x": np.tile(parsed["x_axis"], ny),
            variable: vals.reshape(-1),
        }
    )


def write_geotiff(
    path: str,
    data: np.ndarray,
    x_origin: float,
    y_origin: float,
    pixel_size: tuple[float, float],
    epsg: int | None = 4326,
    nodata: float | None = None,
    compress: bool | str = False,
    tile_size: int | None = None,
    predictor: int = 1,
    big: bool = False,
) -> str:
    """Minimal GeoTIFF writer (single band, strip or square-tile layout,
    optional DEFLATE) for fixtures and small-grid export. ``x_origin`` /
    ``y_origin`` are the upper-left CORNER of the upper-left pixel,
    matching the rasterio ``from_origin`` convention.

    ``predictor=2`` (integer horizontal differencing) is applied to
    integer data before compression; for float data the tag is written
    WITHOUT transforming — producing the invalid float+predictor-2 combo
    the reader must reject (fixture for that guard).

    ``big=True`` writes a BigTIFF (v43) container: 8-byte offsets,
    20-byte IFD entries, LONG8 block offset/count tags — the layout real
    >4 GB rasters use, at fixture size."""
    data = np.ascontiguousarray(data)
    height, width = data.shape
    kind = {"u": 1, "i": 2, "f": 3}[data.dtype.kind]
    bits = data.dtype.itemsize * 8
    entries: list[tuple[int, int, int, bytes | int]] = []
    extra: list[bytes] = []

    def add(tag, ftype, values):
        if ftype == 2:
            raw = values.encode("ascii") + b"\x00"
            count = len(raw)
        else:
            fmt = {3: "H", 4: "I", 12: "d", 16: "Q"}[ftype]
            vals = values if isinstance(values, (list, tuple)) else [values]
            raw = struct.pack("<" + fmt * len(vals), *vals)
            count = len(vals)
        entries.append((tag, ftype, count, raw))

    def _enc(arr: np.ndarray) -> bytes:
        if predictor == 2 and arr.dtype.kind in "iu":
            diffed = arr.copy()
            diffed[:, 1:] = arr[:, 1:] - arr[:, :-1]
            arr = diffed
        elif predictor == 3 and arr.dtype.kind == "f":
            nb = arr.dtype.itemsize
            rows, cols = arr.shape
            be = arr.astype(f">f{nb}").tobytes()
            b = np.frombuffer(be, dtype="u1").reshape(rows, cols, nb)
            planes = np.moveaxis(b, 2, 1).reshape(rows, nb * cols)
            diffed = planes.astype(np.int16)
            diffed[:, 1:] = diffed[:, 1:] - diffed[:, :-1]
            return diffed.astype(np.uint8).tobytes()
        return arr.astype(arr.dtype.newbyteorder("<")).tobytes()

    if tile_size:
        blocks = []
        for r0 in range(0, height, tile_size):
            for c0 in range(0, width, tile_size):
                tile = np.zeros((tile_size, tile_size), dtype=data.dtype)
                chunk = data[r0 : r0 + tile_size, c0 : c0 + tile_size]
                tile[: chunk.shape[0], : chunk.shape[1]] = chunk
                blocks.append(_enc(tile))
    else:
        blocks = [_enc(data)]
    if compress == "lzw":
        blocks = [_lzw_encode_tiff(b) for b in blocks]
    elif compress == "packbits":
        blocks = [_packbits_encode(b) for b in blocks]
    elif compress:
        blocks = [zlib.compress(b) for b in blocks]

    add(TAG_WIDTH, 4, width)
    add(TAG_HEIGHT, 4, height)
    add(TAG_BITS, 3, bits)
    comp_tag = {False: 1, True: 8, "deflate": 8, "lzw": 5, "packbits": 32773}[compress]
    add(TAG_COMPRESSION, 3, comp_tag)
    add(TAG_PHOTOMETRIC, 3, 1)
    add(TAG_SAMPLES_PER_PIXEL, 3, 1)
    add(TAG_SAMPLE_FORMAT, 3, kind)
    if predictor != 1:
        add(TAG_PREDICTOR, 3, predictor)
    if tile_size:
        add(TAG_TILE_WIDTH, 3, tile_size)
        add(TAG_TILE_HEIGHT, 3, tile_size)
    else:
        add(TAG_ROWS_PER_STRIP, 4, height)
    add(TAG_PIXEL_SCALE, 12, [pixel_size[0], pixel_size[1], 0.0])
    add(TAG_TIEPOINT, 12, [0.0, 0.0, 0.0, x_origin, y_origin, 0.0])
    if epsg is not None:
        model = 2 if epsg == 4326 else 1
        crs_key = GEOKEY_GEOGRAPHIC_CRS if epsg == 4326 else GEOKEY_PROJECTED_CRS
        add(TAG_GEO_KEYS, 3, [1, 1, 0, 2, 1024, 0, 1, model, crs_key, 0, 1, epsg])
    if nodata is not None:
        add(TAG_GDAL_NODATA, 2, f"{nodata:g}")

    # layout: header + IFD + out-of-line tag data + pixel blocks
    n_tags = len(entries) + 2  # + offsets & bytecounts
    if big:
        header_size = 16
        ifd_size = 8 + 20 * n_tags + 8
        inline, off_t, off_fmt, entry_hdr = 8, 16, "Q", "<HHQ"
    else:
        header_size = 8
        ifd_size = 2 + 12 * n_tags + 4
        inline, off_t, off_fmt, entry_hdr = 4, 4, "I", "<HHI"
    data_start = header_size + ifd_size

    off_tag = TAG_TILE_OFFSETS if tile_size else TAG_STRIP_OFFSETS
    cnt_tag = TAG_TILE_COUNTS if tile_size else TAG_STRIP_COUNTS
    add(off_tag, off_t, [0] * len(blocks))  # placeholder, patched below
    add(cnt_tag, off_t, [len(b) for b in blocks])

    # assign out-of-line offsets
    cursor = data_start
    for tag, ftype, count, raw in sorted(entries):
        if len(raw) > inline:
            cursor += len(raw) + (len(raw) % 2)
    block_offsets = []
    for b in blocks:
        block_offsets.append(cursor)
        cursor += len(b) + (len(b) % 2)

    # rebuild the offsets entry with real values
    patched = []
    for tag, ftype, count, raw in entries:
        if tag == off_tag:
            raw = struct.pack("<" + off_fmt * len(block_offsets), *block_offsets)
        patched.append((tag, ftype, count, raw))

    out = bytearray()
    if big:
        out += b"II" + struct.pack("<HHHQ", 43, 8, 0, 16)
        out += struct.pack("<Q", n_tags)
    else:
        out += b"II" + struct.pack("<HI", 42, 8)
        out += struct.pack("<H", n_tags)
    cursor = data_start
    tail = bytearray()
    for tag, ftype, count, raw in sorted(patched):
        if len(raw) <= inline:
            out += struct.pack(entry_hdr, tag, ftype, count) + raw.ljust(inline, b"\x00")
        else:
            out += struct.pack(entry_hdr, tag, ftype, count) + struct.pack(
                "<" + off_fmt, cursor
            )
            tail += raw + (b"\x00" * (len(raw) % 2))
            cursor += len(raw) + (len(raw) % 2)
    out += struct.pack("<" + off_fmt, 0)  # no next IFD
    out += tail
    for b in blocks:
        out += b + (b"\x00" * (len(b) % 2))
    with open(path, "wb") as f:
        f.write(out)
    return path


def write_cog(
    path: str,
    data: np.ndarray,
    x_origin: float,
    y_origin: float,
    pixel_size: tuple[float, float],
    epsg: int | None = 4326,
    nodata: float | None = None,
    tile_size: int = 256,
    overview_levels: tuple[int, ...] = (2, 4),
    compress: bool = True,
) -> str:
    """Cloud-Optimized GeoTIFF writer: the single-file layout range
    readers want — ALL metadata at the head (main IFD followed by the
    overview IFDs, before any pixel bytes), square DEFLATE tiles, and
    reduced-resolution overviews (NewSubfileType=1, 2x2 block means)
    whose tile data is stored BEFORE the full-resolution tiles so a
    zoomed-out client reads only the file's head. The reference opens
    rasters through rioxarray, which serves COGs natively
    (``nasa_from_LPDAAC.py:491-516``); this is the export-side twin.

    Layout: ``header | IFD_0(full) .. IFD_L | tag data | tiles of
    overview_L .. overview_1 | tiles of full res``. Readable back by
    :func:`parse_geotiff` (first IFD = full resolution) and
    :func:`parse_geotiff_overviews` (the whole chain)."""
    data = np.ascontiguousarray(data)
    if data.ndim != 2:
        raise ValueError("write_cog expects a single-band 2-D array")
    kind = {"u": 1, "i": 2, "f": 3}[data.dtype.kind]
    bits = data.dtype.itemsize * 8

    def reduce2(arr: np.ndarray, factor: int) -> np.ndarray:
        """Block mean over factor x factor cells (ragged edges use the
        available cells), cast back to the source dtype."""
        h, w = arr.shape
        oh, ow = (h + factor - 1) // factor, (w + factor - 1) // factor
        pad = np.zeros((oh * factor, ow * factor))
        cnt = np.zeros((oh * factor, ow * factor))
        pad[:h, :w] = arr.astype("float64")
        cnt[:h, :w] = 1.0
        blocks = pad.reshape(oh, factor, ow, factor).sum(axis=(1, 3))
        counts = cnt.reshape(oh, factor, ow, factor).sum(axis=(1, 3))
        means = blocks / np.maximum(counts, 1.0)
        if arr.dtype.kind in "iu":
            return np.round(means).astype(arr.dtype)
        return means.astype(arr.dtype)

    images = [data] + [reduce2(data, f) for f in overview_levels]

    def tiles_of(arr: np.ndarray) -> list[bytes]:
        out = []
        h, w = arr.shape
        for r0 in range(0, h, tile_size):
            for c0 in range(0, w, tile_size):
                tile = np.zeros((tile_size, tile_size), dtype=arr.dtype)
                chunk = arr[r0 : r0 + tile_size, c0 : c0 + tile_size]
                tile[: chunk.shape[0], : chunk.shape[1]] = chunk
                raw = tile.astype(tile.dtype.newbyteorder("<")).tobytes()
                out.append(zlib.compress(raw) if compress else raw)
        return out

    all_tiles = [tiles_of(img) for img in images]

    def ifd_entries(level_idx: int, img: np.ndarray, n_blocks: int):
        entries: list[tuple[int, int, int, bytes]] = []

        def add(tag, ftype, values):
            if ftype == 2:
                raw = values.encode("ascii") + b"\x00"
                count = len(raw)
            else:
                fmt = {3: "H", 4: "I", 12: "d"}[ftype]
                vals = values if isinstance(values, (list, tuple)) else [values]
                raw = struct.pack("<" + fmt * len(vals), *vals)
                count = len(vals)
            entries.append((tag, ftype, count, raw))

        h, w = img.shape
        factor = 1 if level_idx == 0 else overview_levels[level_idx - 1]
        if level_idx > 0:
            add(TAG_SUBFILE_TYPE, 4, 1)  # reduced-resolution subfile
        add(TAG_WIDTH, 4, w)
        add(TAG_HEIGHT, 4, h)
        add(TAG_BITS, 3, bits)
        add(TAG_COMPRESSION, 3, 8 if compress else 1)
        add(TAG_PHOTOMETRIC, 3, 1)
        add(TAG_SAMPLES_PER_PIXEL, 3, 1)
        add(TAG_SAMPLE_FORMAT, 3, kind)
        add(TAG_TILE_WIDTH, 3, tile_size)
        add(TAG_TILE_HEIGHT, 3, tile_size)
        add(TAG_PIXEL_SCALE, 12,
            [pixel_size[0] * factor, pixel_size[1] * factor, 0.0])
        add(TAG_TIEPOINT, 12, [0.0, 0.0, 0.0, x_origin, y_origin, 0.0])
        if epsg is not None:
            model = 2 if epsg == 4326 else 1
            crs_key = GEOKEY_GEOGRAPHIC_CRS if epsg == 4326 else GEOKEY_PROJECTED_CRS
            add(TAG_GEO_KEYS, 3,
                [1, 1, 0, 2, 1024, 0, 1, model, crs_key, 0, 1, epsg])
        if nodata is not None:
            add(TAG_GDAL_NODATA, 2, f"{nodata:g}")
        add(TAG_TILE_OFFSETS, 4, [0] * n_blocks)   # patched later
        add(TAG_TILE_COUNTS, 4, [len(b) for b in all_tiles[level_idx]])
        return sorted(entries)

    per_ifd = [
        ifd_entries(i, img, len(all_tiles[i])) for i, img in enumerate(images)
    ]

    # ---- layout pass: header | IFDs | out-of-line tag data | tiles ----
    header_size = 8
    ifd_sizes = [2 + 12 * len(e) + 4 for e in per_ifd]
    ifd_offsets = []
    cur = header_size
    for s in ifd_sizes:
        ifd_offsets.append(cur)
        cur += s
    # out-of-line tag data
    oo_offsets: list[dict] = []
    for entries in per_ifd:
        m = {}
        for tag, ftype, count, raw in entries:
            if len(raw) > 4:
                m[tag] = cur
                cur += len(raw) + (len(raw) % 2)
        oo_offsets.append(m)
    # tile data: overviews (deepest first) BEFORE full resolution
    tile_offsets: list[list[int]] = [[] for _ in images]
    for li in list(range(len(images) - 1, 0, -1)) + [0]:
        for b in all_tiles[li]:
            tile_offsets[li].append(cur)
            cur += len(b) + (len(b) % 2)

    # ---- emit ----
    out = bytearray()
    out += b"II" + struct.pack("<HI", 42, ifd_offsets[0])
    tag_tail = bytearray()
    for li, entries in enumerate(per_ifd):
        out += struct.pack("<H", len(entries))
        for tag, ftype, count, raw in entries:
            if tag == TAG_TILE_OFFSETS:
                raw = struct.pack("<" + "I" * len(tile_offsets[li]),
                                  *tile_offsets[li])
            if len(raw) <= 4:
                out += struct.pack("<HHI", tag, ftype, count) + raw.ljust(4, b"\x00")
            else:
                out += struct.pack("<HHI", tag, ftype, count) + struct.pack(
                    "<I", oo_offsets[li][tag]
                )
                tag_tail += raw + (b"\x00" * (len(raw) % 2))
        nxt = ifd_offsets[li + 1] if li + 1 < len(per_ifd) else 0
        out += struct.pack("<I", nxt)
    out += tag_tail
    for li in list(range(len(images) - 1, 0, -1)) + [0]:
        for b in all_tiles[li]:
            out += b + (b"\x00" * (len(b) % 2))
    with open(path, "wb") as f:
        f.write(bytes(out))
    return path
