"""Pure-Python Zarr v2 reader/writer (no zarr/numcodecs package) — a
cloud-native companion to the NetCDF3/GeoTIFF granule readers: ERA5 and
friends are publicly redistributed as Zarr stores, and the format's
chunk-per-file layout maps one-to-one onto Spark tasks (a 100 TB store
is just a manifest of independently-decodable chunk objects — no
byte-range protocol, no footer, no global lock).

Implements the published Zarr v2 spec — ``.zarray`` JSON metadata
(shape/chunks/dtype/order/fill_value), ``.zattrs`` (with xarray's
``_ARRAY_DIMENSIONS`` convention for dimension names), C-order chunk
files named ``i.j.k`` compressed with zlib/gzip, zstd (pure decoder in
``sources/zstd.py``), blosc-lz4/zlib/zstd, or raw —
AND the published Zarr v3 spec: per-node ``zarr.json`` metadata
(``data_type`` + ``chunk_grid`` + ``codecs`` + ``dimension_names``),
the ``bytes`` endian codec, gzip/blosc compressor codecs, both
chunk-key encodings (``default`` nested ``c/i/j/k`` and ``v2`` dotted),
AND the ``sharding_indexed`` codec — chunk-of-chunks shard objects with
a CRC-32C-protected binary index, the layout large cloud arrays use to
bound object count (read and write; missing inner chunks fill).
The ``transpose`` codec decodes (stored permuted layouts come back in
C order). v3 metadata is
normalized into the same meta dict at parse time, so every downstream
consumer (chunk decode, distributed ingest) is version-blind. Like the
sibling readers, everything here is stdlib (``json``/``zlib``) + numpy
with no package-level imports, so the chunk decoder ships to executors
by value.
"""

from __future__ import annotations

import json
import math
import os
import zlib

import numpy as np

# module-level so the cloudpickle by-value registration of the zarr
# data source (pyds.register_data_sources) ships the blosc and zstd
# codecs with decode_chunk (a lazy in-function import would resolve on
# the executor, where the package need not be importable)
from xarray_dataaccessor_spark.sources import blosc as _blosc
from xarray_dataaccessor_spark.sources import zstd as _zstd


_V3_DTYPES = {
    "float16": "f2", "float32": "f4", "float64": "f8",
    "int8": "i1", "int16": "i2", "int32": "i4", "int64": "i8",
    "uint8": "u1", "uint16": "u2", "uint32": "u4", "uint64": "u8",
    "bool": "b1",
}


#: CRC-32C (Castagnoli), the checksum the Zarr v3 ``crc32c`` codec
#: appends to shard indexes — reflected polynomial 0x1EDC6F41.
_CRC32C_TABLE = None


def crc32c(data: bytes) -> int:
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _parse_v3_codecs(codecs: list):
    """Normalize a v3 codec chain -> (endian, compressor id, sharding
    config or None, transpose order or None). The sharding codec's inner
    chain parses with the same rules (one level — nested sharding is
    rejected)."""
    endian = "<"
    comp_id = None
    sharding = None
    order = None
    for codec in codecs or [{"name": "bytes"}]:
        cname = codec.get("name")
        conf = codec.get("configuration") or {}
        if cname == "bytes":
            endian = "<" if conf.get("endian", "little") == "little" else ">"
        elif cname == "transpose":
            order = [int(x) for x in conf.get("order", [])]
        elif cname == "gzip":
            comp_id = "zlib"  # gzip wrapper; decoder accepts both
        elif cname == "zstd":
            comp_id = "zstd"
        elif cname == "blosc":
            inner = conf.get("cname", "blosclz")
            if inner not in ("lz4", "zlib", "zstd", "snappy"):
                raise NotImplementedError(
                    f"Blosc inner compressor {inner!r} unsupported"
                )
            comp_id = f"blosc:{inner}"
        elif cname == "sharding_indexed":
            in_endian, in_comp, in_shard, in_order = _parse_v3_codecs(
                conf.get("codecs")
            )
            if in_shard is not None:
                raise NotImplementedError("nested Zarr v3 sharding unsupported")
            if in_order is not None:
                raise NotImplementedError(
                    "transpose inside a shard's inner chain unsupported"
                )
            idx_names = [c.get("name") for c in conf.get("index_codecs", [])]
            for n in idx_names:
                if n not in ("bytes", "crc32c"):
                    raise NotImplementedError(
                        f"shard index codec {n!r} unsupported (bytes/crc32c)"
                    )
            sharding = {
                "chunks": [int(c) for c in conf["chunk_shape"]],
                "endian": in_endian,
                "compressor": in_comp,
                "index_location": conf.get("index_location", "end"),
                "index_crc": "crc32c" in idx_names,
            }
        else:
            raise NotImplementedError(
                f"Zarr v3 codec {cname!r} unsupported "
                "(bytes/gzip/zstd/blosc/transpose/sharding_indexed); "
                "install the optional zarr extras."
            )
    return endian, comp_id, sharding, order


def _read_zarr_v3(store: str, var: str) -> dict:
    """Parse a Zarr v3 array node (``<var>/zarr.json``) into the same
    normalized meta dict the v2 path produces."""
    with open(os.path.join(store, var, "zarr.json")) as f:
        meta = json.load(f)
    if meta.get("node_type") != "array":
        raise ValueError(f"{var}/zarr.json is not an array node")
    grid = meta.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise NotImplementedError(f"Zarr v3 chunk grid {grid.get('name')!r}")
    chunks = grid["configuration"]["chunk_shape"]
    endian, comp_id, sharding, order = _parse_v3_codecs(
        meta.get("codecs", [{"name": "bytes"}])
    )
    if sharding is not None:
        endian = sharding["endian"]
        comp_id = sharding["compressor"]
    dt = meta["data_type"]
    if dt not in _V3_DTYPES:
        raise NotImplementedError(f"Zarr v3 data type {dt!r} unsupported")
    key = meta.get("chunk_key_encoding", {"name": "default"})
    sep = (key.get("configuration") or {}).get(
        "separator", "/" if key.get("name") == "default" else "."
    )
    attrs = meta.get("attributes", {})
    return {
        "shape": [int(x) for x in meta["shape"]],
        "chunks": [int(c) for c in chunks],
        "dtype": np.dtype(endian + _V3_DTYPES[dt]),
        "compressor": comp_id,
        "fill_value": meta.get("fill_value"),
        "dims": meta.get("dimension_names") or attrs.get("_ARRAY_DIMENSIONS"),
        "attrs": attrs,
        "key_encoding": (key.get("name", "default"), sep),
        "sharding": sharding,
        "transpose": order,
    }


def chunk_relpath(meta: dict, idx: tuple[int, ...]) -> str:
    """Chunk key for ``idx`` under the array directory: v2 dotted
    (``i.j.k``), v3 default (``c/i/j/k``), or v3 v2-style."""
    name, sep = meta.get("key_encoding", ("v2", "."))
    parts = [str(i) for i in idx]
    if name == "default":
        return "/".join(["c"] + parts) if sep == "/" else "c" + sep + sep.join(parts)
    return sep.join(parts) if parts else "0"


def read_consolidated(store: str) -> dict | None:
    """The v2 consolidated-metadata document (``<store>/.zmetadata``,
    ``zarr.consolidate_metadata`` format 1): every array's ``.zarray``
    and ``.zattrs`` in ONE object — on object stores this turns
    N-arrays-x-2 GETs of metadata into one. Returns the inner
    ``metadata`` mapping, or None when the store isn't consolidated."""
    p = os.path.join(store, ".zmetadata")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        doc = json.load(f)
    if doc.get("zarr_consolidated_format") != 1:
        raise NotImplementedError(
            f"consolidated metadata format {doc.get('zarr_consolidated_format')!r}"
            " (only format 1)"
        )
    return doc["metadata"]


def write_consolidated(store: str) -> str:
    """Consolidate an existing v2 store's metadata into ``.zmetadata``
    (the ``zarr.consolidate_metadata`` operation, format 1)."""
    meta: dict[str, object] = {}
    for entry in sorted(os.listdir(store)):
        sub = os.path.join(store, entry)
        if not os.path.isdir(sub):
            continue
        for mf in (".zarray", ".zattrs"):
            p = os.path.join(sub, mf)
            if os.path.exists(p):
                with open(p) as f:
                    meta[f"{entry}/{mf}"] = json.load(f)
    zgroup = os.path.join(store, ".zgroup")
    if os.path.exists(zgroup):
        with open(zgroup) as f:
            meta[".zgroup"] = json.load(f)
    out = os.path.join(store, ".zmetadata")
    with open(out, "w") as f:
        json.dump(
            {"zarr_consolidated_format": 1, "metadata": meta}, f, indent=1
        )
    return out


def read_zarray(store: str, var: str) -> dict:
    """Parse ``<store>/<var>/.zarray`` (+ ``.zattrs`` when present) — or
    the v3 ``<var>/zarr.json`` — into the chunk-grid description. A
    consolidated store (``.zmetadata``) is preferred when present: all
    array metadata from one document, no per-array reads."""
    cons = read_consolidated(store)
    if cons is not None and f"{var}/.zarray" in cons:
        meta = cons[f"{var}/.zarray"]
        attrs = cons.get(f"{var}/.zattrs", {})
        return _finish_v2_meta(meta, attrs)
    zpath = os.path.join(store, var, ".zarray")
    if not os.path.exists(zpath) and os.path.exists(
        os.path.join(store, var, "zarr.json")
    ):
        return _read_zarr_v3(store, var)
    with open(zpath) as f:
        meta = json.load(f)
    attrs = {}
    zattrs = os.path.join(store, var, ".zattrs")
    if os.path.exists(zattrs):
        with open(zattrs) as f:
            attrs = json.load(f)
    return _finish_v2_meta(meta, attrs)


def _finish_v2_meta(meta: dict, attrs: dict) -> dict:
    """Validate a v2 ``.zarray`` document (from a per-array file or the
    consolidated store) into the normalized meta dict."""
    if meta.get("zarr_format") != 2:
        raise NotImplementedError("Only Zarr v2/v3 stores are supported")
    comp = meta.get("compressor")
    comp_id = (comp or {}).get("id")
    if comp_id == "blosc":
        cname = (comp or {}).get("cname", "blosclz")
        if cname not in ("lz4", "zlib", "zstd", "snappy"):
            raise NotImplementedError(
                f"Blosc inner compressor {cname!r} unsupported (lz4/zlib/"
                "zstd/snappy decode pure-Python here); install the optional "
                "zarr extras."
            )
        comp_id = f"blosc:{cname}"
    elif comp_id not in (None, "zlib", "gzip", "zstd"):
        raise NotImplementedError(
            f"Zarr compressor {comp_id!r} unsupported (zlib/gzip/zstd/raw/"
            "blosc-lz4/blosc-zlib/blosc-zstd); install the optional zarr "
            "extras."
        )
    if meta.get("order", "C") != "C":
        raise NotImplementedError("Fortran-order Zarr chunks unsupported")
    return {
        "shape": [int(s) for s in meta["shape"]],
        "chunks": [int(c) for c in meta["chunks"]],
        "dtype": np.dtype(meta["dtype"]),
        "compressor": comp_id,
        "fill_value": meta.get("fill_value"),
        "dims": attrs.get("_ARRAY_DIMENSIONS"),
        "attrs": attrs,
        "key_encoding": ("v2", "."),
    }


def decode_chunk(raw: bytes, meta: dict) -> np.ndarray:
    """One chunk file -> full-size C-order block (edge chunks are stored
    padded; the caller trims to the array bounds). A sharded store's
    "chunk" is a SHARD: inner chunks + a binary index, reassembled here
    so the distributed ingest path is layout-agnostic."""
    if meta.get("sharding"):
        return _decode_shard(raw, meta)
    comp = meta["compressor"]
    if comp is not None and comp.startswith("blosc"):
        raw = _blosc.decode_blosc(raw)
    elif comp in ("zlib", "gzip"):
        # bounded inflate (accepts zlib and gzip wrappers)
        want = int(np.prod(meta["chunks"])) * np.dtype(meta["dtype"]).itemsize
        raw = zlib.decompressobj(zlib.MAX_WBITS | 32).decompress(raw, want)
    elif comp == "zstd":
        raw = _zstd.zstd_decompress(raw)
    block = np.frombuffer(raw, dtype=meta["dtype"], count=int(np.prod(meta["chunks"])))
    order = meta.get("transpose")
    if order:
        # stored layout is the chunk shape PERMUTED by `order`; undo it
        stored_shape = [meta["chunks"][d] for d in order]
        inv = np.argsort(order)
        block = block.reshape(stored_shape).transpose(inv)
    else:
        block = block.reshape(meta["chunks"])
    return block.astype(block.dtype.newbyteorder("="))


_SHARD_MISSING = 2**64 - 1


def _decode_shard(raw: bytes, meta: dict) -> np.ndarray:
    """Zarr v3 ``sharding_indexed`` shard -> full shard-shaped block.

    Layout (public spec): concatenated encoded inner chunks plus a
    binary index of ``(offset, nbytes)`` uint64 pairs — one per inner
    chunk position in C order — at ``index_location`` (end by default),
    optionally CRC-32C-suffixed. Offset/nbytes 2^64-1 marks a missing
    inner chunk (fill value). This is the chunk-of-chunks layout large
    cloud arrays use so object count stays bounded while read
    granularity stays small."""
    cfg = meta["sharding"]
    inner = cfg["chunks"]
    outer = meta["chunks"]
    n_per_dim = [o // i for o, i in zip(outer, inner)]
    n = int(np.prod(n_per_dim))
    idx_len = n * 16 + (4 if cfg["index_crc"] else 0)
    if len(raw) < idx_len:
        raise ValueError("Zarr shard shorter than its index")
    if cfg["index_location"] == "start":
        idx_raw, body_base = raw[:idx_len], 0
    else:
        idx_raw, body_base = raw[-idx_len:], 0
    if cfg["index_crc"]:
        want = int.from_bytes(idx_raw[-4:], "little")
        if crc32c(idx_raw[:-4]) != want:
            raise ValueError("Zarr shard index CRC-32C mismatch")
        idx_raw = idx_raw[:-4]
    pairs = np.frombuffer(idx_raw, dtype="<u8").reshape(n, 2)
    inner_meta = {
        "compressor": cfg["compressor"],
        "dtype": meta["dtype"],
        "chunks": inner,
        "sharding": None,
    }
    fill = meta.get("fill_value") or 0
    block = np.full(outer, fill, dtype=np.dtype(meta["dtype"]).newbyteorder("="))
    for flat, idx in enumerate(np.ndindex(*n_per_dim)):
        off, nbytes = int(pairs[flat, 0]), int(pairs[flat, 1])
        if off == _SHARD_MISSING and nbytes == _SHARD_MISSING:
            continue
        piece = decode_chunk(raw[body_base + off : body_base + off + nbytes], inner_meta)
        sel = tuple(slice(i * c, (i + 1) * c) for i, c in zip(idx, inner))
        block[sel] = piece
    return block


def read_small_array(store: str, var: str) -> np.ndarray:
    """Driver-side read of a coordinate variable (dimension-sized by
    definition — time/y/x axes, never the data cube)."""
    meta = read_zarray(store, var)
    if len(meta["shape"]) != 1:
        raise ValueError(f"{var} is not a 1-D coordinate array")
    n, c = meta["shape"][0], meta["chunks"][0]
    out = np.empty(n, dtype=meta["dtype"].newbyteorder("="))
    for ci in range((n + c - 1) // c):
        with open(os.path.join(store, var, chunk_relpath(meta, (ci,))), "rb") as f:
            block = decode_chunk(f.read(), meta)
        lo = ci * c
        out[lo : min(lo + c, n)] = block[: min(c, n - lo)]
    return out


def nodata_sentinel(meta: dict) -> float | int | None:
    """The value to mask to NaN for a Zarr variable: the .zattrs
    ``_FillValue``/``missing_value`` attribute (xarray/CF semantics).
    The .zarray ``fill_value`` marks UNWRITTEN chunk regions per the v2
    spec, not nodata — a store written with the common default
    fill_value=0 must NOT turn legitimate zeros into NaN — so it counts
    only when it is itself a float NaN (the one case where the two
    notions coincide). JSON spells non-finite floats as the strings
    "NaN"/"Infinity"/"-Infinity"; those are decoded before comparing.
    Returns None when nothing should be masked — including the float-NaN
    case, which needs no masking since blocks are cast to float64 and
    NaN survives the cast."""

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


def zarr_time_axis(store: str, var: str) -> np.ndarray:
    """Coordinate variable + CF ``units`` decoding (shares the NetCDF3
    reader's parser for '<unit> since <datetime>')."""
    from xarray_dataaccessor_spark.sources.netcdf3 import decode_time_units

    meta = read_zarray(store, var)
    vals = read_small_array(store, var)
    units = meta["attrs"].get("units")
    if isinstance(units, str) and "since" in units:
        return decode_time_units(vals, units)
    return vals


def write_zarr(
    store: str,
    var: str,
    data: np.ndarray,
    dims: list[str],
    chunks: list[int] | None = None,
    attrs: dict | None = None,
    compress: bool = True,
    compressor: str | None = None,
    zarr_format: int = 2,
    shards: list[int] | None = None,
) -> str:
    """Minimal Zarr v2/v3 writer (C order; zlib/gzip, raw, or Blosc1
    with an lz4/zlib inner codec) for fixtures and small-grid export;
    pads edge chunks per spec. ``compressor`` overrides the legacy
    ``compress`` flag: one of 'zlib', 'blosc-lz4', 'blosc-zlib', None.
    ``zarr_format=3`` writes per-node ``zarr.json`` metadata, the
    bytes+gzip codec chain, ``dimension_names``, and default nested
    ``c/i/j/k`` chunk keys. ``shards`` (v3 only) selects the
    ``sharding_indexed`` layout: each stored object is a shard of
    ``shards`` elements containing ``chunks``-sized inner chunks plus a
    CRC-32C-protected binary index."""
    os.makedirs(os.path.join(store, var), exist_ok=True)
    chunks = chunks or list(data.shape)
    if shards is not None and zarr_format != 3:
        raise ValueError("sharding is a Zarr v3 layout (zarr_format=3)")
    if zarr_format == 3:
        return _write_zarr_v3(
            store, var, data, dims, chunks, attrs,
            compressor or ("zlib" if compress else None), shards,
        )
    if not os.path.exists(os.path.join(store, ".zgroup")):
        with open(os.path.join(store, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)
    if compressor is None and compress:
        compressor = "zlib"
    if compressor is None:
        comp_meta = None
    elif compressor == "zlib":
        comp_meta = {"id": "zlib", "level": 6}
    elif compressor == "zstd":
        comp_meta = {"id": "zstd", "level": 3}
    elif compressor in ("blosc-lz4", "blosc-zlib", "blosc-zstd",
                        "blosc-snappy"):
        comp_meta = {
            "id": "blosc",
            "cname": compressor.split("-")[1],
            "clevel": 5,
            "shuffle": 1,
            "blocksize": 0,
        }
    else:
        raise ValueError(f"Unsupported writer compressor {compressor!r}")
    meta = {
        "zarr_format": 2,
        "shape": list(data.shape),
        "chunks": list(chunks),
        "dtype": data.dtype.str,
        "order": "C",
        "filters": None,
        "fill_value": None,
        "compressor": comp_meta,
    }
    with open(os.path.join(store, var, ".zarray"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(store, var, ".zattrs"), "w") as f:
        json.dump({"_ARRAY_DIMENSIONS": dims, **(attrs or {})}, f)
    grid = [
        (dim_size + ch - 1) // ch for dim_size, ch in zip(data.shape, chunks)
    ]
    for idx in np.ndindex(*grid):
        padded = np.zeros(chunks, dtype=data.dtype)
        sel = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(idx, chunks, data.shape)
        )
        piece = data[sel]
        padded[tuple(slice(0, p) for p in piece.shape)] = piece
        raw = padded.tobytes()
        if compressor == "zlib":
            raw = zlib.compress(raw, 6)
        elif compressor == "zstd":
            raw = _zstd.zstd_compress(raw)
        elif compressor in ("blosc-lz4", "blosc-zlib", "blosc-zstd",
                            "blosc-snappy"):
            from xarray_dataaccessor_spark.sources.blosc import encode_blosc

            raw = encode_blosc(
                raw, typesize=data.dtype.itemsize,
                cname=compressor.split("-")[1], shuffle=True,
            )
        with open(os.path.join(store, var, ".".join(map(str, idx))), "wb") as f:
            f.write(raw)
    return store


def _write_zarr_v3(store, var, data, dims, chunks, attrs, compressor,
                   shards=None) -> str:
    """Zarr v3 array node: zarr.json metadata + nested c/ chunk keys.
    With ``shards``, the chunk grid is the shard grid and each object
    packs the inner chunks behind a ``sharding_indexed`` codec."""
    if not os.path.exists(os.path.join(store, "zarr.json")):
        with open(os.path.join(store, "zarr.json"), "w") as f:
            json.dump({"zarr_format": 3, "node_type": "group"}, f)
    kind_names = {v: k for k, v in _V3_DTYPES.items()}
    code = data.dtype.str[1:]
    if code not in kind_names:
        raise ValueError(f"dtype {data.dtype} not writable as Zarr v3")
    endian = "big" if data.dtype.str[0] == ">" else "little"
    codecs = [{"name": "bytes", "configuration": {"endian": endian}}]
    if compressor == "zlib":
        codecs.append({"name": "gzip", "configuration": {"level": 6}})
    elif compressor == "zstd":
        codecs.append({
            "name": "zstd", "configuration": {"level": 3, "checksum": True}
        })
    elif compressor in ("blosc-lz4", "blosc-zlib", "blosc-zstd"):
        codecs.append({
            "name": "blosc",
            "configuration": {
                "cname": compressor.split("-")[1], "clevel": 5,
                "shuffle": "shuffle", "typesize": data.dtype.itemsize,
                "blocksize": 0,
            },
        })
    elif compressor is not None:
        raise ValueError(f"Unsupported v3 writer compressor {compressor!r}")
    outer = list(chunks)
    if shards is not None:
        for s_, c in zip(shards, chunks):
            if s_ % c:
                raise ValueError(
                    f"shard shape {shards} must be a whole multiple of the "
                    f"inner chunk shape {chunks}"
                )
        outer = list(shards)
        codecs = [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(chunks),
                "codecs": codecs,
                "index_codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "end",
            },
        }]
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(data.shape),
        "data_type": kind_names[code],
        "chunk_grid": {
            "name": "regular", "configuration": {"chunk_shape": outer}
        },
        "chunk_key_encoding": {
            "name": "default", "configuration": {"separator": "/"}
        },
        "fill_value": 0,
        "codecs": codecs,
        "dimension_names": dims,
        "attributes": dict(attrs or {}),
    }
    with open(os.path.join(store, var, "zarr.json"), "w") as f:
        json.dump(meta, f)
    import gzip as _gzip

    def encode_piece(raw: bytes) -> bytes:
        if compressor == "zlib":
            return _gzip.compress(raw, 6)
        if compressor == "zstd":
            return _zstd.zstd_compress(raw)
        if compressor in ("blosc-lz4", "blosc-zlib"):
            from xarray_dataaccessor_spark.sources.blosc import encode_blosc

            return encode_blosc(
                raw, typesize=data.dtype.itemsize,
                cname=compressor.split("-")[1], shuffle=True,
            )
        return raw

    grid = [(s_ + c - 1) // c for s_, c in zip(data.shape, outer)]
    for idx in np.ndindex(*grid):
        if shards is None:
            padded = np.zeros(outer, dtype=data.dtype)
            sel = tuple(
                slice(i * c, min((i + 1) * c, s_))
                for i, c, s_ in zip(idx, outer, data.shape)
            )
            piece = data[sel]
            padded[tuple(slice(0, p) for p in piece.shape)] = piece
            raw = encode_piece(padded.tobytes())
        else:
            # shard object: encoded inner chunks + (offset, nbytes)
            # index; inner chunks wholly outside the array bounds are
            # MISSING entries (2^64-1), exercising the fill path
            body = bytearray()
            index = []
            n_per_dim = [o // c for o, c in zip(outer, chunks)]
            for in_idx in np.ndindex(*n_per_dim):
                origin = [
                    oi * o + ii * c
                    for oi, o, ii, c in zip(idx, outer, in_idx, chunks)
                ]
                if any(og >= s_ for og, s_ in zip(origin, data.shape)):
                    index.append((_SHARD_MISSING, _SHARD_MISSING))
                    continue
                padded = np.zeros(chunks, dtype=data.dtype)
                sel = tuple(
                    slice(og, min(og + c, s_))
                    for og, c, s_ in zip(origin, chunks, data.shape)
                )
                piece = data[sel]
                padded[tuple(slice(0, p) for p in piece.shape)] = piece
                enc = encode_piece(padded.tobytes())
                index.append((len(body), len(enc)))
                body += enc
            idx_raw = np.array(index, dtype="<u8").tobytes()
            raw = bytes(body) + idx_raw + crc32c(idx_raw).to_bytes(4, "little")
        key = os.path.join(store, var, *chunk_relpath(
            {"key_encoding": ("default", "/")}, idx
        ).split("/"))
        os.makedirs(os.path.dirname(key), exist_ok=True)
        with open(key, "wb") as f:
            f.write(raw)
    return store
