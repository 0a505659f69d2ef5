"""WebDataset-style tar shards — the de-facto delivery format for
large-scale training data (one ``.tar`` per shard; each sample is a
group of files sharing a basename: ``<key>.txt``, ``<key>.json``,
``<key>.bin`` ...). Loaders (webdataset, torchdata) stream shards
sequentially, so the writer's jobs are (a) deterministic sample
placement, (b) bounded shard sizes, (c) no driver-side data movement.

Layout under ``<path>/``::

    shard-<NNNNN>.tar     one tar per output partition
    _index.json           shard -> (n_samples, bytes) manifest

Every executor task writes exactly its own partition's tar (the
``zarr_sink``/``grib2_sink`` discipline — the driver only writes the
manifest afterwards from the tasks' returned stats). Sample-to-shard
assignment is an explicit deterministic hash repartition, so re-runs
produce identical shards and a training job's data order is
reproducible from (path, seed) alone.

Reading back (``read_tar_shards``) distributes untarring with
``binaryFile`` + ``mapInPandas`` — each task opens whole tar payloads
in memory (shards are sized to be task-sized by construction).
"""

from __future__ import annotations

import io
import json
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ship_by_value() -> None:
    """Executors may not have this package installed; ship the tar
    helpers by value (the zarr_sink pattern)."""
    import xarray_dataaccessor_spark.sinks.webdataset as _self
    from xarray_dataaccessor_spark.session import ship_by_value

    ship_by_value(_self)


def write_tar_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
    text_col: str = "text",
    meta_cols: tuple = (),
) -> dict:
    """Write ``df`` as ``n_shards`` WebDataset tars: sample ``key``
    becomes ``<key>.txt`` (the text payload) plus ``<key>.json`` (the
    ``meta_cols`` as a JSON object) when metadata is requested. Returns
    the manifest dict (also landed as ``_index.json``).

    Placement: ``shard = pmod(md5-hash(key), n_shards)`` — the
    engine-portable hash, so the shard of any sample is computable
    from its key alone (resumable downloads, targeted re-reads).
    Within a shard, samples are written in key order — deterministic
    bytes for identical input. ``path`` must be storage every executor
    can write (shared FS / fuse mount; on object stores land locally
    per task and upload — not implemented here)."""
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    _ship_by_value()

    os.makedirs(path, exist_ok=True)
    cols = [F.col(key_col).cast("string").alias("__key"),
            F.col(text_col).cast("string").alias("__text")]
    meta_cols = tuple(meta_cols)
    for c in meta_cols:
        cols.append(F.col(c))
    shard = F.pmod(
        portable_hash32(F.col(key_col).cast("string")), F.lit(n_shards)
    ).alias("__shard")
    src = df.select(*cols, shard).repartition(n_shards, "__shard")

    mc = meta_cols
    out_dir = path

    def write_partition(batches):
        import pandas as pd

        rows = []
        for pdf in batches:
            rows.append(pdf)
        if not rows:
            return
        pdf = pd.concat(rows).sort_values("__key", kind="mergesort")
        if not len(pdf):
            return
        shards = pdf["__shard"].unique()
        out = []
        for sh in shards:
            part = pdf[pdf["__shard"] == sh]
            name = os.path.join(out_dir, f"shard-{int(sh):05d}.tar")
            tmp = name + ".tmp"
            with tarfile.open(tmp, "w") as tf:
                for _, r in part.iterrows():
                    payload = str(r["__text"]).encode("utf-8")
                    ti = tarfile.TarInfo(name=f"{r['__key']}.txt")
                    ti.size = len(payload)
                    ti.mtime = 0  # deterministic bytes
                    tf.addfile(ti, io.BytesIO(payload))
                    if mc:
                        meta = json.dumps(
                            {c: _jsonable(r[c]) for c in mc},
                            sort_keys=True,
                        ).encode("utf-8")
                        tj = tarfile.TarInfo(name=f"{r['__key']}.json")
                        tj.size = len(meta)
                        tj.mtime = 0
                        tf.addfile(tj, io.BytesIO(meta))
            os.replace(tmp, name)
            out.append(
                {"shard": int(sh), "n_samples": int(len(part)),
                 "bytes": os.path.getsize(name)}
            )
        import pandas as pd

        yield pd.DataFrame(out)

    stats = src.mapInPandas(
        write_partition, "shard int, n_samples long, bytes long"
    ).collect()
    manifest = {
        "n_shards": n_shards,
        "key_col": key_col,
        "meta_cols": list(meta_cols),
        "shards": sorted(
            ({"shard": r["shard"], "n_samples": r["n_samples"],
              "bytes": r["bytes"]} for r in stats),
            key=lambda s: s["shard"],
        ),
    }
    with open(os.path.join(path, "_index.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def _jsonable(v):
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return v.item()
    except Exception:
        pass
    return v


def read_tar_shards(spark: SparkSession, path: str) -> DataFrame:
    """Distributed read-back: ``binaryFile`` scan over the shard tars,
    one ``mapInPandas`` task untars each payload in memory and emits
    ``(key, text, meta_json)`` rows. Shards are task-sized by the
    writer's construction, so whole-tar-in-memory is the honest shape
    (it is also exactly how webdataset loaders consume them)."""
    _ship_by_value()
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*.tar")
        .load(path)
        .select("path", "content")
    )

    def untar(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                    texts: dict = {}
                    metas: dict = {}
                    for m in tf.getmembers():
                        base, ext = os.path.splitext(m.name)
                        data = tf.extractfile(m).read()
                        if ext == ".txt":
                            texts[base] = data.decode("utf-8")
                        elif ext == ".json":
                            metas[base] = data.decode("utf-8")
                for k, t in texts.items():
                    rows.append(
                        {"key": k, "text": t, "meta_json": metas.get(k)}
                    )
            yield pd.DataFrame(rows, columns=["key", "text", "meta_json"])

    return raw.mapInPandas(untar, "key string, text string, meta_json string")
