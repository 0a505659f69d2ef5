"""Versioned append-only parquet datasets — a minimal transactional
table layout (the Delta/Iceberg idea reduced to its load-bearing core)
for the pipelines this engine targets: nightly corpus appends, sketch
and index refreshes, training-shard publication.

Layout under ``<path>/``::

    data/part-<version>-<n>.parquet     immutable data files
    _manifests/v<NNNNNN>.json           one manifest per committed version

A manifest lists the COMPLETE file set of its version (names, row
counts, byte sizes) plus the parent version and an operation tag.
Readers resolve a manifest first, then read exactly its files — so

- **appends are pure file adds** (existing files are never rewritten,
  the persisted-index discipline generalized),
- **readers get snapshot isolation for free**: a reader that resolved
  version N never sees N+1's files, and a writer crash before the
  manifest rename publishes nothing (manifests are written to a temp
  name and atomically renamed — the only commit point),
- **time travel is just picking an older manifest**,
- **compaction** rewrites small files into large ones and publishes a
  new manifest with op='compact'; the data is bit-identical (tested),
  old versions still resolve because their files remain until an
  explicit ``vacuum``.

- **deletes are copy-on-write with tombstone manifests** (round 10):
  a delete commit rewrites ONLY the files whose footer stats say they
  may hold matching rows, carries every provably-untouched file forward
  by name, and records the replaced files in the manifest's
  ``removed`` list. The replaced files stay on disk — older snapshots
  keep resolving (time travel across a delete works) — until
  ``vacuum`` lets those snapshots go; vacuum needs no special casing
  because it already deletes exactly the files no kept manifest
  references.

- **schema evolution, ADD COLUMN only** (round 11): an ``add_column``
  commit carries the widened schema and the parent's files by name —
  zero I/O. Readers NULL-fill the new column for pre-add files because
  reads run under the manifest schema; time travel to a pre-add
  version reads under the old schema.

At 100 TB the manifest is the scaling pressure point: it is
file-count-sized, not data-sized, and ``compact`` exists precisely to
keep file counts (and therefore manifests and scan planning) bounded.
This module stays deliberately below table formats' full surface (no
renames/drops/type-changes, no partition spec, no MERGE) — those are
the parts a real deployment should take from Delta/Iceberg proper, and
faking them here would be dishonest.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from xarray_dataaccessor_spark.session import local_frame


def _schema_type(simple: str):
    """Manifest schema string -> StructType (the reader's .schema()
    DDL parser rejects the struct<...> simpleString form)."""
    from pyspark.sql.types import DataType

    return DataType.fromDDL(simple)


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:06d}.json")


def list_versions(path: str) -> list[int]:
    """All committed versions, ascending."""
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def _file_stats(fpath: str) -> dict:
    """Per-column min/max/null_count/rows from the parquet footer —
    the Delta/Iceberg data-skipping statistics, read without touching
    row data. Non-comparable leaf types (nested, binary) are skipped;
    values are JSON-encoded via repr-safe primitives."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    stats: dict = {}
    rows = md.num_rows
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                continue
            if hasattr(mn, "isoformat"):
                mn, mx = mn.isoformat(), mx.isoformat()
            if not isinstance(mn, (int, float, str, bool)):
                continue
            name = col.path_in_schema
            if name in stats:
                s = stats[name]
                s["min"] = min(s["min"], mn)
                s["max"] = max(s["max"], mx)
            else:
                stats[name] = {"min": mn, "max": mx}
    return {"rows": rows, "columns": stats}


def _land_files(df: DataFrame, path: str, version: int) -> list[dict]:
    """Write df's partitions as immutable parquet files under data/ and
    return their manifest entries (incl. per-file column min/max stats
    for data skipping). Files land under a unique temp dir first, then
    move into data/ with version-stamped names — a crashed write leaves
    only unreferenced temp files."""
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    tmp = os.path.join(path, f"_tmp-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(tmp)
    entries = []
    n = 0
    # the writer-unique token keeps two CONCURRENT appenders landing at
    # the same intended version from clobbering each other's data files
    # (names are manifest-resolved, so the version stamp is cosmetic;
    # after an optimistic rebase the commit version may differ from it)
    wtok = uuid.uuid4().hex[:8]
    for name in sorted(os.listdir(tmp)):
        if not name.endswith(".parquet"):
            continue
        final = f"part-{version:06d}-{n:05d}-{wtok}.parquet"
        dst = os.path.join(data_dir, final)
        os.replace(os.path.join(tmp, name), dst)
        entries.append({
            "name": final,
            "bytes": os.path.getsize(dst),
            "stats": _file_stats(dst),
        })
        n += 1
    for leftover in os.listdir(tmp):
        os.remove(os.path.join(tmp, leftover))
    os.rmdir(tmp)
    return entries


class VersionConflict(ValueError):
    """Another writer committed this version first. ``ValueError`` so
    pre-existing callers that treated duplicate commits as input errors
    keep working; :func:`append_versioned` catches it to rebase."""


def _commit(path: str, version: int, files: list[dict], op: str,
            parent: int | None, schema: str,
            extra: dict | None = None) -> dict:
    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "schema": schema,
        "files": files,
        **(extra or {}),
    }
    os.makedirs(_manifest_dir(path), exist_ok=True)
    tmp = _manifest_path(path, version) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    final = _manifest_path(path, version)
    try:
        # hard link = atomic create-if-absent: of two racing writers
        # EXACTLY one publishes v<N>; the old exists()+replace() pair
        # had a TOCTOU window where the second replace silently
        # overwrote the first manifest (lost commit)
        os.link(tmp, final)
    except FileExistsError:
        os.remove(tmp)
        raise VersionConflict(
            f"version {version} already committed (concurrent writer?)"
        )
    os.remove(tmp)
    return manifest


def write_versioned(df: DataFrame, path: str) -> dict:
    """Create version 0 of a new dataset (fails if one exists)."""
    if list_versions(path):
        raise ValueError(f"dataset already exists at {path}; use append")
    os.makedirs(path, exist_ok=True)
    files = _land_files(df, path, 0)
    return _commit(path, 0, files, "create", None,
                   df.schema.simpleString())


def append_versioned(df: DataFrame, path: str, max_retries: int = 20) -> dict:
    """Commit a new version = parent's files + the batch's files. The
    parent's files are NEVER rewritten; schema must match exactly (no
    silent evolution).

    Concurrent appenders serialize by OPTIMISTIC RETRY (the Delta
    protocol shape): the batch lands once under writer-unique file
    names, then the commit loop tries ``parent+1``; on
    :class:`VersionConflict` (another writer won the hard-link race) it
    re-reads the new tip, re-validates the schema, re-bases the file
    list on the winner's manifest — appends are pure file adds, so a
    rebase is just "their files + mine", no data rewrite — and retries.
    Every landed file appears in exactly one committed lineage; a
    writer that exhausts ``max_retries`` raises with its orphaned
    (unreferenced, vacuum-safe) files still on disk."""
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"no dataset at {path}; use write_versioned")
    parent = versions[-1]
    pm = _read_manifest(path, parent)
    if df.schema.simpleString() != pm["schema"]:
        raise ValueError(
            "schema mismatch: appends must match the dataset schema "
            f"({df.schema.simpleString()} != {pm['schema']})"
        )
    version = parent + 1
    landed = _land_files(df, path, version)
    for _ in range(max_retries):
        try:
            return _commit(
                path, version, pm["files"] + landed, "append", parent,
                pm["schema"],
            )
        except VersionConflict:
            versions = list_versions(path)
            parent = versions[-1]
            pm = _read_manifest(path, parent)
            if df.schema.simpleString() != pm["schema"]:
                raise ValueError(
                    "schema mismatch after concurrent commit: "
                    f"({df.schema.simpleString()} != {pm['schema']})"
                )
            version = parent + 1
    raise VersionConflict(
        f"append lost the commit race {max_retries} times at {path}"
    )


def read_versioned(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: "tuple | None" = None,
) -> DataFrame:
    """Read a snapshot: exactly the files its manifest lists. Default =
    latest committed version (time travel = pass an older one).

    ``where=(col, lo, hi)`` enables manifest-level DATA SKIPPING — the
    Delta/Iceberg trick: files whose footer min/max range for ``col``
    cannot intersect ``[lo, hi]`` are dropped from the read BEFORE
    Spark plans anything, so at 100 TB a selective predicate touches
    file-count-pruned input, not every file's footer. The predicate is
    also applied as a real row filter (stats prune files, never rows),
    so results are exact regardless of stats coverage. Pass
    ``lo=None`` / ``hi=None`` for one-sided ranges."""
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"no dataset at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    m = _read_manifest(path, version)
    files = m["files"]
    if where is not None:
        col, lo, hi = where
        kept = []
        for f in files:
            st = (f.get("stats") or {}).get("columns", {}).get(col)
            if st is None:
                kept.append(f)  # no stats -> cannot prune, must read
                continue
            if lo is not None and st["max"] < lo:
                continue
            if hi is not None and st["min"] > hi:
                continue
            kept.append(f)
        files = kept
    if not files:
        return local_frame(spark, [], m["schema"])
    paths = [os.path.join(path, "data", f["name"]) for f in files]
    # the MANIFEST schema drives the read (not a sampled file footer):
    # files written before an add_column commit are missing the new
    # column and NULL-fill it — Spark's standard missing-column
    # semantics under an explicit read schema. Time travel to a
    # pre-add version uses that version's manifest schema, so the new
    # column is absent there, as it should be.
    out = spark.read.schema(_schema_type(m["schema"])).parquet(*paths)
    if where is not None:
        from pyspark.sql import functions as F

        col, lo, hi = where
        if lo is not None:
            out = out.filter(F.col(col) >= lo)
        if hi is not None:
            out = out.filter(F.col(col) <= hi)
    return out


def delete_versioned(
    spark: SparkSession,
    path: str,
    where: tuple,
) -> dict:
    """Copy-on-write row delete (the Delta shape): remove rows where
    ``col BETWEEN lo AND hi`` (``where=(col, lo, hi)``; pass ``None``
    for one-sided ranges) and commit the result as a new version
    (op='delete').

    File handling is stats-driven, so the rewrite cost scales with the
    SELECTIVITY of the predicate, not the table:

    - files whose footer min/max range for ``col`` cannot intersect
      ``[lo, hi]`` are carried forward BY NAME — zero I/O,
    - only possibly-affected files are read, filtered to the KEPT rows
      (rows with a NULL ``col`` are kept — a range can never match
      NULL), and landed as new files; a rewrite that keeps nothing
      lands nothing,
    - the replaced file names are recorded in the manifest's
      ``removed`` list (tombstones). The files themselves stay on disk
      so every older snapshot keeps resolving; :func:`vacuum` reaps
      them once no kept manifest references them — no special casing,
      that is already vacuum's rule.

    Concurrency: a delete does NOT auto-rebase (unlike appends, a
    rewrite races with whatever landed meanwhile), so a losing
    hard-link race raises :class:`VersionConflict` for the caller to
    retry against the new tip — the same conservative choice Delta
    makes for conflicting transactions."""
    from pyspark.sql import functions as F

    versions = list_versions(path)
    if not versions:
        raise ValueError(f"no dataset at {path}")
    parent = versions[-1]
    pm = _read_manifest(path, parent)
    col, lo, hi = where
    if lo is None and hi is None:
        # a fully-unbounded range would make cond constant-true: NULL-col
        # rows would be deleted (contradicting the NULL-keep contract)
        # and stats could prune nothing, so the whole table rewrites.
        raise ValueError(
            "delete_versioned requires at least one bound in "
            "where=(col, lo, hi); to drop all rows write a new dataset"
        )
    untouched, affected = [], []
    for f in pm["files"]:
        st = (f.get("stats") or {}).get("columns", {}).get(col)
        if st is not None:
            if lo is not None and st["max"] < lo:
                untouched.append(f)
                continue
            if hi is not None and st["min"] > hi:
                untouched.append(f)
                continue
        affected.append(f)  # no stats -> must rewrite conservatively
    version = parent + 1
    rewritten: list[dict] = []
    if affected:
        paths = [os.path.join(path, "data", f["name"]) for f in affected]
        # read with the MANIFEST schema so files written before an
        # add_column commit NULL-fill the new column instead of failing
        # to resolve it (and rewrites land with the full schema)
        cur = spark.read.schema(_schema_type(pm["schema"])).parquet(*paths)
        cond = F.col(col).isNotNull()  # explicit NULL-keep contract
        if lo is not None:
            cond = cond & (F.col(col) >= lo)
        if hi is not None:
            cond = cond & (F.col(col) <= hi)
        kept_rows = cur.filter(~F.coalesce(cond, F.lit(False)))
        rewritten = _land_files(kept_rows, path, version)
        rewritten = [f for f in rewritten
                     if (f.get("stats") or {}).get("rows", 1) != 0]
    try:
        return _commit(
            path, version, untouched + rewritten, "delete", parent,
            pm["schema"], extra={"removed": [f["name"] for f in affected]},
        )
    except VersionConflict:
        # a delete deliberately does not rebase — but the rewritten
        # files just landed are referenced by NO manifest, and vacuum
        # only reaps files referenced by dropped manifests, so they
        # would be orphaned forever. Reap them before re-raising.
        for f in rewritten:
            p = os.path.join(path, "data", f["name"])
            if os.path.exists(p):
                os.remove(p)
        raise


def add_column_versioned(
    path: str,
    name: str,
    dtype: str,
) -> dict:
    """Schema evolution, ADD COLUMN only (the one evolution that needs
    no data rewrite): commit a new version (op='add_column') whose
    manifest carries the widened schema and the parent's file set BY
    NAME — zero I/O, zero new files.

    Semantics (the Delta/Iceberg add-column contract):

    - existing files are untouched; readers NULL-fill the new column
      for rows in pre-add files because :func:`read_versioned` reads
      under the manifest schema, not a sampled file footer,
    - appends after the add must match the WIDENED schema (the existing
      exact-match validation enforces this with no new code),
    - time travel to a pre-add version reads under the old schema — the
      column simply does not exist there,
    - stats pruning stays correct: pre-add files have no footer stats
      for the new column, so they are conservatively read (never
      wrongly pruned) by ``where=`` pruning and by
      :func:`delete_versioned`'s file selection,
    - a losing hard-link race raises :class:`VersionConflict` with
      nothing landed (the commit IS the whole operation), so no orphan
      handling is needed.

    ``dtype`` is a Spark simpleString type (``bigint``, ``string``,
    ``array<float>``, ...). Renames/drops/type-changes stay out of
    scope — those require rewrite or column-ID indirection and belong
    to Delta/Iceberg proper."""
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"no dataset at {path}")
    parent = versions[-1]
    pm = _read_manifest(path, parent)
    schema = pm["schema"]
    if not (schema.startswith("struct<") and schema.endswith(">")):
        raise ValueError(f"unexpected manifest schema format: {schema!r}")
    existing = {
        part.split(":", 1)[0]
        for part in _top_level_fields(schema[len("struct<"):-1])
    }
    if name in existing:
        raise ValueError(f"column {name!r} already exists in {schema}")
    new_schema = schema[:-1] + f",{name}:{dtype}>"
    return _commit(
        path, parent + 1, pm["files"], "add_column", parent, new_schema,
        extra={"added_column": {"name": name, "type": dtype}},
    )


def _top_level_fields(body: str) -> list[str]:
    """Split a struct simpleString body on TOP-LEVEL commas (nested
    ``struct<a:int,b:int>`` / ``map<...>`` fields contain commas of
    their own)."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def compact_versioned(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
) -> dict:
    """Rewrite the CURRENT version's small files into ~``target_bytes``
    files and commit the result as a new version (op='compact'). Data
    is bit-identical modulo row order (tested); prior versions keep
    resolving because their files are untouched until :func:`vacuum`.
    This is the file-count pressure valve: manifests, scan planning and
    task counts are all file-count-sized."""
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"no dataset at {path}")
    parent = versions[-1]
    pm = _read_manifest(path, parent)
    total = sum(f["bytes"] for f in pm["files"])
    n_out = max(1, -(-total // target_bytes))  # ceil
    cur = read_versioned(spark, path, parent)
    version = parent + 1
    files = _land_files(cur.repartition(int(n_out)), path, version)
    return _commit(path, version, files, "compact", parent, pm["schema"])


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Delete data files referenced ONLY by manifests older than the
    newest ``keep_versions`` (and those manifests). The one destructive
    operation, and the reason compaction itself is safe: nothing
    disappears until the operator explicitly lets old snapshots go.
    Returns the deleted file names."""
    versions = list_versions(path)
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    keep = versions[-keep_versions:]
    drop = [v for v in versions if v not in keep]
    live = set()
    for v in keep:
        live.update(f["name"] for f in _read_manifest(path, v)["files"])
    deleted = []
    for v in drop:
        for f in _read_manifest(path, v)["files"]:
            if f["name"] not in live:
                p = os.path.join(path, "data", f["name"])
                if os.path.exists(p):
                    os.remove(p)
                    deleted.append(f["name"])
        os.remove(_manifest_path(path, v))
    return deleted
