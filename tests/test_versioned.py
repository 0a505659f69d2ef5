"""Versioned append-only dataset layout (sinks/versioned.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.sinks.versioned import (
    append_versioned,
    compact_versioned,
    list_versions,
    read_versioned,
    vacuum,
    write_versioned,
)


def _batch(spark, lo, hi):
    return spark.range(lo, hi, 1, 4).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


def test_create_append_time_travel(spark, tmp_path):
    path = str(tmp_path / "ds")
    m0 = write_versioned(_batch(spark, 0, 100), path)
    assert m0["version"] == 0 and m0["op"] == "create"
    m1 = append_versioned(_batch(spark, 100, 250), path)
    assert m1["version"] == 1 and m1["parent"] == 0
    assert list_versions(path) == [0, 1]
    assert read_versioned(spark, path).count() == 250
    assert read_versioned(spark, path, version=0).count() == 100
    # snapshot isolation: v0's resolved file set never includes v1 files
    v0_ids = {r["id"] for r in read_versioned(spark, path, 0).collect()}
    assert v0_ids == set(range(100))


def test_append_is_pure_file_add(spark, tmp_path):
    path = str(tmp_path / "ds")
    write_versioned(_batch(spark, 0, 50), path)
    data = os.path.join(path, "data")
    before = {f: os.path.getmtime(os.path.join(data, f))
              for f in os.listdir(data)}
    append_versioned(_batch(spark, 50, 80), path)
    after = {f: os.path.getmtime(os.path.join(data, f))
             for f in os.listdir(data)}
    for f, t in before.items():
        assert after[f] == t  # v0 files untouched, byte for byte
    assert len(after) > len(before)


def test_schema_mismatch_rejected(spark, tmp_path):
    path = str(tmp_path / "ds")
    write_versioned(_batch(spark, 0, 10), path)
    bad = spark.range(3).select(F.col("id").cast("int").alias("id"))
    with pytest.raises(ValueError, match="schema mismatch"):
        append_versioned(bad, path)


def test_compact_preserves_data_and_history(spark, tmp_path):
    path = str(tmp_path / "ds")
    write_versioned(_batch(spark, 0, 60), path)
    for i in range(3):
        append_versioned(_batch(spark, 60 + 40 * i, 100 + 40 * i), path)
    pre = read_versioned(spark, path)
    n_files_pre = len(os.listdir(os.path.join(path, "data")))
    m = compact_versioned(spark, path, target_bytes=1 << 30)
    assert m["op"] == "compact" and len(m["files"]) == 1
    post = read_versioned(spark, path)
    assert sorted(r["id"] for r in post.collect()) == sorted(
        r["id"] for r in pre.collect()
    )
    # old snapshot still resolves after compaction
    assert read_versioned(spark, path, version=1).count() == 100
    assert len(os.listdir(os.path.join(path, "data"))) > n_files_pre - 1


def test_vacuum_drops_only_dead_files(spark, tmp_path):
    path = str(tmp_path / "ds")
    write_versioned(_batch(spark, 0, 60), path)
    append_versioned(_batch(spark, 60, 90), path)
    compact_versioned(spark, path, target_bytes=1 << 30)
    deleted = vacuum(path, keep_versions=1)
    assert deleted  # the pre-compaction files are dead
    assert list_versions(path) == [2]
    assert read_versioned(spark, path).count() == 90
    with pytest.raises(ValueError, match="not in"):
        read_versioned(spark, path, version=0)


def test_crash_before_commit_publishes_nothing(spark, tmp_path, monkeypatch):
    """Files landed but the manifest rename never ran: readers still see
    the old version; a retry commits cleanly."""
    import xarray_dataaccessor_spark.sinks.versioned as V

    path = str(tmp_path / "ds")
    write_versioned(_batch(spark, 0, 40), path)

    real_commit = V._commit

    def boom(*a, **kw):
        raise RuntimeError("crash between land and commit")

    monkeypatch.setattr(V, "_commit", boom)
    with pytest.raises(RuntimeError, match="crash"):
        append_versioned(_batch(spark, 40, 70), path)
    monkeypatch.setattr(V, "_commit", real_commit)
    assert list_versions(path) == [0]
    assert read_versioned(spark, path).count() == 40  # orphans invisible
    append_versioned(_batch(spark, 40, 70), path)  # retry succeeds
    assert read_versioned(spark, path).count() == 70


def test_footer_stats_error_fails_the_commit(spark, tmp_path, monkeypatch):
    """A footer-stats read that raises is a fault, not a file without
    stats: the append fails and readers still see the old version."""
    import xarray_dataaccessor_spark.sinks.versioned as V

    path = str(tmp_path / "ds")
    write_versioned(_batch(spark, 0, 40), path)

    def boom(fpath):
        raise TypeError("unreadable footer")

    monkeypatch.setattr(V, "_file_stats", boom)
    with pytest.raises(TypeError, match="footer"):
        append_versioned(_batch(spark, 40, 70), path)
    assert list_versions(path) == [0]
    assert read_versioned(spark, path).count() == 40


def test_duplicate_version_commit_rejected(spark, tmp_path):
    import xarray_dataaccessor_spark.sinks.versioned as V

    path = str(tmp_path / "ds")
    write_versioned(_batch(spark, 0, 10), path)
    with pytest.raises(ValueError, match="already committed"):
        V._commit(path, 0, [], "append", None, "struct<id:bigint>")


def test_data_skipping_prunes_files_and_stays_exact(spark, tmp_path):
    """Manifest min/max stats skip files whose range cannot match;
    results equal a plain filter (stats prune files, never rows)."""
    import json

    import xarray_dataaccessor_spark.sinks.versioned as V

    path = str(tmp_path / "ds")
    # three appends with DISJOINT id ranges -> prunable files
    write_versioned(spark.range(0, 100, 1, 2).selectExpr("id"), path)
    append_versioned(spark.range(100, 200, 1, 2).selectExpr("id"), path)
    append_versioned(spark.range(200, 300, 1, 2).selectExpr("id"), path)
    m = V._read_manifest(path, 2)
    assert all("stats" in f and "id" in f["stats"]["columns"]
               for f in m["files"])
    got = read_versioned(spark, path, where=("id", 120, 180))
    rows = sorted(r["id"] for r in got.collect())
    assert rows == list(range(120, 181))
    # the pruned plan reads only the middle version's files
    read_files = {f.rsplit("/", 1)[-1] for f in got.inputFiles()}
    assert all(name.startswith("part-000001-") for name in read_files), read_files
    # one-sided ranges
    assert read_versioned(spark, path, where=("id", None, 50)).count() == 51
    assert read_versioned(spark, path, where=("id", 250, None)).count() == 50
    # fully out-of-range -> empty, schema intact
    empty = read_versioned(spark, path, where=("id", 999, 2000))
    assert empty.count() == 0 and empty.columns == ["id"]


def test_data_skipping_keeps_statless_files(spark, tmp_path):
    """Files without stats for the predicate column are always read —
    skipping is an optimization, never a correctness filter."""
    import json

    import xarray_dataaccessor_spark.sinks.versioned as V

    path = str(tmp_path / "ds")
    write_versioned(spark.range(0, 50).selectExpr("id"), path)
    # strip stats from the manifest by hand
    mp = V._manifest_path(path, 0)
    m = json.load(open(mp))
    for f in m["files"]:
        f.pop("stats", None)
    json.dump(m, open(mp, "w"))
    got = read_versioned(spark, path, where=("id", 10, 20))
    assert got.count() == 11


def test_concurrent_appenders_serialize_no_lost_files(spark, tmp_path):
    """Two writers race the same parent: the hard-link commit lets
    exactly one win each version; the loser rebases (their files + its
    own) — both versions publish, no file lost, no data rewritten."""
    import xarray_dataaccessor_spark.sinks.versioned as V

    path = str(tmp_path / "race")
    write_versioned(_batch(spark, 0, 50), path)

    # deterministic interleaving: both writers land against parent 0,
    # then commit in sequence (B's first attempt must conflict)
    pm = V._read_manifest(path, 0)
    files_a = V._land_files(_batch(spark, 50, 80), path, 1)
    files_b = V._land_files(_batch(spark, 80, 120), path, 1)
    V._commit(path, 1, pm["files"] + files_a, "append", 0, pm["schema"])
    with pytest.raises(V.VersionConflict):
        V._commit(path, 1, pm["files"] + files_b, "append", 0, pm["schema"])
    # the optimistic loop does the rebase for real callers:
    m2 = append_versioned(_batch(spark, 120, 200), path)
    assert m2["version"] == 2
    latest = {r["id"] for r in read_versioned(spark, path).collect()}
    assert latest == set(range(0, 80)) | set(range(120, 200))
    # B's landed files are orphans on disk, referenced by no manifest
    names = {f["name"] for v in list_versions(path)
             for f in V._read_manifest(path, v)["files"]}
    assert all(f["name"] not in names for f in files_b)


def test_threaded_appenders_all_commit(spark, tmp_path):
    """N true concurrent appenders: every batch ends up in the final
    snapshot exactly once (the race test the retry loop exists for)."""
    import threading

    path = str(tmp_path / "threads")
    write_versioned(_batch(spark, 0, 10), path)
    errs = []

    def work(i):
        try:
            append_versioned(_batch(spark, 100 * (i + 1), 100 * (i + 1) + 10), path)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert list_versions(path) == [0, 1, 2, 3, 4]
    got = sorted(r["id"] for r in read_versioned(spark, path).collect())
    want = sorted(list(range(10)) + [100 * (i + 1) + j
                                     for i in range(4) for j in range(10)])
    assert got == want


# ---------------------------------------------------------------------------
# Copy-on-write deletes + tombstone manifests (round 10)
# ---------------------------------------------------------------------------
def test_delete_rows_and_time_travel_across_delete(spark, tmp_path):
    from xarray_dataaccessor_spark.sinks.versioned import delete_versioned

    path = str(tmp_path / "del")
    write_versioned(_batch(spark, 0, 100), path)
    append_versioned(_batch(spark, 100, 200), path)
    m = delete_versioned(spark, path, ("id", 50, 149))
    assert m["op"] == "delete" and m["version"] == 2
    got = sorted(r["id"] for r in read_versioned(spark, path).collect())
    assert got == list(range(50)) + list(range(150, 200))
    # time travel ACROSS the delete: v1 still sees every pre-delete row
    old = sorted(r["id"] for r in read_versioned(spark, path, version=1).collect())
    assert old == list(range(200))
    # tombstones recorded; replaced files still on disk (older snapshots)
    assert m["removed"], "delete must record the replaced files"
    for name in m["removed"]:
        assert os.path.exists(os.path.join(path, "data", name))


def test_delete_is_stats_scoped_rewrite(spark, tmp_path):
    """Files whose footer range cannot intersect the predicate are
    carried forward BY NAME — the rewrite cost scales with selectivity."""
    import xarray_dataaccessor_spark.sinks.versioned as V
    from xarray_dataaccessor_spark.sinks.versioned import delete_versioned

    path = str(tmp_path / "scoped")
    # two appends with disjoint id ranges -> disjoint file stats
    write_versioned(_batch(spark, 0, 100), path)
    append_versioned(_batch(spark, 1000, 1100), path)
    before = V._read_manifest(path, 1)["files"]
    low_files = {f["name"] for f in before
                 if f["stats"]["columns"]["id"]["max"] < 1000}
    m = delete_versioned(spark, path, ("id", 1000, None))
    after = {f["name"] for f in m["files"]}
    # every low-range file survives untouched, no high-range file does
    assert low_files <= after
    assert all(n in m["removed"] for f in before
               for n in [f["name"]] if f["name"] not in low_files)
    got = sorted(r["id"] for r in read_versioned(spark, path).collect())
    assert got == list(range(100))


def test_delete_keeps_null_rows(spark, tmp_path):
    from xarray_dataaccessor_spark.sinks.versioned import delete_versioned

    path = str(tmp_path / "nulls")
    df = spark.range(0, 10, 1, 2).select(
        F.when(F.col("id") < 5, F.col("id")).alias("id"),
        (F.col("id") % 7).alias("k"),
    )
    write_versioned(df, path)
    delete_versioned(spark, path, ("id", 0, 2))
    rows = read_versioned(spark, path).collect()
    ids = sorted((r["id"] for r in rows), key=lambda v: (v is None, v))
    # a range predicate never matches NULL -> the 5 null-id rows survive
    assert ids == [3, 4, None, None, None, None, None]


def test_vacuum_respects_tombstone_horizon(spark, tmp_path):
    from xarray_dataaccessor_spark.sinks.versioned import delete_versioned

    path = str(tmp_path / "vac")
    write_versioned(_batch(spark, 0, 100), path)
    m = delete_versioned(spark, path, ("id", 0, 49))
    # keep both versions: tombstoned files must STAY (v0 references them)
    assert vacuum(path, keep_versions=2) == []
    for name in m["removed"]:
        assert os.path.exists(os.path.join(path, "data", name))
    # let v0 go: now (and only now) the tombstoned files are reaped
    deleted = vacuum(path, keep_versions=1)
    assert set(deleted) == set(m["removed"])
    got = sorted(r["id"] for r in read_versioned(spark, path).collect())
    assert got == list(range(50, 100))


def test_delete_conflict_raises_not_rebases(spark, tmp_path, monkeypatch):
    import xarray_dataaccessor_spark.sinks.versioned as V
    from xarray_dataaccessor_spark.sinks.versioned import delete_versioned

    path = str(tmp_path / "race")
    write_versioned(_batch(spark, 0, 100), path)
    real_land = V._land_files
    raced = []

    def racing_land(df, p, version):
        files = real_land(df, p, version)
        if not raced:  # fire once: the append below re-enters _land_files
            raced.append(True)
            # another writer wins the commit while our delete is landing
            append_versioned(_batch(spark, 500, 510), path)
        return files

    landed_names = []

    def racing_land2(df, p, version):
        outer = not raced  # the delete's own landing, not the winner's
        files = racing_land(df, p, version)
        if outer:
            landed_names.extend(f["name"] for f in files)
        return files

    monkeypatch.setattr(V, "_land_files", racing_land2)
    with pytest.raises(V.VersionConflict):
        delete_versioned(spark, path, ("id", 0, 10))
    # the rewritten files the losing delete landed are referenced by no
    # manifest; they must be reaped on conflict, not orphaned forever
    assert landed_names
    for name in landed_names:
        assert not os.path.exists(os.path.join(path, "data", name))
    # winner's data intact
    got = sorted(r["id"] for r in read_versioned(spark, path).collect())
    assert got == list(range(100)) + list(range(500, 510))


def test_delete_rejects_unbounded_range(spark, tmp_path):
    from xarray_dataaccessor_spark.sinks.versioned import delete_versioned

    path = str(tmp_path / "unb")
    write_versioned(_batch(spark, 0, 10), path)
    with pytest.raises(ValueError, match="at least one bound"):
        delete_versioned(spark, path, ("id", None, None))
    # nothing committed, nothing landed
    assert list_versions(path) == [0]


def test_add_column_null_fills_and_time_travels(spark, tmp_path):
    from xarray_dataaccessor_spark.sinks.versioned import (
        add_column_versioned,
    )

    path = str(tmp_path / "addcol")
    write_versioned(_batch(spark, 0, 50), path)
    m = add_column_versioned(path, "score", "double")
    assert m["op"] == "add_column" and m["version"] == 1
    assert m["added_column"] == {"name": "score", "type": "double"}
    # zero I/O: the file set is the parent's, by name
    import xarray_dataaccessor_spark.sinks.versioned as V
    assert m["files"] == V._read_manifest(path, 0)["files"]
    # pre-add files NULL-fill the new column
    cur = read_versioned(spark, path)
    assert "score" in cur.columns
    assert cur.filter(F.col("score").isNotNull()).count() == 0
    assert cur.count() == 50
    # time travel to the pre-add version: the column does not exist
    old = read_versioned(spark, path, version=0)
    assert "score" not in old.columns
    # duplicate add rejected
    with pytest.raises(ValueError, match="already exists"):
        add_column_versioned(path, "score", "double")


def test_append_after_add_column_requires_widened_schema(spark, tmp_path):
    from xarray_dataaccessor_spark.sinks.versioned import (
        add_column_versioned,
    )

    path = str(tmp_path / "addcol2")
    write_versioned(_batch(spark, 0, 20), path)
    add_column_versioned(path, "score", "double")
    # old-shape appends are now schema mismatches
    with pytest.raises(ValueError, match="schema mismatch"):
        append_versioned(_batch(spark, 20, 30), path)
    widened = _batch(spark, 20, 30).withColumn(
        "score", F.col("id").cast("double") / 10
    )
    m = append_versioned(widened, path)
    assert m["version"] == 2
    cur = read_versioned(spark, path)
    assert cur.count() == 30
    # mixed files: pre-add rows NULL, post-add rows real values
    assert cur.filter(F.col("score").isNotNull()).count() == 10
    got = {r["id"]: r["score"] for r in cur.collect()}
    assert got[25] == pytest.approx(2.5) and got[5] is None


def test_delete_and_stats_pruning_across_add_column(spark, tmp_path):
    """Stats pruning stays CORRECT (conservative) across an add: pre-add
    files have no footer stats for the new column so they are read, not
    wrongly pruned; a delete on the new column keeps all pre-add rows
    (NULL never matches a range) and rewrites only what stats demand."""
    from xarray_dataaccessor_spark.sinks.versioned import (
        add_column_versioned,
        delete_versioned,
    )

    path = str(tmp_path / "addcol3")
    write_versioned(_batch(spark, 0, 40), path)
    add_column_versioned(path, "score", "double")
    widened = _batch(spark, 100, 140).withColumn(
        "score", F.col("id").cast("double")
    )
    append_versioned(widened, path)
    # where= pruning on the new column still returns exact results
    got = read_versioned(spark, path, where=("score", 120.0, None))
    assert sorted(r["id"] for r in got.collect()) == list(range(120, 140))
    m = delete_versioned(spark, path, ("score", 0.0, 119.0))
    rows = read_versioned(spark, path).collect()
    ids = sorted(r["id"] for r in rows)
    # all 40 NULL-score (pre-add) rows kept + the 20 surviving scored rows
    assert ids == list(range(40)) + list(range(120, 140))
    assert m["op"] == "delete"


def test_add_column_race_raises_cleanly(spark, tmp_path, monkeypatch):
    import xarray_dataaccessor_spark.sinks.versioned as V
    from xarray_dataaccessor_spark.sinks.versioned import (
        add_column_versioned,
    )

    path = str(tmp_path / "addrace")
    write_versioned(_batch(spark, 0, 10), path)
    real_read = V._read_manifest

    raced = []

    def racing_read(p, version):
        pm = real_read(p, version)
        if not raced:
            raced.append(True)
            append_versioned(_batch(spark, 10, 20), path)
        return pm

    monkeypatch.setattr(V, "_read_manifest", racing_read)
    with pytest.raises(V.VersionConflict):
        add_column_versioned(path, "score", "double")
    # nothing landed, nothing orphaned; the winner's commit is intact
    assert list_versions(path) == [0, 1]
    assert read_versioned(spark, path).count() == 20


def test_top_level_field_split_handles_nested_types():
    from xarray_dataaccessor_spark.sinks.versioned import _top_level_fields

    body = "a:bigint,b:struct<x:int,y:map<string,int>>,c:array<float>"
    assert _top_level_fields(body) == [
        "a:bigint", "b:struct<x:int,y:map<string,int>>", "c:array<float>"
    ]
