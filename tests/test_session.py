"""Session helpers: the driver heap the factory asks for, the by-value
shipping helper, the one-mechanism guard (no JVM for those three), and
``local_frame``'s row contract."""

from __future__ import annotations

import pytest

from xarray_dataaccessor_spark import session


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return kb / 1024


def _to_mb(size: str) -> float:
    return float(size[:-1]) * session._UNIT_MB[size[-1]]


@pytest.mark.parametrize("requested", [None, "1g", "24g", "48g", "4096m", "2t"])
def test_driver_heap_never_exceeds_host_memory(monkeypatch, requested):
    """A hard-coded 24g heap is pre-touched at JVM start and kills the
    launch on a smaller host; whatever the caller asks for, the heap the
    factory requests fits in the host's memory."""
    if requested is None:
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEM", requested)
    assert _to_mb(session._driver_mem()) <= _mem_total_mb()


def test_requested_heap_capped_at_share_of_available(monkeypatch):
    monkeypatch.setattr(session, "_mem_available_gib", lambda: 15.0)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "24g")
    assert session._driver_mem() == f"{int(15 * 1024 * session._HEAP_CAP_SHARE)}m"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "8g")
    assert session._driver_mem() == "8g"  # fits: passed through unchanged


def test_ship_by_value_raises_on_non_module():
    import xarray_dataaccessor_spark.sources.blosc as blosc

    session.ship_by_value(blosc)
    with pytest.raises(ValueError):
        session.ship_by_value("xarray_dataaccessor_spark.sources.blosc")


def test_create_dataframe_only_in_local_frame():
    """Every driver-built table goes through ``session.local_frame``: a
    ``createDataFrame`` call over a Python list plans a Python RDD whose
    every read is a Spark job, so no other package module may call it."""
    import ast
    from pathlib import Path

    import xarray_dataaccessor_spark as pkg

    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        offenders += [
            f"{path.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and node.attr == "createDataFrame"
            and not (path.name == "session.py" and id(node) in allowed)
        ]
    assert offenders == []


def test_local_frame_row_contract(spark):
    import datetime as dt
    import math

    df = session.local_frame(
        spark,
        [
            (1.5, dt.datetime(2020, 1, 1, 6, tzinfo=dt.timezone.utc), [1.0, None], "a"),
            (float("nan"), None, [], None),
            (None, dt.datetime(2020, 1, 2, tzinfo=dt.timezone.utc), None, "c"),
        ],
        "v double, t timestamp, arr array<double>, s string",
    )
    assert df.schema.simpleString() == "struct<v:double,t:timestamp,arr:array<double>,s:string>"
    assert "LocalRelation" in df._jdf.queryExecution().analyzed().toString()
    rows = df.collect()
    assert rows[0].v == 1.5 and math.isnan(rows[1].v) and rows[2].v is None
    assert df.filter("v IS NULL").count() == 1 and df.filter("isnan(v)").count() == 1
    assert rows[0].arr == [1.0, None] and rows[1].arr == [] and rows[2].arr is None
    assert rows[1].s is None and rows[1].t is None
    # the timestamp is the UTC instant handed in
    epochs = df.selectExpr("unix_seconds(t) AS e").collect()
    assert [r.e for r in epochs] == [1577858400, None, 1577923200]

    empty = session.local_frame(spark, [], "zone_id int, rings array<array<array<double>>>")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<zone_id:int,rings:array<array<array<double>>>>"
