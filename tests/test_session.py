"""Session factory guards that need no JVM: the driver heap the factory
asks for, and the by-value shipping helper."""

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
