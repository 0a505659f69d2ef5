"""The bench harness contract: the one stdout line the driver parses, and
the cold + timed runs of `bench.time_slots`."""

from __future__ import annotations

import json

import bench
import xarray_dataaccessor_spark.queries_ext  # noqa: F401
from xarray_dataaccessor_spark.queries import QUERIES


def test_stdout_line_fits_driver_window():
    """The driver keeps only the last ~2000 chars of stdout: the line for
    every registered slot fits even with five-digit medians, and carries
    exactly the keys it always had."""
    line = bench.stdout_line({name: 99999.99 for name in QUERIES}, 3, 0.1)
    assert len(line) < 2000, len(line)
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "runs_per_slot", "sf"}
    assert set(parsed["queries"]) == set(QUERIES)


def test_time_slots_cold_then_timed(spark, sf_dir):
    res = bench.time_slots(spark, sf_dir, ["pii_scrub", "text_profile"], repeats=2)
    assert res["errors"] == {}
    for name in ("pii_scrub", "text_profile"):
        assert res["cold"][name] >= 0
        assert len(res["runs"][name]) == 2
        assert all(t >= 0 for t in res["runs"][name])
