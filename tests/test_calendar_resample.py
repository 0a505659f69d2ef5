"""Calendar-period resampling ('M'/'MS'/'Q'/'YS', multi-week '2W')
validated directly against pandas ``resample`` — the reference accepts
any pandas offset alias (``core_functions.py:381``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from xarray_dataaccessor_spark.operators.resample import resample_aggregate


def _series():
    idx = pd.date_range("2024-01-03 05:00", periods=160, freq="13h")
    return pd.Series(np.arange(160, dtype="f8") * 1.5, index=idx)


def _spark_resample(spark, s: pd.Series, freq: str, method: str = "sum"):
    pdf = pd.DataFrame({"time": s.index, "v": s.values})
    df = spark.createDataFrame(pdf)
    out = resample_aggregate(df, freq, method, value_cols=["v"], group_cols=())
    rows = out.orderBy("time").collect()
    return {pd.Timestamp(r["time"]): r["v"] for r in rows}


@pytest.mark.parametrize("freq,pandas_freq", [
    ("MS", "MS"), ("M", "ME"), ("QS", "QS"), ("Q", "QE"),
    ("YS", "YS"), ("2W", "2W"), ("3W", "3W"),
])
def test_calendar_and_multiweek_match_pandas(spark, freq, pandas_freq):
    s = _series()
    expected = s.resample(pandas_freq).sum()
    got = _spark_resample(spark, s, freq)
    assert got == {
        ts: pytest.approx(v) for ts, v in expected.items()
    }, f"{freq} buckets diverge from pandas"


def test_mean_and_max_calendar_methods(spark):
    s = _series()
    assert _spark_resample(spark, s, "MS", "mean") == {
        ts: pytest.approx(v) for ts, v in s.resample("MS").mean().items()
    }
    assert _spark_resample(spark, s, "M", "max") == {
        ts: pytest.approx(v) for ts, v in s.resample("ME").max().items()
    }


def test_multi_period_calendar_rejected(spark):
    s = _series()
    with pytest.raises(ValueError, match="Multi-period"):
        _spark_resample(spark, s, "2M")


def test_case_sensitivity_minute_vs_month(spark):
    """'min' stays minutes; 'M' is calendar months (pandas case rules)."""
    idx = pd.date_range("2024-01-01", periods=4, freq="30s")
    s = pd.Series([1.0, 2.0, 3.0, 4.0], index=idx)
    got = _spark_resample(spark, s, "min")
    assert got == {ts: pytest.approx(v) for ts, v in s.resample("min").sum().items()}


@pytest.mark.parametrize("freq", ["1H", "W", "2D", "M"])
def test_resample_apply_buckets_match_aggregate(spark, freq):
    """The custom-callable resample buckets and labels exactly like the
    built-in aggregate: ``np.mean`` through ``resample_apply`` equals
    ``"mean"`` through ``resample_aggregate`` on the golden grid, for
    tick, weekly, multi-day (start-day anchored) and calendar
    frequencies."""
    from tests.grid_fixture import grid_df
    from xarray_dataaccessor_spark.operators.resample import resample_apply

    df = grid_df(spark, with_nulls=False)

    def rows(out):
        return {
            (r["time"], r["y"], r["x"]): (r["t2m"], r["u100"])
            for r in out.collect()
        }

    want = rows(resample_aggregate(df, freq, "mean"))
    got = rows(resample_apply(df, freq, np.mean))
    assert got.keys() == want.keys()
    for k, (t2m, u100) in want.items():
        assert got[k] == (pytest.approx(t2m, rel=1e-12), pytest.approx(u100, rel=1e-12)), k
