"""Temporal resampling: downsample-aggregate, upsample-interpolate, fill.

Reference surface (``temporal_resample``, ``core_functions.py:350-406``):

- ``resample_frequency`` is a pandas offset alias ('T', 'H', 'D', '15T', ...)
- aggregate methods: ``all any ffill first bfill last max mean median min
  sum`` (``AggregationMethods``, ``shared_types.py:31-43``)
- interpolation methods: ``linear nearest zero slinear quadratic cubic``
  (``Interp1dOptions``; 'polynomial' explicitly rejected,
  ``core_functions.py:377-380``)
- custom callables via ``resample().apply(f)`` (``core_functions.py:406``)

Spark design:

- **Downsample** = ``groupBy(window(time, freq), *grid_keys).agg(...)`` —
  one shuffle, map-side partial aggregation, no Python.
- **Upsample** = dense time spine (``sequence`` + ``explode``) left-joined
  to observations, then per-grid-cell as-of window functions (``last
  ignorenulls`` over preceding / ``first`` over following) and a linear
  lerp on epoch seconds — all JVM-side. ``quadratic``/``cubic`` drop to an
  Arrow-batched ``applyInPandas`` spline per grid cell (the only part of
  this family Spark built-ins can't express).
- xarray interpolation never extrapolates; rows outside a variable's
  observed support stay NULL.

Scale note: the spine cross-join is |spine| x |cells| rows, generated
(not shuffled) and joined against observations shuffled once on
``(cell, time)``. At 100 TB the observation side dominates; the window
functions run within the same hash partitioning, so the whole upsample is
a single exchange. Window alignment follows Spark's epoch-aligned
tumbling windows (same boundaries as pandas' default 'start_day' origin
for whole-hour/day frequencies).
"""

from __future__ import annotations

import re
from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xarray_dataaccessor_spark.functions.datetime_fns import epoch_micros

AGGREGATION_METHODS = (
    "all",
    "any",
    "ffill",
    "first",
    "bfill",
    "last",
    "max",
    "mean",
    "median",
    "min",
    "sum",
)
INTERP_METHODS = ("linear", "nearest", "zero", "slinear", "quadratic", "cubic", "catmull")

_PANDAS_ALIAS = {
    "T": "minute",
    "MIN": "minute",
    "S": "second",
    "H": "hour",
    "D": "day",
    "W": "week",
}


def freq_to_interval(freq: str) -> str:
    """Translate a pandas offset alias ('T', '15T', '1H', 'D', '30min')
    to a Spark interval string ('1 minute', '15 minutes', ...)."""
    m = re.fullmatch(r"(\d*)\s*([A-Za-z]+)", freq.strip())
    if not m:
        raise ValueError(f"Unsupported resample frequency: {freq!r}")
    n = int(m.group(1) or 1)
    unit_key = m.group(2).upper()
    unit = _PANDAS_ALIAS.get(unit_key)
    if unit is None:
        # already Spark-style ('hour', 'minutes', ...)
        unit = m.group(2).lower().rstrip("s")
        if unit not in ("second", "minute", "hour", "day", "week"):
            raise ValueError(f"Unsupported resample frequency: {freq!r}")
    return f"{n} {unit}" if n == 1 else f"{n} {unit}s"


def agg_expr(method: str, col_name: str, time_col: str = "time") -> Column:
    """One aggregation method -> a deterministic Spark Column.

    ``first``/``last`` are made order-deterministic with ``min_by/max_by``
    on ``time_col`` (the reference's are time-ordered by construction).
    ``all``/``any`` follow numpy truthiness (non-zero == True).
    ``median`` is the exact percentile, matching DuckDB's ``median``.
    """
    c = F.col(col_name)
    if method == "max":
        return F.max(c)
    if method == "min":
        return F.min(c)
    if method == "mean":
        return F.avg(c)
    if method == "sum":
        return F.sum(c)
    if method == "median":
        return F.median(c)
    if method == "first":
        return F.min_by(c, F.col(time_col))
    if method == "last":
        return F.max_by(c, F.col(time_col))
    if method == "all":
        return F.bool_and(c != 0)
    if method == "any":
        return F.bool_or(c != 0)
    raise ValueError(f"Unsupported aggregation method: {method!r}")


def resample_aggregate(
    df: DataFrame,
    freq: str,
    method: str,
    value_cols: Sequence[str] | None = None,
    time_col: str = "time",
    group_cols: Sequence[str] = ("y", "x"),
) -> DataFrame:
    """A1 downsample: tumbling-window aggregate per grid cell.

    Reference dispatch ``getattr(ds.resample(time=freq), method)()``
    (``core_functions.py:383-404``). ``ffill``/``bfill`` are upsampling
    semantics in the reference's enum and are routed to
    :func:`resample_fill`.
    """
    if method in ("ffill", "bfill"):
        return resample_fill(df, freq, method, value_cols, time_col, group_cols)
    value_cols = value_cols or _value_columns(df, time_col, group_cols)
    aggs = [agg_expr(method, v, time_col).alias(v) for v in value_cols]
    return _bucket_aggregate(df, freq, aggs, value_cols, time_col, group_cols)


def _bucket_aggregate(df, freq, aggs, value_cols, time_col, group_cols):
    """Aggregate ``aggs`` per (time bucket, cell): the one bucketing of
    the downsampling resamplers. Calendar periods bucket with
    :func:`_calendar_window`, tick and week frequencies with
    :func:`_anchored_window`; the output is labeled per pandas."""
    groups = [c for c in group_cols if c in df.columns]
    bucket, label = _calendar_window(freq, time_col) or _anchored_window(
        df, freq, freq_to_interval(freq), time_col
    )
    return (
        df.groupBy(bucket.alias("__w"), *groups)
        .agg(*aggs)
        .select(label.alias(time_col), *groups, *value_cols)
    )


# calendar-period aliases are CASE-SENSITIVE like pandas ('M' month vs
# 'min' minute); label side per pandas: plain/'E' aliases label the period
# END (last day at midnight), 'S' aliases the period start.
_CALENDAR_ALIASES = {
    "M": ("month", "end"),
    "ME": ("month", "end"),
    "MS": ("month", "start"),
    "Q": ("quarter", "end"),
    "QE": ("quarter", "end"),
    "QS": ("quarter", "start"),
    "Y": ("year", "end"),
    "A": ("year", "end"),
    "YE": ("year", "end"),
    "YS": ("year", "start"),
    "AS": ("year", "start"),
}
_CALENDAR_END_MONTHS = {"month": 0, "quarter": 2, "year": 11}


def _calendar_window(freq: str, time_col: str):
    """Calendar-period bucketing ('M'/'MS'/'Q'/'QS'/'Y'/'YS' + 'ME' etc.)
    — variable-length periods ``F.window`` cannot express. The bucket is
    ``date_trunc(period, time)`` (exactly what a SQL oracle computes);
    the label is the period start or its last day at midnight, matching
    pandas resample labels. Returns None for tick/week frequencies
    (handled by :func:`_anchored_window`)."""
    m = re.fullmatch(r"(\d*)\s*([A-Za-z]+)", freq.strip())
    if not m or m.group(2) not in _CALENDAR_ALIASES:
        return None
    n = int(m.group(1) or 1)
    unit, side = _CALENDAR_ALIASES[m.group(2)]
    if n != 1:
        raise ValueError(
            f"Multi-period calendar resampling ({freq!r}) is not supported; "
            "use '1M'/'1Q'/'1Y' or tick/week frequencies."
        )
    bucket = F.date_trunc(unit, F.col(time_col))
    if side == "start":
        label = F.col("__w")
    else:
        label = F.last_day(
            F.add_months(F.col("__w"), _CALENDAR_END_MONTHS[unit])
        ).cast("timestamp")
    return bucket, label


def _anchored_window(df: DataFrame, freq: str, interval: str, time_col: str):
    """Tumbling window anchored to pandas/xarray resample semantics.

    ``F.window`` is epoch-aligned (1970-01-01, a Thursday), which silently
    produces wrong buckets for weekly and multi-day frequencies:

    - pandas ``'W'`` (W-SUN) bins run Monday 00:00 -> next Monday
      (left-closed) and are labeled with the SUNDAY inside the bin
      (right label). Epoch+4 days = 1970-01-05, a Monday, so a 4-day
      ``startTime`` anchors the 7-day windows to Mondays; the label is
      ``start + 6 days``.
    - pandas ``'ND'`` uses ``origin='start_day'``: bins start at midnight
      of the data's first day, labeled left. The anchor needs the data's
      min timestamp — one scalar aggregate job (driver receives a single
      value).

    Everything at day granularity or finer divides the day evenly, so
    epoch alignment is already correct there.
    """
    n_str, unit = re.fullmatch(r"(\d*)\s*([A-Za-z]+)", freq.strip()).groups()
    n = int(n_str or 1)
    unit = _PANDAS_ALIAS.get(unit.upper()) or unit.lower().rstrip("s")
    if unit == "week":
        if n == 1:
            win = F.window(time_col, "7 days", "7 days", "4 days")
            return win, F.col("__w.start") + F.expr("INTERVAL 6 DAYS")
        # pandas 'NW' (N>1, W-SUN): 7N-day bins on the weekly Monday grid,
        # anchored so the FIRST bin ENDS at the Sunday closing the week
        # that contains the data's min timestamp — i.e. the grid starts
        # 7(N-1) days before that week's Monday (verified against pandas
        # resample('2W')/('3W')). Needs the data's min timestamp — one
        # scalar aggregate, same as the 'ND' origin='start_day' path.
        tmin = df.agg(F.min(time_col)).first()[0]
        if tmin is None:
            return F.window(time_col, interval), F.col("__w.start")
        import datetime as _dt

        anchor = tmin.date() - _dt.timedelta(
            days=tmin.date().weekday() + 7 * (n - 1)
        )
        offset_days = (anchor - _dt.date(1970, 1, 1)).days % (7 * n)
        win = F.window(time_col, f"{7 * n} days", f"{7 * n} days", f"{offset_days} days")
        return win, F.col("__w.start") + F.expr(f"INTERVAL {7 * n - 1} DAYS")
    if unit == "day" and n > 1:
        tmin = df.agg(F.min(time_col)).first()[0]
        if tmin is None:
            return F.window(time_col, interval), F.col("__w.start")
        import datetime as _dt

        day0 = _dt.date(1970, 1, 1)
        offset_days = (tmin.date() - day0).days % n
        win = F.window(time_col, interval, interval, f"{offset_days} days")
        return win, F.col("__w.start")
    return F.window(time_col, interval), F.col("__w.start")


def time_spine(
    df: DataFrame,
    interval: str,
    time_col: str = "time",
    group_cols: Sequence[str] = ("y", "x"),
) -> DataFrame:
    """Dense inclusive time spine from min to max observed time, crossed
    with the distinct grid cells. 73 hourly points -> 4321 minutely points
    (``test_3_era5_manipulations.py:105-117``)."""
    bounds = df.select(
        F.min(time_col).alias("__tmin"), F.max(time_col).alias("__tmax")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("__tmin"), F.col("__tmax"), F.expr(f"INTERVAL {interval}"))
        ).alias(time_col)
    )
    groups = [c for c in group_cols if c in df.columns]
    if groups:
        cells = df.select(*groups).distinct()
        spine = spine.crossJoin(cells)
    return spine


def _value_columns(df, time_col, group_cols):
    return [c for c in df.columns if c != time_col and c not in group_cols]


def _with_asof_neighbors(joined, value_cols, time_col, groups, extended=False):
    """Attach prev/next observation value + epoch for each value column
    via as-of windows (one hash partitioning; the window specs share the
    partitioning and ordering, so Spark reuses one sort). With
    ``extended``, also attach the SECOND previous / second next
    observation (the p0/p3 anchors Catmull-Rom tangents need): each
    observation row first records its own strictly-before/after
    neighbor, then the as-of pass carries that to every spine row."""
    base = (
        Window.partitionBy(*groups).orderBy(time_col)
        if groups
        else Window.orderBy(time_col)
    )
    wprev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wnext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    epoch = (epoch_micros(F.col(time_col)) / F.lit(1_000_000.0)).alias("__t")
    out = joined.withColumn("__t", epoch)
    for v in value_cols:
        obs_t = F.when(F.col(v).isNotNull(), F.col("__t"))
        out = (
            out.withColumn(f"__pv_{v}", F.last(v, ignorenulls=True).over(wprev))
            .withColumn(f"__pt_{v}", F.last(obs_t, ignorenulls=True).over(wprev))
            .withColumn(f"__nv_{v}", F.first(v, ignorenulls=True).over(wnext))
            .withColumn(f"__nt_{v}", F.first(obs_t, ignorenulls=True).over(wnext))
        )
        if extended:
            wprev_x = base.rowsBetween(Window.unboundedPreceding, -1)
            wnext_x = base.rowsBetween(1, Window.unboundedFollowing)
            on_obs = F.col(v).isNotNull()
            out = (
                out.withColumn(
                    f"__opv_{v}",
                    F.when(on_obs, F.last(v, ignorenulls=True).over(wprev_x)),
                )
                .withColumn(
                    f"__opt_{v}",
                    F.when(on_obs, F.last(obs_t, ignorenulls=True).over(wprev_x)),
                )
                .withColumn(
                    f"__onv_{v}",
                    F.when(on_obs, F.first(v, ignorenulls=True).over(wnext_x)),
                )
                .withColumn(
                    f"__ont_{v}",
                    F.when(on_obs, F.first(obs_t, ignorenulls=True).over(wnext_x)),
                )
                .withColumn(
                    f"__ppv_{v}", F.last(f"__opv_{v}", ignorenulls=True).over(wprev)
                )
                .withColumn(
                    f"__ppt_{v}", F.last(f"__opt_{v}", ignorenulls=True).over(wprev)
                )
                .withColumn(
                    f"__nnv_{v}", F.first(f"__onv_{v}", ignorenulls=True).over(wnext)
                )
                .withColumn(
                    f"__nnt_{v}", F.first(f"__ont_{v}", ignorenulls=True).over(wnext)
                )
            )
    return out


def _interp_expr(method: str, v: str) -> Column:
    """Combine prev/next neighbors into the interpolated value."""
    pv, pt = F.col(f"__pv_{v}"), F.col(f"__pt_{v}")
    nv, nt = F.col(f"__nv_{v}"), F.col(f"__nt_{v}")
    t = F.col("__t")
    if method in ("linear", "slinear"):
        lerp = pv + (nv - pv) * (t - pt) / (nt - pt)
        return (
            F.when(pt == nt, pv)
            .when(pt.isNotNull() & nt.isNotNull(), lerp)
            .otherwise(F.lit(None))
        )
    if method == "nearest":
        # scipy interp1d(kind='nearest') rounds half toward the left point.
        return (
            F.when(pt.isNull(), nv)
            .when(nt.isNull(), pv)
            .when((t - pt) <= (nt - t), pv)
            .otherwise(nv)
        )
    if method in ("zero", "ffill"):
        return pv if method == "ffill" else F.when(nt.isNotNull(), pv)
    if method == "bfill":
        return nv
    if method == "catmull":
        # cubic Hermite with Catmull-Rom tangents on the non-uniform
        # knot grid: m1 = (p2-p0)/(t2-t0), m2 = (p3-p1)/(t3-t1) with
        # one-sided secants at the series edges. Closed-form per
        # segment (no tridiagonal solve), so it stays a pure column
        # expression — the scale path for smooth upsampling; the global
        # natural spline remains the applyInPandas 'cubic'.
        ppv, ppt = F.col(f"__ppv_{v}"), F.col(f"__ppt_{v}")
        nnv, nnt = F.col(f"__nnv_{v}"), F.col(f"__nnt_{v}")
        d = nt - pt
        s = (t - pt) / d
        h00 = s * s * (F.lit(2.0) * s - F.lit(3.0)) + F.lit(1.0)
        h10 = s * (s * (s - F.lit(2.0)) + F.lit(1.0))
        h01 = s * s * (F.lit(3.0) - F.lit(2.0) * s)
        h11 = s * s * (s - F.lit(1.0))
        m1 = F.when(ppt.isNotNull(), (nv - ppv) / (nt - ppt)).otherwise(
            (nv - pv) / (nt - pt)
        )
        m2 = F.when(nnt.isNotNull(), (nnv - pv) / (nnt - pt)).otherwise(
            (nv - pv) / (nt - pt)
        )
        val = h00 * pv + h10 * d * m1 + h01 * nv + h11 * d * m2
        return (
            F.when(pt == nt, pv)
            .when(pt.isNotNull() & nt.isNotNull(), val)
            .otherwise(F.lit(None))
        )
    raise ValueError(f"Unsupported interpolation method: {method!r}")


def _multi_method_projection(methods: Sequence[str], value_cols: Sequence[str]):
    """One output column per (value, method) pair. A single method keeps
    the plain value-column names; several methods suffix ``_{method}`` —
    all share ONE neighbor-enrichment pass (one window sort), so asking
    for ffill+bfill or linear+nearest together costs the same shuffle as
    asking for one."""
    if len(methods) == 1:
        return [
            _interp_expr(methods[0], v).cast("double").alias(v)
            for v in value_cols
        ]
    return [
        _interp_expr(m, v).cast("double").alias(f"{v}_{m}")
        for v in value_cols
        for m in methods
    ]


def resample_interpolate(
    df: DataFrame,
    freq: str,
    method: str | Sequence[str] = "linear",
    value_cols: Sequence[str] | None = None,
    time_col: str = "time",
    group_cols: Sequence[str] = ("y", "x"),
) -> DataFrame:
    """W1 upsample: dense spine + as-of windows + lerp (linear/nearest/
    zero/slinear) or numpy cubic spline via applyInPandas (quadratic/
    cubic). Reference: ``resample(time=freq).interpolate(method)``
    (``core_functions.py:401-402``). ``method`` may be a sequence of
    non-spline methods, producing ``{value}_{method}`` columns from a
    single spine + neighbor pass."""
    methods = [method] if isinstance(method, str) else list(method)
    for m in methods:
        if m == "polynomial":
            # mirrored guard: core_functions.py:377-380
            raise ValueError("polynomial interpolation is not supported")
        if m not in INTERP_METHODS:
            raise ValueError(f"Unsupported interpolation method: {m!r}")
    if any(m in ("quadratic", "cubic") for m in methods):
        if len(methods) > 1:
            raise ValueError("spline methods cannot be combined with others")
        return _interpolate_spline(df, freq, methods[0], value_cols, time_col, group_cols)
    interval = freq_to_interval(freq)
    value_cols = value_cols or _value_columns(df, time_col, group_cols)
    groups = [c for c in group_cols if c in df.columns]
    spine = time_spine(df, interval, time_col, group_cols)
    joined = spine.join(df, on=[time_col, *groups], how="left")
    enriched = _with_asof_neighbors(
        joined, value_cols, time_col, groups,
        extended="catmull" in methods,
    )
    return enriched.select(
        time_col, *groups, *_multi_method_projection(methods, value_cols)
    )


def resample_fill(
    df: DataFrame,
    freq: str,
    method: str | Sequence[str],
    value_cols: Sequence[str] | None = None,
    time_col: str = "time",
    group_cols: Sequence[str] = ("y", "x"),
) -> DataFrame:
    """W2 ffill/bfill across the resampled spine (dispatched from the
    aggregation enum, ``core_functions.py:404``). ``method`` may be
    ``["ffill", "bfill"]`` to compute both directions in one pass."""
    methods = [method] if isinstance(method, str) else list(method)
    assert all(m in ("ffill", "bfill") for m in methods)
    interval = freq_to_interval(freq)
    value_cols = value_cols or _value_columns(df, time_col, group_cols)
    groups = [c for c in group_cols if c in df.columns]
    spine = time_spine(df, interval, time_col, group_cols)
    joined = spine.join(df, on=[time_col, *groups], how="left")
    enriched = _with_asof_neighbors(joined, value_cols, time_col, groups)
    return enriched.select(
        time_col, *groups, *_multi_method_projection(methods, value_cols)
    )


def _natural_cubic_second_derivs(xs, ys):
    """Second derivatives for a natural cubic spline (pure numpy
    tridiagonal solve; scipy is not available in this container)."""
    import numpy as np

    n = len(xs)
    m = np.zeros(n)
    if n < 3:
        return m
    h = np.diff(xs)
    a = np.zeros(n)
    b = np.ones(n)
    c = np.zeros(n)
    d = np.zeros(n)
    for i in range(1, n - 1):
        a[i] = h[i - 1]
        b[i] = 2.0 * (h[i - 1] + h[i])
        c[i] = h[i]
        d[i] = 6.0 * ((ys[i + 1] - ys[i]) / h[i] - (ys[i] - ys[i - 1]) / h[i - 1])
    # Thomas algorithm
    for i in range(1, n):
        if b[i - 1] != 0:
            w = a[i] / b[i - 1]
            b[i] -= w * c[i - 1]
            d[i] -= w * d[i - 1]
    m[n - 1] = d[n - 1] / b[n - 1] if b[n - 1] else 0.0
    for i in range(n - 2, -1, -1):
        m[i] = (d[i] - c[i] * m[i + 1]) / b[i] if b[i] else 0.0
    return m


def _interpolate_spline(df, freq, method, value_cols, time_col, group_cols):
    """Quadratic/cubic interpolation per grid cell via Arrow-batched
    applyInPandas (the [P] escape hatch of SURVEY §2.5 W1)."""
    import pandas as pd  # noqa: F401

    interval = freq_to_interval(freq)
    value_cols = value_cols or _value_columns(df, time_col, group_cols)
    groups = [c for c in group_cols if c in df.columns]
    spine = time_spine(df, interval, time_col, group_cols)
    joined = spine.join(df, on=[time_col, *groups], how="left")

    schema = ", ".join(
        [f"{time_col} timestamp"]
        + [f"{g} {joined.schema[g].dataType.simpleString()}" for g in groups]
        + [f"{v} double" for v in value_cols]
    )

    # workers may lack the package: the closure calls the module's
    # tridiagonal solve, so the module ships by value
    import xarray_dataaccessor_spark.operators.resample as _self
    from xarray_dataaccessor_spark.session import ship_by_value

    ship_by_value(_self)

    def interp_group(pdf):
        import numpy as np

        pdf = pdf.sort_values(time_col).reset_index(drop=True)
        # datetime64[ns] (legacy Arrow) or datetime64[us] (pandas 2 / NTZ)
        t_scale = 1e6 if "[us" in str(pdf[time_col].dtype) else 1e9
        t = pdf[time_col].astype("int64").to_numpy() / t_scale
        for v in value_cols:
            y = pdf[v].to_numpy(dtype="float64")
            mask = ~np.isnan(y)
            xs, ys = t[mask], y[mask]
            out = np.full(len(t), np.nan)
            if len(xs) >= 2:
                inside = (t >= xs[0]) & (t <= xs[-1])
                if method == "cubic" and len(xs) >= 3:
                    m = _natural_cubic_second_derivs(xs, ys)
                    idx = np.clip(np.searchsorted(xs, t[inside]) - 1, 0, len(xs) - 2)
                    x0, x1 = xs[idx], xs[idx + 1]
                    y0, y1 = ys[idx], ys[idx + 1]
                    m0, m1 = m[idx], m[idx + 1]
                    h = x1 - x0
                    tt = t[inside]
                    # explicit products, not **3: x*x*x is a fixed IEEE
                    # op sequence any engine reproduces bit-exactly,
                    # while pow() implementations differ in the last ulp
                    # (this closure is SQL-replayed by the oracle)
                    dx1 = x1 - tt
                    dx0 = tt - x0
                    out[inside] = (
                        m0 * (dx1 * dx1 * dx1) / (6 * h)
                        + m1 * (dx0 * dx0 * dx0) / (6 * h)
                        + (y0 / h - m0 * h / 6) * dx1
                        + (y1 / h - m1 * h / 6) * dx0
                    )
                elif method == "quadratic" and len(xs) >= 3:
                    # piecewise 3-point Lagrange parabola: for t in
                    # [x_i, x_{i+1}], the parabola through the segment's
                    # knots and its left neighbor (right neighbor on the
                    # first segment). Reproduces quadratics exactly;
                    # continuous but (unlike scipy's B-spline) not C1.
                    idx = np.clip(np.searchsorted(xs, t[inside]) - 1, 0, len(xs) - 2)
                    a = np.where(idx == 0, 0, idx - 1)
                    x0, x1, x2 = xs[a], xs[a + 1], xs[a + 2]
                    y0, y1, y2 = ys[a], ys[a + 1], ys[a + 2]
                    tt = t[inside]
                    out[inside] = (
                        y0 * (tt - x1) * (tt - x2) / ((x0 - x1) * (x0 - x2))
                        + y1 * (tt - x0) * (tt - x2) / ((x1 - x0) * (x1 - x2))
                        + y2 * (tt - x0) * (tt - x1) / ((x2 - x0) * (x2 - x1))
                    )
                else:  # too few points for a parabola: linear
                    out[inside] = np.interp(t[inside], xs, ys)
            pdf[v] = out
        return pdf[[time_col, *groups, *value_cols]]

    return joined.groupBy(*groups).applyInPandas(interp_group, schema=schema)


def resample_apply(
    df: DataFrame,
    freq: str,
    fn: Callable,
    value_cols: Sequence[str] | None = None,
    time_col: str = "time",
    group_cols: Sequence[str] = ("y", "x"),
) -> DataFrame:
    """A2 custom-callable resample (``resample_obj.apply(f)``,
    ``core_functions.py:406``; tested with ``np.mean``,
    ``test_3_era5_manipulations.py:119-125``).

    ``fn`` receives a pandas Series per (window, cell) group and returns a
    scalar — the engine's UDAF surface, run as an Arrow-batched grouped
    pandas UDF over the same buckets and labels as
    :func:`resample_aggregate`.
    """
    from pyspark.sql.functions import pandas_udf

    value_cols = value_cols or _value_columns(df, time_col, group_cols)

    # grouped-agg pandas UDF: Arrow ships one column batch per group and
    # the callable returns a scalar — far lighter than a full
    # applyInPandas round-trip building a 1-row frame per group
    @pandas_udf("double")
    def udaf(s: pd.Series) -> float:
        return float(fn(s))

    aggs = [udaf(F.col(v)).alias(v) for v in value_cols]
    return _bucket_aggregate(df, freq, aggs, value_cols, time_col, group_cols)


def temporal_resample(
    df: DataFrame,
    resample_frequency: str,
    agg_method: str | None = None,
    interpolate_method: str | None = None,
    custom_resample_method: Callable | None = None,
    value_cols: Sequence[str] | None = None,
    time_col: str = "time",
    group_cols: Sequence[str] = ("y", "x"),
) -> DataFrame:
    """Public dispatch mirroring ``temporal_resample``
    (``core_functions.py:350-406``): exactly one of aggregate /
    interpolate / custom."""
    chosen = [
        x for x in (agg_method, interpolate_method, custom_resample_method) if x is not None
    ]
    if len(chosen) != 1:
        raise ValueError(
            "Provide exactly one of agg_method, interpolate_method, "
            "custom_resample_method"
        )
    if agg_method is not None:
        if agg_method not in AGGREGATION_METHODS:
            raise ValueError(f"Unsupported aggregation method: {agg_method!r}")
        return resample_aggregate(
            df, resample_frequency, agg_method, value_cols, time_col, group_cols
        )
    if interpolate_method is not None:
        return resample_interpolate(
            df, resample_frequency, interpolate_method, value_cols, time_col, group_cols
        )
    return resample_apply(
        df, resample_frequency, custom_resample_method, value_cols, time_col, group_cols
    )
