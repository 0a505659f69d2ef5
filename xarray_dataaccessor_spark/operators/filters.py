"""Projection / filter / predicate operators (F1-F8, SURVEY §2.2).

All pure DataFrame transformations. Each ``filter`` here compiles to a
Catalyst predicate that reaches the Parquet scan (``PushedFilters`` in
``.explain``), replacing the reference's hand-rolled per-fragment crops
(``shared_functions.py:160-212``).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.functions.datetime_fns import convert_timezone, to_datetime
from xarray_dataaccessor_spark.meta import BoundingBox

KEY_COLUMNS = ("time", "y", "x")


def select_variables(
    df: DataFrame,
    variables: Sequence[str] | None,
    key_columns: Sequence[str] = KEY_COLUMNS,
) -> DataFrame:
    """F1 variable projection: keep key columns + requested variables.

    Reference: per-variable ``drop_vars`` loop (``era5_from_aws.py:263-266``)
    + ``_verify_variables`` warn-don't-fail (``utility_functions.py:285-309``).
    Catalyst turns this into Parquet column pruning (``ReadSchema``).
    """
    keys = [c for c in key_columns if c in df.columns]
    if variables is None:
        variables = [c for c in df.columns if c not in keys and c != "spatial_ref"]
    else:
        variables = [v for v in variables if v in df.columns]
    return df.select(*keys, *variables)


def filter_bbox(
    df: DataFrame,
    bbox: BoundingBox,
    x_col: str = "x",
    y_col: str = "y",
    snap_half_step: float | None = None,
) -> DataFrame:
    """F2 spatial bbox filter, inclusive on the snapped edges.

    The reference snaps bbox edges to the *nearest* grid line before a
    positional slice (``crop_data``, ``shared_functions.py:160-198``) — a
    request edge within half a cell outside the grid still keeps that
    row/column. ``snap_half_step`` (half the axis step) widens the bounds
    to reproduce that; None means plain inclusive between.
    """
    x_lo, x_hi, y_lo, y_hi = _bbox_bounds(bbox, snap_half_step)
    return df.filter(
        F.col(x_col).between(x_lo, x_hi) & F.col(y_col).between(y_lo, y_hi)
    )


def _bbox_bounds(bbox: BoundingBox, snap_half_step: float | None):
    """``(x_lo, x_hi, y_lo, y_hi)``, the inclusive bounds of
    :func:`filter_bbox`."""
    pad = snap_half_step or 0.0
    return bbox.west - pad, bbox.east + pad, bbox.south - pad, bbox.north + pad


def bbox_axes(
    xs: Sequence[float], ys: Sequence[float], bbox: BoundingBox
) -> tuple[list[float], list[float]]:
    """The axes of what ``filter_bbox(df, bbox)`` keeps of a dense grid
    with axes ``xs``, ``ys``: its inclusive comparisons on the same
    doubles, run on the driver. A dense grid keeps a cell exactly when
    it keeps the cell's x and its y, so one empty axis empties both."""
    x_lo, x_hi, y_lo, y_hi = _bbox_bounds(bbox, None)
    kept_x = [v for v in xs if x_lo <= v <= x_hi]
    kept_y = [v for v in ys if y_lo <= v <= y_hi]
    return (kept_x, kept_y) if kept_x and kept_y else ([], [])


def filter_time(df, start=None, end=None, time_col: str = "time") -> DataFrame:
    """F3 time-range filter, inclusive both ends like xarray's label slice
    (``crop_time_dimension``, ``shared_functions.py:201-212``; inclusivity
    evidenced by 73 == 3 days + 1 hour, ``test_2_era5.py:131``)."""
    if start is not None and end is not None:
        return df.filter(F.col(time_col).between(to_datetime(start), to_datetime(end)))
    if start is not None:
        return df.filter(F.col(time_col) >= to_datetime(start))
    if end is not None:
        return df.filter(F.col(time_col) <= to_datetime(end))
    return df


def with_partition_time_pruning(
    df: DataFrame,
    start,
    end,
    year_col: str = "year",
    month_col: str = "month",
) -> DataFrame:
    """Add the year/month partition-column predicates implied by a time
    range, so a ``year=/month=``-partitioned table prunes directories
    (Catalyst ``PartitionFilters``). A filter on the ``time`` data column
    alone cannot prune — Spark won't infer ``year(time)`` bounds — which
    is exactly the fragment enumeration the reference hand-rolls
    (``era5_from_aws.py:327-346``)."""
    if year_col not in df.columns or month_col not in df.columns:
        return df
    pred = None
    if start is not None:
        s = to_datetime(start)
        pred = (F.col(year_col) > s.year) | (
            (F.col(year_col) == s.year) & (F.col(month_col) >= s.month)
        )
    if end is not None:
        e = to_datetime(end)
        p2 = (F.col(year_col) < e.year) | (
            (F.col(year_col) == e.year) & (F.col(month_col) <= e.month)
        )
        pred = p2 if pred is None else (pred & p2)
    return df.filter(pred) if pred is not None else df


def subset_time_by_timezone(
    df: DataFrame,
    start,
    end,
    local_timezone: str,
    dataset_timezone: str = "UTC",
    time_col: str = "time",
) -> DataFrame:
    """F4 timezone-aware time filter (``subset_time_by_timezone``,
    ``core_functions.py:205-255``): the user's local start/end are
    converted to the dataset's timezone on the driver, then applied as a
    plain inclusive slice — the predicate stays pushable literals."""
    start_utc = convert_timezone(start, local_timezone, dataset_timezone)
    end_utc = convert_timezone(end, local_timezone, dataset_timezone)
    return filter_time(df, start_utc, end_utc, time_col=time_col)


def filter_events(
    df: DataFrame,
    intervals: Sequence[tuple],
    time_col: str = "time",
) -> DataFrame:
    """F5 event-interval filter: OR of inclusive between predicates, one
    per (start, end) event (``to_gssha.py:332-337``)."""
    pred = None
    for start, end in intervals:
        cond = F.col(time_col).between(to_datetime(start), to_datetime(end))
        pred = cond if pred is None else (pred | cond)
    return df.filter(pred) if pred is not None else df


def fill_nodata(df: DataFrame, sentinels: Mapping[str, float]) -> DataFrame:
    """F7 null fill with per-variable nodata sentinels (``_prep_nodata``,
    ``to_gssha.py:216-238``; sentinel table ``info/gssha.py:38-89``)."""
    return df.fillna(dict(sentinels))
