"""Point extraction to wide time-series tables (entry point 2 parity).

Reference: ``ConvertToTable.points_to_tables`` (``to_tables.py:24-130``) +
``_get_data_table_vectorized`` (``utility_functions.py:365-474``): nearest
cell per point, then a (time x point_id) pivot, batched 100 timesteps at a
time to bound memory.

Spark design — one lazy plan, no batching:
    driver-side J3 nearest-cell snap (one axes job)
    -> equi-join the fact table on (y, x)   [broadcast hash join against
       the matched cells, a local relation]
    -> groupBy(time).pivot(point_id).agg(first(var))

The pivot fans out only the <=N requested points (J3 pre-filters the fact
rows to the matched cells), so the wide side stays small no matter the
grid size. Pivot columns are pinned with an explicit sorted id list, like
the reference's lexicographic ``sort_index(axis=1)``
(``utility_functions.py:447``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.operators.joins import snap_points
from xarray_dataaccessor_spark.session import local_frame


def points_to_table(
    grid: DataFrame,
    points: DataFrame,
    variable: str,
    time_col: str = "time",
    x_col: str = "x",
    y_col: str = "y",
    point_ids: Sequence[str] | None = None,
) -> DataFrame:
    """Wide table: one row per timestep, one column per point id, values
    from the point's nearest grid cell.

    ``points`` is a small DataFrame ``(point_id, lon, lat)``
    (see ``catalog.points_df``); it is collected, snapped to the grid on
    the driver, and the matched cells are the broadcast side of the
    fact join.
    """
    # the snap runs on the driver (one axes job, see snap_points) and the
    # matched cells go straight into the broadcast side as a local
    # relation, so the fact scan is the only pass over the grid's rows
    snapped = snap_points(points, grid, x_col=x_col, y_col=y_col)
    if point_ids is None:
        point_ids = sorted({row["point_id"] for row, _, _ in snapped})
    cells = local_frame(
        grid.sparkSession,
        [(row["point_id"], x, y) for row, x, y in snapped],
        f"point_id string, {x_col} double, {y_col} double",
    )
    fact = grid.select(time_col, x_col, y_col, variable)
    joined = fact.join(F.broadcast(cells), on=[x_col, y_col], how="inner")
    return (
        joined.groupBy(time_col)
        .pivot("point_id", list(point_ids))
        .agg(F.first(variable))
        .orderBy(time_col)
    )
