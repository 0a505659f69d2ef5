"""Join-shaped operators (J1-J3, SURVEY §2.3).

The reference's three join-shaped operations are coordinate-aligned
variable merge, time concatenation, and nearest-neighbor matching. All
three are expressed as standard Catalyst joins/unions so the optimizer
can reorder, broadcast and prune.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xarray_dataaccessor_spark.session import local_frame


def merge_variables(
    dfs: Sequence[DataFrame],
    keys: Sequence[str] = ("time", "y", "x"),
) -> DataFrame:
    """J1 variable merge: multi-way full-outer equi-join on the shared
    coordinate keys — union of coordinates, NULL where a variable is
    absent. Mirrors ``xr.merge`` alignment (``combine_variables``,
    ``shared_functions.py:64-97``).

    Scale note: in the long-table ingest design variables land as columns
    of one table so this join disappears; when it does run, all inputs are
    shuffled on the same key so AQE can co-locate the exchanges.
    """
    keys = list(keys)
    return reduce(lambda a, b: a.join(b, on=keys, how="outer"), dfs)


def concat_time(dfs: Sequence[DataFrame]) -> DataFrame:
    """J2 time concat: by-name union of fragment DataFrames
    (``xr.concat(..., dim='time')``, ``era5_from_aws.py:244-261``).
    Fragment-key ordering (``era5_from_aws.py:247-250``) is irrelevant
    under Spark — ordering is imposed only at terminal sorts."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def nearest_match_1d(
    targets: DataFrame,
    axis: DataFrame,
    target_col: str,
    axis_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """J3 core: for each target value, the nearest value on a 1-D axis
    (``np.abs(axis - targets).argmin``, ``to_tables.py:76-77``;
    ``shared_functions.py:185-190``).

    Broadcast the (small) axis against the targets, rank by absolute
    distance, keep rank 1. Ties break toward the smaller axis value
    (numpy argmin keeps the first / lower index).
    """
    out_col = out_col or f"nearest_{axis_col}"
    dist = F.abs(F.col(target_col) - F.col(axis_col))
    w = Window.partitionBy(target_col).orderBy(dist.asc(), F.col(axis_col).asc())
    return (
        targets.crossJoin(F.broadcast(axis.select(axis_col).distinct()))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
        .withColumnRenamed(axis_col, out_col)
    )


def _nearest_1d_py(target: float, axis_vals: Sequence[float]) -> float:
    """Nearest value on a sorted 1-D axis with numpy-argmin tie semantics
    (equidistant -> the smaller / first value). Mirrors the reference's
    ``np.abs(axis - target).argmin()`` (``to_tables.py:76-77``) for a
    non-empty axis already on the driver."""
    import bisect

    axis = list(axis_vals)
    i = bisect.bisect_left(axis, target)
    if i == 0:
        return axis[0]
    if i == len(axis):
        return axis[-1]
    lo, hi = axis[i - 1], axis[i]
    return lo if (target - lo) <= (hi - target) else hi


def snap_points(
    points: DataFrame,
    grid: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> list[tuple]:
    """J3 on the driver: ``(point row, nearest x, nearest y)`` for each
    row of ``points``, snapped per axis independently (exactly the
    reference's two 1-D argmins, ``to_tables.py:76-101``; also
    ``ds.sel(method='nearest')``, ``to_gssha.py:563-567``).

    The grid axes come from :func:`~xarray_dataaccessor_spark.operators.
    spatial.grid_axes`: no job for a frame ``DatasetCatalog.load``
    returned once its entry's axes are resolved, else one
    ``collect_set`` aggregate (the driver receives |xs| + |ys| values —
    never the O(nx*ny) cell set). The points side
    is user-supplied coordinates, so the per-point argmin is a
    driver-side bisect with the tie semantics of
    :func:`nearest_match_1d` (distance asc, then the smaller axis value)
    and runs no job. A grid with no cells has no nearest cell: every
    point snaps to ``(None, None)``."""
    from xarray_dataaccessor_spark.operators.spatial import grid_axes

    xs_vals, ys_vals = grid_axes(grid, x_col, y_col)
    pt_rows = points.collect()
    for row in pt_rows:
        if row[lon_col] is None or row[lat_col] is None:
            raise ValueError(
                f"point {row.asDict()} has a NULL coordinate; drop or fill "
                "the points table before extraction"
            )
    if not xs_vals or not ys_vals:
        return [(row, None, None) for row in pt_rows]
    return [
        (row, _nearest_1d_py(row[lon_col], xs_vals), _nearest_1d_py(row[lat_col], ys_vals))
        for row in pt_rows
    ]


def nearest_cell_match(
    points: DataFrame,
    grid: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """J3: ``points`` with the nearest grid cell's ``(x, y)`` columns
    attached (see :func:`snap_points`), as a driver-built local
    relation: reading it runs no job and broadcasting it starts no
    Python worker."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        list(points.schema)
        + [StructField(x_col, DoubleType()), StructField(y_col, DoubleType())]
    )
    snapped = snap_points(points, grid, x_col, y_col, lon_col, lat_col)
    return local_frame(grid.sparkSession, [(*row, x, y) for row, x, y in snapped], schema)
