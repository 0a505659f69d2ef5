"""Distributed Cloud-Optimized GeoTIFF export: one COG per timestep.

The raster-file twin of ``grib2_sink`` for the consumer side that
wants range-readable tiles + overviews instead of packed messages:
each timestep's COG — square DEFLATE tiles, reduced-resolution
overview subfiles, head-first IFD layout (``sources/geotiff.py::
write_cog``) — is built entirely by the executor task that owns it.
One shuffle keyed on the timestep; files are independent objects.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_to_cog(
    grid: DataFrame,
    out_dir: str,
    variable: str,
    time_col: str = "time",
    y_col: str = "y",
    x_col: str = "x",
    epsg: int | None = 4326,
    nodata: float = -9999.0,
    tile_size: int = 256,
    overview_levels: tuple[int, ...] = (2, 4),
) -> dict:
    """Distributed Cloud-Optimized GeoTIFF export: one COG per timestep
    (``<variable>_<n>.tif``), each file — tiles, overviews, head-first
    IFD layout — built entirely by the executor task that owns its
    timestep (``sources.geotiff.write_cog``). The COG twin of
    :func:`grid_to_grib2`; cells absent from the grid land as the
    declared nodata."""
    spark = grid.sparkSession
    from xarray_dataaccessor_spark.session import local_frame, ship_by_value
    from xarray_dataaccessor_spark.sources import geotiff as _gt

    ship_by_value(_gt)

    os.makedirs(out_dir, exist_ok=True)
    times = sorted(r[0] for r in grid.select(time_col).distinct().collect())
    ys = np.array(
        sorted((r[0] for r in grid.select(y_col).distinct().collect()),
               reverse=True),
        dtype="float64",
    )
    xs = np.array(
        sorted(r[0] for r in grid.select(x_col).distinct().collect()),
        dtype="float64",
    )
    nj, ni = len(ys), len(xs)
    sx = float(xs[1] - xs[0]) if ni > 1 else 1.0
    sy = float(ys[0] - ys[1]) if nj > 1 else 1.0
    # GeoTIFF origin = upper-left CORNER of the upper-left pixel
    x0 = float(xs[0]) - sx / 2.0
    y0 = float(ys[0]) + sy / 2.0
    t_map = local_frame(
        spark,
        [(t, i) for i, t in enumerate(times)], f"{time_col} timestamp, __ti int"
    )
    y_map = local_frame(
        spark,
        [(float(v), i) for i, v in enumerate(ys)], f"{y_col} double, __yi int"
    )
    x_map = local_frame(
        spark,
        [(float(v), i) for i, v in enumerate(xs)], f"{x_col} double, __xi int"
    )
    rows = (
        grid.select(time_col, y_col, x_col, F.col(variable).alias("__v"))
        .join(F.broadcast(t_map), time_col)
        .join(F.broadcast(y_map), y_col)
        .join(F.broadcast(x_map), x_col)
        .select("__ti", "__yi", "__xi", "__v")
    )
    writer = _gt.write_cog
    pad = max(4, len(str(len(times))))

    def write_slice(pdf):
        import os as _os

        import numpy as _np
        import pandas as _pd

        ti = int(pdf["__ti"].iloc[0])
        field = _np.full((nj, ni), nodata, dtype="float64")
        field[pdf["__yi"].to_numpy(), pdf["__xi"].to_numpy()] = (
            pdf["__v"].to_numpy(dtype="float64")
        )
        path = _os.path.join(out_dir, f"{variable}_{ti:0{pad}d}.tif")
        writer(path, field, x_origin=x0, y_origin=y0, pixel_size=(sx, sy),
               epsg=epsg, nodata=nodata, tile_size=tile_size,
               overview_levels=overview_levels)
        return _pd.DataFrame({"ti": [ti], "n_cells": [len(pdf)]})

    written = (
        rows.groupBy("__ti")
        .applyInPandas(write_slice, "ti int, n_cells long")
        .collect()
    )
    return {"n_files": len(written), "shape": (len(times), nj, ni)}
