"""Distributed GRIB2 export: grid DataFrame -> per-timestep GRIB files.

The inverse of ``sources.ingest.grib_glob_to_grid`` and the layout
operational meteorology distributes: one GRIB2 message per timestep,
one file per message, a glob of files per dataset (the reference's CDS
workflow downloads exactly this shape, ``era5_from_cds.py`` GRIB
format option). As with the Zarr sink, the driver touches only the
dimension-sized axes; every timestep's field is assembled, packed
(simple / complex / complex+spatial-differencing — the writer half of
``sources/grib2.py``) and written by the executor task that owns it.
Missing cells ride the section-6 bitmap and come back NaN.

Scale shape: one shuffle keyed on the timestep. GRIB messages are
independent byte streams, so concurrent task writes need no
coordination, and the output glob re-ingests through the distributed
reader unchanged — the round-trip contract the tests pin.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_to_grib2(
    grid: DataFrame,
    out_dir: str,
    variable: str,
    time_col: str = "time",
    y_col: str = "y",
    x_col: str = "x",
    packing: str = "complex_diff",
    e_scale: int = 0,
    d_scale: int = 0,
    category: int = 0,
    number: int = 0,
) -> dict:
    """Write a long-form ``(time, y, x, variable)`` grid as one GRIB2
    file per timestep under ``out_dir`` (``<variable>_<n>.grib2``,
    zero-padded so name order is time order). Values are packed on the
    ``2^e_scale / 10^d_scale`` grid — exact when the data lives on that
    grid, else quantized like every GRIB stream. Returns
    ``{"n_files": ..., "shape": ...}``."""
    spark = grid.sparkSession
    from xarray_dataaccessor_spark.session import ship_by_value
    from xarray_dataaccessor_spark.sources import grib2 as _gb

    ship_by_value(_gb)  # executors may lack the package

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
    t_map = spark.createDataFrame(
        [(t, i) for i, t in enumerate(times)], f"{time_col} timestamp, __ti int"
    )
    y_map = spark.createDataFrame(
        [(float(v), i) for i, v in enumerate(ys)], f"{y_col} double, __yi int"
    )
    x_map = spark.createDataFrame(
        [(float(v), i) for i, v in enumerate(xs)], f"{x_col} double, __xi int"
    )
    rows = (
        grid.select(time_col, y_col, x_col, F.col(variable).alias("__v"))
        .join(F.broadcast(t_map), time_col)
        .join(F.broadcast(y_map), y_col)
        .join(F.broadcast(x_map), x_col)
        .select(time_col, "__ti", "__yi", "__xi", "__v")
    )

    writer = _gb.write_grib2
    pad = max(4, len(str(len(times))))

    def write_slice(pdf):
        import os as _os

        import numpy as _np
        import pandas as _pd

        ti = int(pdf["__ti"].iloc[0])
        t = pdf[time_col].iloc[0].to_pydatetime()
        field = _np.full((nj, ni), _np.nan, dtype="float64")
        field[pdf["__yi"].to_numpy(), pdf["__xi"].to_numpy()] = (
            pdf["__v"].to_numpy(dtype="float64")
        )
        path = _os.path.join(out_dir, f"{variable}_{ti:0{pad}d}.grib2")
        writer(path, [{
            "ref_time": t, "forecast_hour": 0,
            "category": category, "number": number,
            "lats": ys, "lons": xs, "data": field,
            "packing": packing, "e_scale": e_scale, "d_scale": d_scale,
        }])
        return _pd.DataFrame({"ti": [ti], "n_cells": [len(pdf)]})

    written = (
        rows.groupBy("__ti")
        .applyInPandas(write_slice, "ti int, n_cells long")
        .collect()  # timestep-count-sized completion manifest
    )
    return {"n_files": len(written), "shape": (len(times), nj, ni)}
