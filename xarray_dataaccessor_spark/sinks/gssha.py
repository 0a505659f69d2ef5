"""GSSHA hydrology ASCII sinks (S9-S11, SURVEY §2.1).

Output-format parity with the reference's ``ConvertToGSSHA``
(``data_converters/to_gssha.py:240-595``); the heavy lifting (AOI and
time filters, per-timestep collapses) runs as Spark plans and only the
bounded final artifact (a gage network x timesteps of text) is rendered
driver-side — same division of labor as SURVEY §2.1 S9-S11 prescribes.
The ``.gag`` matrix is that artifact: its long rows, bounded by
``max_gages``, reach the driver in one collect and are pivoted there.

Formats (published GSSHA conventions, gsshawiki.com):

- ``.gag`` precipitation: per event, ``EVENT "name"`` / ``NRPDS n`` /
  ``NRGAG g`` / ``COORD e n "Center of precipitation pixel #i"`` lines,
  then one ``<TYPE> YYYY MM DD HH MM v1..vg`` line per timestep.
  (NRPDS mirrors the reference's count of long rows, to_gssha.py:340.)
- GRASS ASCII: per timestep, ``north/south/east/west/rows/cols`` header +
  one row of space-separated values per y (in axis order), file name
  ``YYYYMMDDHH_<name>.asc`` (to_gssha.py:365-478).
- WES: one line per timestep ``YYYY MM DD HH MM`` + the 7 HMET columns in
  wes_index order, nodata-filled for unmapped variables
  (to_gssha.py:481-595).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.functions.datetime_fns import to_datetime
from xarray_dataaccessor_spark.operators.aggregate import collapse_spatial
from xarray_dataaccessor_spark.operators.filters import filter_time


@dataclass(frozen=True)
class HMETVariable:
    """GSSHA HMET variable conventions (info/gssha.py:38-89; published at
    gsshawiki.com/Continuous:Hydrometeorological_Data)."""

    name: str
    ascii_file_name: str
    wes_index: int
    nodata_value: float | int


HMET_VARIABLES: tuple[HMETVariable, ...] = (
    HMETVariable("Barometric Pressure", "Pres", 0, 99.999),
    HMETVariable("Relative Humidity", "RIHm", 1, 999),
    HMETVariable("Total Sky Cover", "Clod", 2, 999),
    HMETVariable("Wind Speed", "WndS", 3, 999),
    HMETVariable("Dry Bulb Temperature", "Temp", 4, 999),
    HMETVariable("Direct Radiation", "Drad", 5, 999.99),
    HMETVariable("Global Radiation", "Grad", 6, 999.99),
)
_HMET_BY_NAME = {v.name: v for v in HMET_VARIABLES}

# The reference's fallback sentinel when a variable has no HMET mapping
# (to_gssha.py:216-238 ``_prep_nodata``: the int/other-dtype branches fall
# through, so every unmapped variable effectively fills with 99.999).
_DEFAULT_NODATA = 99.999


def _nodata_for(hmet_name: str | None) -> float:
    hv = _HMET_BY_NAME.get(hmet_name) if hmet_name else None
    return float(hv.nodata_value) if hv else _DEFAULT_NODATA


def _fill_nodata(df: DataFrame, variable_to_hmet: Mapping[str, str | None]) -> DataFrame:
    """Automatic nodata fill before rendering (``_prep_nodata``,
    to_gssha.py:216-238, called from ``_prepare_dataset`` for the GRASS
    and WES sinks): null cells become the HMET sentinel of the mapped
    variable (else 99.999) instead of the literal string 'None' in the
    ASCII output."""
    for var, hmet in variable_to_hmet.items():
        df = df.withColumn(var, F.coalesce(F.col(var), F.lit(_nodata_for(hmet))))
    return df


def _write_ascii(text: str, path: Path, hot_start: bool = False) -> None:
    """ASCII write with the reference's overwrite/append ("hot start")
    switch (to_gssha.py:84-113)."""
    with open(path, "a" if hot_start else "w", encoding="ascii") as f:
        f.write(text)


def _project_coords(cells, input_epsg, output_epsg):
    """Driver-side gage-coordinate reprojection (the reference's
    ``_write_precip_coords`` output_epsg path, to_gssha.py:116-155) —
    the gage network is dimension-sized, so the closed-form transform
    runs on the driver."""
    if output_epsg is None or output_epsg == input_epsg:
        return cells
    from xarray_dataaccessor_spark.meta import BoundingBox
    from xarray_dataaccessor_spark.operators.spatial import bbox_to_crs

    out = []
    for cx, cy in cells:
        b = bbox_to_crs(
            BoundingBox(west=cx, south=cy, east=cx, north=cy),
            input_epsg,
            output_epsg,
        )
        out.append((b.west, b.south))
    return out


def make_precipitation_input(
    grid: DataFrame,
    precipitation_variable: str,
    precipitation_type: str = "GAGES",
    event_intervals: Sequence[tuple[str, object, object]] | None = None,
    file_dir: str | Path = ".",
    file_name: str = "gssha_input",
    file_suffix: str = ".gag",
    hot_start: bool = False,
    time_col: str = "time",
    x_col: str = "x",
    y_col: str = "y",
    input_epsg: int = 4326,
    output_epsg: int | None = None,
    max_gages: int = 100_000,
) -> Path:
    """S9 ``.gag`` precipitation sink (to_gssha.py:245-362).

    Each gage is a grid cell, ordered by x ascending then y descending —
    the reference's stable ``sort_values([x_dim, 'time'])`` (to_gssha.py:
    299-309) preserves the dataset's y order within each x, which for
    ERA5-style grids is descending latitude. ``max_gages`` bounds the
    gage network (a .gag file is a gage *network*, not a planetary
    raster — the text format itself puts every gage on every line). It
    is checked first: the axes product |xs|·|ys| from ``grid_axes`` (no
    job on a frame ``DatasetCatalog.load`` returned, else one axes
    aggregate) bounds the distinct cells, so a product within
    ``max_gages`` accepts; only a larger product — a sparse network on
    wide axes, or too many cells — counts the distinct cells exactly
    (one more job). The guarded AOI's long rows then arrive
    in ONE ``toArrow`` collect: the gage list (the payload's distinct
    cells), the (time x gage) matrix, the default event's time extent
    and every event's time window are driver-side work over a payload
    the text file repeats anyway. An absent (time, cell) row and a null
    value both render as ``None``.
    """
    import pyarrow as pa

    from xarray_dataaccessor_spark.operators.spatial import grid_axes

    path = Path(file_dir) / f"{file_name}{file_suffix}"
    xs, ys = grid_axes(grid, x_col, y_col)
    if (
        len(xs) * len(ys) > max_gages
        and grid.select(x_col, y_col).distinct().limit(max_gages + 1).count() > max_gages
    ):
        raise ValueError(
            f"Grid has more than max_gages={max_gages} distinct cells; a "
            ".gag gage network of that size is not renderable. Aggregate "
            "or subset the grid first (or raise max_gages explicitly)."
        )

    # timestamps stay epoch microseconds on the driver; the time type's
    # own conversions give the bounds and the rendered wall clock exactly
    # as a Spark literal and a collected row would
    time_type = grid.schema[time_col].dataType
    long = grid.select(time_col, x_col, y_col, precipitation_variable).toArrow()
    long_t = long.column(time_col).cast(pa.int64()).to_pylist()
    long_xy = list(zip(long.column(x_col).to_pylist(), long.column(y_col).to_pylist()))
    cells = sorted(set(long_xy), key=lambda c: (c[0], -c[1]))
    gage_of = {c: i for i, c in enumerate(cells)}

    projected = _project_coords(cells, input_epsg, output_epsg)
    coord_lines = [f"NRGAG {len(cells)}"]
    for i, (cx, cy) in enumerate(projected):
        coord_lines.append(
            f'COORD {cx} {cy} "Center of precipitation pixel #{i + 1}"'
        )
    coords_header = "\n".join(coord_lines) + "\n"

    matrix: dict[int, list] = {}
    for t, cell, v in zip(
        long_t, long_xy, long.column(precipitation_variable).to_pylist()
    ):
        if t is not None:
            matrix.setdefault(t, [None] * len(cells))[gage_of[cell]] = v
    times = sorted(matrix)

    def micros(bound):
        return None if bound is None else time_type.toInternal(to_datetime(bound))

    if event_intervals is None:
        windows = [("precipitation_event_1", min(times, default=None), max(times, default=None))]
    else:
        windows = [(name, micros(start), micros(end)) for name, start, end in event_intervals]

    event_strings: list[str] = []
    for name, lo, hi in windows:
        # inclusive both ends, like filter_time
        steps = [t for t in times if (lo is None or t >= lo) and (hi is None or t <= hi)]
        n_long_rows = len(steps) * len(cells)  # reference counts long rows
        s = f"EVENT {name}\nNRPDS {n_long_rows}\n" + coords_header
        for t in steps:
            ts = time_type.fromInternal(t).strftime("%Y %m %d %H %M")
            vals = " ".join(str(v) for v in matrix[t])
            s += f"{precipitation_type} {ts} {vals}\n"
        event_strings.append(s)

    _write_ascii("\n".join(event_strings), path, hot_start)
    return path


def make_grass_ascii(
    grid: DataFrame,
    variable: str,
    hmet_variable: str | None = None,
    start_time=None,
    end_time=None,
    file_dir: str | Path = ".",
    file_name: str | None = None,
    file_suffix: str = ".asc",
    time_col: str = "time",
    x_col: str = "x",
    y_col: str = "y",
    y_descending: bool = True,
    input_epsg: int = 4326,
    output_epsg: int | None = None,
) -> list[Path]:
    """S10 GRASS ASCII sink: one 2-D grid dump per timestep
    (to_gssha.py:365-478). Bounds come from a distributed min/max agg
    (reprojected when ``output_epsg`` is given, mirroring the reference's
    header reprojection); per-timestep slices stream through
    ``toLocalIterator`` so only one timestep's grid is ever held on the
    driver."""
    if file_name is None:
        if hmet_variable and hmet_variable in _HMET_BY_NAME:
            file_name = _HMET_BY_NAME[hmet_variable].ascii_file_name
        else:
            file_name = variable.replace(" ", "_")
    df = filter_time(grid, start_time, end_time, time_col=time_col)
    df = _fill_nodata(df, {variable: hmet_variable})

    west, south, east, north, n_rows, n_cols = df.agg(
        F.min(x_col),
        F.min(y_col),
        F.max(x_col),
        F.max(y_col),
        F.countDistinct(y_col),
        F.countDistinct(x_col),
    ).first()
    if output_epsg is not None and output_epsg != input_epsg:
        from xarray_dataaccessor_spark.meta import BoundingBox
        from xarray_dataaccessor_spark.operators.spatial import bbox_to_crs

        b = bbox_to_crs(
            BoundingBox(west=west, south=south, east=east, north=north),
            input_epsg,
            output_epsg,
        )
        west, south, east, north = b.west, b.south, b.east, b.north
    header = (
        f"north: {north}\nsouth: {south}\neast: {east}\nwest: {west}\n"
        f"rows: {n_rows}\ncols: {n_cols}\n"
    )

    ordered = df.select(time_col, y_col, x_col, variable).orderBy(
        time_col, F.col(y_col).desc() if y_descending else F.col(y_col), x_col
    )
    paths: list[Path] = []
    current_t, current_rows, row_vals = None, [], []
    last_y = None

    def flush(t, rows):
        ts = t.strftime("%Y%m%d%H")
        p = Path(file_dir) / f"{ts}_{file_name}{file_suffix}"
        _write_ascii(header + "\n".join(" ".join(r) for r in rows), p)
        paths.append(p)

    for row in ordered.toLocalIterator():
        t = row[time_col]
        if t != current_t:
            if current_t is not None:
                if row_vals:
                    current_rows.append(row_vals)
                flush(current_t, current_rows)
            current_t, current_rows, row_vals, last_y = t, [], [], None
        if row[y_col] != last_y:
            if row_vals:
                current_rows.append(row_vals)
            row_vals, last_y = [], row[y_col]
        row_vals.append(str(row[variable]))
    if current_t is not None:
        if row_vals:
            current_rows.append(row_vals)
        flush(current_t, current_rows)
    return paths


def make_hmet_wes(
    grid: DataFrame,
    variable_to_hmet: Mapping[str, str],
    how: str = "mean",
    xy_coords: tuple[float, float] | None = None,
    start_time=None,
    end_time=None,
    file_dir: str | Path = ".",
    file_name: str = "hmet_wes",
    file_suffix: str = ".asc",
    hot_start: bool = False,
    time_col: str = "time",
    x_col: str = "x",
    y_col: str = "y",
) -> Path:
    """S11 WES sink (to_gssha.py:481-595): per-timestep spatial aggregate
    (A3 collapse: mean/median/min/max/sum/std) or nearest-cell sample of
    each mapped variable; one fixed-order line per timestep, unmapped HMET
    columns nodata-filled."""
    if not variable_to_hmet:
        raise ValueError("A variable to HMET variable names mapping must be provided!")
    df = filter_time(grid, start_time, end_time, time_col=time_col)
    # nodata fill BEFORE the collapse/sample — reference order
    # (_prepare_dataset fills, then the aggregate runs, to_gssha.py:525-532)
    filled = _fill_nodata(df, dict(variable_to_hmet))
    hmet_to_var = {h: v for v, h in variable_to_hmet.items()}

    if xy_coords is not None:
        # nearest-cell sample (ds.sel(method='nearest'), to_gssha.py:563-567);
        # the fill rewrites values only, so the unfilled frame's axes hold
        # (the entry's when ``grid`` is a catalog frame and no window is set)
        from xarray_dataaccessor_spark.operators.spatial import grid_axes

        xs, ys = grid_axes(df, x_col, y_col)
        nx = min(xs, key=lambda v: (abs(v - xy_coords[0]), v))
        ny = min(ys, key=lambda v: (abs(v - xy_coords[1]), v))
        collapsed = filled.filter((F.col(x_col) == nx) & (F.col(y_col) == ny)).select(
            time_col, *variable_to_hmet.keys()
        )
    else:
        collapsed = collapse_spatial(
            filled, how=how, value_cols=list(variable_to_hmet.keys()), time_col=time_col,
            group_cols=(y_col, x_col),
        )

    rows = collapsed.orderBy(time_col).collect()
    lines = []
    for row in rows:
        line = to_datetime(row[time_col]).strftime("%Y %m %d %H %M")
        for hv in HMET_VARIABLES:
            if hv.name in hmet_to_var:
                line += f" {row[hmet_to_var[hv.name]]}"
            else:
                line += f" {hv.nodata_value}"
        lines.append(line + "\n")

    path = Path(file_dir) / f"{file_name}{file_suffix}"
    _write_ascii("".join(lines), path, hot_start)
    return path
