"""GridFrame — the engine's one core abstraction.

A plain ``pyspark.sql.DataFrame`` in long form ``(time, y, x, var1, var2,
...)`` plus a :class:`GridMeta` (the reference's ``AttrsDict`` contract,
``base.py:14-21``). Every method returns a new GridFrame wrapping a lazy
plan; ``.df`` drops to plain Spark SQL at any point. This replaces the
reference's ``xarray.Dataset`` + eager transforms
(``core_functions.py:205-406``).
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.meta import BoundingBox, GridMeta
from xarray_dataaccessor_spark.operators import aggregate as _agg
from xarray_dataaccessor_spark.operators import filters as _filters
from xarray_dataaccessor_spark.operators import joins as _joins
from xarray_dataaccessor_spark.operators import resample as _resample
from xarray_dataaccessor_spark.operators import spatial as _spatial
from xarray_dataaccessor_spark.operators.extraction import points_to_table as _points_to_table


class GridFrame:
    def __init__(self, df: DataFrame, meta: GridMeta | None = None):
        self.df = df
        self.meta = meta or GridMeta()

    def _wrap(self, df: DataFrame, meta: GridMeta | None = None) -> "GridFrame":
        return GridFrame(df, meta or self.meta)

    # -- projections / filters (F1-F7) ------------------------------------
    def select_variables(self, variables: Sequence[str] | None) -> "GridFrame":
        return self._wrap(_filters.select_variables(self.df, variables))

    def filter_bbox(self, bbox: BoundingBox, snap_half_step: float | None = None) -> "GridFrame":
        return self._wrap(_filters.filter_bbox(self.df, bbox, snap_half_step=snap_half_step))

    def filter_time(self, start=None, end=None) -> "GridFrame":
        return self._wrap(_filters.filter_time(self.df, start, end))

    def subset_time_by_timezone(self, start, end, local_timezone: str) -> "GridFrame":
        return self._wrap(
            _filters.subset_time_by_timezone(
                self.df, start, end, local_timezone, self.meta.time_zone
            ),
            self.meta.with_time_zone(self.meta.time_zone),
        )

    def fill_nodata(self, sentinels: Mapping[str, float]) -> "GridFrame":
        return self._wrap(_filters.fill_nodata(self.df, sentinels))

    # -- temporal resampling (A1/A2/W1/W2) ---------------------------------
    def temporal_resample(
        self,
        resample_frequency: str,
        agg_method: str | None = None,
        interpolate_method: str | None = None,
        custom_resample_method: Callable | None = None,
    ) -> "GridFrame":
        return self._wrap(
            _resample.temporal_resample(
                self.df,
                resample_frequency,
                agg_method=agg_method,
                interpolate_method=interpolate_method,
                custom_resample_method=custom_resample_method,
            )
        )

    # -- spatial (R1/R2/R6, A3) --------------------------------------------
    def spatial_resample(
        self,
        resolution_factor: float | None = None,
        xy_resolution_factors: tuple[float, float] | None = None,
        resample_method: str = "nearest",
    ) -> "GridFrame":
        return self._wrap(
            _spatial.spatial_resample(
                self.df,
                resolution_factor=resolution_factor,
                xy_resolution_factors=xy_resolution_factors,
                resample_method=resample_method,
            )
        )

    def to_crs(self, to_epsg: int) -> "GridFrame":
        return self._wrap(
            _spatial.transform_crs_udf(self.df, self.meta.epsg, to_epsg),
            self.meta.with_epsg(to_epsg),
        )

    def normalize_longitude(self) -> "GridFrame":
        return self._wrap(_spatial.normalize_longitude(self.df))

    def collapse_spatial(self, how: str = "mean") -> "GridFrame":
        return self._wrap(_agg.collapse_spatial(self.df, how))

    def terrain(
        self,
        variable: str,
        what: str = "derivatives",
        per_time: bool = True,
        **kwargs,
    ) -> DataFrame:
        """Terrain analytics over one variable: ``what='derivatives'``
        (Horn slope/aspect/hillshade), ``'flow'`` (D8 directions),
        ``'watersheds'`` (terminal-sink labels), ``'accumulation'``
        (upstream cell counts via the Euler-tour ranking; per-time
        grids accumulate independently per timestep) or ``'contours'``
        (marching-squares segments; pass ``levels=[...]``). Grid steps
        infer from the coordinate axes (``grid_axes``: recorded on a
        catalog frame, else one dimension-sized job)."""
        from xarray_dataaccessor_spark.operators.spatial import (
            axis_step,
            contour_segments,
            d8_flow_direction,
            dem_derivatives,
            flow_accumulation,
            grid_axes,
            watershed_labels,
        )

        xs, ys = grid_axes(self.df)
        dx, dy = axis_step(xs), axis_step(ys)
        # anchor stencil indices to the axis minima — grids offset a
        # half step from (0,0) would otherwise hit round-half-even
        # index tearing (see _stencil_windows); an empty frame has no
        # axes, and any origin plans the same zero rows
        origin = ((xs or [0.0])[0], (ys or [0.0])[0])
        groups = ("time",) if per_time and "time" in self.df.columns else ()
        src = self.df.select(*groups, "x", "y", F.col(variable).alias("z"))
        if what == "derivatives":
            return dem_derivatives(src, dx=dx, dy=dy, group_cols=groups,
                                   origin=origin, **kwargs)
        if what == "contours":
            return contour_segments(src, dx=dx, dy=dy, group_cols=groups,
                                    origin=origin, **kwargs)
        flow = d8_flow_direction(src, dx=dx, dy=dy, group_cols=groups,
                                 origin=origin)
        if what == "flow":
            return flow
        if what == "watersheds":
            return watershed_labels(flow, group_cols=groups, **kwargs)
        if what == "accumulation":
            return flow_accumulation(
                flow, dx=dx, dy=dy, group_cols=groups, origin=origin, **kwargs
            )
        raise ValueError(f"terrain: unknown what={what!r}")

    def zonal_stats(
        self,
        polygons=None,
        shapefile: str | None = None,
        how: str = "mean",
        per_time: bool = True,
        weighted: bool = False,
        cell_extent: tuple[float, float] | None = None,
    ) -> DataFrame:
        """Per-polygon aggregation of every variable — the polygon
        generalization of :meth:`collapse_spatial` (the reference
        collapses AOIs to their bbox; ``operators.spatial.zonal_stats``
        honors the actual rings). Pass ring lists or a ``.shp`` path
        (parsed by ``catalog.polygons_from_shapefile``). ``per_time``
        keeps the time dimension as a group key.

        ``weighted=True`` switches to the exactextract semantics
        (``zonal_stats_weighted``): cells weight by the FRACTION of
        their ``cell_extent`` (default: the grid step from
        ``grid_axes``) covered by the polygon — the correct AOI mean
        on a coarse climate grid, where the centre rule misweights
        every boundary cell."""
        if shapefile is not None:
            from xarray_dataaccessor_spark.catalog import (
                polygons_from_shapefile,
            )

            polygons = polygons_from_shapefile(shapefile)
        if not polygons:
            raise ValueError("zonal_stats needs polygons or shapefile")
        value_cols = [
            c for c in self.df.columns if c not in ("x", "y", "time")
        ]
        group_cols = ("time",) if per_time else ()
        if weighted:
            from xarray_dataaccessor_spark.operators.spatial import (
                grid_axes,
                zonal_stats_weighted,
            )

            if cell_extent is None:
                xs, ys = grid_axes(self.df)
                if len(xs) < 2 or len(ys) < 2:
                    raise ValueError(
                        "cell_extent required for degenerate grids"
                    )
                cell_extent = (
                    float(xs[1] - xs[0]), float(ys[1] - ys[0])
                )
            return zonal_stats_weighted(
                self.df, polygons, dx=cell_extent[0], dy=cell_extent[1],
                value_cols=value_cols, how=how, group_cols=group_cols,
            )
        from xarray_dataaccessor_spark.operators.spatial import zonal_stats

        return zonal_stats(
            self.df,
            polygons,
            # aggregate the variables only — time is either a group key
            # or dropped, never averaged
            value_cols=value_cols,
            how=how,
            group_cols=group_cols,
        )

    def bbox(self) -> BoundingBox:
        return _agg.bbox_of(self.df)

    # -- joins (J1/J2) -------------------------------------------------------
    def merge(self, *others: "GridFrame") -> "GridFrame":
        return self._wrap(_joins.merge_variables([self.df, *(o.df for o in others)]))

    def concat_time(self, *others: "GridFrame") -> "GridFrame":
        return self._wrap(_joins.concat_time([self.df, *(o.df for o in others)]))

    # -- extraction (J3+W3) ---------------------------------------------------
    def points_to_table(self, points: DataFrame, variable: str) -> DataFrame:
        return _points_to_table(self.df, points, variable)

    # -- reshape (W5/W6) -------------------------------------------------------
    def rename_dims(self, mapping: Mapping[str, str]) -> "GridFrame":
        """W5 dimension normalization (lon->longitude, band_data->var,
        first *time* coord -> time; ``era5_from_aws.py:285-300``,
        ``nasa_from_LPDAAC.py:503-506``)."""
        df = self.df
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
        return self._wrap(df)

    def with_constant_time(self, value) -> "GridFrame":
        """W6 constant dimension add for timeless rasters
        (``expand_dims(time=[year])``, ``nasa_from_LPDAAC.py:507-515``).
        Integer input follows the reference's int-year rule (C1)."""
        from pyspark.sql import functions as F

        from xarray_dataaccessor_spark.functions.datetime_fns import to_datetime

        return self._wrap(self.df.withColumn("time", F.lit(to_datetime(value))))

    # -- convenience -----------------------------------------------------------
    @property
    def variables(self) -> list[str]:
        return [c for c in self.df.columns if c not in ("time", "y", "x")]

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)

    def count(self) -> int:
        return self.df.count()

    def to_dense_arrays(self, max_cells: int = 50_000_000):
        """Final-mile export: collect THIS (already filtered/aggregated)
        grid to dense numpy arrays — ``(times, ys, xs, {var: ndarray
        (t, y, x)})`` with NaN where a cell is absent.

        This is the boundary where the reference LIVES (everything is an
        in-memory ``xr.Dataset``); here it is the documented exit ramp
        for plotting/modeling on a cropped AOI, guarded by ``max_cells``
        (t*y*x) so a whole-corpus collect fails loudly instead of
        OOM-ing the driver — the reference's own spatial_resample defect
        (``core_functions.py:280``) was exactly an unguarded dense
        materialization.
        """
        import numpy as np
        from pyspark.sql import functions as F

        axes = self.df.agg(
            F.array_sort(F.collect_set("time")).alias("ts"),
            F.array_sort(F.collect_set("y")).alias("ys"),
            F.array_sort(F.collect_set("x")).alias("xs"),
        ).first()
        times, ys, xs = list(axes["ts"]), list(axes["ys"]), list(axes["xs"])
        n_cells = len(times) * len(ys) * len(xs)
        if n_cells > max_cells:
            raise ValueError(
                f"dense export of {len(times)}x{len(ys)}x{len(xs)} = "
                f"{n_cells} cells exceeds max_cells={max_cells}; filter "
                "further or raise the bound explicitly"
            )
        ti = {t: i for i, t in enumerate(times)}
        yi = {v: i for i, v in enumerate(ys)}
        xi = {v: i for i, v in enumerate(xs)}
        variables = self.variables
        out = {
            v: np.full((len(times), len(ys), len(xs)), np.nan) for v in variables
        }
        for row in self.df.toLocalIterator():
            t, y, x = ti[row["time"]], yi[row["y"]], xi[row["x"]]
            for v in variables:
                val = row[v]
                if val is not None:
                    out[v][t, y, x] = float(val)
        return times, ys, xs, out

    def to_xarray(self, max_cells: int = 50_000_000):
        """``xr.Dataset`` export (the reference's native currency,
        ``shared_functions.py``) when xarray is installed; otherwise the
        gate names the extra. The dense collect is :meth:`to_dense_arrays`
        with the same driver-memory guard."""
        try:
            import xarray as xr
        except ImportError as exc:
            raise NotImplementedError(
                "to_xarray requires the 'xarray' extra (pip install "
                "xarray); to_dense_arrays provides the same data as "
                "plain numpy"
            ) from exc
        times, ys, xs, arrs = self.to_dense_arrays(max_cells)
        return xr.Dataset(
            {v: (("time", "y", "x"), a) for v, a in arrs.items()},
            coords={"time": times, "y": ys, "x": xs},
            attrs={"epsg": getattr(self.meta, "epsg", None)},
        )
