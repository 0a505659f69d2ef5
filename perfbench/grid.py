"""Grid workload: monthly granule backfill and AOI requests.

Both op families build an ERA5-like 0.25-degree hourly grid from the seed.
Each (variable, month) is one classic-NetCDF granule written with the
engine's own ``write_netcdf3``. The benchmark keeps the same values as
numpy arrays, and every op's output is checked against them.
"""

from __future__ import annotations

import shutil
from functools import reduce
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from xarray_dataaccessor_spark.catalog import DatasetCatalog, points_df
from xarray_dataaccessor_spark.meta import BoundingBox
from xarray_dataaccessor_spark.operators.extraction import points_to_table
from xarray_dataaccessor_spark.operators.joins import merge_variables
from xarray_dataaccessor_spark.operators.resample import temporal_resample
from xarray_dataaccessor_spark.operators.spatial import spatial_resample
from xarray_dataaccessor_spark.sinks.gssha import make_precipitation_input
from xarray_dataaccessor_spark.sinks.tables import save_dataframe
from xarray_dataaccessor_spark.sources.ingest import land_grid_parquet, netcdf_glob_to_grid
from xarray_dataaccessor_spark.sources.netcdf3 import write_netcdf3

VARIABLES = ("t2m", "tp")
STEP = 0.25
LON0, LAT0 = -90.0, 45.0
EPOCH = np.datetime64("2001-01-01T00", "h")
# Where each request type sits between its smallest and largest AOI and
# window. A type keeps its size in every cycle, so a run's mix does not
# depend on how many cycles it holds; the seed moves where and when each
# AOI falls. The sizes span a watershed up to most of the domain.
AOI_SCALE = {"aoi_daily_mean": 0.95, "aoi_regrid": 0.55, "aoi_points_csv": 0.15, "aoi_gag": 0.8}


class CheckFailed(AssertionError):
    """An op's output differs from the numpy reference."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def close(got, want, what: str, rtol: float = 1e-9) -> None:
    got, want = np.asarray(got, dtype="float64"), np.asarray(want, dtype="float64")
    require(got.shape == want.shape, f"{what}: shape {got.shape} != {want.shape}")
    require(bool(np.allclose(got, want, rtol=rtol, atol=1e-9)), f"{what}: values differ")


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


@dataclass
class Grid:
    """Axes and values of the synthetic grid (float32, as stored)."""

    ys: np.ndarray  # descending latitude, ERA5 order
    xs: np.ndarray
    months: list[np.datetime64]  # first hour of each month
    values: dict[str, np.ndarray]  # var -> (hours, ny, nx)

    @classmethod
    def generate(cls, seed: int, ny: int, nx: int, n_months: int) -> "Grid":
        rng = np.random.default_rng(seed)
        ys = LAT0 - STEP * np.arange(ny)
        xs = LON0 + STEP * np.arange(nx)
        months = [
            (np.datetime64("2001-01", "M") + m).astype("datetime64[h]")
            for m in range(n_months + 1)
        ]
        nt = int((months[-1] - months[0]) / np.timedelta64(1, "h"))
        hours = np.arange(nt)
        diurnal = np.sin(2 * np.pi * hours / 24.0)[:, None, None]
        lat = ys[None, :, None]
        t2m = 288.0 - 0.6 * (lat - LAT0) + 6.0 * diurnal
        t2m = t2m + rng.normal(0.0, 1.5, (nt, ny, nx))
        tp = np.maximum(rng.gamma(0.3, 0.002, (nt, ny, nx)) - 0.0005, 0.0)
        values = {"t2m": t2m.astype("f4"), "tp": tp.astype("f4")}
        return cls(ys=ys, xs=xs, months=months, values=values)

    @property
    def n_months(self) -> int:
        return len(self.months) - 1

    def hour_index(self, t) -> int:
        return int((np.datetime64(t, "h") - EPOCH) / np.timedelta64(1, "h"))

    def month_slice(self, m: int) -> slice:
        return slice(self.hour_index(self.months[m]), self.hour_index(self.months[m + 1]))

    def write_granule(self, path: Path, var: str, m: int) -> int:
        sl = self.month_slice(m)
        nt = sl.stop - sl.start
        path.parent.mkdir(parents=True, exist_ok=True)
        write_netcdf3(
            str(path),
            dims={"time": nt, "latitude": len(self.ys), "longitude": len(self.xs)},
            variables={
                "time": (["time"], np.arange(sl.start, sl.stop, dtype="i4"),
                         {"units": "hours since 2001-01-01 00:00:00"}),
                "latitude": (["latitude"], self.ys, {"units": "degrees_north"}),
                "longitude": (["longitude"], self.xs, {"units": "degrees_east"}),
                var: (["time", "latitude", "longitude"], self.values[var][sl], {}),
            },
        )
        return path.stat().st_size


def _landed_partition(base: Path, t: np.datetime64) -> Path:
    ts = pd.Timestamp(t)
    return base / f"year={ts.year}" / f"month={ts.month}"


# --------------------------------------------------------------------------
# backfill ops
# --------------------------------------------------------------------------


class GridBackfill:
    """One op lands one month: decode every variable's granule, merge the
    variables, append one ``year=/month=`` partition."""

    op_types = ("backfill_land",)

    def __init__(self, seed: int, work: Path, smoke: bool):
        self.seed, self.work = seed, work
        self.shape = (6, 8, 2) if smoke else (16, 24, 2)  # ny, nx, months
        self.granule_bytes: dict[int, int] = {}

    def setup(self, spark) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.grid = Grid.generate(self.seed, *self.shape)
        for m in range(self.grid.n_months):
            self.granule_bytes[m] = sum(
                self.grid.write_granule(self._granule(v, m), v, m) for v in VARIABLES
            )

    def _granule(self, var: str, m: int) -> Path:
        return self.work / "granules" / var / f"{m:02d}.nc"

    def op(self, i: int, phase: str) -> dict:
        # cycle through the written months; each cycle appends to a fresh table
        m = i % self.grid.n_months
        return {"type": "backfill_land", "month": m,
                "table": self.work / "landed" / f"{phase}{i // self.grid.n_months}"}

    def run(self, spark, tr, op: dict):
        m = op["month"]
        with tr.layer("sources.ingest.decode") as span:
            dfs = [netcdf_glob_to_grid(spark, str(self._granule(v, m)), v) for v in VARIABLES]
            # one job decodes every granule in parallel, as the merge will
            span.out(reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs))
        with tr.layer("operators.joins") as span:
            merged = merge_variables(dfs)
            span.out(merged)
        tr.plan(op["type"], merged)
        table = op["table"]
        with tr.layer("sources.ingest.land"):
            land_grid_parquet(merged, str(table.parent), table.name, mode="append")
        return table

    def check(self, op: dict, table: Path) -> dict:
        m = op["month"]
        part = _landed_partition(table, self.grid.months[m])
        got = pq.read_table(part).to_pandas()
        sl = self.grid.month_slice(m)
        nt, ny, nx = self.grid.values["t2m"][sl].shape
        require(len(got) == nt * ny * nx, f"landed rows {len(got)} != {nt * ny * nx}")
        for v in VARIABLES:
            want = self.grid.values[v][sl].astype("f8")
            close(got[v].sum(), want.sum(), f"{v} checksum")
            close(np.sort(got[v].to_numpy()), np.sort(want.ravel()), f"{v} values")
        return {"cells": nt * ny * nx * len(VARIABLES), "stored_bytes": parquet_bytes(part),
                "input_bytes": self.granule_bytes[m]}

    def granule_paths(self) -> list[Path]:
        return sorted((self.work / "granules").rglob("*.nc"))

    def input_sizes(self) -> dict:
        nt, ny, nx = self.grid.values["t2m"].shape
        return {"granule_bytes_per_op": self.granule_bytes.get(0, 0),
                "cell_values_per_op": nt // self.grid.n_months * ny * nx * len(VARIABLES)}


# --------------------------------------------------------------------------
# AOI request ops
# --------------------------------------------------------------------------


class GridAoiRequests:
    """One op is one AOI request against a grid the setup lands."""

    op_types = ("aoi_daily_mean", "aoi_regrid", "aoi_points_csv", "aoi_gag")

    def __init__(self, seed: int, work: Path, smoke: bool):
        self.seed, self.work = seed, work
        self.shape = (6, 8, 1) if smoke else (16, 20, 1)  # ny, nx, months
        self.catalog = DatasetCatalog()

    def setup(self, spark) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.grid = Grid.generate(self.seed, *self.shape)
        self.n_days = int((self.grid.months[-1] - self.grid.months[0]) / np.timedelta64(24, "h"))
        for v in VARIABLES:
            for m in range(self.grid.n_months):
                self.grid.write_granule(self.work / "granules" / v / f"{m:02d}.nc", v, m)
        dfs = [
            netcdf_glob_to_grid(spark, str(self.work / "granules" / v / "*.nc"), v)
            for v in VARIABLES
        ]
        path = land_grid_parquet(merge_variables(dfs), str(self.work), "era5_like")
        self.catalog.register("era5_like", path, list(VARIABLES))
        self.landed_bytes = parquet_bytes(Path(path))

    # -- op generation ----------------------------------------------------

    def op(self, i: int, phase: str) -> dict:
        kind = self.op_types[i % len(self.op_types)]
        rng = np.random.default_rng([self.seed, i])
        u = AOI_SCALE[kind]
        ny, nx = len(self.grid.ys), len(self.grid.xs)
        if kind == "aoi_gag":
            side = 2 + int(u * 5)  # a few cells: a watershed gage network
            days = 1 + int(u * 3)
        else:
            frac = 0.15 + 0.8 * u  # watershed-sized up to most of the domain
            side = max(2, int(round(frac * min(ny, nx))))
            days = {"aoi_daily_mean": 3 + int(u * 20), "aoi_regrid": 1 + int(u * 6),
                    "aoi_points_csv": 7 + int(u * 20)}[kind]
        h, w = min(side, ny), min(side + side // 3, nx)
        days = min(days, self.n_days)
        y0, x0 = int(rng.integers(0, ny - h + 1)), int(rng.integers(0, nx - w + 1))
        d0 = int(rng.integers(0, self.n_days - days + 1))
        var = "tp" if kind == "aoi_gag" else str(rng.choice(VARIABLES))
        op = {"type": kind, "var": var, "iy": (y0, y0 + h), "ix": (x0, x0 + w),
              "hours": (d0 * 24, (d0 + days) * 24), "out": self.work / "out" / f"{phase}{i}"}
        if kind == "aoi_points_csv":
            # off-grid points strictly inside the AOI
            ys, xs = self.grid.ys[y0:y0 + h], self.grid.xs[x0:x0 + w]
            op["points"] = [
                (float(rng.uniform(ys.min(), ys.max())), float(rng.uniform(xs.min(), xs.max())))
                for _ in range(3)
            ]
        return op

    def _bbox(self, op: dict) -> BoundingBox:
        (y0, y1), (x0, x1) = op["iy"], op["ix"]
        ys, xs = self.grid.ys[y0:y1], self.grid.xs[x0:x1]
        pad = STEP / 4  # keeps exactly the intended cells
        return BoundingBox(west=xs.min() - pad, south=ys.min() - pad,
                           east=xs.max() + pad, north=ys.max() + pad)

    def _window(self, op: dict) -> tuple[str, str]:
        h0, h1 = op["hours"]
        fmt = lambda h: str(pd.Timestamp(EPOCH + np.timedelta64(h, "h")))  # noqa: E731
        return fmt(h0), fmt(h1 - 1)

    # -- op execution -----------------------------------------------------

    def run(self, spark, tr, op: dict):
        kind, var = op["type"], op["var"]
        start, end = self._window(op)
        with tr.layer("operators.filters") as span:
            aoi = self.catalog.load(spark, "era5_like", variables=[var], bbox=self._bbox(op),
                                    start_time=start, end_time=end).df
            span.out(aoi)
        if tr.enabled:
            tr.count("operators.filters.rows_returned", aoi.count())
        out: Path = op["out"]
        if kind == "aoi_daily_mean":
            with tr.layer("operators.resample") as span:
                daily = temporal_resample(aoi, "1D", agg_method="mean")
                span.out(daily)
            tr.plan(kind, daily)
            with tr.layer("sinks.tables"):
                return save_dataframe(daily, out, var)
        if kind == "aoi_regrid":
            with tr.layer("operators.spatial") as span:
                up = spatial_resample(aoi, resolution_factor=2, resample_method="bilinear")
                tr.plan(kind, up)
                span.mark()
                return up.toPandas()
        if kind == "aoi_points_csv":
            with tr.layer("operators.extraction") as span:
                pts = points_df(spark, coords=op["points"])
                table = points_to_table(aoi, pts, var)
                span.out(table)
            tr.plan(kind, table)
            with tr.layer("sinks.tables"):
                return save_dataframe(table, out, var, file_format="csv")
        tr.plan(kind, aoi)
        with tr.layer("sinks.gssha"):
            return make_precipitation_input(aoi, var, file_dir=out.parent, file_name=out.name)

    # -- output checks ----------------------------------------------------

    def _ref(self, op: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(hours, ys, xs, values[t, y, x]) of the request's AOI."""
        (y0, y1), (x0, x1), (h0, h1) = op["iy"], op["ix"], op["hours"]
        vals = self.grid.values[op["var"]][h0:h1, y0:y1, x0:x1].astype("f8")
        return np.arange(h0, h1), self.grid.ys[y0:y1], self.grid.xs[x0:x1], vals

    def check(self, op: dict, result) -> dict:
        hours, ys, xs, vals = self._ref(op)
        kind = op["type"]
        if kind == "aoi_daily_mean":
            got = pq.read_table(result).to_pandas()
            want = vals.reshape(-1, 24, len(ys), len(xs)).mean(axis=1)
            got = _dense(got, op["var"], _hour(got["time"]) // 24 - hours[0] // 24, ys, xs,
                         want.shape[0])
            close(got, want, "daily mean")
        elif kind == "aoi_regrid":
            tx, ty = _target_axis(xs), _target_axis(np.sort(ys))
            along_x = np.apply_along_axis(lambda s: np.interp(tx, xs, s), 2, vals)
            want = np.apply_along_axis(lambda s: np.interp(ty, ys[::-1], s[::-1]), 1, along_x)
            t = _hour(result["time"]) - hours[0]
            iy = np.searchsorted(ty, result["y"].to_numpy())
            ix = np.searchsorted(tx, result["x"].to_numpy())
            require(len(result) == want.size, f"regrid rows {len(result)} != {want.size}")
            require(bool(np.allclose(ty[iy], result["y"]) and np.allclose(tx[ix], result["x"])),
                    "regrid target axes")
            close(result[op["var"]].to_numpy(), want[t, iy, ix], "bilinear values", rtol=1e-7)
        elif kind == "aoi_points_csv":
            got = pd.concat(pd.read_csv(p) for p in sorted(result.glob("part-*.csv")))
            got = got.sort_values("time")
            require(len(got) == len(hours), f"point table rows {len(got)} != {len(hours)}")
            for pid, (lat, lon) in enumerate(op["points"]):
                iy, ix = np.argmin(np.abs(ys - lat)), np.argmin(np.abs(xs - lon))
                close(got[str(pid)].to_numpy(), vals[:, iy, ix], f"point {pid}")
        else:
            _check_gag(result, hours, ys, xs, vals)
        return {}

    def input_sizes(self) -> dict:
        nt, ny, nx = self.grid.values["t2m"].shape
        return {"landed_rows": nt * ny * nx, "landed_cell_values": nt * ny * nx * len(VARIABLES),
                "landed_parquet_bytes": self.landed_bytes}



# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


class GridBackfillAoi:
    """The grid workload. Each cycle lands one month (the write path),
    then serves one request of each AOI type (the read path)."""

    name = "grid_backfill_aoi"
    op_types = GridBackfill.op_types + GridAoiRequests.op_types

    def __init__(self, seed: int, work: Path, smoke: bool):
        self.backfill = GridBackfill(seed, work / "backfill", smoke)
        self.aoi = GridAoiRequests(seed, work / "aoi", smoke)

    def setup(self, spark) -> None:
        self.backfill.setup(spark)
        self.aoi.setup(spark)

    def op(self, i: int, phase: str) -> dict:
        cycle, k = divmod(i, len(self.op_types))
        if k == 0:
            return self.backfill.op(cycle, phase)
        return self.aoi.op(cycle * len(GridAoiRequests.op_types) + k - 1, phase)

    def _family(self, op: dict):
        return self.backfill if op["type"] in GridBackfill.op_types else self.aoi

    def run(self, spark, tr, op: dict):
        return self._family(op).run(spark, tr, op)

    def check(self, op: dict, result) -> dict:
        return self._family(op).check(op, result)

    def granule_paths(self) -> list[Path]:
        return self.backfill.granule_paths()

    def input_sizes(self) -> dict:
        return {**self.backfill.input_sizes(), **self.aoi.input_sizes()}

def _hour(ts: pd.Series) -> np.ndarray:
    t = pd.to_datetime(ts, utc=True).dt.tz_localize(None).to_numpy().astype("datetime64[m]")
    return ((t - EPOCH.astype("datetime64[m]")) // np.timedelta64(60, "m")).astype(int)


def _dense(df: pd.DataFrame, var: str, t_idx: np.ndarray, ys, xs, nt: int) -> np.ndarray:
    """Long-form rows -> [t, y, x] array on the reference axes; a missing
    or extra row leaves a NaN or trips the row-count check."""
    require(len(df) == nt * len(ys) * len(xs), f"rows {len(df)} != {nt * len(ys) * len(xs)}")
    out = np.full((nt, len(ys), len(xs)), np.nan)
    iy = np.searchsorted(-ys, -df["y"].to_numpy())
    ix = np.searchsorted(xs, df["x"].to_numpy())
    require(bool((t_idx >= 0).all() and (t_idx < nt).all()), "timestamps outside the window")
    out[t_idx, iy, ix] = df[var].to_numpy()
    return out


def _target_axis(axis: np.ndarray) -> np.ndarray:
    """Pixel-centre model of a x2 regrid: same outer edges, twice the cells."""
    n = len(axis)
    return axis[0] - STEP / 2 + STEP / 4 + np.arange(2 * n) * STEP / 2


def _check_gag(path: Path, hours, ys, xs, vals) -> None:
    lines = path.read_text().splitlines()
    require(lines[1] == f"NRPDS {len(hours) * len(ys) * len(xs)}", "gag NRPDS line")
    rows = [ln.split() for ln in lines if ln.startswith("GAGES ")]
    require(len(rows) == len(hours), f"gag rows {len(rows)} != {len(hours)}")
    # gages are ordered by x ascending, then y descending (the grid's own y order)
    want = vals.transpose(0, 2, 1).reshape(len(hours), -1)
    got = np.array([[float(v) for v in r[6:]] for r in rows])
    close(got, want, "gag values")
