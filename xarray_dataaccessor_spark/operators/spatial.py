"""Spatial / raster operators (R1-R6, SURVEY §2.6) — the reference's
non-relational core, re-expressed over the long-form grid table.

R1 ``spatial_resample`` (``core_functions.py:258-347``) scales the grid by
``resolution_factor`` with a rasterio kernel. Spark design:

- **Downsampling** (factor < 1): each source cell is assigned to a target
  block by integer index arithmetic on the regular axis, then
  ``groupBy(time, block).agg(kernel)`` — one shuffle, no Python. Kernels:
  average/min/max/med/q1/q3/sum/rms/mode/nearest.
- **Upsampling** (factor > 1): the target axis (rasterio pixel-center
  model: same outer edges, step/factor) is built driver-side (axes are
  dimension-sized), each target coordinate mapped to its 1-2 source
  neighbors + weights per axis as a tiny mapping table, and the fact
  table picks up the 4 (bilinear) or 1 (nearest) neighbors via broadcast
  joins + a weighted ``sum``. All JVM-side.
- **Convolutional kernels** (cubic/cubic_spline/lanczos/gauss): pure
  Spark, no rasterio. Separable convolution — per axis, every target
  coordinate gets its kernel taps ``(src, new, weight)`` as a
  dimension-sized broadcast table (weights from the published kernel
  formulas: Keys cubic a=-0.5, cubic B-spline, Lanczos a=3, Gaussian),
  then ``join + groupBy(target).sum(w*v)/sum(w)`` per axis. Two
  shuffles total with map-side partial aggregation; for downsampling
  the kernel is dilated by the scale factor (anti-aliasing), matching
  GDAL's convention.

The reference's known defect — "`spatial_resample` overflows memory for
large datasets" (``core_functions.py:280``) — disappears here: nothing is
ever materialized driver-side except the coordinate axes.
"""

from __future__ import annotations

import weakref
from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xarray_dataaccessor_spark.operators.cachectl import (
    tracked_local_checkpoint as _ckpt,
)
from xarray_dataaccessor_spark.session import local_frame

RESAMPLING_KERNELS = (
    "nearest",
    "bilinear",
    "average",
    "mode",
    "min",
    "max",
    "med",
    "q1",
    "q3",
    "sum",
    "rms",
    # convolutional kernels (pure-Spark separable tap convolution):
    "cubic",
    "cubic_spline",
    "lanczos",
    "gauss",
)
CONVOLUTIONAL_KERNELS = {"cubic": 2.0, "cubic_spline": 2.0, "lanczos": 3.0, "gauss": 3.0}
_AGG_KERNELS = {
    "average": lambda c: F.avg(c),
    "mode": lambda c: F.mode(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "med": lambda c: F.median(c),
    "q1": lambda c: F.percentile(c, F.lit(0.25)),
    "q3": lambda c: F.percentile(c, F.lit(0.75)),
    "sum": lambda c: F.sum(c),
    "rms": lambda c: F.sqrt(F.avg(c * c)),
    "nearest": lambda c: F.first(c),  # block-nearest == any member; refined below
    "bilinear": lambda c: F.avg(c),  # downsampling bilinear ~ area average
}


def axis_values(df: DataFrame, col: str) -> list[float]:
    """Distinct sorted coordinate axis, driver-side. Axes are
    dimension-sized (the reference's biggest is 19 values; a planetary
    0.01-degree grid is 36k values) — safe to collect."""
    return [r[0] for r in df.select(col).distinct().orderBy(col).collect()]


#: per DataFrame object, a no-argument callable that returns its sorted
#: ``(xs, ys)`` from metadata, or None when the metadata cannot tell: a
#: derived frame is a new object, so it never reads its parent's axes
_RECORDED_AXES: "weakref.WeakKeyDictionary[DataFrame, Callable]" = weakref.WeakKeyDictionary()


def record_axes(df: DataFrame, resolve: Callable[[], tuple | None]) -> None:
    """Let :func:`grid_axes` take the ``x``/``y`` axes of ``df`` from
    ``resolve()`` instead of its rows. The caller vouches that a non-None
    result equals what the ``collect_set`` aggregate would return for
    this exact frame (``DatasetCatalog.load`` resolves a dense entry's
    axes once and trims them to the request's bbox). Keyed by the object,
    not carried on ``GridMeta``: callers hand the bare ``.df`` to the
    free operator functions."""
    _RECORDED_AXES[df] = resolve


def grid_axes(df: DataFrame, x_col: str = "x", y_col: str = "y"):
    """Both sorted coordinate axes of ``df``, as two lists.

    A frame ``DatasetCatalog.load`` returned from a dense parquet entry
    (see :func:`record_axes`) reads them from the entry's metadata: one
    aggregate the first time the entry's files are asked, no job after,
    like the reference's 1-D coordinate reads
    (``shared_functions.py:185-190``: ``ds.x.values`` / ``ds.y.values``
    are metadata). Any other frame pays one distributed ``collect_set``
    aggregate (a partial and a final stage) whose single driver row
    holds |xs| + |ys| values — never the O(nx*ny) distinct cell set (a
    planetary 0.01-degree grid has 36k x 18k = 648M cells but only 54k
    axis values)."""
    resolve = _RECORDED_AXES.get(df) if (x_col, y_col) == ("x", "y") else None
    recorded = resolve() if resolve is not None else None
    if recorded is not None:
        return list(recorded[0]), list(recorded[1])
    row = df.agg(
        F.array_sort(F.collect_set(F.col(x_col))).alias("xs"),
        F.array_sort(F.collect_set(F.col(y_col))).alias("ys"),
    ).first()
    return list(row["xs"]), list(row["ys"])


def axis_step(values: Sequence[float]) -> float:
    """Grid step inferred from the coordinate spine (used for the F2
    snap-to-nearest-gridline semantics and R1 index arithmetic)."""
    if len(values) < 2:
        return 0.0
    diffs = [b - a for a, b in zip(values, values[1:])]
    # round away float noise from coordinate construction (adjacent-diff of
    # doubles): a grid declared at step 0.25 must yield exactly 0.25 so the
    # block arithmetic matches literal-step computations bit-for-bit
    return round(sorted(diffs)[len(diffs) // 2], 12)


def _target_axis(values: list[float], factor: float) -> list[float]:
    """Rasterio pixel-center model: same outer cell edges, n*factor cells.

    Old centers v0..v0+(n-1)s span edges [v0-s/2, v0+(n-1)s+s/2]; the new
    axis has n' = round(n*factor) cells of step s' = n*s/n' centered in
    the same envelope. Matches the reference's ``len(x)*factor`` width
    (``core_functions.py:300-320``). A frame with no cells has no axis
    and regrids to no cells.
    """
    if not values:
        return []
    n = len(values)
    s = axis_step(values)
    n2 = max(1, round(n * factor))
    s2 = n * s / n2
    lo_edge = values[0] - s / 2.0
    return [lo_edge + s2 / 2.0 + i * s2 for i in range(n2)]


def interval_rows(new_axis, old_axis, kernel):
    """Rows (src, new, w, hi) assigning each target coordinate to its
    left source neighbor with the in-interval weight and expected right
    neighbor. Pure python so oracle generators can reproduce the exact
    doubles the engine broadcasts. ``bisect`` over the sorted source axis
    keeps this O((n+m) log n) — a linear scan per target would be O(n*m)
    (2.6B comparisons for planetary 36k x 72k axes)."""
    import bisect

    old = sorted(old_axis)
    rows = []
    for nv in new_axis:
        i = bisect.bisect_right(old, nv)  # first index with old[i] > nv
        if i == 0:
            rows.append((old[0], nv, 0.0, None))
            continue
        lo = old[i - 1]
        hi = old[i] if i < len(old) else None
        if hi is None:
            rows.append((lo, nv, 0.0, None))
        else:
            w = (nv - lo) / (hi - lo)
            if kernel == "nearest":
                w = 0.0 if (nv - lo) <= (hi - nv) else 1.0
            rows.append((lo, nv, w, hi))
    return rows


def spatial_resample(
    df: DataFrame,
    resolution_factor: float | None = None,
    xy_resolution_factors: tuple[float, float] | None = None,
    resample_method: str = "nearest",
    value_cols: Sequence[str] | None = None,
    time_col: str = "time",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """R1: regrid by a scale factor (``spatial_resample``,
    ``core_functions.py:258-347``): x2 turns a 19x7 grid into 38x14;
    per-axis factors (1, 3) turn it into 19x21
    (``test_3_era5_manipulations.py:75-99``)."""
    if resample_method not in RESAMPLING_KERNELS:
        raise ValueError(f"Unsupported resampling kernel: {resample_method!r}")
    fx, fy = xy_resolution_factors or (resolution_factor, resolution_factor)
    if fx is None:
        raise ValueError("Provide resolution_factor or xy_resolution_factors")
    value_cols = value_cols or [
        c for c in df.columns if c not in (time_col, x_col, y_col)
    ]
    spark = df.sparkSession
    # both coordinate axes, recorded or from one distributed pass; the
    # driver receives only the two dimension-sized axes, never the nx*ny
    # cell product
    xs, ys = grid_axes(df, x_col, y_col)

    if resample_method in CONVOLUTIONAL_KERNELS:
        return _resample_convolutional(
            df, xs, ys, fx, fy, resample_method, value_cols, time_col, x_col, y_col
        )

    if fx < 1.0 and fy < 1.0 and resample_method not in ("nearest", "bilinear"):
        return _downsample_by_agg(df, xs, ys, fx, fy, resample_method, value_cols, time_col, x_col, y_col)

    new_xs = _target_axis(xs, fx)
    new_ys = _target_axis(ys, fy)
    kernel = "nearest" if resample_method == "nearest" else "bilinear"
    mapx = F.broadcast(_interval_map_multi(spark, new_xs, xs, x_col, [kernel]))
    mapy = F.broadcast(_interval_map_multi(spark, new_ys, ys, y_col, [kernel]))
    pairs = [(v, kernel, v) for v in value_cols]
    out = _axis_lerp_multi(df, mapx, x_col, (time_col, y_col), pairs)
    out = _axis_lerp_multi(out, mapy, y_col, (time_col, x_col), pairs)
    return out.select(time_col, y_col, x_col, *value_cols)


def spatial_upsample_kernels(
    df: DataFrame,
    resolution_factor: float,
    kernels: Sequence[str] = ("bilinear", "nearest"),
    value_cols: Sequence[str] | None = None,
    time_col: str = "time",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """R1 upsample with SEVERAL kernels in one pass: the per-axis interval
    map carries one weight column per kernel, so bilinear + nearest (for
    example) share the window sort and the two broadcast joins instead of
    re-running the whole plan per kernel. Output columns are
    ``{value}_{kernel}``."""
    for k in kernels:
        if k not in ("bilinear", "nearest"):
            raise ValueError(f"Multi-kernel upsample supports bilinear/nearest, got {k!r}")
    value_cols = value_cols or [
        c for c in df.columns if c not in (time_col, x_col, y_col)
    ]
    spark = df.sparkSession
    xs, ys = grid_axes(df, x_col, y_col)
    new_xs = _target_axis(xs, resolution_factor)
    new_ys = _target_axis(ys, resolution_factor)
    mapx = F.broadcast(_interval_map_multi(spark, new_xs, xs, x_col, kernels))
    mapy = F.broadcast(_interval_map_multi(spark, new_ys, ys, y_col, kernels))
    # pass 1 (x): each source value column fans out to one column per kernel
    pairs1 = [(v, k, f"{v}_{k}") for v in value_cols for k in kernels]
    out = _axis_lerp_multi(df, mapx, x_col, (time_col, y_col), pairs1)
    # pass 2 (y): each per-kernel column lerps with its own kernel weight
    pairs2 = [(f"{v}_{k}", k, f"{v}_{k}") for v in value_cols for k in kernels]
    out = _axis_lerp_multi(out, mapy, y_col, (time_col, x_col), pairs2)
    out_cols = [f"{v}_{k}" for v in value_cols for k in kernels]
    return out.select(time_col, y_col, x_col, *out_cols)


def _interval_map_multi(spark, new_axis, old_axis, col, kernels):
    """Tiny per-axis interval table (broadcast side of the upsample
    join) — one row per target coordinate, so the join multiplies the
    fact table by at most the new/old axis ratio — with one weight
    column per kernel (src/new/hi are kernel-independent)."""
    per_kernel = [interval_rows(new_axis, old_axis, k) for k in kernels]
    rows = []
    for i, (src, new, _w, hi) in enumerate(per_kernel[0]):
        rows.append((src, new, *(pk[i][2] for pk in per_kernel), hi))
    weight_cols = ", ".join(f"w_{k}_{col} double" for k in kernels)
    return local_frame(
        spark, rows, f"src_{col} double, new_{col} double, {weight_cols}, hi_{col} double"
    )


def _axis_lerp_multi(df, interval_map, axis_col, partition_cols, pairs):
    """One-axis linear interpolation without any aggregation: the next
    present cell along the axis comes from a window ``lead`` (one sort
    within the existing partitioning), the target coordinates + weights
    from a broadcast interval join, the value from a per-row lerp. Each
    ``(input_col, kernel, output_col)`` triple uses its kernel's weight
    column, so every kernel shares the one sort and the one join.

    Bilinear regridding is separable, so two of these passes replace the
    4-neighbor join + groupBy (which shuffles 4x the fact rows); per-row
    arithmetic is also deterministic, unlike a float sum aggregate.
    If the right neighbor of an interval is absent at a timestep (sparse
    grid), the target keeps the left value (weight renormalization over
    the present neighbor).
    """
    w = Window.partitionBy(*partition_cols).orderBy(axis_col)
    enriched = df.withColumn("__next_coord", F.lead(axis_col).over(w))
    in_cols = list(dict.fromkeys(p[0] for p in pairs))
    for v in in_cols:
        enriched = enriched.withColumn(f"__next_{v}", F.lead(v).over(w))
    joined = enriched.join(
        interval_map, F.col(axis_col) == F.col(f"src_{axis_col}")
    )
    valid_next = F.col("__next_coord") == F.col(f"hi_{axis_col}")
    projected = []
    for src, kernel, out in pairs:
        nxt = F.when(valid_next, F.col(f"__next_{src}")).otherwise(F.col(src))
        wcol = F.col(f"w_{kernel}_{axis_col}")
        projected.append((F.col(src) + (nxt - F.col(src)) * wcol).alias(out))
    return joined.select(
        *partition_cols, F.col(f"new_{axis_col}").alias(axis_col), *projected
    )


def _downsample_by_agg(df, xs, ys, fx, fy, method, value_cols, time_col, x_col, y_col):
    """Downsample: block-index arithmetic + groupBy aggregate. Source cell
    i maps to target block floor(i*f); the target coordinate is the block
    center computed arithmetically (deterministic — an avg() of member
    coordinates would depend on float summation order)."""
    # an empty axis (a frame with no cells) anchors nothing: any origin
    # plans the same zero rows
    x0, sx = (xs or [0.0])[0], axis_step(xs)
    y0, sy = (ys or [0.0])[0], axis_step(ys)
    agg = _AGG_KERNELS[method]
    bx = F.floor(F.round((F.col(x_col) - F.lit(x0)) / F.lit(sx), 6) * F.lit(fx)).alias("__bx")
    by = F.floor(F.round((F.col(y_col) - F.lit(y0)) / F.lit(sy), 6) * F.lit(fy)).alias("__by")
    aggs = [agg(F.col(v)).alias(v) for v in value_cols]
    # block center: x0 + ((b + 0.5)/f - 0.5) * s
    new_x = (F.lit(x0) + ((F.col("__bx") + F.lit(0.5)) / F.lit(fx) - F.lit(0.5)) * F.lit(sx)).alias(x_col)
    new_y = (F.lit(y0) + ((F.col("__by") + F.lit(0.5)) / F.lit(fy) - F.lit(0.5)) * F.lit(sy)).alias(y_col)
    return (
        df.groupBy(time_col, bx, by)
        .agg(*aggs)
        .select(time_col, new_y, new_x, *value_cols)
    )


def kernel_weight(kernel: str, t: float) -> float:
    """Published convolutional resampling kernel formulas (the same family
    rasterio/GDAL expose for ``_resample_slice``,
    ``utility_functions.py:191-205``):

    - ``cubic``: Keys cubic convolution, a = -0.5 (third-order accurate,
      reproduces quadratics; interpolating — weight 1 at t=0, 0 at knots)
    - ``cubic_spline``: cubic B-spline (smoothing; partition of unity)
    - ``lanczos``: Lanczos-windowed sinc, a = 3
    - ``gauss``: Gaussian e^(-2t^2), truncated at |t| = 3
    """
    import math

    at = abs(t)
    if kernel == "cubic":
        a = -0.5
        if at < 1.0:
            return (a + 2.0) * at**3 - (a + 3.0) * at**2 + 1.0
        if at < 2.0:
            return a * at**3 - 5.0 * a * at**2 + 8.0 * a * at - 4.0 * a
        return 0.0
    if kernel == "cubic_spline":
        if at < 1.0:
            return (4.0 - 6.0 * at * at + 3.0 * at**3) / 6.0
        if at < 2.0:
            return (2.0 - at) ** 3 / 6.0
        return 0.0
    if kernel == "lanczos":
        if at < 1e-12:
            return 1.0
        if at >= 3.0:
            return 0.0
        px = math.pi * at
        return 3.0 * math.sin(px) * math.sin(px / 3.0) / (px * px)
    if kernel == "gauss":
        return math.exp(-2.0 * t * t) if at <= 3.0 else 0.0
    raise ValueError(f"Not a convolutional kernel: {kernel!r}")


def conv_tap_rows(new_axis, old_axis, kernel: str, factor: float):
    """Per-axis kernel taps ``(src, new, weight)``, weights pre-normalized
    per target coordinate (sum = 1 over in-range taps, which is the
    standard renormalized edge handling). ``t`` is measured in source-step
    units; for downsampling (factor < 1) the kernel is dilated by the
    scale factor so its footprint covers the contributing source cells
    (anti-aliasing — GDAL's convention for warp kernels).

    Driver-side size: |targets| * taps-per-target (4 for cubic kernels,
    6/scale for lanczos) — dimension-sized times a small constant, safe
    to broadcast at planetary axes (36k * 6 = 216k rows)."""
    import bisect

    old = sorted(old_axis)
    n = len(old)
    if n == 1:
        return [(old[0], nv, 1.0) for nv in new_axis]
    step = axis_step(old)
    scale = min(1.0, factor)
    radius = CONVOLUTIONAL_KERNELS[kernel] / scale
    rows = []
    for nv in new_axis:
        i0 = bisect.bisect_left(old, nv - radius * step)
        i1 = bisect.bisect_right(old, nv + radius * step)
        taps = []
        for i in range(max(0, i0), min(n, i1)):
            w = kernel_weight(kernel, (nv - old[i]) / step * scale)
            if w != 0.0:
                taps.append((old[i], w))
        if not taps:
            j = min(max(bisect.bisect_right(old, nv) - 1, 0), n - 1)
            taps = [(old[j], 1.0)]
        wsum = sum(w for _, w in taps)
        rows.extend((src, nv, w / wsum) for src, w in taps)
    return rows


def _conv_axis(df, tap_map, axis_col, group_cols, value_cols):
    """One-axis convolution pass: broadcast tap join + groupBy(target)
    weighted mean. ``sum(w*v)/sum(w over present v)`` renormalizes when a
    timestep has missing cells (sparse grid), mirroring the lerp path's
    present-neighbor renormalization.

    With negative-lobe kernels (cubic a=-0.5, lanczos) and sparse inputs
    the present-weight sum can reach ~0 or flip sign near a target,
    which would emit Inf or sign-flipped values; those targets yield
    NULL instead (|den| <= eps guard) — the caller can fill via the
    nearest/linear paths if a value is required."""
    joined = df.join(
        F.broadcast(tap_map), F.col(axis_col) == F.col(f"src_{axis_col}")
    )
    w = F.col(f"w_{axis_col}")
    eps = 1e-9
    aggs = []
    for v in value_cols:
        num = F.sum(w * F.col(v))
        den = F.sum(F.when(F.col(v).isNotNull(), w))
        aggs.append(F.when(F.abs(den) > eps, num / den).alias(v))
    return (
        joined.groupBy(*group_cols, F.col(f"new_{axis_col}").alias(axis_col))
        .agg(*aggs)
    )


def _resample_convolutional(df, xs, ys, fx, fy, method, value_cols, time_col, x_col, y_col):
    """R1 convolutional kernels, pure Spark: separable per-axis tap
    convolution (x pass then y pass), each one broadcast join + one
    aggregation with map-side combine. Replaces the reference's
    whole-slice rasterio warp (``core_functions.py:258-347``) without its
    documented memory overflow — only axes ever reach the driver."""
    spark = df.sparkSession
    new_xs = _target_axis(xs, fx)
    new_ys = _target_axis(ys, fy)
    tapx = local_frame(
        spark,
        conv_tap_rows(new_xs, xs, method, fx),
        f"src_{x_col} double, new_{x_col} double, w_{x_col} double",
    )
    tapy = local_frame(
        spark,
        conv_tap_rows(new_ys, ys, method, fy),
        f"src_{y_col} double, new_{y_col} double, w_{y_col} double",
    )
    out = _conv_axis(df, tapx, x_col, (time_col, y_col), value_cols)
    out = _conv_axis(out, tapy, y_col, (time_col, x_col), value_cols)
    return out.select(time_col, y_col, x_col, *value_cols)


#: Pyramid methods whose per-level state merges exactly under cascading
#: (level L computed from level L-1 equals level L computed from the base).
PYRAMID_METHODS = ("max", "min", "sum", "count", "mean")


def raster_pyramid(
    df: DataFrame,
    levels: int = 3,
    method: str = "mean",
    value_cols: Sequence[str] | None = None,
    time_col: str = "time",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Multi-level raster overview pyramid: level L downsamples the base
    grid by 2^L per axis via 2x2 block aggregation of level L-1 — the
    standard tiled-raster overview structure (GDAL overviews / COG; the
    reference's one-shot ``spatial_resample`` rebuilds each resolution
    from the base, ``core_functions.py:258-347``).

    Cascading is the 100 TB shape: each level aggregates the PREVIOUS
    level (4x fewer rows per step), so the whole pyramid costs ~1.33x one
    downsample pass instead of ``levels`` full passes, and the per-level
    shuffles shrink geometrically. All levels' level-1 exchange is reused
    by Catalyst (one scan of the base — see test_plans.py). Methods are
    restricted to the decomposable set (``PYRAMID_METHODS``): mean is
    carried as (sum, count) state and finalized per level, so cascaded
    means are exact, not means-of-means.

    Returns ``level, time, y, x, <value_cols>`` with block-center
    coordinates computed arithmetically from the axis origin/step.
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    if method not in PYRAMID_METHODS:
        raise ValueError(
            f"Unsupported pyramid method {method!r}; decomposable methods: "
            f"{PYRAMID_METHODS}"
        )
    value_cols = value_cols or [
        c for c in df.columns if c not in (time_col, x_col, y_col)
    ]
    xs, ys = grid_axes(df, x_col, y_col)
    # an empty frame has no axes: any origin plans the same zero rows
    x0, sx = (xs or [0.0])[0], axis_step(xs) or 1.0
    y0, sy = (ys or [0.0])[0], axis_step(ys) or 1.0

    # level-0 state at cell grain: integer cell indices + per-column state
    ix = F.round((F.col(x_col) - F.lit(x0)) / F.lit(sx)).cast("long")
    iy = F.round((F.col(y_col) - F.lit(y0)) / F.lit(sy)).cast("long")
    if method == "mean":
        state = [
            e
            for v in value_cols
            for e in (
                F.col(v).cast("double").alias(f"__s_{v}"),
                F.when(F.col(v).isNotNull(), F.lit(1)).otherwise(F.lit(0))
                .cast("long")
                .alias(f"__n_{v}"),
            )
        ]
    elif method == "count":
        state = [
            F.when(F.col(v).isNotNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("long")
            .alias(f"__n_{v}")
            for v in value_cols
        ]
    else:
        state = [F.col(v).cast("double").alias(f"__s_{v}") for v in value_cols]
    cur = df.select(F.col(time_col), ix.alias("__ix"), iy.alias("__iy"), *state)

    merge = {"max": F.max, "min": F.min, "sum": F.sum, "count": F.sum, "mean": F.sum}[
        method
    ]
    out_levels = []
    for lvl in range(1, levels + 1):
        if method == "mean":
            aggs = [
                a
                for v in value_cols
                for a in (
                    F.sum(f"__s_{v}").alias(f"__s_{v}"),
                    F.sum(f"__n_{v}").alias(f"__n_{v}"),
                )
            ]
        elif method == "count":
            aggs = [F.sum(f"__n_{v}").alias(f"__n_{v}") for v in value_cols]
        else:
            aggs = [merge(f"__s_{v}").alias(f"__s_{v}") for v in value_cols]
        cur = (
            cur.groupBy(
                time_col,
                F.floor(F.col("__ix") / 2).alias("__ix"),
                F.floor(F.col("__iy") / 2).alias("__iy"),
            )
            .agg(*aggs)
            # materialize each level once: Catalyst does not reuse the
            # union branches' exchanges, so without this every level
            # re-scans and re-shuffles the BASE grid (verified on the
            # executed plan: 3 scans / 6 exchanges for 3 levels). The
            # lazy local checkpoint makes it 1 scan + 1 geometric shuffle
            # per level — same pattern as graph.connected_components.
            .transform(_ckpt)
        )
        scale = float(2**lvl)
        # block of 2^lvl cells starting at b*2^lvl: center in cell units
        # is (b + 0.5)*2^lvl - 0.5
        cx = (F.lit(x0) + ((F.col("__ix") + F.lit(0.5)) * F.lit(scale) - F.lit(0.5)) * F.lit(sx)).alias(x_col)
        cy = (F.lit(y0) + ((F.col("__iy") + F.lit(0.5)) * F.lit(scale) - F.lit(0.5)) * F.lit(sy)).alias(y_col)
        if method == "mean":
            final = [
                (F.col(f"__s_{v}") / F.col(f"__n_{v}")).alias(v) for v in value_cols
            ]
        elif method == "count":
            final = [F.col(f"__n_{v}").alias(v) for v in value_cols]
        else:
            final = [F.col(f"__s_{v}").alias(v) for v in value_cols]
        out_levels.append(
            cur.select(
                F.lit(lvl).cast("int").alias("level"), time_col, cy, cx, *final
            )
        )
    out = out_levels[0]
    for nxt in out_levels[1:]:
        out = out.unionByName(nxt)
    return out


def normalize_longitude(df: DataFrame, x_col: str = "x") -> DataFrame:
    """R6: wrap 0..360 longitudes to -180..180 (the reference's AWS path
    shifts ``ds['lon'] - 180``, ``era5_from_aws.py:361-362``; we use the
    standard wrap which is a superset)."""
    return df.withColumn(
        x_col, ((F.col(x_col) + F.lit(180.0)) % F.lit(360.0)) - F.lit(180.0)
    )


def to_web_mercator(df: DataFrame, x_col: str = "x", y_col: str = "y") -> DataFrame:
    """R2/R4 closed-form EPSG:4326 -> EPSG:3857, pure built-ins (stays in
    whole-stage codegen; no UDF) — ``crs.WebMercator``'s column
    forward. Arbitrary CRS pairs go through :func:`transform_crs_udf`."""
    from xarray_dataaccessor_spark.operators.crs import WebMercator

    mx, my = WebMercator().forward_cols(F.col(x_col), F.col(y_col))
    return df.withColumns({x_col: mx, y_col: my})


def from_web_mercator(df: DataFrame, x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Closed-form EPSG:3857 -> EPSG:4326 inverse."""
    from xarray_dataaccessor_spark.operators.crs import WebMercator

    lon, lat = WebMercator().inverse_cols(F.col(x_col), F.col(y_col))
    return df.withColumns({x_col: lon, y_col: lat})


_CLOSED_FORMS = (
    "Web Mercator (3857), UTM zones, MODIS sinusoidal, polar "
    "stereographic (3413/3976/3031/3995/UPS), Lambert conformal conic "
    "(2154/3978), Albers (5070), LAEA (3035/6931/6932), EASE-Grid 2.0 "
    "(6933), OSGB36 (27700) and DHDN (31467), and any pair of them"
)


def transform_crs_udf(df: DataFrame, from_epsg: int, to_epsg: int, x_col="x", y_col="y"):
    """R2/R4 general CRS transform (``convert_crs``,
    ``shared_functions.py:132-157``; ``_convert_xy_coordinates``,
    ``utility_functions.py:224-248``). Closed-form first: 4326 <->
    {Web Mercator, UTM zones (Karney–Krüger), MODIS sinusoidal, polar
    stereographic (NSIDC 3413/3976, 3031/3995, UPS), Lambert conformal
    conic (2154/3978), Albers (5070), ...} — and any pair of those via
    the geographic pivot — in :mod:`operators.crs`, all pure column
    expressions in whole-stage codegen. Only CRS pairs with no closed
    form reach the Arrow-batched pandas_udf wrapping
    ``pyproj.Transformer`` (gated on the geo extras)."""
    if from_epsg == to_epsg:
        return df
    try:
        from xarray_dataaccessor_spark.operators.crs import transform_grid

        return transform_grid(df, from_epsg, to_epsg, x_col, y_col)
    except KeyError:
        pass
    try:
        import pyproj  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            f"CRS transform {from_epsg}->{to_epsg} requires pyproj, which is "
            f"not installed; closed-form coverage: 4326 <-> {_CLOSED_FORMS}."
        ) from exc
    import pandas as pd  # pragma: no cover
    from pyspark.sql.functions import pandas_udf  # pragma: no cover

    @pandas_udf("struct<x: double, y: double>")  # pragma: no cover
    def _tx(x: "pd.Series", y: "pd.Series") -> "pd.DataFrame":
        from pyproj import Transformer

        t = Transformer.from_crs(from_epsg, to_epsg, always_xy=True)
        nx, ny = t.transform(x.to_numpy(), y.to_numpy())
        return pd.DataFrame({"x": nx, "y": ny})

    out = df.withColumn("__xy", _tx(F.col(x_col), F.col(y_col)))  # pragma: no cover
    return (  # pragma: no cover
        out.withColumn(x_col, F.col("__xy.x")).withColumn(y_col, F.col("__xy.y")).drop("__xy")
    )


def bbox_to_crs(bbox, from_epsg: int, to_epsg: int):
    """R5: reproject the 2 bbox corners driver-side (``_convert_bbox``,
    ``utility_functions.py:251-282``) with ``crs.transform_point``."""
    from xarray_dataaccessor_spark.meta import BoundingBox
    from xarray_dataaccessor_spark.operators.crs import transform_point

    try:
        w, s = transform_point(bbox.west, bbox.south, from_epsg, to_epsg)
        e, n = transform_point(bbox.east, bbox.north, from_epsg, to_epsg)
    except KeyError as exc:
        raise NotImplementedError(
            f"No closed-form bbox reprojection {from_epsg}->{to_epsg}; "
            f"coverage: 4326 <-> {_CLOSED_FORMS}. Other CRS pairs need "
            "pyproj (geo extras)."
        ) from exc
    return BoundingBox(west=min(w, e), south=min(s, n), east=max(w, e), north=max(s, n))


def rotate_pole_grid(
    df: DataFrame,
    domain_or_params,
    inverse: bool = False,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """CF rotated-pole transform over the grid's lon/lat columns
    (CORDEX/COSMO regional climate grids): ``inverse=False`` takes true
    lon/lat to rotated-grid coordinates, ``inverse=True`` goes back.
    Pure column expressions (one spherical rotation) — whole-stage
    codegen, no UDF, same discipline as the projection registry in
    ``operators/crs.py``."""
    from xarray_dataaccessor_spark.operators.crs import rotated_pole_crs

    rp = rotated_pole_crs(domain_or_params)
    fn = rp.inverse_cols if inverse else rp.forward_cols
    nx, ny = fn(F.col(x_col), F.col(y_col))
    return df.withColumns({x_col: nx, y_col: ny})


# ---------------------------------------------------------------------------
# Zonal statistics (polygon AOI aggregation)
# ---------------------------------------------------------------------------
def _polygon_edges(rings: "list[list[tuple[float, float]]]"):
    """Flatten rings to a closed edge list plus the bbox corners."""
    edges = []
    xs, ys = [], []
    for ring in rings:
        closed = list(ring)
        if closed and closed[0] != closed[-1]:
            closed.append(closed[0])
        for (x1, y1), (x2, y2) in zip(closed, closed[1:]):
            if (x1, y1) != (x2, y2):
                edges.append((x1, y1, x2, y2))
                xs += [x1, x2]
                ys += [y1, y2]
    return edges, xs, ys


def point_in_polygon_expr(
    lon_col: str, lat_col: str, rings: "list[list[tuple[float, float]]]"
) -> Column:
    """Even-odd ray-casting point-in-polygon as ONE whole-stage-codegen
    expression: the polygon's edges (all rings — even-odd counting makes
    holes work with no winding logic) inline as a literal edge array and
    a single ``aggregate`` fold counts ray crossings. Built as one SQL
    string, not per-element ``F.lit`` calls (memory: py4j-literal-cost).
    A bbox pre-test short-circuits the fold for the overwhelming
    majority of points at scale. Points exactly on an edge follow the
    standard crossing-rule asymmetry (left/bottom edges in, right/top
    out) — knife-edge cases inherit double arithmetic, as in every
    raster engine."""
    edges, xs, ys = _polygon_edges(rings)
    if not edges:
        return F.lit(False)
    lit = ",".join(
        f"struct({x1!r}D as x1,{y1!r}D as y1,{x2!r}D as x2,{y2!r}D as y2)"
        for x1, y1, x2, y2 in edges
    )
    fold = (
        f"aggregate(array({lit}), 0, (acc, e) -> acc + ("
        f"CASE WHEN (e.y1 > {lat_col}) != (e.y2 > {lat_col}) THEN "
        f"(CASE WHEN {lon_col} < (e.x2 - e.x1) * ({lat_col} - e.y1)"
        f" / (e.y2 - e.y1) + e.x1 THEN 1 ELSE 0 END) ELSE 0 END)) % 2 = 1"
    )
    bbox = (
        f"{lon_col} >= {min(xs)!r}D AND {lon_col} <= {max(xs)!r}D AND "
        f"{lat_col} >= {min(ys)!r}D AND {lat_col} <= {max(ys)!r}D"
    )
    return F.expr(f"({bbox}) AND ({fold})")


def zonal_stats(
    df: DataFrame,
    polygons: "Sequence[list[list[tuple[float, float]]]]",
    value_cols: Sequence[str] | None = None,
    how: str = "mean",
    lon_col: str = "x",
    lat_col: str = "y",
    group_cols: Sequence[str] = (),
    zone_ids: Sequence[int] | None = None,
) -> DataFrame:
    """Per-polygon zonal aggregation — the AOI generalization the
    reference cannot express (its AOIs collapse to a rectangular bbox,
    ``utility_functions.py:125``): assign each grid cell to every
    polygon containing it (overlaps allowed, holes honored via even-odd)
    and aggregate ``value_cols`` per (zone, *group_cols*) with any
    decomposable ``spatial_agg_expr`` method.

    Plan shape: zone assignment is a map-side explode of per-polygon
    membership structs (polygon edges are broadcast-free literal
    expressions; the bbox pre-test short-circuits the edge fold), so the
    only shuffle is the final zones-sized aggregation. Cells outside
    every polygon are dropped before the shuffle. Scale: rows x |P|
    predicate work map-side — for large polygon sets, pre-bucket
    polygons by a coarse grid key first; for the AOI use case (a few
    zones) this is the right shape as-is."""
    from xarray_dataaccessor_spark.operators.aggregate import spatial_agg_expr

    value_cols = list(value_cols or [
        c for c in df.columns
        if c not in (lon_col, lat_col, *group_cols)
    ])
    ids = list(zone_ids) if zone_ids is not None else list(range(len(polygons)))
    members = F.array(*[
        F.struct(
            F.lit(zid).cast("int").alias("zone_id"),
            point_in_polygon_expr(lon_col, lat_col, rings).alias("inp"),
        )
        for zid, rings in zip(ids, polygons)
    ])
    assigned = (
        df.select(
            *group_cols, *value_cols,
            F.explode(F.filter(members, lambda s: s["inp"])).alias("__z"),
        )
        .select(*group_cols, *value_cols, F.col("__z.zone_id").alias("zone_id"))
    )
    aggs = [spatial_agg_expr(how, v).alias(v) for v in value_cols]
    return assigned.groupBy("zone_id", *group_cols).agg(
        F.count(F.lit(1)).alias("n_cells"), *aggs
    )


def zonal_stats_bucketed(
    df: DataFrame,
    polygons: "Sequence[list[list[tuple[float, float]]]]",
    cell_size: float,
    value_cols: Sequence[str] | None = None,
    how: str = "mean",
    lon_col: str = "x",
    lat_col: str = "y",
    group_cols: Sequence[str] = (),
    zone_ids: Sequence[int] | None = None,
) -> DataFrame:
    """:func:`zonal_stats` for LARGE polygon sets (admin-boundary
    rollups, parcel layers) — the coarse-grid pre-bucket the plain
    operator's docstring promises: instead of evaluating every polygon's
    edge fold on every row (rows x |P| map-side work), polygons are
    assigned to the coarse cells their bbox covers DRIVER-side
    (|P| x cells-per-bbox rows — polygon metadata, never raster-sized),
    the grid joins that candidate table on its own coarse cell key via a
    BROADCAST hash join, and the exact even-odd ray-cast runs only on
    (row, bbox-candidate) pairs. Per-row work drops from O(|P|) to
    O(polygons whose bbox shares the row's coarse cell) — the standard
    raster-vector spatial-join shape (a one-level R-tree).

    The fold itself is the same arithmetic as
    :func:`point_in_polygon_expr`, but over an edge ARRAY column from
    the candidate table rather than inlined literals, so the expression
    size is independent of |P|. Results are identical to the brute
    path (tested). Pick ``cell_size`` near the median polygon bbox
    extent: too fine multiplies candidate rows, too coarse multiplies
    candidates per cell."""
    from xarray_dataaccessor_spark.operators.aggregate import spatial_agg_expr

    if cell_size <= 0:
        raise ValueError("cell_size must be positive")
    value_cols = list(value_cols or [
        c for c in df.columns
        if c not in (lon_col, lat_col, *group_cols)
    ])
    ids = list(zone_ids) if zone_ids is not None else list(range(len(polygons)))
    import math

    cand_rows = []
    for zid, rings in zip(ids, polygons):
        edges, xs, ys = _polygon_edges(rings)
        if not edges:
            continue
        x0, x1 = min(xs), max(xs)
        y0, y1 = min(ys), max(ys)
        for cx in range(
            math.floor(x0 / cell_size), math.floor(x1 / cell_size) + 1
        ):
            for cy in range(
                math.floor(y0 / cell_size), math.floor(y1 / cell_size) + 1
            ):
                cand_rows.append(
                    (cx, cy, int(zid),
                     [{"x1": a, "y1": b, "x2": c, "y2": d}
                      for a, b, c, d in edges],
                     x0, x1, y0, y1)
                )
    cand = local_frame(
        df.sparkSession,
        cand_rows,
        "cell_x bigint, cell_y bigint, zone_id int, "
        "edges array<struct<x1:double,y1:double,x2:double,y2:double>>, "
        "bx0 double, bx1 double, by0 double, by1 double",
    )
    keyed = df.select(
        *group_cols, *value_cols,
        F.col(lon_col).alias("__px"), F.col(lat_col).alias("__py"),
        F.floor(F.col(lon_col) / F.lit(cell_size)).alias("cell_x"),
        F.floor(F.col(lat_col) / F.lit(cell_size)).alias("cell_y"),
    )
    j = keyed.join(F.broadcast(cand), ["cell_x", "cell_y"])
    bbox_ok = (
        (F.col("__px") >= F.col("bx0")) & (F.col("__px") <= F.col("bx1"))
        & (F.col("__py") >= F.col("by0")) & (F.col("__py") <= F.col("by1"))
    )
    crossings = F.aggregate(
        F.col("edges"),
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            (e["y1"] > F.col("__py")) != (e["y2"] > F.col("__py")),
            F.when(
                F.col("__px")
                < (e["x2"] - e["x1"]) * (F.col("__py") - e["y1"])
                / (e["y2"] - e["y1"]) + e["x1"],
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).otherwise(F.lit(0)),
    )
    assigned = j.filter(bbox_ok & (crossings % 2 == 1))
    aggs = [spatial_agg_expr(how, v).alias(v) for v in value_cols]
    return assigned.groupBy("zone_id", *group_cols).agg(
        F.count(F.lit(1)).alias("n_cells"), *aggs
    )


def zonal_stats_weighted(
    df: DataFrame,
    polygons: "Sequence[list[list[tuple[float, float]]]]",
    dx: float,
    dy: float,
    value_cols: Sequence[str] | None = None,
    how: str = "mean",
    lon_col: str = "x",
    lat_col: str = "y",
    group_cols: Sequence[str] = (),
    zone_ids: Sequence[int] | None = None,
    cell_size: float | None = None,
    weight_decimals: int | None = None,
) -> DataFrame:
    """AREA-WEIGHTED zonal statistics (the ``exactextract`` semantics):
    each grid cell is the ``dx x dy`` rectangle centred on its
    coordinate, its weight is the FRACTION of that rectangle covered by
    the polygon (Sutherland-Hodgman clip + shoelace area, computed in
    an Arrow-batched pandas UDF on candidate pairs only), and the
    aggregate is coverage-weighted: ``mean = sum(w*v) / sum(w)``,
    ``sum = sum(w*v)``. The centre-in/centre-out :func:`zonal_stats`
    misweights every boundary cell — for coarse climate grids over
    small AOIs (the reference's ERA5 use case) the boundary IS most of
    the AOI, which is why exactextract exists.

    Ring convention: the FIRST ring of a polygon is the outer boundary,
    subsequent rings are holes (their clipped area subtracts —
    shapefile type-5 order). Candidate (cell, polygon) pairs come from
    the same driver-side coarse-cell pre-bucket + broadcast join as
    :func:`zonal_stats_bucketed` (``cell_size`` defaults to
    ``4 * max(dx, dy)``), so the Python clipping runs on
    bbox-candidates only, never on rows x |P|. Weights are pure float
    arithmetic — deterministic but aggregation-order dependent; pass
    ``weight_decimals`` (round 9) to quantize the coverage fractions
    and DECIMAL-sum the stats, making results partitioning-independent
    and (for zones whose intersection areas have a closed SQL form,
    e.g. axis-aligned rectangles) oracle-replayable — the
    ``snap_bbox_filter`` 'wzonal' variant does exactly that. General
    polygon clipping still has no SQL spelling; those zones keep the
    pytest-only evidence (analytic fractions + conservation)."""
    import math

    from pyspark.sql.functions import pandas_udf

    if how not in ("mean", "sum"):
        raise ValueError("zonal_stats_weighted supports how='mean'|'sum'")
    value_cols = list(value_cols or [
        c for c in df.columns
        if c not in (lon_col, lat_col, *group_cols)
    ])
    ids = list(zone_ids) if zone_ids is not None else list(range(len(polygons)))
    cs = float(cell_size or 4 * max(dx, dy))
    half_x, half_y = dx / 2.0, dy / 2.0
    cand_rows = []
    zone_rings = []
    for zid, rings in zip(ids, polygons):
        if not rings or len(rings[0]) < 3:
            continue
        xs = [p[0] for r in rings for p in r]
        ys = [p[1] for r in rings for p in r]
        # widen by the cell half-extent: a cell whose CENTRE is outside
        # the polygon bbox can still overlap it
        x0, x1 = min(xs) - half_x, max(xs) + half_x
        y0, y1 = min(ys) - half_y, max(ys) + half_y
        ring_payload = [
            [[float(a), float(b)] for a, b in ring] for ring in rings
        ]
        zone_rings.append((int(zid), ring_payload))
        for cx in range(math.floor(x0 / cs), math.floor(x1 / cs) + 1):
            for cy in range(math.floor(y0 / cs), math.floor(y1 / cs) + 1):
                cand_rows.append((cx, cy, int(zid), x0, x1, y0, y1))
    cand = local_frame(
        df.sparkSession,
        cand_rows,
        "cell_x bigint, cell_y bigint, zone_id int, "
        "bx0 double, bx1 double, by0 double, by1 double",
    )
    zr = local_frame(
        df.sparkSession, zone_rings, "zone_id int, rings array<array<array<double>>>"
    )
    keyed = df.select(
        *group_cols, *value_cols,
        F.col(lon_col).alias("__px"), F.col(lat_col).alias("__py"),
        F.floor(F.col(lon_col) / F.lit(cs)).alias("cell_x"),
        F.floor(F.col(lat_col) / F.lit(cs)).alias("cell_y"),
    )
    j = keyed.join(F.broadcast(cand), ["cell_x", "cell_y"]).filter(
        (F.col("__px") >= F.col("bx0")) & (F.col("__px") <= F.col("bx1"))
        & (F.col("__py") >= F.col("by0")) & (F.col("__py") <= F.col("by1"))
    )
    cell_area = dx * dy

    # The two pure geometry helpers live INSIDE this builder (nested-def
    # discipline, memory: spark-plan-quirks) so cloudpickle ships them
    # BY VALUE as a two-function closure. The previous
    # register_pickle_by_value on this module shipped the whole
    # 1.6 kLoC module, and every fresh Python worker re-executed it
    # (plus its imports) on first task — measured 35 s cold vs 4 s warm
    # for the 16-zone wzonal at sf0.1 (the r11 driver-bench anomaly:
    # the slot sorts last, so the driver's three repeats all paid
    # partially-cold workers).
    def clip_ring(ring, x0, x1, y0, y1):
        # Sutherland-Hodgman clip against an axis-aligned rectangle
        def clip_edge(pts, inside, intersect):
            out = []
            n = len(pts)
            for i in range(n):
                cur, prv = pts[i], pts[i - 1]
                cin, pin = inside(cur), inside(prv)
                if cin:
                    if not pin:
                        out.append(intersect(prv, cur))
                    out.append(cur)
                elif pin:
                    out.append(intersect(prv, cur))
            return out

        def ix_at_x(xc):
            def f(a, b):
                t = (xc - a[0]) / (b[0] - a[0])
                return (xc, a[1] + t * (b[1] - a[1]))
            return f

        def ix_at_y(yc):
            def f(a, b):
                t = (yc - a[1]) / (b[1] - a[1])
                return (a[0] + t * (b[0] - a[0]), yc)
            return f

        pts = list(ring)
        if pts and pts[0] == pts[-1]:
            pts = pts[:-1]
        for inside, intersect in (
            (lambda p: p[0] >= x0, ix_at_x(x0)),
            (lambda p: p[0] <= x1, ix_at_x(x1)),
            (lambda p: p[1] >= y0, ix_at_y(y0)),
            (lambda p: p[1] <= y1, ix_at_y(y1)),
        ):
            if not pts:
                return []
            pts = clip_edge(pts, inside, intersect)
        return pts

    def ring_area(pts):
        # absolute shoelace area of a vertex list
        if len(pts) < 3:
            return 0.0
        s = 0.0
        for i in range(len(pts)):
            xa, ya = pts[i - 1]
            xb, yb = pts[i]
            s += xa * yb - xb * ya
        return abs(s) / 2.0

    @pandas_udf("double")
    def coverage(px: pd.Series, py: pd.Series, rings: pd.Series) -> pd.Series:
        out = []
        for x, y, rs in zip(px, py, rings):
            x0, x1 = x - half_x, x + half_x
            y0, y1 = y - half_y, y + half_y
            area = 0.0
            for ri, ring in enumerate(rs):
                a = ring_area(
                    clip_ring(
                        [(p[0], p[1]) for p in ring], x0, x1, y0, y1
                    )
                )
                area += a if ri == 0 else -a
            out.append(max(area, 0.0) / cell_area)
        return pd.Series(out)

    # the weight filter below references the UDF column, and the
    # optimizer's filter pushdown then evaluates the UDF TWICE (once
    # under the pushed filter, once in the projection — guide §4.4's
    # duplication; both the old full-row plan and the first distinct-cell
    # plan showed the stacked ArrowEvalPython pair). The clip is pure,
    # so marking it non-deterministic changes no value — it only stops
    # the optimizer from duplicating the evaluation.
    coverage = coverage.asNondeterministic()

    wcol = coverage(F.col("__px"), F.col("__py"), F.col("rings"))
    if weight_decimals is not None:
        # reproducibility mode: quantize coverage fractions so the
        # stats become aggregation-order independent (decimal sums of
        # identical per-cell doubles) — the property both a re-run on a
        # different partitioning and a SQL oracle replay need. The
        # quantization error is bounded by 0.5*10^-k per cell.
        wcol = F.round(wcol, weight_decimals)
    # Coverage depends only on (cell centre, zone rings) — never on the
    # non-spatial dimensions (time, level, ...) of the input rows — so
    # it is computed ONCE per distinct (cell, zone) pair and joined back
    # (guide §8: move the expensive step to once per distinct value).
    # Before this, the clip ran per INPUT row: a grid with T timestamps
    # re-clipped every cell T times and shipped the rings array across
    # the Python boundary T times (measured 7.5 s warm at sf0.1 for the
    # 16-rect wzonal; the distinct-cell table is ~3 orders smaller).
    # The per-pair weight is the identical expression on the identical
    # values, so every row's __w — and the decimal-summed stats — are
    # bit-unchanged.
    wt = (
        j.select("__px", "__py", "zone_id")
        .distinct()
        .join(F.broadcast(zr), "zone_id")
        .withColumn("__w", wcol)
        .filter(F.col("__w") > 0)
        .select("__px", "__py", "zone_id", "__w")
    )
    weighted = j.join(F.broadcast(wt), ["__px", "__py", "zone_id"])
    if weight_decimals is not None:
        dsum = lambda c: F.sum(c.cast("decimal(28,14)")).cast("double")  # noqa: E731
        # the weighted product stays in DECIMAL space end to end: a
        # double product rounded-then-cast diverges across engines
        # (Spark's double->decimal goes through the shortest string
        # repr, DuckDB converts the exact binary expansion — observed
        # 1-ulp 14th-decimal splits at sf0.1, round 10). Quantizing w
        # (scale = weight_decimals) and v (scale 6) as decimals is
        # unambiguous — each double sits within ~1e-16 of its true
        # low-scale decimal value — and the decimal product/sum are
        # exact in both engines. Reproducibility mode therefore also
        # quantizes VALUES at 6 decimals (documented).
        wdec = F.col("__w").cast(f"decimal(18,{weight_decimals})")
        vdec = lambda v: F.col(v).cast("decimal(18,6)")  # noqa: E731
        prodsum = lambda v: F.sum(wdec * vdec(v)).cast("double")  # noqa: E731
        if how == "mean":
            aggs = [
                (
                    prodsum(v)
                    / dsum(F.when(F.col(v).isNotNull(), F.col("__w")))
                ).alias(v)
                for v in value_cols
            ]
        else:
            aggs = [prodsum(v).alias(v) for v in value_cols]
        return weighted.groupBy("zone_id", *group_cols).agg(
            F.count(F.lit(1)).alias("n_cells"),
            dsum(F.col("__w")).alias("covered_cells"),
            *aggs,
        )
    if how == "mean":
        aggs = [
            (
                F.sum(F.col("__w") * F.col(v)) / F.sum(
                    F.when(F.col(v).isNotNull(), F.col("__w"))
                )
            ).alias(v)
            for v in value_cols
        ]
    else:
        aggs = [F.sum(F.col("__w") * F.col(v)).alias(v) for v in value_cols]
    return weighted.groupBy("zone_id", *group_cols).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("__w").alias("covered_cells"),
        *aggs,
    )


# ---------------------------------------------------------------------------
# DEM derivatives (slope / aspect / hillshade)
# ---------------------------------------------------------------------------
def dem_derivatives(
    df: DataFrame,
    dx: float,
    dy: float,
    value_col: str = "z",
    x_col: str = "x",
    y_col: str = "y",
    group_cols: Sequence[str] = (),
    z_factor: float = 1.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    origin: tuple[float, float] = (0.0, 0.0),
) -> DataFrame:
    """Horn-method terrain derivatives over a regular grid — the GDAL
    ``gdaldem slope/aspect/hillshade`` family (the raster-analytics step
    between the reference's elevation ingest and its GSSHA hydrology
    exports; the reference has no DEM tools at all):

    - ``slope_deg``  — atan(z_factor * sqrt(p² + q²)), Horn 1981 3x3
      weighted differences,
    - ``aspect_deg`` — downslope direction, compass convention
      (0 = north, 90 = east; flat cells NULL),
    - ``hillshade``  — 0-255 illumination for the given sun azimuth /
      altitude, clamped at 0.

    Plan shape (scale-first): each cell EXPLODES its value to the 9
    windows it participates in (map-side; keys are integer cell indices
    ``round(x/dx)`` so float coordinates never join), then ONE
    aggregation per window assembles the 3x3 stencil as a position->z
    map and all three outputs evaluate as codegen expressions. One
    shuffle total, keyed by cell — the same single-exchange discipline
    as the overview pyramid. Border cells (incomplete stencils) are
    dropped, matching ``gdaldem``'s default edge behavior. The grid
    must be axis-aligned with uniform steps ``dx``/``dy`` (every grid
    this engine lands or snaps is)."""
    win = _stencil_windows(
        df, dx, dy, value_col, x_col, y_col, group_cols, origin
    ).filter(F.col("__n") == 9)

    def zat(di: int, dj: int) -> Column:
        return F.element_at("__w", (di + 1) * 3 + (dj + 1))

    # Horn weighted central differences (x east, y north)
    p = (
        (zat(1, -1) + 2 * zat(1, 0) + zat(1, 1))
        - (zat(-1, -1) + 2 * zat(-1, 0) + zat(-1, 1))
    ) / F.lit(8.0 * abs(dx))
    q = (
        (zat(-1, 1) + 2 * zat(0, 1) + zat(1, 1))
        - (zat(-1, -1) + 2 * zat(0, -1) + zat(1, -1))
    ) / F.lit(8.0 * abs(dy))
    grad = F.sqrt(p * p + q * q) * F.lit(float(z_factor))
    slope_rad = F.atan(grad)
    # compass aspect of the DOWNSLOPE direction: east = atan2(-p, -q)
    aspect = F.when(
        grad > 0,
        F.pmod(F.degrees(F.atan2(-p, -q)), F.lit(360.0)),
    )
    import math as _math

    zen = _math.radians(90.0 - altitude_deg)
    az = _math.radians(azimuth_deg)
    # standard hillshade: sun direction dotted with the surface normal
    shade = F.lit(255.0) * (
        F.lit(_math.cos(zen)) * F.cos(slope_rad)
        + F.lit(_math.sin(zen))
        * F.sin(slope_rad)
        * F.cos(F.lit(az) - F.radians(F.coalesce(aspect, F.lit(0.0))))
    )
    return win.select(
        *group_cols,
        (F.lit(float(origin[0])) + F.col("__ti") * F.lit(float(dx))).alias(x_col),
        (F.lit(float(origin[1])) + F.col("__tj") * F.lit(float(dy))).alias(y_col),
        zat(0, 0).alias(value_col),
        F.degrees(slope_rad).alias("slope_deg"),
        aspect.alias("aspect_deg"),
        F.round(F.greatest(shade, F.lit(0.0))).cast("int").alias("hillshade"),
    )



def _stencil_windows(
    df: DataFrame,
    dx: float,
    dy: float,
    value_col: str,
    x_col: str,
    y_col: str,
    group_cols: Sequence[str],
    origin: tuple[float, float] = (0.0, 0.0),
) -> DataFrame:
    """Shared 3x3 stencil assembly (see :func:`dem_derivatives` for the
    plan rationale): one map-side explode to the 9 windows each cell
    participates in, one cell-keyed aggregation building the
    position->z map (position = (1-di)*3 + (1-dj), center = 4).

    ``origin`` anchors the integer cell indices: coordinates are
    ``origin + k*step``, so the index is round((coord - origin)/step).
    A grid whose coordinates sit at HALF steps from (0,0) would
    otherwise land exactly on .5 index fractions, where IEEE
    round-half-even flips between adjacent cells and silently tears
    every stencil apart — pass any on-grid coordinate (e.g. the axis
    minimum) as the origin for such grids."""
    x0, y0 = origin
    offsets = F.array(
        *[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
        ]
    )
    ki = F.round((F.col(x_col) - F.lit(float(x0))) / F.lit(float(dx))).cast(
        "bigint"
    )
    kj = F.round((F.col(y_col) - F.lit(float(y0))) / F.lit(float(dy))).cast(
        "bigint"
    )
    contrib = df.select(
        *group_cols,
        ki.alias("__ki"),
        kj.alias("__kj"),
        F.col(value_col).cast("double").alias("__z"),
        F.explode(offsets).alias("__o"),
    ).select(
        *group_cols,
        (F.col("__ki") + F.col("__o.di")).alias("__ti"),
        (F.col("__kj") + F.col("__o.dj")).alias("__tj"),
        ((1 - F.col("__o.di")) * 3 + (1 - F.col("__o.dj"))).alias("__p"),
        "__z",
    )
    return contrib.groupBy(*group_cols, "__ti", "__tj").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__p"), F.col("__z")))
        ).alias("__w"),
        F.count(F.lit(1)).alias("__n"),
    )


def d8_flow_direction(
    df: DataFrame,
    dx: float,
    dy: float,
    value_col: str = "z",
    x_col: str = "x",
    y_col: str = "y",
    group_cols: Sequence[str] = (),
    origin: tuple[float, float] = (0.0, 0.0),
) -> DataFrame:
    """D8 flow direction over a DEM — the first step of every raster
    hydrology pipeline (the watershed side of the reference's GSSHA
    exports): each cell drains to its steepest-descent neighbor
    (drop / distance, diagonals at sqrt(dx²+dy²)); ties break by the
    standard D8 priority E, SE, S, SW, W, NW, N, NE, so directions are
    deterministic. Cells with no strictly-lower neighbor (pits, flats,
    and cells whose only neighbors are missing) are SINKS.

    Output: ``(x, y, z, flow_to_x, flow_to_y, is_sink)`` — NULL flow
    targets for sinks. One stencil shuffle (shared with
    :func:`dem_derivatives`); partial border windows still drain among
    their present neighbors."""
    import math as _math

    win = _stencil_windows(
        df, dx, dy, value_col, x_col, y_col, group_cols, origin
    )
    win = win.filter(F.element_at("__w", 4).isNotNull())

    def zat(di: int, dj: int) -> Column:
        # stored position is the contributor's offset RELATIVE TO the
        # window center: key = (di+1)*3 + (dj+1), center = 4
        return F.element_at("__w", (di + 1) * 3 + (dj + 1))

    z0 = zat(0, 0)
    prio = [(1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1), (0, 1), (1, 1)]
    # max-by-(drop, priority) over the candidate structs: struct
    # comparison is lexicographic, so array_max picks the steepest drop
    # and breaks ties by the D8 priority rank (stored negated). Linear
    # expression size, unlike a nested-WHEN fold.
    cands = F.array(
        *[
            F.struct(
                (
                    (z0 - zat(di, dj))
                    / F.lit(_math.hypot(di * dx, dj * dy))
                ).alias("drop"),
                F.lit(-rank).alias("np"),
                F.lit(di).cast("int").alias("di"),
                F.lit(dj).cast("int").alias("dj"),
            )
            for rank, (di, dj) in enumerate(prio)
        ]
    )
    best = F.array_max(
        F.filter(cands, lambda c: c["drop"].isNotNull() & (c["drop"] > 0))
    )
    sink = best.isNull()
    x0, y0 = (F.lit(float(origin[0])), F.lit(float(origin[1])))
    return win.select(
        *group_cols,
        (x0 + F.col("__ti") * F.lit(float(dx))).alias(x_col),
        (y0 + F.col("__tj") * F.lit(float(dy))).alias(y_col),
        z0.alias(value_col),
        F.when(
            ~sink, x0 + (F.col("__ti") + best["di"]) * F.lit(float(dx))
        ).alias("flow_to_x"),
        F.when(
            ~sink, y0 + (F.col("__tj") + best["dj"]) * F.lit(float(dy))
        ).alias("flow_to_y"),
        sink.alias("is_sink"),
    )


def watershed_labels(
    flow: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    group_cols: Sequence[str] = (),
    max_iters: int = 40,
) -> DataFrame:
    """Label every cell with its terminal SINK — watershed delineation
    over a :func:`d8_flow_direction` table. The D8 graph is functional
    (every non-sink cell has exactly one out-edge), so pointer doubling
    converges in O(log longest-flow-path) rounds: each round joins the
    current successor table with itself (``succ = succ(succ)``), each
    round's result is lazily checkpointed — the same O(log n) iterative
    discipline as ``graph.connected_components``. 40 rounds cover flow
    paths up to 2^40 cells.

    Convergence is detected by the same one-scan signature aggregate as
    ``graph.connected_components`` — ``(count, bit_xor(xxhash64(row)))``
    over the pointer table — NOT a self-join against the previous round:
    a fixed point means ``succ(succ) == succ`` row-for-row, so equal
    signatures end the loop. At grid scale the old per-round
    convergence join cost as much as the doubling join itself; the
    signature rides the materialization scan the checkpoint pays anyway.

    Output: ``(x, y, sink_x, sink_y)`` for every cell in ``flow``."""
    keys = list(group_cols)

    def _sig(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor of xxhash64: order-independent, overflow-free under
            # ANSI mode (a SUM of hashes overflows long)
            F.coalesce(
                F.bit_xor(F.xxhash64(*keys, "__x", "__y", "__nx", "__ny")),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    cur = flow.select(
        *group_cols,
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
        F.coalesce(F.col("flow_to_x"), F.col(x_col)).alias("__nx"),
        F.coalesce(F.col("flow_to_y"), F.col(y_col)).alias("__ny"),
    ).transform(_ckpt)
    sig = _sig(cur)
    for _ in range(max_iters):
        nxt = cur.alias("a").join(
            cur.alias("b"),
            on=[F.col(f"a.__nx") == F.col("b.__x"),
                F.col(f"a.__ny") == F.col("b.__y")]
            + [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys],
            how="left",
        ).select(
            *[F.col(f"a.{k}") for k in keys],
            F.col("a.__x").alias("__x"),
            F.col("a.__y").alias("__y"),
            F.coalesce(F.col("b.__nx"), F.col("a.__nx")).alias("__nx"),
            F.coalesce(F.col("b.__ny"), F.col("a.__ny")).alias("__ny"),
        ).transform(_ckpt)
        new_sig = _sig(nxt)
        cur = nxt
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"watershed_labels: no convergence in {max_iters}")
    return cur.select(
        *keys,
        F.col("__x").alias(x_col),
        F.col("__y").alias(y_col),
        F.col("__nx").alias("sink_x"),
        F.col("__ny").alias("sink_y"),
    )


def flow_accumulation(
    flow: DataFrame,
    dx: float,
    dy: float,
    x_col: str = "x",
    y_col: str = "y",
    max_iters: int = 45,
    origin: "tuple[float, float] | None" = None,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Flow accumulation over a :func:`d8_flow_direction` table — for
    every cell, how many cells drain THROUGH it (``flow_acc`` includes
    the cell itself; ``n_upstream`` excludes it). This closes the gap
    the module previously documented as absent: bottom-up child-sum
    propagation needs O(longest flow path) rounds, so instead the D8
    forest's subtree sizes come from :func:`graph.subtree_sizes` —
    Euler-tour + pointer-doubled list ranking, O(log path) rounds of
    the same lazily-checkpointed join discipline as
    :func:`watershed_labels`.

    Cells key by integer grid indices anchored to the grid minimum
    (packed into one bigint), so float coordinates never join. Sinks
    with no upstream cells accumulate 1 (themselves). ``origin``
    (any on-grid anchor at or below the minimum coordinates — index
    packing needs non-negative indices) skips the min-scan job.
    ``group_cols`` (one column, e.g. ``time``) scopes independent
    forests per group — flow on a changing surface accumulates per
    timestep without mixing."""
    if len(group_cols) > 1:
        raise NotImplementedError(
            "flow_accumulation supports at most one group column; "
            "combine keys into one column first"
        )
    if origin is not None:
        x0, y0 = float(origin[0]), float(origin[1])
    else:
        b = flow.agg(
            F.min(x_col).alias("x0"), F.min(y_col).alias("y0")
        ).first()
        x0, y0 = float(b["x0"]), float(b["y0"])

    def nid(xc, yc):
        i = F.round((F.col(xc) - F.lit(x0)) / F.lit(float(dx))).cast("bigint")
        j = F.round((F.col(yc) - F.lit(y0)) / F.lit(float(dy))).cast("bigint")
        return i * F.lit(1 << 32) + j

    from xarray_dataaccessor_spark.operators.graph import subtree_sizes

    keys = list(group_cols)
    pr = flow.filter(
        F.col("flow_to_x").isNotNull() & F.col("flow_to_y").isNotNull()
    ).select(
        *keys,
        nid(x_col, y_col).alias("node"),
        nid("flow_to_x", "flow_to_y").alias("parent"),
    )
    sizes = subtree_sizes(
        pr, max_iters=max_iters, group_col=keys[0] if keys else None
    )
    return (
        flow.select(
            *keys, F.col(x_col), F.col(y_col), nid(x_col, y_col).alias("node")
        )
        .join(sizes, keys + ["node"], "left")
        .select(
            *keys,
            x_col,
            y_col,
            F.coalesce(F.col("subtree_size"), F.lit(1)).cast("bigint").alias(
                "flow_acc"
            ),
        )
        .withColumn("n_upstream", (F.col("flow_acc") - 1).cast("bigint"))
    )


def contour_segments(
    df: DataFrame,
    dx: float,
    dy: float,
    levels: Sequence[float],
    value_col: str = "z",
    x_col: str = "x",
    y_col: str = "y",
    group_cols: Sequence[str] = (),
    origin: tuple[float, float] = (0.0, 0.0),
) -> DataFrame:
    """Marching-squares contour extraction — ``gdal_contour`` over the
    long-form grid: for every 2x2 cell window and every requested
    level, emit the 0-2 line segments where the level crosses the
    window, endpoints linearly interpolated along the crossing edges.
    Saddle windows (4 crossings) disambiguate by the window-center
    average, the standard rule.

    Plan shape: each cell explodes to the 4 windows it corners
    (map-side, integer indices anchored at ``origin`` like the 3x3
    stencils), ONE aggregation assembles the window, and the per-level
    case logic is pure codegen over a literal levels array — one
    shuffle total, output one row per (window, level, segment):
    ``(x1, y1, x2, y2, level)``."""
    x0, y0 = origin
    offsets = F.array(
        *[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di in (0, 1)
            for dj in (0, 1)
        ]
    )
    ki = F.round((F.col(x_col) - F.lit(float(x0))) / F.lit(float(dx))).cast(
        "bigint"
    )
    kj = F.round((F.col(y_col) - F.lit(float(y0))) / F.lit(float(dy))).cast(
        "bigint"
    )
    contrib = df.select(
        *group_cols,
        ki.alias("__ki"),
        kj.alias("__kj"),
        F.col(value_col).cast("double").alias("__z"),
        F.explode(offsets).alias("__o"),
    ).select(
        *group_cols,
        (F.col("__ki") - F.col("__o.di")).alias("__ti"),
        (F.col("__kj") - F.col("__o.dj")).alias("__tj"),
        # corner index within the window: 0=(0,0) 1=(1,0) 2=(0,1) 3=(1,1)
        (F.col("__o.di") + 2 * F.col("__o.dj")).alias("__p"),
        "__z",
    )
    win = contrib.groupBy(*group_cols, "__ti", "__tj").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__p"), F.col("__z")))
        ).alias("__w"),
        F.count(F.lit(1)).alias("__n"),
    ).filter(F.col("__n") == 4)
    lv = F.explode(
        F.array(*[F.lit(float(l)) for l in levels])
    ).alias("level")
    win = win.select("*", lv)

    # map keys are the stored corner indices di + 2*dj (0..3)
    z00 = F.element_at("__w", F.lit(0))
    z10 = F.element_at("__w", F.lit(1))
    z01 = F.element_at("__w", F.lit(2))
    z11 = F.element_at("__w", F.lit(3))
    L = F.col("level")
    wx = F.lit(float(x0)) + F.col("__ti") * F.lit(float(dx))
    wy = F.lit(float(y0)) + F.col("__tj") * F.lit(float(dy))

    def crossing(za, zb, ax, ay, bx, by, edge):
        """Edge crossing struct (null when the level does not cross;
        half-open convention za <= L < zb or zb <= L < za avoids
        double-counting corners exactly at the level)."""
        t = (L - za) / (zb - za)
        cross = ((za <= L) & (L < zb)) | ((zb <= L) & (L < za))
        return F.when(
            cross,
            F.struct(
                (ax + (bx - ax) * t).alias("cx"),
                (ay + (by - ay) * t).alias("cy"),
                F.lit(edge).alias("edge"),
            ),
        )

    sdx, sdy = F.lit(float(dx)), F.lit(float(dy))
    crossings = F.filter(
        F.array(
            crossing(z00, z10, wx, wy, wx + sdx, wy, 0),           # bottom
            crossing(z10, z11, wx + sdx, wy, wx + sdx, wy + sdy, 1),  # right
            crossing(z01, z11, wx, wy + sdy, wx + sdx, wy + sdy, 2),  # top
            crossing(z00, z01, wx, wy, wx, wy + sdy, 3),           # left
        ),
        lambda c: c.isNotNull(),
    )
    n_cross = F.size(crossings)
    c = lambda i: F.element_at(crossings, i)
    # saddle rule: center average above the level pairs bottom-right /
    # top-left; below pairs bottom-left / top-right. Edge order in the
    # array is bottom(0), right(1), top(2), left(3).
    center_hi = (z00 + z10 + z01 + z11) / F.lit(4.0) >= L
    seg2 = F.when(
        n_cross == 4,
        F.when(
            center_hi,
            F.array(
                F.struct(c(1).alias("a"), c(2).alias("b")),
                F.struct(c(3).alias("a"), c(4).alias("b")),
            ),
        ).otherwise(
            F.array(
                F.struct(c(1).alias("a"), c(4).alias("b")),
                F.struct(c(2).alias("a"), c(3).alias("b")),
            )
        ),
    ).when(
        n_cross == 2,
        F.array(F.struct(c(1).alias("a"), c(2).alias("b"))),
    )
    segs = win.select(
        *group_cols,
        "level",
        F.explode(seg2).alias("__s"),
    )
    return segs.select(
        *group_cols,
        "level",
        F.col("__s.a.cx").alias("x1"),
        F.col("__s.a.cy").alias("y1"),
        F.col("__s.b.cx").alias("x2"),
        F.col("__s.b.cy").alias("y2"),
    )
