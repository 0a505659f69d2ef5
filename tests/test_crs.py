"""Karney–Krüger Transverse Mercator (UTM) closed-form reprojection.

Independent oracles: a numerical-quadrature meridian-arc (the northing at
the central meridian must equal k0 * arc length), hemisphere/meridian
symmetries of the projection, the published UTM anchor (central meridian
x equator -> 500000 E, 0 N), and a widely published control point. The
Spark column-expression path is then checked bit-for-bit against the
driver-side scalar math and plan-audited to stay UDF-free."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.operators.crs import (
    WGS84_A,
    WGS84_F,
    TransverseMercator,
    transform_point,
    utm_crs,
)
from xarray_dataaccessor_spark.operators.spatial import bbox_to_crs, transform_crs_udf


def meridian_arc(lat_deg: float) -> float:
    """Ellipsoidal meridian arc length from the equator, by Simpson
    quadrature of M(phi) = a(1-e^2) * integral (1-e^2 sin^2)^(-3/2) —
    independent of the Krüger series."""
    e2 = WGS84_F * (2 - WGS84_F)
    phi = math.radians(lat_deg)
    n = 10_000  # even
    h = phi / n
    total = 0.0
    for i in range(n + 1):
        p = i * h
        w = 1 if i in (0, n) else (4 if i % 2 else 2)
        total += w * (1 - e2 * math.sin(p) ** 2) ** -1.5
    return WGS84_A * (1 - e2) * total * h / 3.0


def test_utm_anchor_points():
    tm = utm_crs(32617)  # zone 17N, lon0 = -81
    assert tm.lon0_deg == -81.0
    e, n = tm.forward(-81.0, 0.0)
    assert e == pytest.approx(500_000.0, abs=1e-6)
    assert n == pytest.approx(0.0, abs=1e-6)


def test_northing_matches_meridian_arc_quadrature():
    tm = utm_crs(32617)
    for lat in (10.0, 45.0, 70.0):
        _, n = tm.forward(-81.0, lat)
        assert n == pytest.approx(0.9996 * meridian_arc(lat), abs=2e-3), lat


def snyder_tm_forward(lon, lat, lon0, k0=0.9996, fe=500_000.0, fn=0.0):
    """Snyder 1987 (USGS PP 1395, eqs. 8-9..8-13) Transverse Mercator —
    a completely different series formulation from Krüger; agrees to a
    few mm within a UTM zone. Used as an independent oracle."""
    e2 = WGS84_F * (2 - WGS84_F)
    ep2 = e2 / (1 - e2)
    phi = math.radians(lat)
    big_n = WGS84_A / math.sqrt(1 - e2 * math.sin(phi) ** 2)
    t = math.tan(phi) ** 2
    c = ep2 * math.cos(phi) ** 2
    a = math.radians(lon - lon0) * math.cos(phi)
    m = WGS84_A * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * math.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * math.sin(4 * phi)
        - (35 * e2**3 / 3072) * math.sin(6 * phi)
    )
    x = k0 * big_n * (
        a + (1 - t + c) * a**3 / 6
        + (5 - 18 * t + t**2 + 72 * c - 58 * ep2) * a**5 / 120
    )
    y = k0 * (
        m + big_n * math.tan(phi) * (
            a**2 / 2 + (5 - t + 9 * c + 4 * c**2) * a**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * ep2) * a**6 / 720
        )
    )
    return fe + x, fn + y


def test_matches_snyder_series_across_zone():
    tm = utm_crs(32617)  # lon0 = -81
    for lon in (-83.9, -82.0, -81.0, -79.5, -78.1):
        for lat in (-70.0, -23.5, 0.0, 17.25, 43.6425966, 71.8):
            e_k, n_k = tm.forward(lon, lat)
            fn = 0.0
            e_s, n_s = snyder_tm_forward(lon, lat, -81.0, fn=fn)
            assert e_k == pytest.approx(e_s, abs=0.01), (lon, lat)
            assert n_k == pytest.approx(n_s, abs=0.01), (lon, lat)


def test_hemisphere_and_meridian_symmetry():
    north, south = utm_crs(32633), utm_crs(32733)  # zone 33, lon0 = 15
    e_n, n_n = north.forward(17.5, 40.0)
    e_s, n_s = south.forward(17.5, -40.0)
    assert e_s == pytest.approx(e_n, abs=1e-6)
    assert n_s == pytest.approx(10_000_000.0 - n_n, abs=1e-6)
    # longitude mirrored about the central meridian mirrors the easting
    e_w, n_w = north.forward(12.5, 40.0)
    assert e_w == pytest.approx(2 * 500_000.0 - e_n, abs=1e-6)
    assert n_w == pytest.approx(n_n, abs=1e-6)


def test_roundtrip_precision_across_zone():
    tm = utm_crs(32631)  # zone 31N, lon0 = 3
    for lon in (-0.5, 0.0, 3.0, 5.9, 8.0):  # incl. outside nominal zone
        for lat in (-75.0, -30.0, 0.01, 30.0, 60.0, 84.0):
            x, y = tm.forward(lon, lat)
            lon2, lat2 = tm.inverse(x, y)
            assert lon2 == pytest.approx(lon, abs=1e-10), (lon, lat)
            assert lat2 == pytest.approx(lat, abs=1e-10), (lon, lat)


def test_epsg_registry_bounds():
    assert utm_crs(32601).lon0_deg == -177.0
    assert utm_crs(32660).lon0_deg == 177.0
    assert utm_crs(32760).false_northing == 10_000_000.0
    assert utm_crs(4326) is None
    assert utm_crs(3857) is None
    assert utm_crs(32661) is None  # UPS, not UTM


def test_spark_columns_match_scalar_and_stay_codegen(spark):
    pts = [(-79.3871635, 43.6425966), (-81.0, 0.0), (-84.3, -33.7), (-78.1, 71.2)]
    df = spark.createDataFrame(pts, "x double, y double")
    out = transform_crs_udf(df, 4326, 32617)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    tm = utm_crs(32617)
    got = {(round(p[0], 6), round(p[1], 6)): r for p, r in zip(pts, out.collect())}
    for lon, lat in pts:
        e, n = tm.forward(lon, lat)
        r = got[(round(lon, 6), round(lat, 6))]
        assert r["x"] == pytest.approx(e, abs=1e-6)
        assert r["y"] == pytest.approx(n, abs=1e-6)
    # and back: distributed inverse recovers the geographic coordinates
    # (column path uses the conformal-latitude series — O(e^10) error,
    # sub-0.1 mm ~ 1e-8 degrees)
    back = transform_crs_udf(out, 32617, 4326).collect()
    for (lon, lat), r in zip(pts, back):
        assert r["x"] == pytest.approx(lon, abs=1e-8)
        assert r["y"] == pytest.approx(lat, abs=1e-8)


def test_utm_to_utm_pivot(spark):
    df = spark.createDataFrame([(-79.3871635, 43.6425966)], "x double, y double")
    z17 = transform_crs_udf(df, 4326, 32617)
    z18 = transform_crs_udf(z17, 32617, 32618).collect()[0]
    want = utm_crs(32618).forward(-79.3871635, 43.6425966)
    # pivot goes through the series inverse (~1e-8 deg): mm-level, not
    # machine precision
    assert z18["x"] == pytest.approx(want[0], abs=5e-3)
    assert z18["y"] == pytest.approx(want[1], abs=5e-3)


def test_bbox_reprojection_utm():
    from xarray_dataaccessor_spark.meta import BoundingBox

    bb = BoundingBox(west=-83.476, south=41.383, east=-78.976, north=42.883)
    out = bbox_to_crs(bb, 4326, 32617)
    tm = utm_crs(32617)
    w, s = tm.forward(-83.476, 41.383)
    e, n = tm.forward(-78.976, 42.883)
    assert out.west == pytest.approx(min(w, e))
    assert out.east == pytest.approx(max(w, e))
    assert out.south == pytest.approx(min(s, n))
    assert out.north == pytest.approx(max(s, n))
    back = bbox_to_crs(out, 32617, 4326)
    assert back.west == pytest.approx(-83.476, abs=1e-8)
    assert back.north == pytest.approx(42.883, abs=1e-8)


def test_unknown_pair_still_gated():
    from xarray_dataaccessor_spark.meta import BoundingBox

    # 27700 resolves closed-form since round 9; Swiss CH1903+/LV95
    # (oblique mercator) remains genuinely gated
    with pytest.raises(NotImplementedError):
        bbox_to_crs(BoundingBox(west=0, south=0, east=1, north=1), 4326, 2056)
    bb = bbox_to_crs(
        BoundingBox(west=-3.0, south=51.0, east=-1.0, north=53.0), 4326, 27700
    )
    assert 200_000 < bb.west < bb.east < 500_000


def test_web_mercator_composes_through_the_registry(spark):
    """3857 is a registry CRS like any other: 3857 -> UTM and 3857 ->
    Albers compose through the geographic pivot (driver scalar, bbox and
    column paths), equal to going 3857 -> 4326 -> target by hand."""
    from xarray_dataaccessor_spark.meta import BoundingBox
    from xarray_dataaccessor_spark.operators.spatial import (
        from_web_mercator,
        to_web_mercator,
    )

    lonlat = [(-83.476, 41.383), (-78.976, 42.883), (-81.0, 0.0)]
    merc = [transform_point(lon, lat, 4326, 3857) for lon, lat in lonlat]
    df = spark.createDataFrame(lonlat, "x double, y double")
    # the registry's 3857 is exactly the frame-level Mercator pair
    assert [(r["x"], r["y"]) for r in to_web_mercator(df).collect()] == merc
    back = from_web_mercator(spark.createDataFrame(merc, "x double, y double"))
    assert [(r["x"], r["y"]) for r in back.collect()] == [
        transform_point(x, y, 3857, 4326) for x, y in merc
    ]
    for target in (32617, 5070):
        for mx, my in merc:
            direct = transform_point(mx, my, 3857, target)
            pivot = transform_point(*transform_point(mx, my, 3857, 4326), 4326, target)
            assert direct == pivot, target
        bb = bbox_to_crs(
            BoundingBox(west=merc[0][0], south=merc[0][1], east=merc[1][0], north=merc[1][1]),
            3857, target,
        )
        w, s = transform_point(*merc[0], 3857, target)
        e, n = transform_point(*merc[1], 3857, target)
        assert (bb.west, bb.south, bb.east, bb.north) == (min(w, e), min(s, n), max(w, e), max(s, n))
        cols = transform_crs_udf(
            spark.createDataFrame(merc, "x double, y double"), 3857, target
        ).collect()
        for r, (mx, my) in zip(cols, merc):
            want = transform_point(mx, my, 3857, target)
            assert r["x"] == pytest.approx(want[0], abs=1e-6)
            assert r["y"] == pytest.approx(want[1], abs=1e-6)


# ---------------------------------------------------------------------------
# Sinusoidal (MODIS sphere) — VERDICT r2 #5: the native CRS of the
# LP-DAAC products the reference ingests (nasa_from_LPDAAC.py:233-238).
# ---------------------------------------------------------------------------
def test_sinusoidal_matches_snyder_formula():
    """Snyder 1987 eqs. 30-1/30-2 on the MODIS sphere, independent
    implementation as the oracle."""
    import numpy as np

    from xarray_dataaccessor_spark.operators.crs import sinusoidal_crs

    sin = sinusoidal_crs(6974)
    R = 6371007.181
    rng = np.random.default_rng(5)
    lons = rng.uniform(-179.9, 179.9, 50)
    lats = rng.uniform(-89.0, 89.0, 50)
    for lon, lat in zip(lons, lats):
        x, y = sin.forward(lon, lat)
        assert x == pytest.approx(R * math.radians(lon) * math.cos(math.radians(lat)), abs=1e-6)
        assert y == pytest.approx(R * math.radians(lat), abs=1e-6)
        lon2, lat2 = sin.inverse(x, y)
        assert lon2 == pytest.approx(lon, abs=1e-9)
        assert lat2 == pytest.approx(lat, abs=1e-9)


def test_sinusoidal_modis_grid_corner():
    """The published MODIS grid extent: the equatorial antimeridian maps
    to +-R*pi = +-20015109.3558 m (the grid's X0)."""
    from xarray_dataaccessor_spark.operators.crs import sinusoidal_crs

    sin = sinusoidal_crs(6974)
    x, y = sin.forward(-180.0, 0.0)
    assert x == pytest.approx(-6371007.181 * math.pi, abs=1e-9)
    assert x == pytest.approx(-20015109.3558, abs=1e-3)
    assert y == pytest.approx(0.0, abs=1e-9)


def test_sinusoidal_grid_transform_and_pivot(spark):
    """transform_grid handles 4326<->sinusoidal (and sinusoidal<->UTM via
    the geographic pivot) as pure column expressions."""
    from xarray_dataaccessor_spark.operators.crs import sinusoidal_crs, transform_grid

    sin = sinusoidal_crs(6974)
    pts = [(-83.476, 41.383), (-78.976, 42.883), (0.0, 0.0), (120.5, -33.25)]
    df = spark.createDataFrame(pts, "x double, y double")
    out = {
        (round(r["x"], 6), round(r["y"], 6))
        for r in transform_grid(df, 4326, 6974).collect()
    }
    expected = {
        tuple(round(v, 6) for v in sin.forward(lon, lat)) for lon, lat in pts
    }
    assert out == expected
    # inverse round-trip through the distributed path
    back = transform_grid(transform_grid(df, 4326, 6974), 6974, 4326).collect()
    for r, (lon, lat) in zip(sorted(back, key=lambda r: r["x"]), sorted(pts)):
        assert r["x"] == pytest.approx(lon, abs=1e-9)
        assert r["y"] == pytest.approx(lat, abs=1e-9)
    # sinusoidal <-> UTM pivots through 4326, still closed form (no raise)
    assert transform_grid(df, 4326, 6974).count() == 4


def test_sinusoidal_stays_codegen(spark):
    from xarray_dataaccessor_spark.operators.crs import transform_grid
    from xarray_dataaccessor_spark.plans.explain import plan_string

    df = spark.range(100).selectExpr(
        "CAST(id AS DOUBLE) / 10 - 5 AS x", "CAST(id AS DOUBLE) / 20 AS y"
    )
    plan = plan_string(transform_grid(df, 4326, 6974))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


# ---------------------------------------------------------------------------
# conic + polar families (Snyder chs. 14/15/21)
# ---------------------------------------------------------------------------
def test_polar_stereo_snyder_worked_example():
    """Snyder 1987 numerical example (p. 314-315): International
    ellipsoid, k0=0.994, south aspect, lam0=-100; (150E, 75S) ->
    (-1573645.4, -572760.1) — variant A (k0) parameterization."""
    from xarray_dataaccessor_spark.operators.crs import PolarStereographic

    ps = PolarStereographic(
        a=6378388.0, f=1 - (1 - 0.00672267) ** 0.5,
        k0=0.994, lon0_deg=-100.0, south=True,
    )
    x, y = ps.forward(150.0, -75.0)
    assert x == pytest.approx(-1573645.4, abs=0.2)
    assert y == pytest.approx(-572760.1, abs=0.2)
    lon, lat = ps.inverse(x, y)
    assert lon == pytest.approx(150.0, abs=1e-7)
    assert lat == pytest.approx(-75.0, abs=1e-7)


def test_polar_stereo_nsidc_invariants():
    """Variant B (standard parallel): the pole projects to the origin,
    scale is exactly 1 at lat_ts (that's what 'standard parallel'
    means), and forward/inverse round-trip to 1e-8 degrees."""
    import math

    from xarray_dataaccessor_spark.operators.crs import projected_crs

    for code, pole, lat_ts in ((3413, 90.0, 70.0), (3031, -90.0, -71.0),
                               (3976, -90.0, -70.0), (3995, 90.0, 71.0)):
        p = projected_crs(code)
        x0, y0 = p.forward(p.lon0_deg, pole)
        assert abs(x0) < 1e-6 and abs(y0) < 1e-6
        dlat = 1e-6
        x1, y1 = p.forward(p.lon0_deg, lat_ts - dlat)
        x2, y2 = p.forward(p.lon0_deg, lat_ts + dlat)
        a, f = 6378137.0, 1 / 298.257223563
        e2 = f * (2 - f)
        m_rad = a * (1 - e2) / (1 - e2 * math.sin(math.radians(lat_ts)) ** 2) ** 1.5
        k = math.hypot(x2 - x1, y2 - y1) / (2 * dlat * math.pi / 180 * m_rad)
        assert k == pytest.approx(1.0, abs=1e-7)
        for lon, lat in ((-45, 70), (100, 60), (-170, 85)):
            if pole < 0:
                lat = -lat
            xy = p.forward(lon, lat)
            ll = p.inverse(*xy)
            assert ll[0] == pytest.approx(lon, abs=1e-8)
            assert ll[1] == pytest.approx(lat, abs=1e-8)


def test_lcc_and_albers_snyder_worked_examples():
    """Snyder numerical examples (pp. 292, 296): Clarke 1866, standard
    parallels 33/45 (LCC) and 29.5/45.5 (Albers), lat0=23, lam0=-96,
    point (75W, 35N)."""
    from xarray_dataaccessor_spark.operators.crs import (
        AlbersEqualArea,
        LambertConformalConic,
    )

    clarke_f = 1 - (1 - 0.00676866) ** 0.5
    lcc = LambertConformalConic(sp1=33.0, sp2=45.0, lat0=23.0, lon0_deg=-96.0,
                                a=6378206.4, f=clarke_f)
    x, y = lcc.forward(-75.0, 35.0)
    assert x == pytest.approx(1894410.9, abs=0.2)
    assert y == pytest.approx(1564649.5, abs=0.2)
    lon, lat = lcc.inverse(x, y)
    assert lon == pytest.approx(-75.0, abs=1e-7)
    assert lat == pytest.approx(35.0, abs=1e-7)

    alb = AlbersEqualArea(sp1=29.5, sp2=45.5, lat0=23.0, lon0_deg=-96.0,
                          a=6378206.4, f=clarke_f)
    x, y = alb.forward(-75.0, 35.0)
    assert x == pytest.approx(1885472.7, abs=0.2)
    assert y == pytest.approx(1535925.0, abs=0.2)
    lon, lat = alb.inverse(x, y)
    assert lon == pytest.approx(-75.0, abs=1e-7)
    assert lat == pytest.approx(35.0, abs=1e-6)


def test_lambert93_known_grid_coordinate():
    """EPSG:2154 sanity anchor: Paris city hall (2.3522E, 48.8566N)
    lands at the published Lambert-93 grid position (~652469, 6862035),
    metre-level."""
    from xarray_dataaccessor_spark.operators.crs import projected_crs

    x, y = projected_crs(2154).forward(2.3522, 48.8566)
    assert x == pytest.approx(652469, abs=2.0)
    assert y == pytest.approx(6862035, abs=2.0)


def test_conic_polar_columns_match_scalar_and_stay_codegen(spark):
    """The column-expression twins come from the SAME formula bound to a
    different ops backend — distributed results must equal driver-side
    scalars to float precision, with no Python in the plan."""
    from xarray_dataaccessor_spark.operators.crs import projected_crs, transform_grid
    from xarray_dataaccessor_spark.plans.explain import plan_string

    pts = [(-96.0, 40.0), (-120.5, 33.25), (-75.0, 35.0)]
    df = spark.createDataFrame(pts, "x double, y double")
    for code in (5070, 2154, 3978, 3413, 3031):
        out = transform_grid(df, 4326, code)
        plan = plan_string(out)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan
        proj = projected_crs(code)
        got = sorted((r["x"], r["y"]) for r in out.collect())
        want = sorted(proj.forward(lon, lat) for lon, lat in pts)
        for g, w in zip(got, want):
            assert g[0] == pytest.approx(w[0], abs=1e-6)
            assert g[1] == pytest.approx(w[1], abs=1e-6)
        # distributed inverse recovers geographic coordinates
        back = sorted((r["x"], r["y"]) for r in transform_grid(out, code, 4326).collect())
        for b, (lon, lat) in zip(back, sorted(pts)):
            assert b[0] == pytest.approx(lon, abs=1e-7)
            assert b[1] == pytest.approx(lat, abs=1e-7)


# ---------------------------------------------------------------------------
# Rotated pole (CF rotated_latitude_longitude, CORDEX/COSMO)
# ---------------------------------------------------------------------------


def test_rotated_pole_cf_fixed_points():
    from xarray_dataaccessor_spark.operators.crs import rotated_pole_crs

    rp = rotated_pole_crs("EUR-11")  # pole (-162, 39.25)
    # rotated origin lies at true (np_lon + 180, 90 - np_lat)
    assert rp.forward(18.0, 50.75) == pytest.approx((0.0, 0.0), abs=1e-9)
    assert rp.inverse(0.0, 0.0) == pytest.approx((18.0, 50.75), abs=1e-9)
    # the true north pole sits on the rotated central meridian at np_lat
    lon, lat = rp.forward(0.0, 90.0)
    assert lat == pytest.approx(39.25, abs=1e-9)
    # unrotated domain (pole at the pole) is the identity
    noop = rotated_pole_crs("AFR-44")
    assert noop.forward(12.3, -45.6) == pytest.approx((12.3, -45.6), abs=1e-9)
    with pytest.raises(ValueError, match="CORDEX"):
        rotated_pole_crs("XYZ-99")


def test_rotated_pole_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from xarray_dataaccessor_spark.operators.crs import RotatedPole

    @settings(max_examples=300, deadline=None)
    @given(
        lon=st.floats(min_value=-179.9, max_value=179.9),
        lat=st.floats(min_value=-89.9, max_value=89.9),
        np_lon=st.floats(min_value=-179.0, max_value=179.0),
        np_lat=st.floats(min_value=1.0, max_value=89.0),
    )
    def run(lon, lat, np_lon, np_lat):
        rp = RotatedPole(np_lon=np_lon, np_lat=np_lat)
        rlon, rlat = rp.forward(lon, lat)
        assert -180.0 <= rlon <= 180.0 and -90.0 <= rlat <= 90.0
        lon2, lat2 = rp.inverse(rlon, rlat)
        # compare on the sphere (longitude is degenerate near the poles)
        import math

        d = math.sin(math.radians(lat)) * math.sin(math.radians(lat2)) + math.cos(
            math.radians(lat)
        ) * math.cos(math.radians(lat2)) * math.cos(math.radians(lon - lon2))
        assert d >= 1.0 - 1e-9

    run()


def test_rotated_pole_columns_match_scalars(spark):
    import math

    from pyspark.sql import functions as F

    from xarray_dataaccessor_spark.operators.crs import rotated_pole_crs
    from xarray_dataaccessor_spark.operators.spatial import rotate_pole_grid

    rp = rotated_pole_crs("EUR-11")
    pts = [(float(lo), float(la)) for lo in range(-30, 61, 10) for la in range(20, 81, 10)]
    df = spark.createDataFrame(pts, "x double, y double")
    out = {
        (r["x0"], r["y0"]): (r["x"], r["y"])
        for r in rotate_pole_grid(
            df.withColumn("x0", F.col("x")).withColumn("y0", F.col("y")), "EUR-11"
        ).collect()
    }
    for lo, la in pts:
        want = rp.forward(lo, la)
        got = out[(lo, la)]
        assert abs(got[0] - want[0]) < 1e-9 and abs(got[1] - want[1]) < 1e-9
    # and the column inverse undoes the column forward
    back = rotate_pole_grid(
        rotate_pole_grid(df, "EUR-11"), "EUR-11", inverse=True
    ).collect()
    for r in back:
        assert math.isclose(r["x"] % 360, r["x"] % 360) and abs(r["y"]) <= 90


# ---------------------------------------------------------------------------
# Equal-area families (round 4): LAEA (EPSG:3035, EASE-Grid 2.0 polar
# 6931/6932) and cylindrical equal-area (EASE-Grid 2.0 global 6933)
# ---------------------------------------------------------------------------


def test_laea_epsg_guidance_worked_example():
    """EPSG Guidance Note 7-2, method 9820 example (ETRS89-LAEA,
    EPSG:3035): 50N 5E -> E 3962799.45, N 2999718.85."""
    from xarray_dataaccessor_spark.operators.crs import conic_polar_crs

    p = conic_polar_crs(3035)
    x, y = p.forward(5.0, 50.0)
    assert x == pytest.approx(3962799.45, abs=0.02)
    assert y == pytest.approx(2999718.85, abs=0.02)
    lon, lat = p.inverse(x, y)
    assert lon == pytest.approx(5.0, abs=1e-7)
    assert lat == pytest.approx(50.0, abs=1e-7)


def test_ease_grid2_published_extent_constant():
    """EASE-Grid 2.0 global (EPSG:6933): the NSIDC-published map x at the
    antimeridian is 17367530.445161 m."""
    from xarray_dataaccessor_spark.operators.crs import conic_polar_crs

    x, y = conic_polar_crs(6933).forward(180.0, 0.0)
    assert x == pytest.approx(17367530.445161, abs=1e-3)
    assert y == pytest.approx(0.0, abs=1e-6)


@pytest.mark.parametrize("code,pts", [
    (3035, [(10, 52), (5, 50), (25, 35), (-10, 70), (31.17, 34.9)]),
    (6931, [(0, 45), (90, 30), (-135, 10), (179.0, 0.5)]),
    (6932, [(10, -45), (-90, -30), (135, -10)]),
    (6933, [(0, 0), (100, 20), (-179, 85), (45, -60)]),
])
def test_equal_area_roundtrip(code, pts):
    from xarray_dataaccessor_spark.operators.crs import conic_polar_crs

    p = conic_polar_crs(code)
    for lon, lat in pts:
        x, y = p.forward(lon, lat)
        lon2, lat2 = p.inverse(x, y)
        assert lon2 == pytest.approx(lon, abs=1e-5)
        assert lat2 == pytest.approx(lat, abs=1e-5)


@pytest.mark.parametrize("code,pt", [
    (3035, (15, 48)), (6931, (40, 60)), (6932, (-60, -50)), (6933, (100, 20)),
])
def test_equal_area_property(code, pt):
    """The defining invariant: the finite-difference Jacobian equals the
    ellipsoidal area element (|distortion| = 1 everywhere)."""
    import math

    from xarray_dataaccessor_spark.operators.crs import conic_polar_crs

    p = conic_polar_crs(code)
    a, f = p.a, p.f
    e2 = f * (2 - f)
    lon, lat = pt
    h = 1e-6
    x0, y0 = p.forward(lon, lat)
    xl, yl = p.forward(lon + h, lat)
    xp, yp = p.forward(lon, lat + h)
    J = abs((xl - x0) * (yp - y0) - (xp - x0) * (yl - y0)) / (h * h)
    rad = math.pi / 180
    s = math.sin(lat * rad)
    dA = a * a * (1 - e2) * math.cos(lat * rad) / (1 - e2 * s * s) ** 2 * rad * rad
    assert J / dA == pytest.approx(1.0, abs=1e-6)


def test_equal_area_columns_match_scalar_and_stay_codegen(spark):
    from xarray_dataaccessor_spark.operators.crs import projected_crs, transform_grid
    from xarray_dataaccessor_spark.plans.explain import plan_string

    pts = [(10.0, 52.0), (25.0, 35.0), (-10.0, 70.0)]
    df = spark.createDataFrame(pts, "x double, y double")
    for code in (3035, 6931, 6933):
        out = transform_grid(df, 4326, code)
        plan = plan_string(out)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan
        proj = projected_crs(code)
        got = sorted((r["x"], r["y"]) for r in out.collect())
        want = sorted(proj.forward(lon, lat) for lon, lat in pts)
        for g, w in zip(got, want):
            assert g[0] == pytest.approx(w[0], abs=1e-6)
            assert g[1] == pytest.approx(w[1], abs=1e-6)
        back = sorted((r["x"], r["y"]) for r in transform_grid(out, code, 4326).collect())
        for b, (lon, lat) in zip(back, sorted(pts)):
            assert b[0] == pytest.approx(lon, abs=1e-5)
            assert b[1] == pytest.approx(lat, abs=1e-5)


# ---------------------------------------------------------------------------
# PROJ.4 string front-end
# ---------------------------------------------------------------------------
PROJ4_EPSG_TWINS = [
    ("+proj=utm +zone=17 +datum=WGS84 +units=m +no_defs", 32617),
    ("+proj=utm +zone=33 +south +datum=WGS84 +units=m +no_defs", 32733),
    ("+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 "
     "+datum=WGS84 +units=m +no_defs", 3413),
    ("+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +x_0=0 +y_0=0 "
     "+datum=WGS84 +units=m +no_defs", 3031),
    ("+proj=stere +lat_0=90 +k=0.994 +lon_0=0 +x_0=2000000 +y_0=2000000 "
     "+datum=WGS84 +units=m +no_defs", 5041),
    ("+proj=lcc +lat_1=44 +lat_2=49 +lat_0=46.5 +lon_0=3 +x_0=700000 "
     "+y_0=6600000 +ellps=GRS80 +units=m +no_defs", 2154),
    ("+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 +x_0=0 "
     "+y_0=0 +datum=NAD83 +units=m +no_defs", 5070),
    ("+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
     "+ellps=GRS80 +units=m +no_defs", 3035),
    ("+proj=cea +lat_ts=30 +lon_0=0 +x_0=0 +y_0=0 +datum=WGS84 "
     "+units=m +no_defs", 6933),
]


@pytest.mark.parametrize("proj4,epsg", PROJ4_EPSG_TWINS)
def test_proj4_matches_epsg_twin(proj4, epsg):
    """A proj4 string and its EPSG code dispatch to identical
    closed-form transforms (bit-identical scalar results)."""
    from xarray_dataaccessor_spark.operators.crs import (
        crs_from_proj4,
        projected_crs,
    )

    via_str = crs_from_proj4(proj4)
    via_code = projected_crs(epsg)
    assert via_code is not None
    for lon, lat in ((-80.1, 41.2), (3.5, 46.0), (-45.0, 75.0), (10.0, 52.0)):
        if getattr(via_code, "south", False) or getattr(via_code, "lat0", 1) == -90:
            lat = -abs(lat)
        assert via_str.forward(lon, lat) == via_code.forward(lon, lat)
        x, y = via_code.forward(lon, lat)
        assert via_str.inverse(x, y) == via_code.inverse(x, y)


def test_proj4_sinusoidal_modis():
    from xarray_dataaccessor_spark.operators.crs import crs_from_proj4

    modis = crs_from_proj4(
        "+proj=sinu +R=6371007.181 +nadgrids=@null +units=m +no_defs"
    )
    x, y = modis.forward(-93.0, 45.0)
    lon, lat = modis.inverse(x, y)
    assert abs(lon - -93.0) < 1e-9 and abs(lat - 45.0) < 1e-9
    assert modis.radius == 6371007.181


def test_proj4_longlat_and_gates():
    from xarray_dataaccessor_spark.operators.crs import crs_from_proj4

    assert crs_from_proj4("+proj=longlat +datum=WGS84 +no_defs") is None
    with pytest.raises(NotImplementedError, match="units"):
        crs_from_proj4("+proj=utm +zone=10 +datum=WGS84 +units=us-ft")
    # +towgs84 resolves (round 9) — a 3-param shift wraps the LCC in a
    # DatumProjection instead of raising
    from xarray_dataaccessor_spark.operators.crs import DatumProjection

    shifted = crs_from_proj4(
        "+proj=lcc +lat_1=49 +lat_0=49 +lon_0=-95 +ellps=GRS80 "
        "+towgs84=-199.87,74.79,246.62"
    )
    assert isinstance(shifted, DatumProjection)
    with pytest.raises(NotImplementedError, match="non-polar"):
        crs_from_proj4("+proj=stere +lat_0=50 +lon_0=0 +datum=WGS84")
    with pytest.raises(NotImplementedError, match="proj=robin"):
        crs_from_proj4("+proj=robin +datum=WGS84")
    with pytest.raises(ValueError, match="no \\+proj"):
        crs_from_proj4("+datum=WGS84")


def test_proj4_explicit_ellipsoid_params():
    from xarray_dataaccessor_spark.operators.crs import crs_from_proj4

    a_rf = crs_from_proj4(
        "+proj=lcc +lat_1=44 +lat_2=49 +lat_0=46.5 +lon_0=3 "
        "+a=6378137 +rf=298.257222101"
    )
    named = crs_from_proj4(
        "+proj=lcc +lat_1=44 +lat_2=49 +lat_0=46.5 +lon_0=3 +ellps=GRS80"
    )
    assert a_rf.forward(3.5, 46.0) == named.forward(3.5, 46.0)


def test_transform_grid_accepts_proj4_strings(spark):
    from xarray_dataaccessor_spark.operators.crs import transform_grid

    df = spark.createDataFrame([(-80.1, 41.2), (-79.0, 42.0)], "x double, y double")
    via_code = transform_grid(df, 4326, 32617).collect()
    via_str = transform_grid(
        df, "+proj=longlat +datum=WGS84",
        "+proj=utm +zone=17 +datum=WGS84 +units=m",
    ).collect()
    assert sorted(map(tuple, via_code)) == sorted(map(tuple, via_str))


def test_transform_point_accepts_proj4_strings():
    from xarray_dataaccessor_spark.operators.crs import transform_point

    a = transform_point(-80.1, 41.2, 4326, 5070)
    b = transform_point(
        -80.1, 41.2, "+proj=longlat +datum=NAD83",
        "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 +datum=NAD83",
    )
    assert a == b


# ---------------------------------------------------------------------------
# Datum shifts (round 9): 7-parameter Helmert, legacy national grids
# ---------------------------------------------------------------------------
OSGB36 = (
    "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 "
    "+y_0=-100000 +ellps=airy "
    "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.4894 +units=m"
)


def test_osgb36_true_origin_anchor():
    """The OSGB36 true origin (49N 2W in the OSGB36 datum) is DEFINED to
    map to easting 400000, northing -100000 — an external anchor, not a
    mirror of our own code. mm-level residual = the second-order error
    of negating the small Helmert parameters."""
    from xarray_dataaccessor_spark.operators.crs import (
        _ELLPS, HelmertShift, crs_from_proj4,
    )

    pr = crs_from_proj4(OSGB36)
    a, f = _ELLPS["airy"]
    h = HelmertShift(
        params=(446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.4894),
        a=a, f=f,
    )
    wlon, wlat = h.to_wgs84(-2.0, 49.0)
    x, y = pr.forward(wlon, wlat)
    assert abs(x - 400000.0) < 0.01 and abs(y + 100000.0) < 0.01


def test_datum_shift_magnitude_and_roundtrip():
    """OSGB36->WGS84 over Britain is a ~100 m shift (the published
    Helmert is accurate to ~3 m): the latitude/longitude deltas must be
    in that band, and the WGS84<->grid round trip closes to ~5 mm."""
    from xarray_dataaccessor_spark.operators.crs import transform_point

    for lon, lat in [(-3.2, 55.95), (-0.1276, 51.5072), (-5.0, 50.2)]:
        x, y = transform_point(lon, lat, 4326, 27700)
        lon2, lat2 = transform_point(x, y, 27700, 4326)
        assert abs(lon2 - lon) < 1e-7 and abs(lat2 - lat) < 1e-7
    # shift magnitude: project the same numeric lon/lat WITH and WITHOUT
    # the datum step; the difference is the datum shift (~60-120 m)
    from xarray_dataaccessor_spark.operators.crs import crs_from_proj4

    with_datum = crs_from_proj4(OSGB36)
    no_datum = crs_from_proj4(OSGB36.replace(
        "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.4894 ", ""
    ))
    xw, yw = with_datum.forward(-2.0, 52.0)
    xn, yn = no_datum.forward(-2.0, 52.0)
    d = ((xw - xn) ** 2 + (yw - yn) ** 2) ** 0.5
    assert 50.0 < d < 200.0, d


def test_datum_shift_columns_match_scalar(spark):
    """The distributed path is transform_grid's TWO-projection split
    (Helmert step, then projection step) — composing both into one
    Column tree is the documented OOM trap (_apply_pair_cols)."""
    from xarray_dataaccessor_spark.operators.crs import (
        crs_from_proj4, transform_grid,
    )

    pr = crs_from_proj4(OSGB36)
    pts = [(-2.5, 51.3), (-1.1, 53.9), (0.4, 52.2)]
    df = spark.createDataFrame(pts, "x double, y double")
    got = {
        round(r["x"], 3): (r["x"], r["y"])
        for r in transform_grid(df, 4326, OSGB36).collect()
    }
    for lon, lat in pts:
        sx, sy = pr.forward(lon, lat)
        gx, gy = got[round(sx, 3)]
        assert abs(gx - sx) < 1e-6 and abs(gy - sy) < 1e-6
    # distributed inverse closes the loop
    back = transform_grid(
        transform_grid(df, 4326, OSGB36), OSGB36, 4326
    ).collect()
    for r, (lon, lat) in zip(sorted(back, key=lambda r: r["x"]),
                             sorted(pts)):
        assert abs(r["x"] - lon) < 1e-7 and abs(r["y"] - lat) < 1e-7


def test_zero_towgs84_still_converts_between_ellipsoids():
    """towgs84=0,0,0 on Bessel: identical XYZ, DIFFERENT geodetic
    latitude (the ellipsoid change is real) — longitude unchanged."""
    from xarray_dataaccessor_spark.operators.crs import (
        _ELLPS, HelmertShift,
    )

    a, f = _ELLPS["bessel"]
    h = HelmertShift(params=(0.0, 0.0, 0.0), a=a, f=f)
    lon, lat = h.to_wgs84(9.0, 50.0)
    assert lon == pytest.approx(9.0, abs=1e-12)
    assert lat != 50.0 and abs(lat - 50.0) < 0.01


def test_gauss_krueger_epsg_twin():
    from xarray_dataaccessor_spark.operators.crs import (
        crs_from_proj4, transform_point,
    )

    p4 = ("+proj=tmerc +lat_0=0 +lon_0=9 +k=1 +x_0=3500000 +y_0=0 "
          "+ellps=bessel "
          "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7 +units=m")
    a = transform_point(9.5, 50.0, 4326, 31467)
    b = crs_from_proj4(p4).forward(9.5, 50.0)
    assert a == b
    # zone-3 sanity: 0.5 deg east of the central meridian at 50N is
    # ~35.8 km east of the 3.5M false easting
    assert 3_530_000 < a[0] < 3_545_000 and 5_500_000 < a[1] < 5_580_000


def test_geographic_datum_longlat_towgs84():
    """+proj=longlat with a real +towgs84 is a DIFFERENT datum, not
    WGS84 (ADVICE r9 #1: it used to resolve to None — a silent ~100 m
    error). The object must shift, round-trip, and compose through the
    projected->projected pivot exactly like the DatumProjection twin."""
    from xarray_dataaccessor_spark.operators.crs import (
        GeographicDatum, crs_from_proj4, transform_point,
    )

    p4 = ("+proj=longlat +ellps=bessel "
          "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7")
    g = crs_from_proj4(p4)
    assert isinstance(g, GeographicDatum)
    # WGS84 spellings still resolve to the plain geographic pivot
    assert crs_from_proj4("+proj=longlat +datum=WGS84") is None
    assert crs_from_proj4("+proj=longlat +ellps=WGS84 +towgs84=0,0,0") is None
    assert crs_from_proj4("+proj=longlat +ellps=bessel") is None  # legacy no-datum

    lon, lat = 9.5, 50.25
    dlon, dlat = transform_point(lon, lat, 4326, p4)
    # DHDN shift over Germany is ~70-120 m
    ddeg = ((dlon - lon) ** 2 + (dlat - lat) ** 2) ** 0.5
    assert 5e-4 < ddeg < 3e-3, ddeg
    # round trip closes to the small-parameter negation's own error band
    blon, blat = transform_point(dlon, dlat, p4, 4326)
    assert abs(blon - lon) < 2e-7 and abs(blat - lat) < 2e-7
    # pivot equivalence: 4326 -> datum-geographic -> tmerc(bessel)
    # equals the one-step 4326 -> EPSG:31467 DatumProjection path
    x1, y1 = transform_point(lon, lat, 4326, 31467)
    tm = ("+proj=tmerc +lat_0=0 +lon_0=9 +k=1 +x_0=3500000 +y_0=0 "
          "+ellps=bessel +units=m")
    x2, y2 = crs_from_proj4(tm).forward(dlon, dlat)
    assert abs(x1 - x2) < 1e-6 and abs(y1 - y2) < 1e-6
    # and the projected side inverts back onto the datum-geographic side
    # (through WGS84: two Helmert legs, so the negation's second-order
    # error applies twice — same band as the round trip)
    xx, yy = transform_point(x1, y1, 31467, p4)
    assert abs(xx - dlon) < 2e-7 and abs(yy - dlat) < 2e-7


def test_geographic_datum_columns_match_scalar(spark):
    from xarray_dataaccessor_spark.operators.crs import (
        crs_from_proj4, transform_grid,
    )

    p4 = ("+proj=longlat +ellps=bessel "
          "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7")
    g = crs_from_proj4(p4)
    pts = [(9.5, 50.25), (8.0, 48.5), (11.2, 52.9)]
    df = spark.createDataFrame(pts, "x double, y double")
    got = sorted(
        (r["x"], r["y"]) for r in transform_grid(df, 4326, p4).collect()
    )
    want = sorted(g.forward(lon, lat) for lon, lat in pts)
    for (gx, gy), (sx, sy) in zip(got, want):
        assert abs(gx - sx) < 1e-12 and abs(gy - sy) < 1e-12


def test_rotated_pole_point_at_pole_is_clamped():
    """Regression (hypothesis-found): a point coinciding with the
    rotated north pole lands asin's argument at 1 + ~1 ulp — the
    scalar path raised ValueError and the column path produced NaN
    before the _clip1 clamp."""
    from xarray_dataaccessor_spark.operators.crs import RotatedPole

    rp = RotatedPole(np_lon=0.0, np_lat=78.9109678954789)
    rlon, rlat = rp.forward(0.0, 78.9109678954789)
    assert rlat == 90.0
    lon, lat = rp.inverse(rlon, rlat)
    assert abs(lat - 78.9109678954789) < 1e-9
