"""General CRS reprojection without pyproj (R2/R4, SURVEY §2.6).

The reference's ``convert_crs`` (``shared_functions.py:132-157``) accepts
any EPSG via rioxarray/pyproj. Here the common projected CRS families get
closed-form transforms that run as **pure Spark column expressions**
(whole-stage codegen, no Python in the hot path):

- EPSG:4326 <-> EPSG:3857 (spherical Web Mercator)
- EPSG:4326 <-> UTM zones (EPSG 326xx north / 327xx south) — the
  Karney–Krüger series for the ellipsoidal Transverse Mercator
  (public algorithm: Karney 2011, "Transverse Mercator with an
  accuracy of a few nanometers"; coefficients to n^6 give sub-mm
  accuracy across a UTM zone's width)
- MODIS spherical sinusoidal (SR-ORG:6974 / ESRI:53008) — the native
  CRS of the LP-DAAC products the reference ingests
- Ellipsoidal polar stereographic (Snyder ch. 21): NSIDC sea-ice grids
  EPSG:3413/3976, Arctic/Antarctic 3995/3031, UPS 5041/5042
- Lambert conformal conic 2SP (Snyder ch. 15): Canada Atlas 3978,
  Lambert-93 2154
- Albers equal-area 2SP (Snyder ch. 14): Conus Albers 5070
- Lambert azimuthal equal-area (Snyder ch. 24 / EPSG method 9820):
  ETRS89-LAEA Europe 3035, EASE-Grid 2.0 polar 6931/6932 (SMAP/AMSR)
- Cylindrical equal-area (Snyder ch. 10): EASE-Grid 2.0 global 6933

Any pair of the above also composes through the geographic pivot, still
closed-form. Anything else falls back to the pyproj-gated pandas UDF in
``spatial.transform_crs_udf``. The same formulas evaluated with
driver-side ``math`` power bbox-corner reprojection (R5) so filters can
be pushed down in the projected frame.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.session import local_frame

# WGS84 defining parameters (public: NGA/EPSG)
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563


def _kruger_coefficients(n: float):
    """alpha (forward) and beta (inverse) Krüger series coefficients to
    n^6 — the published expansion (Karney 2011, eqs. 35-36)."""
    alpha = (
        n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16 + 41 * n**4 / 180
        - 127 * n**5 / 288 + 7891 * n**6 / 37800,
        13 * n**2 / 48 - 3 * n**3 / 5 + 557 * n**4 / 1440 + 281 * n**5 / 630
        - 1983433 * n**6 / 1935360,
        61 * n**3 / 240 - 103 * n**4 / 140 + 15061 * n**5 / 26880
        + 167603 * n**6 / 181440,
        49561 * n**4 / 161280 - 179 * n**5 / 168 + 6601661 * n**6 / 7257600,
        34729 * n**5 / 80640 - 3418889 * n**6 / 1995840,
        212378941 * n**6 / 319334400,
    )
    beta = (
        n / 2 - 2 * n**2 / 3 + 37 * n**3 / 96 - n**4 / 360
        - 81 * n**5 / 512 + 96199 * n**6 / 604800,
        n**2 / 48 + n**3 / 15 - 437 * n**4 / 1440 + 46 * n**5 / 105
        - 1118711 * n**6 / 3870720,
        17 * n**3 / 480 - 37 * n**4 / 840 - 209 * n**5 / 4480
        + 5569 * n**6 / 90720,
        4397 * n**4 / 161280 - 11 * n**5 / 504 - 830251 * n**6 / 7257600,
        4583 * n**5 / 161280 - 108847 * n**6 / 3991680,
        20648693 * n**6 / 638668800,
    )
    return alpha, beta


@dataclass(frozen=True)
class TransverseMercator:
    """One UTM-style projection: central meridian + scale + false offsets
    over any ellipsoid (``a``/``f`` default WGS84 — the Krüger series is
    generic in the third flattening, so OSGB36-on-Airy works the same
    way; round 9). All derived constants are plain floats so both the
    Spark column expressions and the driver-side scalar math embed them
    as literals."""

    lon0_deg: float
    k0: float = 0.9996
    false_easting: float = 500_000.0
    false_northing: float = 0.0
    a: float = WGS84_A
    f: float = WGS84_F
    lat0_deg: float = 0.0

    @property
    def _consts(self):
        f = self.f
        n = f / (2.0 - f)
        # rectifying radius A (Karney eq. 14)
        big_a = self.a / (1 + n) * (1 + n**2 / 4 + n**4 / 64 + n**6 / 256)
        e = math.sqrt(f * (2 - f))
        alpha, beta = _kruger_coefficients(n)
        return e, big_a, alpha, beta

    @property
    def _n0(self) -> float:
        """Northing of the latitude of origin (lat_0, e.g. OSGB36's
        49°N): the meridian arc from the equator, by the same Krüger
        series evaluated at lam=0 — subtracted from forward northings
        so lat_0 maps to false_northing exactly like PROJ's tmerc."""
        if self.lat0_deg == 0.0:
            return 0.0
        e, big_a, alpha, _ = self._consts
        phi = math.radians(self.lat0_deg)
        s = math.sin(phi)
        t = math.sinh(math.atanh(s) - e * math.atanh(e * s))
        xi_p = math.atan2(t, 1.0)
        xi = xi_p + sum(
            a * math.sin(2 * j * xi_p) for j, a in enumerate(alpha, start=1)
        )
        return self.k0 * big_a * xi

    # -- driver-side scalars (bbox corners, tests) ------------------------

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        e, big_a, alpha, _ = self._consts
        lam = math.radians(lon - self.lon0_deg)
        phi = math.radians(lat)
        s = math.sin(phi)
        t = math.sinh(math.atanh(s) - e * math.atanh(e * s))
        xi_p = math.atan2(t, math.cos(lam))
        eta_p = math.asinh(math.sin(lam) / math.hypot(t, math.cos(lam)))
        xi = xi_p + sum(
            a * math.sin(2 * j * xi_p) * math.cosh(2 * j * eta_p)
            for j, a in enumerate(alpha, start=1)
        )
        eta = eta_p + sum(
            a * math.cos(2 * j * xi_p) * math.sinh(2 * j * eta_p)
            for j, a in enumerate(alpha, start=1)
        )
        return (
            self.false_easting + self.k0 * big_a * eta,
            self.false_northing - self._n0 + self.k0 * big_a * xi,
        )

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        e, big_a, _, beta = self._consts
        xi = (y - self.false_northing + self._n0) / (self.k0 * big_a)
        eta = (x - self.false_easting) / (self.k0 * big_a)
        xi_p = xi - sum(
            b * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
            for j, b in enumerate(beta, start=1)
        )
        eta_p = eta - sum(
            b * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
            for j, b in enumerate(beta, start=1)
        )
        tau_p = math.sin(xi_p) / math.hypot(math.sinh(eta_p), math.cos(xi_p))
        lam = math.atan2(math.sinh(eta_p), math.cos(xi_p))
        # Newton on tau = tan(phi) (Karney eqs. 19-21); 2 iterations reach
        # double precision
        tau = tau_p
        for _ in range(3):
            sig = math.sinh(e * math.atanh(e * tau / math.hypot(1.0, tau)))
            f_tau = tau * math.hypot(1.0, sig) - sig * math.hypot(1.0, tau)
            d_tau = (
                (math.hypot(1.0, sig) * math.hypot(1.0, tau) - sig * tau)
                * (1 - e * e)
                * math.hypot(1.0, tau)
                / (1 + (1 - e * e) * tau * tau)
            )
            tau += (tau_p - f_tau) / d_tau
        return (
            self.lon0_deg + math.degrees(lam),
            math.degrees(math.atan(tau)),
        )

    # -- Spark column expressions (the distributed path) ------------------

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        """(easting, northing) as built-in column expressions — the whole
        series stays in whole-stage codegen; no UDF."""
        e, big_a, alpha, _ = self._consts
        lam = F.radians(lon - F.lit(self.lon0_deg))
        phi = F.radians(lat)
        s = F.sin(phi)
        t = F.sinh(F.atanh(s) - F.lit(e) * F.atanh(F.lit(e) * s))
        hyp = F.sqrt(t * t + F.cos(lam) * F.cos(lam))
        xi_p = F.atan2(t, F.cos(lam))
        eta_p = F.asinh(F.sin(lam) / hyp)
        xi, eta = xi_p, eta_p
        for j, a in enumerate(alpha, start=1):
            xi = xi + F.lit(a) * F.sin(F.lit(2.0 * j) * xi_p) * F.cosh(F.lit(2.0 * j) * eta_p)
            eta = eta + F.lit(a) * F.cos(F.lit(2.0 * j) * xi_p) * F.sinh(F.lit(2.0 * j) * eta_p)
        return (
            F.lit(self.false_easting) + F.lit(self.k0 * big_a) * eta,
            F.lit(self.false_northing - self._n0)
            + F.lit(self.k0 * big_a) * xi,
        )

    def inverse_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        """(lon, lat) from projected metres. Unlike the driver-side
        scalar inverse (Newton on tan(phi), machine precision), the
        column path recovers phi from the conformal latitude with the
        published direct series in e^2 (terms to e^8, error O(e^10)
        ~ 1e-11 rad ~ sub-0.1 mm) — an unrolled Newton loop would nest
        the tau expression recursively and blow the Catalyst tree up
        exponentially (minutes of planning time)."""
        e, big_a, _, beta = self._consts
        xi = (y - F.lit(self.false_northing - self._n0)) / F.lit(
            self.k0 * big_a
        )
        eta = (x - F.lit(self.false_easting)) / F.lit(self.k0 * big_a)
        xi_p, eta_p = xi, eta
        for j, b in enumerate(beta, start=1):
            xi_p = xi_p - F.lit(b) * F.sin(F.lit(2.0 * j) * xi) * F.cosh(F.lit(2.0 * j) * eta)
            eta_p = eta_p - F.lit(b) * F.cos(F.lit(2.0 * j) * xi) * F.sinh(F.lit(2.0 * j) * eta)
        tau_p = F.sin(xi_p) / F.sqrt(F.sinh(eta_p) * F.sinh(eta_p) + F.cos(xi_p) * F.cos(xi_p))
        lam = F.atan2(F.sinh(eta_p), F.cos(xi_p))
        # chi = conformal latitude; phi = chi + sum d_j sin(2j chi)
        chi = F.atan(tau_p)
        e2 = e * e
        d = (
            e2 / 2 + 5 * e2**2 / 24 + e2**3 / 12 + 13 * e2**4 / 360,
            7 * e2**2 / 48 + 29 * e2**3 / 240 + 811 * e2**4 / 11520,
            7 * e2**3 / 120 + 81 * e2**4 / 1120,
            4279 * e2**4 / 161280,
        )
        phi = chi
        for j, dj in enumerate(d, start=1):
            phi = phi + F.lit(dj) * F.sin(F.lit(2.0 * j) * chi)
        return (
            F.lit(self.lon0_deg) + F.degrees(lam),
            F.degrees(phi),
        )


@dataclass(frozen=True)
class Sinusoidal:
    """Spherical sinusoidal projection (Snyder 1987, "Map Projections —
    A Working Manual", eqs. 30-1/30-2): ``x = R*lam*cos(phi)``,
    ``y = R*phi``. This is the native CRS of the LP-DAAC MODIS products
    the reference ingests (``nasa_from_LPDAAC.py:233-238``) — MODIS uses
    a SPHERE of radius 6371007.181 m (the authalic radius), not the
    WGS84 ellipsoid. Closed form both ways, pure column expressions."""

    radius: float
    lon0_deg: float = 0.0

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        lam = math.radians(lon - self.lon0_deg)
        phi = math.radians(lat)
        return self.radius * lam * math.cos(phi), self.radius * phi

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        phi = y / self.radius
        lam = x / (self.radius * math.cos(phi))
        return self.lon0_deg + math.degrees(lam), math.degrees(phi)

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon - F.lit(self.lon0_deg))
        phi = F.radians(lat)
        return (
            F.lit(self.radius) * lam * F.cos(phi),
            F.lit(self.radius) * phi,
        )

    def inverse_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        phi = y / F.lit(self.radius)
        lam = x / (F.lit(self.radius) * F.cos(phi))
        return (
            F.lit(self.lon0_deg) + F.degrees(lam),
            F.degrees(phi),
        )


class WebMercator:
    """Spherical Web Mercator, EPSG:3857 (Snyder 1987 eqs. 7-1/7-2 on the
    sphere of radius ``WGS84_A``): ``x = R*lam``,
    ``y = R*ln(tan(pi/4 + phi/2))``; the inverse is
    ``phi = 2*atan(exp(y/R)) - pi/2``. ``spatial.to_web_mercator`` /
    ``from_web_mercator`` are the column twins over a frame."""

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return (
            WGS84_A * math.radians(lon),
            WGS84_A * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)),
        )

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        return (
            math.degrees(x / WGS84_A),
            math.degrees(2 * math.atan(math.exp(y / WGS84_A)) - math.pi / 2),
        )

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        return (
            F.lit(WGS84_A) * F.radians(lon),
            F.lit(WGS84_A) * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2)),
        )

    def inverse_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        return (
            F.degrees(x / F.lit(WGS84_A)),
            F.degrees(
                F.lit(2.0) * F.atan(F.exp(y / F.lit(WGS84_A)))
                - F.lit(math.pi / 2.0)
            ),
        )


# ---------------------------------------------------------------------------
# Conic + polar families (Snyder 1987, "Map Projections — A Working
# Manual", chs. 14/15/21). One implementation of each formula serves both
# the driver-side scalar path and the distributed column-expression path
# through a tiny ops shim — the math is written once, so the two paths
# cannot drift.
# ---------------------------------------------------------------------------
class _ScalarOps:
    sin = staticmethod(math.sin)
    cos = staticmethod(math.cos)
    tan = staticmethod(math.tan)
    atan = staticmethod(math.atan)
    atan2 = staticmethod(math.atan2)
    asin = staticmethod(math.asin)
    sqrt = staticmethod(math.sqrt)
    radians = staticmethod(math.radians)
    degrees = staticmethod(math.degrees)


class _ColumnOps:
    sin = staticmethod(F.sin)
    cos = staticmethod(F.cos)
    tan = staticmethod(F.tan)
    atan = staticmethod(F.atan)
    atan2 = staticmethod(F.atan2)
    asin = staticmethod(F.asin)
    sqrt = staticmethod(F.sqrt)
    radians = staticmethod(F.radians)
    degrees = staticmethod(F.degrees)


def _t_snyder(ops, phi, e):
    """Snyder 15-9: the isometric-latitude exponential used by every
    conformal projection here."""
    es = e * ops.sin(phi)
    return ops.tan(math.pi / 4 - phi / 2) / ((1 - es) / (1 + es)) ** (e / 2)


def _m_snyder(ops, phi, e):
    """Snyder 14-15: radius of the parallel / a."""
    s = ops.sin(phi)
    return ops.cos(phi) / ops.sqrt(1 - (e * s) ** 2)


def _chi_to_phi(ops, chi, e):
    """Snyder 3-5: conformal -> geodetic latitude, direct series (no
    iteration — an iterative solve unrolled into column expressions
    explodes the Catalyst tree)."""
    e2 = e * e
    e4 = e2 * e2
    e6 = e4 * e2
    e8 = e4 * e4
    return (
        chi
        + (e2 / 2 + 5 * e4 / 24 + e6 / 12 + 13 * e8 / 360) * ops.sin(2 * chi)
        + (7 * e4 / 48 + 29 * e6 / 240 + 811 * e8 / 11520) * ops.sin(4 * chi)
        + (7 * e6 / 120 + 81 * e8 / 1120) * ops.sin(6 * chi)
        + (4279 * e8 / 161280) * ops.sin(8 * chi)
    )


def _norm_lon(lon):
    """Wrap degrees to [-180, 180) — works for floats and Columns (the
    double-% form is sign-safe under both Python and Spark semantics)."""
    return ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0


# GRS80 (NAD83 / RGF93 / most modern national grids); WGS84 is above.
GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101


@dataclass(frozen=True)
class PolarStereographic:
    """Ellipsoidal polar stereographic (Snyder ch. 21, eqs. 21-33..21-39;
    reference reprojects to arbitrary EPSG via rio,
    ``shared_functions.py:132-157``). Both EPSG parameterizations:
    variant A (scale k0 at the pole) and variant B (standard parallel
    ``lat_ts``, e.g. the NSIDC sea-ice grids) — internally B reduces to A
    through k0 = m_c * K / (2 t_c), K = sqrt((1+e)^(1+e) (1-e)^(1-e)),
    so one formula serves both. South aspect via sign reflection
    (Snyder p. 161)."""

    a: float = WGS84_A
    f: float = WGS84_F
    lat_ts: float | None = None
    k0: float | None = None
    lon0_deg: float = 0.0
    south: bool = False
    false_easting: float = 0.0
    false_northing: float = 0.0

    @property
    def _consts(self):
        e = math.sqrt(self.f * (2 - self.f))
        big_k = math.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e))
        if self.lat_ts is not None:
            phic = math.radians(abs(self.lat_ts))
            k0 = _m_snyder(_ScalarOps, phic, e) * big_k / (
                2 * _t_snyder(_ScalarOps, phic, e)
            )
        else:
            k0 = self.k0 if self.k0 is not None else 1.0
        return e, big_k, k0

    def _fwd(self, ops, lon, lat):
        e, big_k, k0 = self._consts
        s = -1.0 if self.south else 1.0
        phi = (s * lat) * (math.pi / 180.0)
        lam_off = (s * lon - s * self.lon0_deg) * (math.pi / 180.0)
        rho = 2 * self.a * k0 * _t_snyder(ops, phi, e) / big_k
        x = s * rho * ops.sin(lam_off)
        y = s * (-rho) * ops.cos(lam_off)
        return x + self.false_easting, y + self.false_northing

    def _inv(self, ops, x, y):
        e, big_k, k0 = self._consts
        s = -1.0 if self.south else 1.0
        xs = s * (x - self.false_easting)
        ys = s * (y - self.false_northing)
        rho = ops.sqrt(xs * xs + ys * ys)
        t = rho * big_k / (2 * self.a * k0)
        chi = math.pi / 2 - 2 * ops.atan(t)
        phi = _chi_to_phi(ops, chi, e)
        lam = ops.atan2(xs, -ys)
        lon = _norm_lon(s * (self.lon0_deg * s + lam * (180.0 / math.pi)))
        return lon, s * phi * (180.0 / math.pi)

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return self._fwd(_ScalarOps, lon, lat)

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        return self._inv(_ScalarOps, x, y)

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        return self._fwd(_ColumnOps, lon, lat)

    def inverse_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        return self._inv(_ColumnOps, x, y)


@dataclass(frozen=True)
class LambertConformalConic:
    """Lambert conformal conic, two standard parallels (Snyder ch. 15,
    eqs. 15-1..15-11) — the projection of CONUS/Canada weather grids and
    most national mapping systems (Lambert-93 etc.)."""

    sp1: float
    sp2: float
    lat0: float
    lon0_deg: float
    a: float = GRS80_A
    f: float = GRS80_F
    false_easting: float = 0.0
    false_northing: float = 0.0

    @property
    def _consts(self):
        e = math.sqrt(self.f * (2 - self.f))
        p1, p2, p0 = (math.radians(v) for v in (self.sp1, self.sp2, self.lat0))
        m1 = _m_snyder(_ScalarOps, p1, e)
        m2 = _m_snyder(_ScalarOps, p2, e)
        t1 = _t_snyder(_ScalarOps, p1, e)
        t2 = _t_snyder(_ScalarOps, p2, e)
        t0 = _t_snyder(_ScalarOps, p0, e)
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
        big_f = m1 / (n * t1**n)
        rho0 = self.a * big_f * t0**n
        return e, n, big_f, rho0

    def _fwd(self, ops, lon, lat):
        e, n, big_f, rho0 = self._consts
        phi = lat * (math.pi / 180.0)
        rho = self.a * big_f * _t_snyder(ops, phi, e) ** n
        th = n * ((lon - self.lon0_deg) * (math.pi / 180.0))
        return (
            rho * ops.sin(th) + self.false_easting,
            rho0 - rho * ops.cos(th) + self.false_northing,
        )

    def _inv(self, ops, x, y):
        e, n, big_f, rho0 = self._consts
        sgn = 1.0 if n >= 0 else -1.0
        xs = x - self.false_easting
        dy = rho0 - (y - self.false_northing)
        rho = sgn * ops.sqrt(xs * xs + dy * dy)
        t = (rho / (self.a * big_f)) ** (1.0 / n)
        phi = _chi_to_phi(ops, math.pi / 2 - 2 * ops.atan(t), e)
        th = ops.atan2(sgn * xs, sgn * dy)
        lon = _norm_lon(self.lon0_deg + th * (180.0 / math.pi) / n)
        return lon, phi * (180.0 / math.pi)

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return self._fwd(_ScalarOps, lon, lat)

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        return self._inv(_ScalarOps, x, y)

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        return self._fwd(_ColumnOps, lon, lat)

    def inverse_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        return self._inv(_ColumnOps, x, y)


@dataclass(frozen=True)
class AlbersEqualArea:
    """Albers equal-area conic, two standard parallels (Snyder ch. 14,
    eqs. 14-1..14-21) — EPSG:5070, the de-facto CRS of US land-cover /
    soils rasters. Inverse geodetic latitude via the authalic series
    (Snyder 3-18), no iteration."""

    sp1: float
    sp2: float
    lat0: float
    lon0_deg: float
    a: float = GRS80_A
    f: float = GRS80_F
    false_easting: float = 0.0
    false_northing: float = 0.0

    @staticmethod
    def _q(ops, phi, e):
        s = ops.sin(phi)
        es = e * s
        return (1 - e * e) * (
            s / (1 - es * es) - (1 / (2 * e)) * _log_ratio(ops, es)
        )

    @property
    def _consts(self):
        e = math.sqrt(self.f * (2 - self.f))
        p1, p2, p0 = (math.radians(v) for v in (self.sp1, self.sp2, self.lat0))
        m1 = _m_snyder(_ScalarOps, p1, e)
        m2 = _m_snyder(_ScalarOps, p2, e)
        q1 = self._q(_ScalarOps, p1, e)
        q2 = self._q(_ScalarOps, p2, e)
        q0 = self._q(_ScalarOps, p0, e)
        qp = self._q(_ScalarOps, math.pi / 2, e)
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
        big_c = m1 * m1 + n * q1
        rho0 = self.a * math.sqrt(big_c - n * q0) / n
        return e, n, big_c, rho0, qp

    def _fwd(self, ops, lon, lat):
        e, n, big_c, rho0, _qp = self._consts
        phi = lat * (math.pi / 180.0)
        rho = self.a * ops.sqrt(big_c - n * self._q(ops, phi, e)) / n
        th = n * ((lon - self.lon0_deg) * (math.pi / 180.0))
        return (
            rho * ops.sin(th) + self.false_easting,
            rho0 - rho * ops.cos(th) + self.false_northing,
        )

    def _inv(self, ops, x, y):
        e, n, big_c, rho0, qp = self._consts
        e2 = e * e
        e4 = e2 * e2
        e6 = e4 * e2
        xs = x - self.false_easting
        dy = rho0 - (y - self.false_northing)
        rho = ops.sqrt(xs * xs + dy * dy)
        q = (big_c - (rho * n / self.a) ** 2) / n
        beta = ops.asin(q / qp)
        phi = (
            beta
            + (e2 / 3 + 31 * e4 / 180 + 517 * e6 / 5040) * ops.sin(2 * beta)
            + (23 * e4 / 360 + 251 * e6 / 3780) * ops.sin(4 * beta)
            + (761 * e6 / 45360) * ops.sin(6 * beta)
        )
        th = ops.atan2(xs, dy)
        lon = _norm_lon(self.lon0_deg + th * (180.0 / math.pi) / n)
        return lon, phi * (180.0 / math.pi)

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return self._fwd(_ScalarOps, lon, lat)

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        return self._inv(_ScalarOps, x, y)

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        return self._fwd(_ColumnOps, lon, lat)

    def inverse_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        return self._inv(_ColumnOps, x, y)


def _log_ratio(ops, es):
    """log((1-es)/(1+es)) for floats or Columns."""
    if isinstance(es, Column):
        return F.log((1 - es) / (1 + es))
    return math.log((1 - es) / (1 + es))


def _beta_to_phi(ops, beta, e):
    """Authalic -> geodetic latitude series (Snyder eq. 3-18)."""
    e2 = e * e
    e4 = e2 * e2
    e6 = e4 * e2
    return (
        beta
        + (e2 / 3 + 31 * e4 / 180 + 517 * e6 / 5040) * ops.sin(2 * beta)
        + (23 * e4 / 360 + 251 * e6 / 3780) * ops.sin(4 * beta)
        + (761 * e6 / 45360) * ops.sin(6 * beta)
    )


@dataclass(frozen=True)
class LambertAzimuthalEqualArea:
    """Ellipsoidal Lambert azimuthal equal-area (Snyder ch. 24, eqs.
    24-2..24-31 / EPSG method 9820): the CRS of the European reference
    grid (EPSG:3035 ETRS89-LAEA) and the EASE-Grid 2.0 polar hemispheres
    (EPSG:6931 north / 6932 south) that SMAP / AMSR snow-and-ice
    products ship in (reference reprojects these via rio,
    ``shared_functions.py:132-157``). Oblique aspect via the authalic
    sphere; polar aspects (lat0 = +/-90) use the exact polar form where
    the oblique D constant degenerates."""

    lat0: float
    lon0_deg: float
    a: float = GRS80_A
    f: float = GRS80_F
    false_easting: float = 0.0
    false_northing: float = 0.0

    @property
    def _consts(self):
        e = math.sqrt(self.f * (2 - self.f))
        qp = AlbersEqualArea._q(_ScalarOps, math.pi / 2, e)
        polar = 1 if self.lat0 >= 89.999999 else (-1 if self.lat0 <= -89.999999 else 0)
        if polar:
            return e, qp, polar, None, None, None, None
        p0 = math.radians(self.lat0)
        q0 = AlbersEqualArea._q(_ScalarOps, p0, e)
        beta0 = math.asin(q0 / qp)
        rq = self.a * math.sqrt(qp / 2.0)
        m0 = _m_snyder(_ScalarOps, p0, e)
        d = self.a * m0 / (rq * math.cos(beta0))
        return e, qp, 0, beta0, rq, d, None

    def _fwd(self, ops, lon, lat):
        e, qp, polar, beta0, rq, d, _ = self._consts
        rad = math.pi / 180.0
        phi = lat * rad
        lam = (lon - self.lon0_deg) * rad
        q = AlbersEqualArea._q(ops, phi, e)
        if polar:
            # Snyder 24-23/24-25: rho = a*sqrt(qp -/+ q)
            rho = self.a * ops.sqrt(qp - q if polar > 0 else qp + q)
            x = rho * ops.sin(lam)
            y = (-rho if polar > 0 else rho) * ops.cos(lam)
        else:
            beta = ops.asin(q / qp)
            sb, cb = ops.sin(beta), ops.cos(beta)
            sb0, cb0 = math.sin(beta0), math.cos(beta0)
            b = rq * ops.sqrt(
                2.0 / (1.0 + sb0 * sb + cb0 * cb * ops.cos(lam))
            )
            x = b * d * cb * ops.sin(lam)
            y = (b / d) * (cb0 * sb - sb0 * cb * ops.cos(lam))
        return x + self.false_easting, y + self.false_northing

    def _inv(self, ops, x, y):
        e, qp, polar, beta0, rq, d, _ = self._consts
        deg = 180.0 / math.pi
        xs = x - self.false_easting
        ys = y - self.false_northing
        if polar:
            rho = ops.sqrt(xs * xs + ys * ys)
            q = qp - (rho / self.a) ** 2
            if polar < 0:
                q = -q
            beta = ops.asin(q / qp)
            lon = _norm_lon(
                self.lon0_deg
                + ops.atan2(xs, -ys if polar > 0 else ys) * deg
            )
            return lon, _beta_to_phi(ops, beta, e) * deg
        sb0, cb0 = math.sin(beta0), math.cos(beta0)
        rho = ops.sqrt((xs / d) ** 2 + (d * ys) ** 2)
        # guard rho=0 (the projection center): ce=0, beta=beta0, lam=0
        ce = 2.0 * ops.asin(_clip1(ops, rho / (2.0 * rq)))
        sc, cc = ops.sin(ce), ops.cos(ce)
        safe_rho = _nonzero(ops, rho)
        beta = ops.asin(
            _clip1(ops, cc * sb0 + (d * ys * sc * cb0) / safe_rho)
        )
        lam = ops.atan2(xs * sc, d * safe_rho * cb0 * cc - d * d * ys * sb0 * sc)
        return (
            _norm_lon(self.lon0_deg + lam * deg),
            _beta_to_phi(ops, beta, e) * deg,
        )

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return self._fwd(_ScalarOps, lon, lat)

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        return self._inv(_ScalarOps, x, y)

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        return self._fwd(_ColumnOps, lon, lat)

    def inverse_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        return self._inv(_ColumnOps, x, y)


@dataclass(frozen=True)
class CylindricalEqualArea:
    """Ellipsoidal Lambert cylindrical equal-area (Snyder ch. 10, eqs.
    10-1/10-2/10-6..10-8): EPSG:6933, the EASE-Grid 2.0 global grid of
    SMAP/SMOS soil-moisture products. x is linear in longitude; y maps
    the authalic latitude — both directions close-form, no iteration."""

    lat_ts: float
    lon0_deg: float = 0.0
    a: float = WGS84_A
    f: float = WGS84_F
    false_easting: float = 0.0
    false_northing: float = 0.0

    @property
    def _consts(self):
        e = math.sqrt(self.f * (2 - self.f))
        pts = math.radians(self.lat_ts)
        k0 = math.cos(pts) / math.sqrt(1 - (e * math.sin(pts)) ** 2)
        return e, k0

    def _fwd(self, ops, lon, lat):
        e, k0 = self._consts
        rad = math.pi / 180.0
        q = AlbersEqualArea._q(ops, lat * rad, e)
        x = self.a * k0 * ((lon - self.lon0_deg) * rad)
        y = self.a * q / (2.0 * k0)
        return x + self.false_easting, y + self.false_northing

    def _inv(self, ops, x, y):
        e, k0 = self._consts
        deg = 180.0 / math.pi
        qp = AlbersEqualArea._q(_ScalarOps, math.pi / 2, e)
        q = 2.0 * k0 * (y - self.false_northing) / self.a
        beta = ops.asin(_clip1(ops, q / qp))
        lon = _norm_lon(
            self.lon0_deg + (x - self.false_easting) / (self.a * k0) * deg
        )
        return lon, _beta_to_phi(ops, beta, e) * deg

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return self._fwd(_ScalarOps, lon, lat)

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        return self._inv(_ScalarOps, x, y)

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        return self._fwd(_ColumnOps, lon, lat)

    def inverse_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        return self._inv(_ColumnOps, x, y)


def _clip1(ops, v):
    """Clamp to [-1, 1] before asin (floating fuzz at the domain edge)."""
    if isinstance(v, Column):
        return F.greatest(F.lit(-1.0), F.least(F.lit(1.0), v))
    return max(-1.0, min(1.0, v))


def _nonzero(ops, v, eps: float = 1e-12):
    """Replace |v| < eps with eps (guards x/rho at the projection
    center; the atan2/asin arguments there are 0 anyway)."""
    if isinstance(v, Column):
        return F.when(F.abs(v) < eps, F.lit(eps)).otherwise(v)
    return eps if abs(v) < eps else v


# EPSG registry for the conic/polar families. All parameters are the
# published EPSG definitions; NAD83/RGF93 grids use the GRS80 ellipsoid
# (datum shift to WGS84 is zero to within the projections' own accuracy).
_POLAR_STEREO = {
    # NSIDC Sea Ice Polar Stereographic North / South (WGS84)
    3413: dict(lat_ts=70.0, lon0_deg=-45.0, south=False),
    3976: dict(lat_ts=-70.0, lon0_deg=0.0, south=True),
    # Arctic / Antarctic Polar Stereographic
    3995: dict(lat_ts=71.0, lon0_deg=0.0, south=False),
    3031: dict(lat_ts=-71.0, lon0_deg=0.0, south=True),
    # Universal Polar Stereographic N/S (variant A: k0 at the pole)
    5041: dict(k0=0.994, lon0_deg=0.0, south=False,
               false_easting=2_000_000.0, false_northing=2_000_000.0),
    5042: dict(k0=0.994, lon0_deg=0.0, south=True,
               false_easting=2_000_000.0, false_northing=2_000_000.0),
}
_LCC = {
    # NAD83 / Canada Atlas Lambert
    3978: dict(sp1=49.0, sp2=77.0, lat0=49.0, lon0_deg=-95.0),
    # RGF93 / Lambert-93 (France)
    2154: dict(sp1=44.0, sp2=49.0, lat0=46.5, lon0_deg=3.0,
               false_easting=700_000.0, false_northing=6_600_000.0),
}
_ALBERS = {
    # NAD83 / Conus Albers — US land cover / soils rasters
    5070: dict(sp1=29.5, sp2=45.5, lat0=23.0, lon0_deg=-96.0),
}
_LAEA = {
    # ETRS89-extended / LAEA Europe — the EU reference grid (GRS80)
    3035: dict(lat0=52.0, lon0_deg=10.0,
               false_easting=4_321_000.0, false_northing=3_210_000.0),
    # EASE-Grid 2.0 North / South (WGS84) — SMAP/AMSR polar products
    6931: dict(lat0=90.0, lon0_deg=0.0, a=WGS84_A, f=WGS84_F),
    6932: dict(lat0=-90.0, lon0_deg=0.0, a=WGS84_A, f=WGS84_F),
}
_CEA = {
    # EASE-Grid 2.0 Global (WGS84, lat_ts=30) — SMAP/SMOS soil moisture
    6933: dict(lat_ts=30.0, lon0_deg=0.0),
}


def conic_polar_crs(code: int):
    """EPSG -> PolarStereographic / LambertConformalConic /
    AlbersEqualArea / LambertAzimuthalEqualArea / CylindricalEqualArea,
    or None."""
    if code in _POLAR_STEREO:
        return PolarStereographic(**_POLAR_STEREO[code])
    if code in _LCC:
        return LambertConformalConic(**_LCC[code])
    if code in _ALBERS:
        return AlbersEqualArea(**_ALBERS[code])
    if code in _LAEA:
        return LambertAzimuthalEqualArea(**_LAEA[code])
    if code in _CEA:
        return CylindricalEqualArea(**_CEA[code])
    return None


# MODIS sinusoidal has no EPSG code; the conventional identifiers are
# SR-ORG:6974 (MODIS sphere, authalic radius) and ESRI:53008
# (Sphere_Sinusoidal, R=6371000). Both are spheres, so one closed form
# serves both.
MODIS_SINUSOIDAL = 6974
_SINUSOIDAL_RADII = {6974: 6371007.181, 53008: 6371000.0}


def sinusoidal_crs(code: int) -> Sinusoidal | None:
    """SR-ORG:6974 (MODIS) / ESRI:53008 -> projection; None otherwise."""
    r = _SINUSOIDAL_RADII.get(code)
    return Sinusoidal(radius=r) if r is not None else None


def projected_crs(code: int):
    """Closed-form projection registry: spherical Web Mercator, WGS84
    UTM zones, spherical sinusoidal, polar stereographic (NSIDC/UPS),
    Lambert conformal conic, Albers equal-area — and datum-shifted
    national grids (OSGB36). Returns an object with forward/inverse
    (+ _cols twins) or None."""
    if code == 3857:
        return WebMercator()
    return (
        utm_crs(code) or sinusoidal_crs(code) or conic_polar_crs(code)
        or datum_grid_crs(code)
    )


#: national grids on legacy datums: proj4 spellings resolved through
#: the same dispatcher, so the EPSG int and the string are twins
_DATUM_GRIDS = {
    # OSGB36 / British National Grid (EPSG registry parameters; the
    # 7-parameter Helmert is the published OSGB36->WGS84 approximation
    # — OSTN15-grid accuracy needs the real correction grid, gated)
    27700: "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
           "+x_0=400000 +y_0=-100000 +ellps=airy "
           "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.4894 "
           "+units=m",
    # DHDN / Gauss-Krüger zone 3 (Germany, Bessel 1841)
    31467: "+proj=tmerc +lat_0=0 +lon_0=9 +k=1 +x_0=3500000 +y_0=0 "
           "+ellps=bessel "
           "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7 +units=m",
}


def datum_grid_crs(code: int):
    p4 = _DATUM_GRIDS.get(code)
    return crs_from_proj4(p4) if p4 else None


def utm_crs(epsg: int) -> TransverseMercator | None:
    """EPSG 32601-32660 (UTM north) / 32701-32760 (UTM south) ->
    projection params; None when the code is not a WGS84 UTM zone."""
    if 32601 <= epsg <= 32660:
        zone, south = epsg - 32600, False
    elif 32701 <= epsg <= 32760:
        zone, south = epsg - 32700, True
    else:
        return None
    return TransverseMercator(
        lon0_deg=zone * 6.0 - 183.0,
        false_northing=10_000_000.0 if south else 0.0,
    )


def _resolve_crs(code):
    """(projection | None, is_geographic) for an EPSG int OR a PROJ.4
    string — the two public CRS spellings. A geographic CRS (4326 /
    ``+proj=longlat``) resolves to (None, True)."""
    if isinstance(code, str):
        proj = crs_from_proj4(code)
        return proj, proj is None
    return projected_crs(code), code == 4326


def _apply_pair_cols(df: DataFrame, fn, x_col: str, y_col: str) -> DataFrame:
    """Replace (x_col, y_col) with the pair ``fn`` produces — one
    projection step. Datum-shifted CRSs apply their Helmert and their
    projection as TWO of these: composing both into one Column tree
    multiplies the shift subexpressions through every projection
    reference, and Catalyst's copy-on-transform turns that DAG into an
    exponentially materialized tree (observed: driver OOM during
    analysis). Two projections stay bounded — CollapseProject refuses
    to inline non-cheap aliases referenced more than once."""
    ex, ny = fn(F.col(x_col), F.col(y_col))
    return df.withColumn("__cx", ex).withColumn(y_col, ny).withColumn(
        x_col, F.col("__cx")
    ).drop("__cx")


def transform_grid(
    df: DataFrame, from_epsg, to_epsg, x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Closed-form CRS transform over grid columns (4326 <-> any CRS of
    the :func:`projected_crs` registry, and any pair of those through
    the geographic pivot). Accepts EPSG ints or PROJ.4
    strings on either side. Raises KeyError when the pair has no closed
    form here — callers (``spatial.transform_crs_udf``) then try the
    pyproj gate."""
    proj_to, to_geo = _resolve_crs(to_epsg)
    proj_from, from_geo = _resolve_crs(from_epsg)
    if from_geo and proj_to is not None:
        if isinstance(proj_to, DatumProjection):
            df = _apply_pair_cols(
                df, proj_to.shift.from_wgs84_cols, x_col, y_col
            )
            proj_to = proj_to.proj
        return _apply_pair_cols(df, proj_to.forward_cols, x_col, y_col)
    if proj_from is not None and to_geo:
        if isinstance(proj_from, DatumProjection):
            df = _apply_pair_cols(
                df, proj_from.proj.inverse_cols, x_col, y_col
            )
            return _apply_pair_cols(
                df, proj_from.shift.to_wgs84_cols, x_col, y_col
            )
        return _apply_pair_cols(df, proj_from.inverse_cols, x_col, y_col)
    if proj_from is not None and proj_to is not None:
        # projected -> projected via the geographic pivot, still closed-form
        return transform_grid(
            transform_grid(df, from_epsg, 4326, x_col, y_col), 4326, to_epsg, x_col, y_col
        )
    raise KeyError(f"No closed-form transform {from_epsg} -> {to_epsg}")


def transform_point(lon_or_x: float, lat_or_y: float, from_epsg, to_epsg):
    """Driver-side scalar transform for bbox corners (R5) and point
    extraction, same series as the distributed path. EPSG ints or
    PROJ.4 strings."""
    proj_to, to_geo = _resolve_crs(to_epsg)
    proj_from, from_geo = _resolve_crs(from_epsg)
    if from_geo and proj_to is not None:
        return proj_to.forward(lon_or_x, lat_or_y)
    if proj_from is not None and to_geo:
        return proj_from.inverse(lon_or_x, lat_or_y)
    if proj_from is not None and proj_to is not None:
        lon, lat = proj_from.inverse(lon_or_x, lat_or_y)
        return proj_to.forward(lon, lat)
    raise KeyError(f"No closed-form transform {from_epsg} -> {to_epsg}")


@dataclass(frozen=True)
class RotatedPole:
    """CF ``rotated_latitude_longitude`` (COSMO / CORDEX regional climate
    grids — e.g. EUR-11's pole at lon -162, lat 39.25): a pure spherical
    rotation, no projection. The rotated frame's north pole sits at true
    ``(np_lon, np_lat)``; per the CF convention the true pole gets
    rotated longitude 0, so rotated (0, 0) lies at true
    ``(np_lon + 180, 90 - np_lat)``.

    Written as the explicit rotation Ry(np_lat - 90) . Rz(-np_lon) on
    unit vectors (plus the conventional 180-degree longitude shift), one
    formula for the scalar and column paths via the ops shim — no
    hand-expanded trig identities to get sign conventions wrong."""

    np_lon: float
    np_lat: float

    def _fwd(self, ops, lon_deg, lat_deg, rad, deg, lit):
        lam = rad(lon_deg - lit(self.np_lon))
        phi = rad(lat_deg)
        beta = math.radians(self.np_lat - 90.0)
        cb, sb = math.cos(beta), math.sin(beta)
        x, y, z = ops.cos(lam) * ops.cos(phi), ops.sin(lam) * ops.cos(phi), ops.sin(phi)
        x2 = x * lit(cb) + z * lit(sb)
        z2 = -x * lit(sb) + z * lit(cb)
        rlon = deg(ops.atan2(y, x2)) - lit(180.0)
        # _clip1: a point AT the rotated pole lands z2 = 1 + ~1 ulp
        # (hypothesis-found: lon=np_lon, lat=np_lat) — scalar asin
        # raised, column asin returned NaN
        return _norm_lon(rlon), deg(ops.asin(_clip1(ops, z2)))

    def _inv(self, ops, rlon_deg, rlat_deg, rad, deg, lit):
        lam = rad(rlon_deg + lit(180.0))
        phi = rad(rlat_deg)
        gamma = math.radians(90.0 - self.np_lat)
        cg, sg = math.cos(gamma), math.sin(gamma)
        x, y, z = ops.cos(lam) * ops.cos(phi), ops.sin(lam) * ops.cos(phi), ops.sin(phi)
        x2 = x * lit(cg) + z * lit(sg)
        z2 = -x * lit(sg) + z * lit(cg)
        lon = deg(ops.atan2(y, x2)) + lit(self.np_lon)
        return _norm_lon(lon), deg(ops.asin(_clip1(ops, z2)))

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return self._fwd(
            _ScalarOps, lon, lat, math.radians, math.degrees, lambda v: v
        )

    def inverse(self, rlon: float, rlat: float) -> tuple[float, float]:
        return self._inv(
            _ScalarOps, rlon, rlat, math.radians, math.degrees, lambda v: v
        )

    def forward_cols(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        return self._fwd(_ColumnOps, lon, lat, F.radians, F.degrees, F.lit)

    def inverse_cols(self, rlon: Column, rlat: Column) -> tuple[Column, Column]:
        return self._inv(_ColumnOps, rlon, rlat, F.radians, F.degrees, F.lit)


#: Published CORDEX rotated-pole domains (CF grid_north_pole_* params).
CORDEX_ROTATED_POLES = {
    "EUR-11": dict(np_lon=-162.0, np_lat=39.25),
    "EUR-44": dict(np_lon=-162.0, np_lat=39.25),
    "NAM-44": dict(np_lon=83.0, np_lat=42.5),
    "AFR-44": dict(np_lon=180.0, np_lat=90.0),  # unrotated (pole at pole)
}


def rotated_pole_crs(domain_or_params) -> RotatedPole:
    """CORDEX domain name ('EUR-11', ...) or a dict of CF params
    (``np_lon``/``np_lat`` = grid_north_pole_longitude/latitude) ->
    :class:`RotatedPole`."""
    if isinstance(domain_or_params, str):
        try:
            params = CORDEX_ROTATED_POLES[domain_or_params]
        except KeyError:
            raise ValueError(
                f"Unknown CORDEX domain {domain_or_params!r}; known: "
                f"{sorted(CORDEX_ROTATED_POLES)} (or pass CF params)"
            ) from None
    else:
        params = domain_or_params
    return RotatedPole(**params)


# ---------------------------------------------------------------------------
# PROJ.4 string front-end for the closed-form registry
# ---------------------------------------------------------------------------
_ELLPS = {
    # (a, f) per the public PROJ ellipsoid table; datum names map to
    # their ellipsoid (NAD83 sits on GRS80 with a null shift)
    "WGS84": (WGS84_A, WGS84_F),
    "GRS80": (GRS80_A, GRS80_F),
    "NAD83": (GRS80_A, GRS80_F),
    "sphere": (6_370_997.0, 0.0),
    # round 9, for +towgs84 datum shifts onto legacy national datums
    "airy": (6377563.396, 1.0 / 299.3249646),
    "bessel": (6377397.155, 1.0 / 299.1528128),
    "clrk66": (6378206.4, 1.0 - 6356583.8 / 6378206.4),
    "clrk80": (6378249.145, 1.0 / 293.465),
    "intl": (6378388.0, 1.0 / 297.0),
    "krass": (6378245.0, 1.0 / 298.3),
    "WGS72": (6378135.0, 1.0 / 298.26),
    "GRS67": (6378160.0, 1.0 / 298.247167427),
}


def _proj4_params(proj4: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for tok in proj4.split():
        if not tok.startswith("+"):
            continue
        key, _, val = tok[1:].partition("=")
        out[key] = val
    return out


def _with_datum(proj, p: dict, a: float, f: float):
    """Wrap ``proj`` in a :class:`DatumProjection` when the proj4 params
    carry an explicit ``+towgs84`` (PROJ semantics: present = a defined
    Helmert to WGS84, zeros included — a zero shift between DIFFERENT
    ellipsoids still changes geodetic latitude through the shared XYZ
    frame). Without ``+towgs84`` the legacy PROJ.4 no-datum behavior
    applies: the geographic pivot is taken as-is (exactly what the old
    gate implied for GRS80-family CRSs, where the difference is sub-mm)."""
    shift = p.get("towgs84")
    if shift is None:
        return proj
    params = tuple(float(v) for v in shift.split(","))
    if all(v == 0.0 for v in params) and (a, f) == (WGS84_A, WGS84_F):
        return proj
    return DatumProjection(proj=proj, shift=HelmertShift(params=params, a=a, f=f))


def crs_from_proj4(proj4: str):
    """Build a projection object from a PROJ.4 string (``+proj=utm
    +zone=17 ...``) — the other public spelling of a CRS besides an
    EPSG code (the reference hands either to rioxarray,
    ``shared_functions.py:132-157``). Dispatches onto the SAME
    closed-form classes as :func:`projected_crs`, so a proj4 string and
    its EPSG twin produce bit-identical column expressions.

    Supported ``+proj`` values: ``longlat`` (returns None when it IS
    WGS84 — no datum or an all-zero ``+towgs84`` on the WGS84
    ellipsoid — and a :class:`GeographicDatum` when a real ``+towgs84``
    makes it a different datum, so the ~100 m Helmert shift applies
    instead of silently passing through), ``utm``/``tmerc`` (any
    ellipsoid via the generic Krüger series), ``sinu`` (spherical),
    ``stere`` (polar aspect), ``lcc``, ``aea``, ``laea``, ``cea``.
    Ellipsoids via ``+ellps``/``+datum`` or explicit
    ``+a``/``+rf``/``+f``/``+R``; ``+towgs84`` on any of these wraps
    the projection in a :class:`DatumProjection`. Anything else —
    non-polar stereographic, non-metre units, unknown ellipsoids —
    raises ``NotImplementedError`` with the offending parameter, the
    same honest gate as the EPSG registry."""
    p = _proj4_params(proj4)
    proj = p.get("proj")
    if proj is None:
        raise ValueError(f"no +proj= in {proj4!r}")
    if "nadgrids" in p and p.get("nadgrids") != "@null":
        raise NotImplementedError(
            f"+nadgrids={p['nadgrids']}: grid-shift files are not "
            "resolved by name — parse the .gsb with sources/ntv2.py and "
            "apply crs.NTv2Grid (literal-array columns or the "
            "apply_to_grid broadcast join) around the projection step; "
            "that path is oracle-verified end-to-end (the 'ntv2' "
            "variant of the mercator_cells query)"
        )
    units = p.get("units", "m")
    if proj != "longlat" and units != "m":
        raise NotImplementedError(f"+units={units} (only metres)")

    def flt(key: str, default: float = 0.0) -> float:
        return float(p[key]) if key in p else default

    ellps = p.get("ellps") or p.get("datum")
    if "a" in p:
        a = float(p["a"])
        f = (
            1.0 / float(p["rf"]) if "rf" in p
            else float(p["f"]) if "f" in p
            else (1.0 - float(p["b"]) / a) if "b" in p
            else 0.0
        )
    elif "R" in p:
        a, f = float(p["R"]), 0.0
    elif ellps is not None:
        if ellps not in _ELLPS:
            raise NotImplementedError(f"+ellps={ellps}")
        a, f = _ELLPS[ellps]
    else:
        a, f = WGS84_A, WGS84_F  # PROJ's default datum

    if proj == "longlat":
        shift = p.get("towgs84")
        if shift is None:
            # legacy PROJ.4 no-datum behavior: the geographic pivot is
            # taken as-is (matches _with_datum's gate for projected CRSs)
            return None
        params = tuple(float(v) for v in shift.split(","))
        if all(v == 0.0 for v in params) and (a, f) == (WGS84_A, WGS84_F):
            return None
        return GeographicDatum(shift=HelmertShift(params=params, a=a, f=f))
    if proj == "utm":
        if (a, f) != (WGS84_A, WGS84_F):
            raise NotImplementedError("+proj=utm on a non-WGS84 ellipsoid")
        zone = int(p["zone"])
        return _with_datum(TransverseMercator(
            lon0_deg=zone * 6.0 - 183.0,
            false_northing=10_000_000.0 if "south" in p else 0.0,
        ), p, a, f)
    if proj == "tmerc":
        # the Krüger series is ellipsoid-generic (round 9): OSGB36 on
        # Airy, Gauss-Krüger on Bessel/Krassowsky all resolve here
        k0 = p.get("k_0", p.get("k"))  # PROJ accepts both spellings
        return _with_datum(TransverseMercator(
            lon0_deg=flt("lon_0"),
            k0=float(k0) if k0 is not None else 0.9996,
            false_easting=flt("x_0"),  # PROJ tmerc default is 0
            false_northing=flt("y_0"),
            a=a, f=f, lat0_deg=flt("lat_0"),
        ), p, a, f)
    if proj == "sinu":
        return _with_datum(
            Sinusoidal(radius=a if f == 0.0 else flt("R", a),
                       lon0_deg=flt("lon_0")), p, a, f)
    if proj == "stere":
        lat0 = flt("lat_0")
        if abs(lat0) < 89.999999:
            raise NotImplementedError("+proj=stere non-polar aspect")
        k0 = p.get("k_0", p.get("k"))  # PROJ accepts both spellings
        return _with_datum(PolarStereographic(
            a=a, f=f,
            lat_ts=float(p["lat_ts"]) if "lat_ts" in p else None,
            k0=float(k0) if k0 is not None and "lat_ts" not in p else None,
            lon0_deg=flt("lon_0"),
            south=lat0 < 0,
            false_easting=flt("x_0"),
            false_northing=flt("y_0"),
        ), p, a, f)
    if proj == "lcc":
        sp1 = flt("lat_1")
        return _with_datum(LambertConformalConic(
            sp1=sp1, sp2=flt("lat_2", sp1), lat0=flt("lat_0"),
            lon0_deg=flt("lon_0"), a=a, f=f,
            false_easting=flt("x_0"), false_northing=flt("y_0"),
        ), p, a, f)
    if proj == "aea":
        return _with_datum(AlbersEqualArea(
            sp1=flt("lat_1"), sp2=flt("lat_2", flt("lat_1")),
            lat0=flt("lat_0"), lon0_deg=flt("lon_0"), a=a, f=f,
            false_easting=flt("x_0"), false_northing=flt("y_0"),
        ), p, a, f)
    if proj == "laea":
        return _with_datum(LambertAzimuthalEqualArea(
            lat0=flt("lat_0"), lon0_deg=flt("lon_0"), a=a, f=f,
            false_easting=flt("x_0"), false_northing=flt("y_0"),
        ), p, a, f)
    if proj == "cea":
        return _with_datum(CylindricalEqualArea(
            lat_ts=flt("lat_ts"), lon0_deg=flt("lon_0"), a=a, f=f,
            false_easting=flt("x_0"), false_northing=flt("y_0"),
        ), p, a, f)
    raise NotImplementedError(f"+proj={proj}")


# ---------------------------------------------------------------------------
# Geodetic datum shift (round 9): the 7-parameter Helmert transform —
# PROJ's +towgs84 semantics (EPSG method 9606, position-vector sign
# convention) — closing the "non-WGS84 datum" slice of the arbitrary-CRS
# gap. Geodetic -> geocentric XYZ is closed-form; XYZ -> geodetic uses
# Bowring's one-shot formula (1976; ~1e-9 deg for earth-surface points,
# no iteration — the same determinism argument as the direct conformal
# series in TransverseMercator.inverse_cols).
# ---------------------------------------------------------------------------
_ARCSEC = math.pi / 648000.0


@dataclass(frozen=True)
class HelmertShift:
    """Datum shift from a source ellipsoid/datum TO WGS84 (the towgs84
    direction). ``params`` is the 3- or 7-tuple
    ``(dx, dy, dz[, rx_arcsec, ry_arcsec, rz_arcsec, s_ppm])``;
    ``a``/``f`` describe the SOURCE ellipsoid. ``inverse_shift`` applies
    the standard small-parameter negation (exact to the same order the
    7-parameter model itself is defined at). Heights are treated as 0
    (grid coordinates are surface points; the reference's rioxarray
    path does the same for 2D rasters)."""

    params: tuple
    a: float
    f: float

    def _p7(self):
        p = tuple(float(v) for v in self.params)
        if len(p) == 3:
            p = p + (0.0, 0.0, 0.0, 0.0)
        if len(p) != 7:
            raise ValueError("towgs84 needs 3 or 7 parameters")
        return p

    def _geodetic_to_xyz(self, ops, lon_deg, lat_deg, a, f):
        e2 = f * (2 - f)
        lam = ops.radians(lon_deg)
        phi = ops.radians(lat_deg)
        sphi = ops.sin(phi)
        nrad = a / ops.sqrt(1.0 - e2 * sphi * sphi)
        cphi = ops.cos(phi)
        return (
            nrad * cphi * ops.cos(lam),
            nrad * cphi * ops.sin(lam),
            nrad * (1.0 - e2) * sphi,
        )

    def _xyz_to_geodetic(self, ops, x, y, z, a, f):
        # Bowring's closed formula
        b = a * (1.0 - f)
        e2 = f * (2 - f)
        ep2 = e2 / (1.0 - e2)
        p = ops.sqrt(x * x + y * y)
        theta = ops.atan2(z * a, p * b)
        st, ct = ops.sin(theta), ops.cos(theta)
        phi = ops.atan2(
            z + ep2 * b * st * st * st, p - e2 * a * ct * ct * ct
        )
        lam = ops.atan2(y, x)
        return ops.degrees(lam), ops.degrees(phi)

    def _apply(self, ops, lon_deg, lat_deg, invert: bool):
        dx, dy, dz, rx, ry, rz, s = self._p7()
        if invert:
            dx, dy, dz, rx, ry, rz, s = (
                -dx, -dy, -dz, -rx, -ry, -rz, -s,
            )
            a_src, f_src = WGS84_A, WGS84_F
            a_dst, f_dst = self.a, self.f
        else:
            a_src, f_src = self.a, self.f
            a_dst, f_dst = WGS84_A, WGS84_F
        x, y, z = self._geodetic_to_xyz(ops, lon_deg, lat_deg, a_src, f_src)
        m = 1.0 + s * 1e-6
        rxr, ryr, rzr = rx * _ARCSEC, ry * _ARCSEC, rz * _ARCSEC
        # position-vector convention (EPSG 9606 / PROJ towgs84)
        x2 = dx + m * (x - rzr * y + ryr * z)
        y2 = dy + m * (rzr * x + y - rxr * z)
        z2 = dz + m * (-ryr * x + rxr * y + z)
        return self._xyz_to_geodetic(ops, x2, y2, z2, a_dst, f_dst)

    # -- driver-side scalars ------------------------------------------------
    def to_wgs84(self, lon: float, lat: float) -> tuple[float, float]:
        return self._apply(_ScalarOps(), lon, lat, invert=False)

    def from_wgs84(self, lon: float, lat: float) -> tuple[float, float]:
        return self._apply(_ScalarOps(), lon, lat, invert=True)

    # -- Spark column expressions -------------------------------------------
    def to_wgs84_cols(self, lon: Column, lat: Column):
        return self._apply(_ColumnOps(), lon, lat, invert=False)

    def from_wgs84_cols(self, lon: Column, lat: Column):
        return self._apply(_ColumnOps(), lon, lat, invert=True)


@dataclass(frozen=True)
class GeographicDatum:
    """A geographic CRS on a non-WGS84 datum (``+proj=longlat
    +towgs84=...``): a 'projection' whose planar coordinates are the
    datum's own lon/lat degrees. ``forward`` maps WGS84 lon/lat into
    this datum's geographic coordinates; ``inverse`` maps back — the
    same contract every projected CRS object here carries, so every
    ``transform_grid``/``transform_point`` chain (including the
    projected->projected 4326 pivot) works unchanged. Before round 10
    such a CRS silently resolved to plain WGS84 — ~100 m of error on
    e.g. ``+ellps=bessel`` datums (ADVICE r9 #1)."""

    shift: HelmertShift

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return self.shift.from_wgs84(lon, lat)

    def inverse(self, lon: float, lat: float) -> tuple[float, float]:
        return self.shift.to_wgs84(lon, lat)

    def forward_cols(self, lon: Column, lat: Column):
        return self.shift.from_wgs84_cols(lon, lat)

    def inverse_cols(self, lon: Column, lat: Column):
        return self.shift.to_wgs84_cols(lon, lat)


@dataclass(frozen=True)
class DatumProjection:
    """A projected CRS on a non-WGS84 datum: composes a projection
    (whose geographic side is its OWN datum) with a :class:`HelmertShift`
    so the engine's geographic pivot stays EPSG:4326 — every existing
    transform chain (``transform_grid``'s projected->projected pivot
    included) works unchanged. ``forward`` maps WGS84 lon/lat to
    projected metres; ``inverse`` maps back to WGS84."""

    proj: object
    shift: HelmertShift

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        dlon, dlat = self.shift.from_wgs84(lon, lat)
        return self.proj.forward(dlon, dlat)

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        dlon, dlat = self.proj.inverse(x, y)
        return self.shift.to_wgs84(dlon, dlat)

    def forward_cols(self, lon: Column, lat: Column):
        dlon, dlat = self.shift.from_wgs84_cols(lon, lat)
        return self.proj.forward_cols(dlon, dlat)

    def inverse_cols(self, x: Column, y: Column):
        dlon, dlat = self.proj.inverse_cols(x, y)
        return self.shift.to_wgs84_cols(dlon, dlat)


# ---------------------------------------------------------------------------
# NTv2 grid-shift datum transforms (round 10) — the correction-grid path
# national mapping agencies publish where a 7-parameter Helmert is not
# accurate enough (OSTN-family, Canadian NTv2, BeTA2007). The reference
# reaches these through PROJ's +nadgrids=; here the .gsb file is parsed
# natively (sources/ntv2.py) and the bilinear shift interpolation runs
# as pure Spark column arithmetic — either over literal node arrays
# (small grids) or a broadcast join against a node table (the scale
# path for ~1M-node national grids).
# ---------------------------------------------------------------------------
class NTv2Grid:
    """A parsed NTv2 subgrid with scalar + column shift application.

    Direction convention: the file maps SYSTEM_F (the legacy datum,
    'source') to SYSTEM_T ('target', normally WGS84/ETRS-family).
    ``to_target`` adds the interpolated shift (direct); ``from_target``
    inverts it by fixed-point iteration (4 rounds — the shift field is
    ~1e-4 rad and slowly varying, so each round gains ~4 digits; PROJ
    iterates the same way). Longitude shifts are positive WEST in the
    file; all public methods speak positive-east degrees.

    ``forward``/``inverse`` alias ``from_target``/``to_target`` so the
    object satisfies the repo's projection contract (forward: WGS84 ->
    CRS coordinates) with CRS = the legacy datum, exactly like
    :class:`GeographicDatum` — chains through ``transform_grid``'s
    pivot unchanged."""

    def __init__(self, sub: dict):
        self.sub = sub

    @classmethod
    def from_bytes(cls, data: bytes, subgrid: int = 0) -> "NTv2Grid":
        from xarray_dataaccessor_spark.sources.ntv2 import read_ntv2

        parsed = read_ntv2(data)
        return cls(parsed["subgrids"][subgrid])

    # -- shared index arithmetic (one spelling for scalar and column) ------
    def _frac_idx(self, ops, lon_deg, lat_deg, lit):
        s = self.sub
        w = -lon_deg * lit(3600.0)            # positive-west arc-seconds
        phi = lat_deg * lit(3600.0)
        ci = (w - lit(s["E_LONG"])) / lit(s["LONG_INC"])
        ri = (phi - lit(s["S_LAT"])) / lit(s["LAT_INC"])
        return ci, ri

    def _interp_scalar(self, lon_deg: float, lat_deg: float):
        """Bilinear (lat_shift, lon_shift) in arc-seconds at a point."""
        s = self.sub
        ci, ri = self._frac_idx(None, lon_deg, lat_deg, float)
        if not (0.0 <= ci <= s["ncols"] - 1 and 0.0 <= ri <= s["nrows"] - 1):
            raise ValueError(
                f"point ({lon_deg}, {lat_deg}) outside NTv2 subgrid "
                f"{s.get('SUB_NAME')!r}"
            )
        c0 = min(int(ci), s["ncols"] - 2)
        r0 = min(int(ri), s["nrows"] - 2)
        fx, fy = ci - c0, ri - r0
        out = []
        for arr in (s["lat_shift"], s["lon_shift"]):
            v00 = arr[r0 * s["ncols"] + c0]
            v10 = arr[r0 * s["ncols"] + c0 + 1]
            v01 = arr[(r0 + 1) * s["ncols"] + c0]
            v11 = arr[(r0 + 1) * s["ncols"] + c0 + 1]
            out.append(
                v00 * (1 - fx) * (1 - fy) + v10 * fx * (1 - fy)
                + v01 * (1 - fx) * fy + v11 * fx * fy
            )
        return out[0], out[1]

    # -- driver-side scalars -------------------------------------------------
    def to_target(self, lon: float, lat: float) -> tuple[float, float]:
        dlat, dlon_w = self._interp_scalar(lon, lat)
        # positive-west shift subtracts from a positive-east longitude
        return lon - dlon_w / 3600.0, lat + dlat / 3600.0

    def from_target(self, lon: float, lat: float,
                    iters: int = 4) -> tuple[float, float]:
        slon, slat = lon, lat
        for _ in range(iters):
            dlat, dlon_w = self._interp_scalar(slon, slat)
            slon = lon + dlon_w / 3600.0
            slat = lat - dlat / 3600.0
        return slon, slat

    # projection-object contract (CRS = the legacy SYSTEM_F datum)
    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        return self.from_target(lon, lat)

    def inverse(self, lon: float, lat: float) -> tuple[float, float]:
        return self.to_target(lon, lat)

    # -- column expressions (literal-array path, small grids) ---------------
    _LITERAL_NODE_LIMIT = 50_000

    # Iterated (inverse) lookups embed the node arrays at 4 tree
    # positions per round; cap the unrolled path tighter so 4-round
    # inverses near the limit don't build multi-MB expression trees.
    _LITERAL_NODE_LIMIT_ITER = 12_500

    def _literal_arrays(self):
        """Parse the two node arrays ONCE (one F.expr SQL string each —
        the py4j-literal discipline: per-element F.lit calls cost
        seconds of driver time) and memoize the Columns so iterated
        callers reuse the same JVM expression objects instead of
        re-parsing ~1 MB of SQL per round."""
        cached = getattr(self, "_lit_arrays", None)
        if cached is None:
            s = self.sub
            cached = (
                F.expr("array(" + ",".join(repr(v) for v in s["lat_shift"]) + ")"),
                F.expr("array(" + ",".join(repr(v) for v in s["lon_shift"]) + ")"),
            )
            self._lit_arrays = cached
        return cached

    def _clamped_cell(self, lon: Column, lat: Column, out_of_grid: str):
        """Shared (c0, r0, fx, fy) cell arithmetic with BOTH bounds
        clamped (the scalar path's `0 <= ci <= ncols-1` contract).
        ``out_of_grid``: 'error' raises per-row like ``_interp_scalar``
        (F.raise_error inside a when-branch — costs nothing on in-grid
        rows); 'null' NULLs the fractions so shifts come out NULL."""
        s = self.sub
        ci, ri = self._frac_idx(None, lon, lat, F.lit)
        oob = (
            (ci < 0) | (ci > s["ncols"] - 1) | (ri < 0) | (ri > s["nrows"] - 1)
        )
        if out_of_grid == "error":
            marker = F.when(
                oob,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "point ("
                        ),
                        lon.cast("string"), F.lit(", "), lat.cast("string"),
                        F.lit(
                            f") outside NTv2 subgrid {self.sub.get('SUB_NAME')!r}"
                        ),
                    )
                ).cast("double"),
            ).otherwise(F.lit(0.0))
        elif out_of_grid == "null":
            marker = F.when(oob, F.lit(None).cast("double")).otherwise(F.lit(0.0))
        else:
            raise ValueError(f"out_of_grid must be 'error' or 'null': {out_of_grid!r}")
        c0 = F.greatest(
            F.lit(0).cast("bigint"),
            F.least(ci.cast("bigint"), F.lit(s["ncols"] - 2)),
        )
        r0 = F.greatest(
            F.lit(0).cast("bigint"),
            F.least(ri.cast("bigint"), F.lit(s["nrows"] - 2)),
        )
        # marker is 0.0 in-grid, NULL (or raises) out-of-grid — folding it
        # into the fractions propagates the contract through the bilinear.
        fx, fy = ci - c0 + marker, ri - r0 + marker
        return c0, r0, fx, fy

    def _shift_exprs(self, lon: Column, lat: Column, iters: int = 1,
                     out_of_grid: str = "error"):
        """Bilinear (dlat, dlon_west) arc-second Columns via literal node
        arrays. Small-grid path: national grids (~1M nodes) must use
        :meth:`apply_to_grid`."""
        s = self.sub
        n = s["nrows"] * s["ncols"]
        limit = self._LITERAL_NODE_LIMIT if iters <= 1 else self._LITERAL_NODE_LIMIT_ITER
        if n > limit:
            raise NotImplementedError(
                f"NTv2 subgrid has {n} nodes — too large for literal "
                f"column arrays ({'iterated ' if iters > 1 else ''}limit "
                f"{limit}); use NTv2Grid.apply_to_grid (broadcast join) "
                "instead"
            )
        lats, lons = self._literal_arrays()
        c0, r0, fx, fy = self._clamped_cell(lon, lat, out_of_grid)
        base = r0 * s["ncols"] + c0 + 1  # element_at is 1-indexed

        def bilin(arr):
            v00 = F.element_at(arr, base.cast("int"))
            v10 = F.element_at(arr, (base + 1).cast("int"))
            v01 = F.element_at(arr, (base + s["ncols"]).cast("int"))
            v11 = F.element_at(arr, (base + s["ncols"] + 1).cast("int"))
            return (
                v00 * (1 - fx) * (1 - fy) + v10 * fx * (1 - fy)
                + v01 * (1 - fx) * fy + v11 * fx * fy
            )

        return bilin(lats), bilin(lons)

    def inverse_cols(self, lon: Column, lat: Column,
                     out_of_grid: str = "error"):
        """source datum -> target (direct shift), column path."""
        dlat, dlon_w = self._shift_exprs(lon, lat, out_of_grid=out_of_grid)
        return lon - dlon_w / 3600.0, lat + dlat / 3600.0

    def forward_cols(self, lon: Column, lat: Column, iters: int = 4,
                     out_of_grid: str = "error"):
        """target -> source datum (fixed-point iteration unrolled into
        the column expression — ``iters`` grid lookups over ONE parsed
        pair of literal arrays; see :meth:`_literal_arrays`)."""
        slon, slat = lon, lat
        for _ in range(iters):
            dlat, dlon_w = self._shift_exprs(
                slon, slat, iters=iters, out_of_grid=out_of_grid
            )
            slon = lon + dlon_w / 3600.0
            slat = lat - dlat / 3600.0
        return slon, slat

    # -- broadcast-join path (national-grid scale) ---------------------------
    def nodes_df(self, spark) -> DataFrame:
        """The subgrid as a (idx, dlat, dlon) DataFrame — broadcast side
        of :meth:`apply_to_grid`. A deployment would land this as
        parquet once; ~1M nodes is a ~16 MB broadcast, well inside
        Spark's default threshold for an explicitly-marked broadcast."""
        s = self.sub
        rows = [
            (i, float(s["lat_shift"][i]), float(s["lon_shift"][i]))
            for i in range(s["nrows"] * s["ncols"])
        ]
        return local_frame(spark, rows, "idx bigint, dlat double, dlon double")

    def apply_to_grid(
        self,
        df: DataFrame,
        x_col: str = "x",
        y_col: str = "y",
        inverse: bool = False,
        nodes: DataFrame | None = None,
        out_of_grid: str = "error",
    ) -> DataFrame:
        """Shift (x_col, y_col) through the grid with FOUR broadcast
        joins (one per bilinear corner) — the scale path: works for any
        node count, stays JVM-side, adds no shuffle (broadcast hash
        joins over map-side index arithmetic). ``inverse=True`` maps
        target -> source with one first-order correction round (the
        scalar path's iteration, truncated where the join count matters;
        sub-mm for national grids whose shift gradients are ~1e-5).
        ``out_of_grid`` matches the scalar contract: 'error' raises on
        the first out-of-grid row, 'null' emits NULL coordinates."""
        s = self.sub
        nodes = nodes if nodes is not None else self.nodes_df(df.sparkSession)
        lon0, lat0 = F.col(x_col), F.col(y_col)

        def one_pass(lon, lat, tag):
            c0, r0, fx0, fy0 = self._clamped_cell(lon, lat, out_of_grid)
            out = (
                df_cur.withColumn(f"__c0{tag}", c0)
                .withColumn(f"__r0{tag}", r0)
                .withColumn(f"__fx{tag}", fx0)
                .withColumn(f"__fy{tag}", fy0)
            )
            for corner, (dc, dr) in enumerate(
                ((0, 0), (1, 0), (0, 1), (1, 1))
            ):
                nb = nodes.select(
                    F.col("idx").alias(f"__i{tag}{corner}"),
                    F.col("dlat").alias(f"__a{tag}{corner}"),
                    F.col("dlon").alias(f"__o{tag}{corner}"),
                )
                out = out.withColumn(
                    f"__i{tag}{corner}",
                    (F.col(f"__r0{tag}") + dr) * s["ncols"]
                    + F.col(f"__c0{tag}") + dc,
                ).join(F.broadcast(nb), f"__i{tag}{corner}", "left")
            fx, fy = F.col(f"__fx{tag}"), F.col(f"__fy{tag}")
            w = [(1 - fx) * (1 - fy), fx * (1 - fy), (1 - fx) * fy, fx * fy]
            dlat = sum(w[c] * F.col(f"__a{tag}{c}") for c in range(4))
            dlon = sum(w[c] * F.col(f"__o{tag}{c}") for c in range(4))
            drop = [f"__{p}{tag}{c}" for p in "iao" for c in range(4)] + [
                f"__c0{tag}", f"__r0{tag}", f"__fx{tag}", f"__fy{tag}"
            ]
            return dlat, dlon, out, drop

        df_cur = df
        if not inverse:
            dlat, dlon, df_cur, drop = one_pass(lon0, lat0, "f")
            df_cur = (
                df_cur.withColumn("__nx", lon0 - dlon / 3600.0)
                .withColumn(y_col, lat0 + dlat / 3600.0)
                .withColumn(x_col, F.col("__nx"))
                .drop("__nx", *drop)
            )
            return df_cur
        # inverse: evaluate the shift at the target point (round 1),
        # re-evaluate at the first-order source estimate (round 2)
        dlat1, dlon1, df_cur, drop1 = one_pass(lon0, lat0, "a")
        df_cur = (
            df_cur.withColumn("__e1x", lon0 + dlon1 / 3600.0)
            .withColumn("__e1y", lat0 - dlat1 / 3600.0)
            .drop(*drop1)
        )
        dlat2, dlon2, df_cur, drop2 = one_pass(
            F.col("__e1x"), F.col("__e1y"), "b"
        )
        df_cur = (
            df_cur.withColumn("__nx", lon0 + dlon2 / 3600.0)
            .withColumn(y_col, lat0 - dlat2 / 3600.0)
            .withColumn(x_col, F.col("__nx"))
            .drop("__nx", "__e1x", "__e1y", *drop2)
        )
        return df_cur
