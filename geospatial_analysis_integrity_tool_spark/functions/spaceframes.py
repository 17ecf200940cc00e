"""Space-physics coordinate frames GSE / GSM / SM / GM -> geodetic ingest.

The reference's COORD_SYSTEMS list (TTformat.c:28429; share_linux.h:421)
includes the magnetospheric frames Geocentric Solar Ecliptic (GSE),
Geocentric Solar Magnetospheric (GSM), Solar Magnetic (SM) and Geomagnetic
(GM/MAG).  At a FIXED epoch — GAIT takes the epoch from the inspection spec,
this engine does the same — each frame is a constant Earth-centered rotation
of the geographic frame (GEO == ECEF), so ingest is:

    frame XYZ (meters) --[constant 3x3 matrix]--> ECEF --Bowring--> geodetic

The rotation matrices follow the published recipe of Hapgood (1992),
"Space physics coordinate transformations: a user guide", Planet. Space
Sci. 40(5):711-717 (and its 1997 corrigendum time formulas):

* T1 = <theta, Z>          GEI -> GEO, theta = Greenwich mean sidereal time
* T2 = <lambda_sun, Z><eps, X>   GEI -> GSE (sun ecliptic longitude, obliquity)
* T3 = <-psi, X>           GSE -> GSM (psi from the dipole axis in GSE)
* T4 = <-mu, Y>            GSM -> SM  (mu = dipole tilt)
* T5 = <phi-90, Y><lam, Z> GEO -> MAG (dipole pole latitude phi, longitude lam)

with <zeta, axis> the matrix rotating the coordinate SYSTEM about the axis.
The dipole axis comes from the IGRF-13 degree-1 coefficients at epoch 2020.0
(g10 = -29404.8 nT, g11 = -1450.9 nT, h11 = 4652.5 nT; published table),
giving the conventional geomagnetic pole near (80.7 N, 72.7 W).

All matrix entries are Python ``math`` constants computed at plan time (the
epoch is fixed per spec, exactly like the LTP origin or the UTM K0), so the
SQL kernel is nine multiply-adds followed by the shared dual-engine
ECEF->geodetic chain (functions/ltp.ecef_stages): zero Python at run time,
whole-stage codegen, bit-identical Spark/DuckDB results.
"""

from __future__ import annotations

import math

import numpy as np

from .ltp import ecef_stages, ecef_to_geodetic_np
from .stages import dlit

# --- IGRF-13 epoch 2020.0 degree-1 coefficients (nT), published table -------
G10 = -29404.8
G11 = -1450.9
H11 = 4652.5

#: spec epoch for the fixtures/queries: 2020-01-01 12:00:00 UT
SPEC_EPOCH = (2020, 1, 1, 12.0)


def _mjd(year: int, month: int, day: int) -> int:
    """Modified Julian Date at 0h UT (standard Fliegel-Van Flandern)."""
    a = (14 - month) // 12
    y = year + 4800 - a
    m = month + 12 * a - 3
    jdn = day + (153 * m + 2) // 5 + 365 * y + y // 4 - y // 100 + y // 400 - 32045
    return jdn - 2400001  # JD at noon -> MJD at 0h of that civil day


def _rot(axis: str, zeta_deg: float):
    """Hapgood <zeta, axis>: rotate the coordinate system about the axis."""
    c = math.cos(math.radians(zeta_deg))
    s = math.sin(math.radians(zeta_deg))
    if axis == "X":
        return ((1.0, 0.0, 0.0), (0.0, c, s), (0.0, -s, c))
    if axis == "Y":
        # Hapgood's cyclic convention: the Y sign pattern is opposite X/Z
        # (defining property: T5 puts the dipole pole on MAG +Z, verified
        # in tests/test_spaceframes.py::test_gm_axis_maps_to_dipole_pole)
        return ((c, 0.0, s), (0.0, 1.0, 0.0), (-s, 0.0, c))
    return ((c, s, 0.0), (-s, c, 0.0), (0.0, 0.0, 1.0))


def _matmul(a, b):
    return tuple(
        tuple(sum(a[i][k] * b[k][j] for k in range(3)) for j in range(3))
        for i in range(3)
    )


def _transpose(a):
    return tuple(tuple(a[j][i] for j in range(3)) for i in range(3))


def _matvec(a, v):
    return tuple(sum(a[i][k] * v[k] for k in range(3)) for i in range(3))


def hapgood_matrices(year: int, month: int, day: int, ut_hours: float):
    """T1..T5 at the epoch, per Hapgood (1992) section 5."""
    mjd = _mjd(year, month, day)
    t0 = (mjd - 51544.5) / 36525.0  # julian centuries from J2000, 0h UT
    h = ut_hours

    theta = 100.461 + 36000.770 * t0 + 15.04107 * h  # GMST, degrees
    m_sun = 357.528 + 35999.050 * t0 + 0.04107 * h   # sun mean anomaly
    lam_mean = 280.460 + 36000.772 * t0 + 0.04107 * h
    lam_sun = (
        lam_mean
        + (1.915 - 0.0048 * t0) * math.sin(math.radians(m_sun))
        + 0.020 * math.sin(math.radians(2.0 * m_sun))
    )
    eps = 23.439 - 0.013 * t0  # obliquity of the ecliptic

    t1 = _rot("Z", theta)
    t2 = _matmul(_rot("Z", lam_sun), _rot("X", eps))

    # dipole axis unit vector in GEO (from the IGRF degree-1 terms)
    mag = math.sqrt(G10 * G10 + G11 * G11 + H11 * H11)
    q_geo = (-G11 / mag, -H11 / mag, -G10 / mag)
    lam_pole = math.degrees(math.atan2(q_geo[1], q_geo[0]))
    phi_pole = math.degrees(math.asin(q_geo[2]))
    t5 = _matmul(_rot("Y", phi_pole - 90.0), _rot("Z", lam_pole))

    # dipole axis in GSE: Qe = T2 * T1^-1 * Qg
    q_gse = _matvec(_matmul(t2, _transpose(t1)), q_geo)
    psi = math.degrees(math.atan2(q_gse[1], q_gse[2]))
    t3 = _rot("X", -psi)
    mu = math.degrees(
        math.atan2(q_gse[0], math.sqrt(q_gse[1] ** 2 + q_gse[2] ** 2))
    )
    t4 = _rot("Y", -mu)
    return t1, t2, t3, t4, t5


def frame_to_geo_matrix(frame: str, epoch=SPEC_EPOCH):
    """Constant 3x3 taking frame XYZ -> GEO/ECEF XYZ at the epoch."""
    t1, t2, t3, t4, t5 = hapgood_matrices(*epoch)
    geo_from_gse = _matmul(t1, _transpose(t2))
    f = frame.upper()
    if f == "GSE":
        return geo_from_gse
    if f == "GSM":
        return _matmul(geo_from_gse, _transpose(t3))
    if f == "SM":
        return _matmul(geo_from_gse, _matmul(_transpose(t3), _transpose(t4)))
    if f in ("GM", "MAG"):
        return _transpose(t5)
    raise ValueError(f"unknown space-physics frame: {frame}")


def spaceframe_stages(frame: str, x: str, y: str, z: str,
                      epoch=SPEC_EPOCH) -> list[tuple[str, str]]:
    """Staged SQL chain: frame meters -> ``{frame}_lon/lat`` degrees."""
    m = frame_to_geo_matrix(frame, epoch)
    pre = frame.lower()

    def row(i: int) -> str:
        return (
            f"({dlit(m[i][0])} * ({x}) + {dlit(m[i][1])} * ({y})"
            f" + {dlit(m[i][2])} * ({z}))"
        )

    return ecef_stages(row(0), row(1), row(2), out_prefix=pre)


def spaceframe_to_geodetic_np(frame: str, x, y, z, epoch=SPEC_EPOCH):
    """numpy twin (same constants + operation order as the SQL chain)."""
    m = frame_to_geo_matrix(frame, epoch)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    xx = m[0][0] * x + m[0][1] * y + m[0][2] * z
    yy = m[1][0] * x + m[1][1] * y + m[1][2] * z
    zz = m[2][0] * x + m[2][1] * y + m[2][2] * z
    return ecef_to_geodetic_np(xx, yy, zz)


def geodetic_to_spaceframe_np(frame: str, lon, lat, h, epoch=SPEC_EPOCH):
    """True-trig forward (test/fixture use only): geodetic -> frame XYZ."""
    from .ltp import A, E2

    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)
    phi = np.deg2rad(lat)
    lam = np.deg2rad(lon)
    sp, cp = np.sin(phi), np.cos(phi)
    nu = A / np.sqrt(1.0 - E2 * sp * sp)
    gx = (nu + h) * cp * np.cos(lam)
    gy = (nu + h) * cp * np.sin(lam)
    gz = (nu * (1.0 - E2) + h) * sp
    m = _transpose(frame_to_geo_matrix(frame, epoch))  # GEO -> frame
    return (
        m[0][0] * gx + m[0][1] * gy + m[0][2] * gz,
        m[1][0] * gx + m[1][1] * gy + m[1][2] * gz,
        m[2][0] * gx + m[2][1] * gy + m[2][2] * gz,
    )
