"""UTM -> geodetic ingest transform (projected coordinate systems).

The reference supports projected inputs (``COORD_SYSTEMS``,
share_linux.h:421 — UTM among 13 systems; ``Ctype()`` SEEIT_API.c:122
switches the measurement frame); the engine previously assumed geodetic
input everywhere.  This module adds the dominant real-world case: WGS84
UTM zones -> geodetic degrees at ingest.

Method: the standard inverse transverse Mercator series (USGS/Snyder 1987,
eqs. 8-17..8-25: footpoint latitude from the meridional arc, then the
D-power series).  All trigonometry is replaced by degree-15/16 Taylor
polynomials in Horner form (|arg| <= ~1.5 rad for |lat| <= 84 deg, series
truncation error < 3e-12 rad ~ 0.02 mm), and the higher multiple-angle
sines come from exact double-angle recurrences — so the whole transform is
pure multiply/add/sqrt/divide.

Why: the engine's dual-engine oracle method (see functions/geodesy.py)
requires the Spark plan and the DuckDB oracle to evaluate the SAME IEEE-754
expression tree.  ``utm_stages`` is the single source of truth: the Spark
side materializes it as staged columns (functions/stages.with_stages), the
oracle renders it as a nested-subquery chain (stages.oracle_stages) —
bit-identical outputs by construction.  A numpy twin with the same operation
order serves the Arrow-batched kernels, and its fidelity against true-trig
inverse UTM is unit-tested to < 1e-8 deg (~1 mm).
"""

from __future__ import annotations

import numpy as np

from .stages import cos_np, dlit, sin_np, sql_cos_poly, sql_sin_poly

K0 = 0.9996
A = 6378137.0
F_INV = 298.257223563
_f = 1.0 / F_INV
E2 = _f * (2.0 - _f)
EP2 = E2 / (1.0 - E2)
_sqrt1me2 = (1.0 - E2) ** 0.5
E1 = (1.0 - _sqrt1me2) / (1.0 + _sqrt1me2)
#: meridional-arc normalizer a*(1 - e2/4 - 3e4/64 - 5e6/256)
MU_DEN = A * (1.0 - E2 / 4.0 - 3.0 * E2 * E2 / 64.0 - 5.0 * E2 * E2 * E2 / 256.0)
#: footpoint-latitude series coefficients (Snyder eq. 3-26)
J1 = 3.0 * E1 / 2.0 - 27.0 * E1**3 / 32.0
J2 = 21.0 * E1**2 / 16.0 - 55.0 * E1**4 / 32.0
J3 = 151.0 * E1**3 / 96.0
J4 = 1097.0 * E1**4 / 512.0
RAD2DEG = 57.29577951308232


def utm_stages(
    easting: str, northing: str, zone: str, south: bool = False
) -> list[tuple[str, str]]:
    """(name, expr) chain computing ``utm_lon``/``utm_lat`` (degrees) from
    UTM meters.  Each expr references only input columns and earlier names,
    so it can render as Spark staged columns OR a DuckDB subquery chain."""
    return tm_stages(
        easting,
        northing,
        lon0_expr=f"(CAST(({zone}) AS DOUBLE) * 6.0 - 183.0)",
        k0=K0,
        false_easting=500000.0,
        false_northing=10000000.0 if south else 0.0,
    )


def tm_stages(
    easting: str,
    northing: str,
    lon0_expr: str,
    k0: float = K0,
    false_easting: float = 500000.0,
    false_northing: float = 0.0,
) -> list[tuple[str, str]]:
    """Generalized Transverse Mercator inverse (reference coordinate
    system 3, TTformat.c:28431 — UTM is system 2, the k0 = 0.9996 /
    zone-derived-lon0 special case).  Same stage-chain contract as
    utm_stages; ``lon0_expr`` is an SQL expression in DEGREES."""
    n_adj = (
        f"(({northing}) - {dlit(false_northing)})"
        if false_northing
        else f"({northing})"
    )
    return [
        ("_u_x", f"(({easting}) - {dlit(false_easting)})"),
        ("_u_mu", f"({n_adj} / {dlit(k0)} / {dlit(MU_DEN)})"),
        ("_u_smu", sql_sin_poly("_u_mu")),
        ("_u_cmu", sql_cos_poly("_u_mu")),
        ("_u_s2", "(2.0 * _u_smu * _u_cmu)"),
        ("_u_c2", "(1.0 - 2.0 * _u_smu * _u_smu)"),
        ("_u_s4", "(2.0 * _u_s2 * _u_c2)"),
        ("_u_c4", "(1.0 - 2.0 * _u_s2 * _u_s2)"),
        ("_u_s6", "(_u_s4 * _u_c2 + _u_c4 * _u_s2)"),
        ("_u_s8", "(2.0 * _u_s4 * _u_c4)"),
        (
            "_u_phi1",
            f"(_u_mu + {dlit(J1)} * _u_s2 + {dlit(J2)} * _u_s4"
            f" + {dlit(J3)} * _u_s6 + {dlit(J4)} * _u_s8)",
        ),
        ("_u_sp", sql_sin_poly("_u_phi1")),
        ("_u_cp", sql_cos_poly("_u_phi1")),
        ("_u_sp2", "(_u_sp * _u_sp)"),
        ("_u_tp", "(_u_sp / _u_cp)"),
        ("_u_t1", "(_u_tp * _u_tp)"),
        ("_u_c1", f"({dlit(EP2)} * _u_cp * _u_cp)"),
        ("_u_w", f"(1.0 - {dlit(E2)} * _u_sp2)"),
        ("_u_n1", f"({dlit(A)} / sqrt(_u_w))"),
        ("_u_r1", f"({dlit(A)} * {dlit(1.0 - E2)} / (_u_w * sqrt(_u_w)))"),
        ("_u_d", f"(_u_x / (_u_n1 * {dlit(k0)}))"),
        ("_u_d2", "(_u_d * _u_d)"),
        (
            "utm_lat",
            f"((_u_phi1 - (_u_n1 * _u_tp / _u_r1) * (_u_d2 / 2.0"
            f" - (5.0 + 3.0 * _u_t1 + 10.0 * _u_c1 - 4.0 * _u_c1 * _u_c1"
            f" - 9.0 * {dlit(EP2)}) * _u_d2 * _u_d2 / 24.0"
            f" + (61.0 + 90.0 * _u_t1 + 298.0 * _u_c1"
            f" + 45.0 * _u_t1 * _u_t1 - 252.0 * {dlit(EP2)}"
            f" - 3.0 * _u_c1 * _u_c1) * _u_d2 * _u_d2 * _u_d2 / 720.0))"
            f" * {dlit(RAD2DEG)})",
        ),
        (
            "utm_lon",
            f"({lon0_expr}"
            f" + ((_u_d - (1.0 + 2.0 * _u_t1 + _u_c1) * _u_d * _u_d2 / 6.0"
            f" + (5.0 - 2.0 * _u_c1 + 28.0 * _u_t1 - 3.0 * _u_c1 * _u_c1"
            f" + 8.0 * {dlit(EP2)} + 24.0 * _u_t1 * _u_t1)"
            f" * _u_d * _u_d2 * _u_d2 / 120.0) / _u_cp) * {dlit(RAD2DEG)})",
        ),
    ]


def utm_to_geodetic_np(easting, northing, zone, south: bool = False):
    """numpy twin (same polynomial + operation order) for Arrow kernels."""
    z = np.asarray(zone, dtype=np.float64)
    return tm_to_geodetic_np(
        easting, northing, z * 6.0 - 183.0, K0, 500000.0,
        10000000.0 if south else 0.0,
    )


def tm_to_geodetic_np(easting, northing, lon0_deg, k0: float = K0,
                      false_easting: float = 500000.0,
                      false_northing: float = 0.0):
    """numpy twin of the generalized TM stage chain (same op order)."""
    e = np.asarray(easting, dtype=np.float64)
    n = np.asarray(northing, dtype=np.float64)
    lon0 = np.asarray(lon0_deg, dtype=np.float64)
    x = e - false_easting
    nn = n - false_northing if false_northing else n
    mu = nn / k0 / MU_DEN
    smu = sin_np(mu)
    cmu = cos_np(mu)
    s2 = 2.0 * smu * cmu
    c2 = 1.0 - 2.0 * smu * smu
    s4 = 2.0 * s2 * c2
    c4 = 1.0 - 2.0 * s2 * s2
    s6 = s4 * c2 + c4 * s2
    s8 = 2.0 * s4 * c4
    phi1 = mu + J1 * s2 + J2 * s4 + J3 * s6 + J4 * s8
    sp = sin_np(phi1)
    cp = cos_np(phi1)
    sp2 = sp * sp
    tp = sp / cp
    t1 = tp * tp
    c1 = EP2 * cp * cp
    w = 1.0 - E2 * sp2
    n1 = A / np.sqrt(w)
    r1 = A * (1.0 - E2) / (w * np.sqrt(w))
    d = x / (n1 * k0)
    d2 = d * d
    lat = (
        phi1
        - (n1 * tp / r1)
        * (
            d2 / 2.0
            - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * EP2)
            * d2 * d2 / 24.0
            + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1
               - 252.0 * EP2 - 3.0 * c1 * c1) * d2 * d2 * d2 / 720.0
        )
    ) * RAD2DEG
    lon = lon0 + (
        (
            d
            - (1.0 + 2.0 * t1 + c1) * d * d2 / 6.0
            + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + 8.0 * EP2
               + 24.0 * t1 * t1) * d * d2 * d2 / 120.0
        )
        / cp
    ) * RAD2DEG
    return lon, lat


def geodetic_to_utm_np(lon, lat):
    """Forward transform (true trig; test/fixture use only) — Snyder
    eqs. 8-9..8-15, used to validate the inverse's fidelity."""
    lon = np.asarray(lon, dtype=np.float64)
    zone = np.floor((lon + 180.0) / 6.0).astype(np.int64) + 1
    e, n = geodetic_to_tm_np(lon, lat, zone * 6.0 - 183.0, K0, 500000.0, 0.0)
    return e, n, zone


def geodetic_to_tm_np(lon, lat, lon0_deg, k0: float = K0,
                      false_easting: float = 500000.0,
                      false_northing: float = 0.0):
    """Generalized true-trig forward TM (test/fixture use only)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lon0 = np.asarray(lon0_deg, dtype=np.float64)
    phi = np.deg2rad(lat)
    lam = np.deg2rad(lon - lon0)
    sp = np.sin(phi)
    cp = np.cos(phi)
    tp = np.tan(phi)
    n1 = A / np.sqrt(1.0 - E2 * sp * sp)
    t = tp * tp
    c = EP2 * cp * cp
    a_ = lam * cp
    m = A * (
        (1.0 - E2 / 4.0 - 3.0 * E2**2 / 64.0 - 5.0 * E2**3 / 256.0) * phi
        - (3.0 * E2 / 8.0 + 3.0 * E2**2 / 32.0 + 45.0 * E2**3 / 1024.0)
        * np.sin(2.0 * phi)
        + (15.0 * E2**2 / 256.0 + 45.0 * E2**3 / 1024.0) * np.sin(4.0 * phi)
        - (35.0 * E2**3 / 3072.0) * np.sin(6.0 * phi)
    )
    easting = k0 * n1 * (
        a_
        + (1.0 - t + c) * a_**3 / 6.0
        + (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * EP2) * a_**5 / 120.0
    ) + false_easting
    northing = k0 * (
        m
        + n1 * tp * (
            a_**2 / 2.0
            + (5.0 - t + 9.0 * c + 4.0 * c * c) * a_**4 / 24.0
            + (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * EP2)
            * a_**6 / 720.0
        )
    ) + false_northing
    return easting, northing


# --- Equidistant Cylindrical (reference coordinate system 5) --------------------
#
# Ellipsoidal Plate Carree (EPSG method 1028, std parallel 0): northing IS
# the meridional arc M(phi), easting = a * lambda.  The inverse latitude is
# exactly the UTM footpoint series (Snyder eq. 3-26) already used above.

def ec_stages(easting: str, northing: str, lon0_deg: float = 0.0) -> list[tuple[str, str]]:
    """(name, expr) chain computing ``ec_lon``/``ec_lat`` (degrees)."""
    return [
        ("_c_mu", f"(({northing}) / {dlit(MU_DEN)})"),
        ("_c_smu", sql_sin_poly("_c_mu")),
        ("_c_cmu", sql_cos_poly("_c_mu")),
        ("_c_s2", "(2.0 * _c_smu * _c_cmu)"),
        ("_c_c2", "(1.0 - 2.0 * _c_smu * _c_smu)"),
        ("_c_s4", "(2.0 * _c_s2 * _c_c2)"),
        ("_c_c4", "(1.0 - 2.0 * _c_s2 * _c_s2)"),
        ("_c_s6", "(_c_s4 * _c_c2 + _c_c4 * _c_s2)"),
        ("_c_s8", "(2.0 * _c_s4 * _c_c4)"),
        (
            "ec_lat",
            f"((_c_mu + {dlit(J1)} * _c_s2 + {dlit(J2)} * _c_s4"
            f" + {dlit(J3)} * _c_s6 + {dlit(J4)} * _c_s8) * {dlit(RAD2DEG)})",
        ),
        (
            "ec_lon",
            f"({dlit(lon0_deg)} + (({easting}) / {dlit(A)}) * {dlit(RAD2DEG)})",
        ),
    ]


def ec_to_geodetic_np(easting, northing, lon0_deg: float = 0.0):
    """numpy twin (same polynomial + operation order)."""
    e = np.asarray(easting, dtype=np.float64)
    n = np.asarray(northing, dtype=np.float64)
    mu = n / MU_DEN
    smu = sin_np(mu)
    cmu = cos_np(mu)
    s2 = 2.0 * smu * cmu
    c2 = 1.0 - 2.0 * smu * smu
    s4 = 2.0 * s2 * c2
    c4 = 1.0 - 2.0 * s2 * s2
    s6 = s4 * c2 + c4 * s2
    s8 = 2.0 * s4 * c4
    lat = (mu + J1 * s2 + J2 * s4 + J3 * s6 + J4 * s8) * RAD2DEG
    lon = lon0_deg + (e / A) * RAD2DEG
    return lon, lat


def geodetic_to_ec_np(lon, lat, lon0_deg: float = 0.0):
    """True-trig forward (test/fixture use only): E = a*lam, N = M(phi)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    phi = np.deg2rad(lat)
    m = A * (
        (1.0 - E2 / 4.0 - 3.0 * E2**2 / 64.0 - 5.0 * E2**3 / 256.0) * phi
        - (3.0 * E2 / 8.0 + 3.0 * E2**2 / 32.0 + 45.0 * E2**3 / 1024.0)
        * np.sin(2.0 * phi)
        + (15.0 * E2**2 / 256.0 + 45.0 * E2**3 / 1024.0) * np.sin(4.0 * phi)
        - (35.0 * E2**3 / 3072.0) * np.sin(6.0 * phi)
    )
    return A * np.deg2rad(lon - lon0_deg), m
