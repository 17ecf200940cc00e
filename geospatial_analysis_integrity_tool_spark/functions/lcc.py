"""Lambert Conformal Conic -> geodetic ingest transform (reference
coordinate system 4, "LCC" TTformat.c:28432).

Standard two-parallel ellipsoidal inverse (Snyder 1987 eqs. 15-1..15-5 for
the cone constants, 14-10/14-11 for rho/theta, then the conformal-latitude
series eq. 3-5 shared with the polar stereographic and Mercator kernels).
The cone constants n / F / rho0 involve only the PARAMETERS (standard
parallels, latitude of origin) and are computed once in Python with true
trig — like K0 in the UTM kernel they are literals in the expression tree.

Per-row transcendentals, same dual-engine contract as functions/stages.py:

* t = (rho / (a F))^(1/n) becomes exp(ln(r) / n):
  - ln(r) by THREE sqrt reductions ln(r) = 16 * atanh((r^(1/8)-1)/(r^(1/8)+1))
    — for r in [0.05, 3] the atanh argument stays under ~0.17, and the odd
    degree-15 atanh Taylor truncates below 1e-12;
  - exp by the quartered degree-13 Taylor from functions/stages.py;
* chi = pi/2 - 2 atan(t) with the reciprocal-fold + two-halving atan;
* theta = atan2(x', rho0 - y') with the same quadrant CASE tree as the
  polar stereographic longitude.
"""

from __future__ import annotations

import math

import numpy as np

from .polar_stereo import CHI_A2, CHI_A4, CHI_A6, CHI_A8, HALF_PI, PI, _e
from .stages import (
    atan_np,
    atanh_np,
    cos_np,
    dlit,
    exp_quarter_np,
    sin_np,
    sql_atan_poly,
    sql_atanh_poly,
    sql_cos_poly,
    sql_exp_poly_quarter,
    sql_sin_poly,
)
from .utm import A, E2, RAD2DEG


def _m_of(phi: float) -> float:
    sp = math.sin(phi)
    return math.cos(phi) / math.sqrt(1.0 - E2 * sp * sp)


def _t_of(phi: float) -> float:
    sp = math.sin(phi)
    return math.tan(math.pi / 4.0 - phi / 2.0) * (
        (1.0 + _e * sp) / (1.0 - _e * sp)
    ) ** (_e / 2.0)


def lcc_constants(lat1_deg: float, lat2_deg: float, lat0_deg: float):
    """Cone constant n, scale F, origin radius rho0 (Snyder 15-1..15-3)."""
    p1 = math.radians(lat1_deg)
    p2 = math.radians(lat2_deg)
    p0 = math.radians(lat0_deg)
    m1, m2 = _m_of(p1), _m_of(p2)
    t1, t2, t0 = _t_of(p1), _t_of(p2), _t_of(p0)
    n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    F = m1 / (n * t1**n)
    rho0 = A * F * t0**n
    return n, F, rho0


def lcc_stages(easting: str, northing: str, lon0_deg: float,
               lat1_deg: float, lat2_deg: float, lat0_deg: float,
               false_easting: float = 0.0,
               false_northing: float = 0.0) -> list[tuple[str, str]]:
    """(name, expr) chain computing ``lcc_lon``/``lcc_lat`` (degrees).
    Northern-cone setup (n > 0; the standard parallels both north)."""
    n, F, rho0 = lcc_constants(lat1_deg, lat2_deg, lat0_deg)
    aF = A * F
    x = (f"(({easting}) - {dlit(false_easting)})" if false_easting
         else f"({easting})")
    y = (f"(({northing}) - {dlit(false_northing)})" if false_northing
         else f"({northing})")
    return [
        ("_l_x", x),
        ("_l_yy", f"({dlit(rho0)} - {y})"),
        ("_l_rho", "sqrt(_l_x * _l_x + _l_yy * _l_yy)"),
        ("_l_r", f"(_l_rho / {dlit(aF)})"),
        # ln(r) = 16 * atanh((r^(1/8) - 1) / (r^(1/8) + 1))
        ("_l_r8", "sqrt(sqrt(sqrt(_l_r)))"),
        ("_l_zl", "((_l_r8 - 1.0) / (_l_r8 + 1.0))"),
        ("_l_lnr", f"(16.0 * {sql_atanh_poly('_l_zl')})"),
        *sql_exp_poly_quarter(f"(_l_lnr / {dlit(n)})", prefix="_l"),
        ("_l_t", "_l_exp"),
        # chi = pi/2 - 2 atan(t), reciprocal fold + two halvings
        ("_l_z", "(CASE WHEN _l_t <= 1.0 THEN _l_t ELSE 1.0 / _l_t END)"),
        ("_l_z1", "(_l_z / (1.0 + sqrt(1.0 + _l_z * _l_z)))"),
        ("_l_z2", "(_l_z1 / (1.0 + sqrt(1.0 + _l_z1 * _l_z1)))"),
        ("_l_base", f"(4.0 * {sql_atan_poly('_l_z2')})"),
        (
            "_l_att",
            f"(CASE WHEN _l_t <= 1.0 THEN _l_base"
            f" ELSE {dlit(HALF_PI)} - _l_base END)",
        ),
        ("_l_chi", f"({dlit(HALF_PI)} - 2.0 * _l_att)"),
        ("_l_schi", sql_sin_poly("_l_chi")),
        ("_l_cchi", sql_cos_poly("_l_chi")),
        ("_l_s2", "(2.0 * _l_schi * _l_cchi)"),
        ("_l_c2", "(1.0 - 2.0 * _l_schi * _l_schi)"),
        ("_l_s4", "(2.0 * _l_s2 * _l_c2)"),
        ("_l_c4", "(1.0 - 2.0 * _l_s2 * _l_s2)"),
        ("_l_s6", "(_l_s4 * _l_c2 + _l_c4 * _l_s2)"),
        ("_l_s8", "(2.0 * _l_s4 * _l_c4)"),
        (
            "lcc_lat",
            f"((_l_chi + {dlit(CHI_A2)} * _l_s2 + {dlit(CHI_A4)} * _l_s4"
            f" + {dlit(CHI_A6)} * _l_s6 + {dlit(CHI_A8)} * _l_s8)"
            f" * {dlit(RAD2DEG)})",
        ),
        # theta = atan2(x', rho0 - y'), same quadrant tree as polar_stereo
        ("_l_an", "LEAST(abs(_l_x), abs(_l_yy))"),
        ("_l_ad", "GREATEST(abs(_l_x), abs(_l_yy))"),
        ("_l_za", "(CASE WHEN _l_ad = 0.0 THEN 0.0 ELSE _l_an / _l_ad END)"),
        ("_l_za1", "(_l_za / (1.0 + sqrt(1.0 + _l_za * _l_za)))"),
        ("_l_za2", "(_l_za1 / (1.0 + sqrt(1.0 + _l_za1 * _l_za1)))"),
        ("_l_abase", f"(4.0 * {sql_atan_poly('_l_za2')})"),
        (
            "_l_araw",
            f"(CASE WHEN abs(_l_x) <= abs(_l_yy) THEN _l_abase"
            f" ELSE {dlit(HALF_PI)} - _l_abase END)",
        ),
        (
            "_l_theta",
            f"(CASE WHEN _l_yy >= 0.0 THEN"
            f" (CASE WHEN _l_x >= 0.0 THEN _l_araw ELSE 0.0 - _l_araw END)"
            f" ELSE (CASE WHEN _l_x >= 0.0 THEN {dlit(PI)} - _l_araw"
            f" ELSE _l_araw - {dlit(PI)} END) END)",
        ),
        (
            "lcc_lon",
            f"({dlit(lon0_deg)} + (_l_theta / {dlit(n)}) * {dlit(RAD2DEG)})",
        ),
    ]


def lcc_to_geodetic_np(easting, northing, lon0_deg: float, lat1_deg: float,
                       lat2_deg: float, lat0_deg: float,
                       false_easting: float = 0.0,
                       false_northing: float = 0.0):
    """numpy twin (same polynomial + operation order)."""
    n, F, rho0 = lcc_constants(lat1_deg, lat2_deg, lat0_deg)
    aF = A * F
    x = np.asarray(easting, dtype=np.float64) - false_easting
    yy = rho0 - (np.asarray(northing, dtype=np.float64) - false_northing)
    rho = np.sqrt(x * x + yy * yy)
    r = rho / aF
    r8 = np.sqrt(np.sqrt(np.sqrt(r)))
    zl = (r8 - 1.0) / (r8 + 1.0)
    lnr = 16.0 * atanh_np(zl)
    t = exp_quarter_np(lnr / n)
    z = np.where(t <= 1.0, t, 1.0 / t)
    z1 = z / (1.0 + np.sqrt(1.0 + z * z))
    z2 = z1 / (1.0 + np.sqrt(1.0 + z1 * z1))
    base = 4.0 * atan_np(z2)
    att = np.where(t <= 1.0, base, HALF_PI - base)
    chi = HALF_PI - 2.0 * att
    schi = sin_np(chi)
    cchi = cos_np(chi)
    s2 = 2.0 * schi * cchi
    c2 = 1.0 - 2.0 * schi * schi
    s4 = 2.0 * s2 * c2
    c4 = 1.0 - 2.0 * s2 * s2
    s6 = s4 * c2 + c4 * s2
    s8 = 2.0 * s4 * c4
    lat = (chi + CHI_A2 * s2 + CHI_A4 * s4 + CHI_A6 * s6 + CHI_A8 * s8) * RAD2DEG
    an = np.minimum(np.abs(x), np.abs(yy))
    ad = np.maximum(np.abs(x), np.abs(yy))
    za = np.where(ad == 0.0, 0.0, an / np.where(ad == 0.0, 1.0, ad))
    za1 = za / (1.0 + np.sqrt(1.0 + za * za))
    za2 = za1 / (1.0 + np.sqrt(1.0 + za1 * za1))
    abase = 4.0 * atan_np(za2)
    araw = np.where(np.abs(x) <= np.abs(yy), abase, HALF_PI - abase)
    theta = np.where(
        yy >= 0.0,
        np.where(x >= 0.0, araw, -araw),
        np.where(x >= 0.0, PI - araw, araw - PI),
    )
    lon = lon0_deg + (theta / n) * RAD2DEG
    return lon, lat


def geodetic_to_lcc_np(lon, lat, lon0_deg: float, lat1_deg: float,
                       lat2_deg: float, lat0_deg: float,
                       false_easting: float = 0.0,
                       false_northing: float = 0.0):
    """True-trig forward (test/fixture use only) — Snyder 14-1..14-4."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n, F, rho0 = lcc_constants(lat1_deg, lat2_deg, lat0_deg)
    phi = np.deg2rad(lat)
    sp = np.sin(phi)
    t = np.tan(np.pi / 4.0 - phi / 2.0) * (
        (1.0 + _e * sp) / (1.0 - _e * sp)
    ) ** (_e / 2.0)
    rho = A * F * t**n
    theta = n * np.deg2rad(lon - lon0_deg)
    x = rho * np.sin(theta) + false_easting
    y = rho0 - rho * np.cos(theta) + false_northing
    return x, y
