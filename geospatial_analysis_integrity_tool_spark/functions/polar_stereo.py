"""UPS / Polar Stereographic -> geodetic ingest transform.

The reference's coordinate-system layer supports PS ("Polar Stereographic",
TTformat.c:28434 case 6) among its 13 projected systems (``COORD_SYSTEMS``
share_linux.h:421); round-4 added UTM (functions/utm.py) — this module adds
its polar complement, covering the latitudes UTM cannot (UPS zones: WGS84,
k0 = 0.994, false easting/northing 2,000,000 m, lon0 = 0).

Method: the standard ellipsoidal inverse (Snyder 1987 eqs. 21-33/15-11 for
the t scale, then the conformal-latitude series eq. 3-5).  As in
functions/utm.py, every transcendental is replaced so the whole transform is
multiply/add/sqrt/divide and the SAME expression tree evaluates on Spark and
DuckDB bit-identically (functions/stages.py):

* sin/cos of the conformal latitude: the shared degree-15/14 Taylor
  polynomials from functions/stages.py (|chi| <= pi/2 < 1.6);
* atan(t) for the colatitude: direct odd degree-15 Taylor — the UPS domain
  (|lat| >= ~70 deg) bounds t = tan(pi/4 - chi/2) <= ~0.18, truncation
  < 3e-12 rad;
* the full-circle longitude atan2: argument reduction to z = min/max of the
  absolute components (z in [0,1]), TWO argument-halving steps
  atan(z) = 2*atan(z / (1 + sqrt(1 + z^2))) (each one sqrt + divide) bring
  the argument under tan(pi/16) ~ 0.199, then the same odd Taylor; quadrant
  reconstruction is a CASE tree with identical semantics in both engines.

A numpy twin with the same operation order serves Arrow kernels; its
fidelity against the true-trig forward transform is unit-tested to
< 1e-8 deg (~1 mm).
"""

from __future__ import annotations

import numpy as np

from .stages import atan_np, cos_np, dlit, sin_np, sql_atan_poly, sql_cos_poly, sql_sin_poly
from .utm import A, E2, RAD2DEG

K0_UPS = 0.994
FE = 2000000.0
FN = 2000000.0
_e = E2**0.5
#: Snyder 21-33 denominator sqrt((1+e)^(1+e) * (1-e)^(1-e))
C_T = ((1.0 + _e) ** (1.0 + _e) * (1.0 - _e) ** (1.0 - _e)) ** 0.5
#: rho -> t multiplier with all constants folded
T_SCALE = C_T / (2.0 * A * K0_UPS)
PI = 3.141592653589793
HALF_PI = PI / 2.0

#: conformal -> geodetic latitude series (Snyder eq. 3-5)
CHI_A2 = E2 / 2.0 + 5.0 * E2**2 / 24.0 + E2**3 / 12.0 + 13.0 * E2**4 / 360.0
CHI_A4 = 7.0 * E2**2 / 48.0 + 29.0 * E2**3 / 240.0 + 811.0 * E2**4 / 11520.0
CHI_A6 = 7.0 * E2**3 / 120.0 + 81.0 * E2**4 / 1120.0
CHI_A8 = 4279.0 * E2**4 / 161280.0

def ps_stages(easting: str, northing: str, south: bool = False) -> list[tuple[str, str]]:
    """(name, expr) chain computing ``ps_lon``/``ps_lat`` (degrees) from UPS
    meters.  Same contract as utm.utm_stages: each expr references only
    input columns and earlier names."""
    # X component of the longitude atan2: -y' at the north pole aspect,
    # +y' at the south (Snyder 20-16/-17)
    lx = "(0.0 - _p_y)" if not south else "_p_y"
    return [
        ("_p_x", f"(({easting}) - {dlit(FE)})"),
        ("_p_y", f"(({northing}) - {dlit(FN)})"),
        ("_p_rho", "sqrt(_p_x * _p_x + _p_y * _p_y)"),
        ("_p_t", f"(_p_rho * {dlit(T_SCALE)})"),
        ("_p_att", sql_atan_poly("_p_t")),
        ("_p_chi", f"({dlit(HALF_PI)} - 2.0 * _p_att)"),
        ("_p_schi", sql_sin_poly("_p_chi")),
        ("_p_cchi", sql_cos_poly("_p_chi")),
        ("_p_s2", "(2.0 * _p_schi * _p_cchi)"),
        ("_p_c2", "(1.0 - 2.0 * _p_schi * _p_schi)"),
        ("_p_s4", "(2.0 * _p_s2 * _p_c2)"),
        ("_p_c4", "(1.0 - 2.0 * _p_s2 * _p_s2)"),
        ("_p_s6", "(_p_s4 * _p_c2 + _p_c4 * _p_s2)"),
        ("_p_s8", "(2.0 * _p_s4 * _p_c4)"),
        (
            "_p_phi",
            f"(_p_chi + {dlit(CHI_A2)} * _p_s2 + {dlit(CHI_A4)} * _p_s4"
            f" + {dlit(CHI_A6)} * _p_s6 + {dlit(CHI_A8)} * _p_s8)",
        ),
        # longitude: atan2(x', lx) by reduce-halve-Taylor
        ("_p_lx", lx),
        ("_p_an", "LEAST(abs(_p_x), abs(_p_lx))"),
        ("_p_ad", "GREATEST(abs(_p_x), abs(_p_lx))"),
        ("_p_z", "(CASE WHEN _p_ad = 0.0 THEN 0.0 ELSE _p_an / _p_ad END)"),
        ("_p_z1", "(_p_z / (1.0 + sqrt(1.0 + _p_z * _p_z)))"),
        ("_p_z2", "(_p_z1 / (1.0 + sqrt(1.0 + _p_z1 * _p_z1)))"),
        ("_p_base", f"(4.0 * {sql_atan_poly('_p_z2')})"),
        (
            "_p_raw",
            f"(CASE WHEN abs(_p_x) <= abs(_p_lx) THEN _p_base"
            f" ELSE {dlit(HALF_PI)} - _p_base END)",
        ),
        (
            "ps_lon",
            f"((CASE WHEN _p_lx >= 0.0 THEN"
            f" (CASE WHEN _p_x >= 0.0 THEN _p_raw ELSE 0.0 - _p_raw END)"
            f" ELSE (CASE WHEN _p_x >= 0.0 THEN {dlit(PI)} - _p_raw"
            f" ELSE _p_raw - {dlit(PI)} END) END) * {dlit(RAD2DEG)})",
        ),
        (
            "ps_lat",
            (f"((0.0 - _p_phi) * {dlit(RAD2DEG)})" if south
             else f"(_p_phi * {dlit(RAD2DEG)})"),
        ),
    ]


def ps_to_geodetic_np(easting, northing, south: bool = False):
    """numpy twin (same polynomial + operation order) for Arrow kernels."""
    x = np.asarray(easting, dtype=np.float64) - FE
    y = np.asarray(northing, dtype=np.float64) - FN
    rho = np.sqrt(x * x + y * y)
    t = rho * T_SCALE
    chi = HALF_PI - 2.0 * atan_np(t)
    schi = sin_np(chi)
    cchi = cos_np(chi)
    s2 = 2.0 * schi * cchi
    c2 = 1.0 - 2.0 * schi * schi
    s4 = 2.0 * s2 * c2
    c4 = 1.0 - 2.0 * s2 * s2
    s6 = s4 * c2 + c4 * s2
    s8 = 2.0 * s4 * c4
    phi = chi + CHI_A2 * s2 + CHI_A4 * s4 + CHI_A6 * s6 + CHI_A8 * s8
    lx = y if south else -y
    an = np.minimum(np.abs(x), np.abs(lx))
    ad = np.maximum(np.abs(x), np.abs(lx))
    z = np.where(ad == 0.0, 0.0, an / np.where(ad == 0.0, 1.0, ad))
    z1 = z / (1.0 + np.sqrt(1.0 + z * z))
    z2 = z1 / (1.0 + np.sqrt(1.0 + z1 * z1))
    base = 4.0 * atan_np(z2)
    raw = np.where(np.abs(x) <= np.abs(lx), base, HALF_PI - base)
    lon = np.where(
        lx >= 0.0,
        np.where(x >= 0.0, raw, -raw),
        np.where(x >= 0.0, PI - raw, raw - PI),
    ) * RAD2DEG
    lat = (-phi if south else phi) * RAD2DEG
    return lon, lat


def geodetic_to_ps_np(lon, lat, south: bool = False):
    """Forward transform (true trig; test/fixture use only) — Snyder
    eqs. 15-9 / 21-33 / 21-30..31, used to validate the inverse."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    phi = np.deg2rad(-lat if south else lat)
    lam = np.deg2rad(lon)
    sp = np.sin(phi)
    t = np.tan(np.pi / 4.0 - phi / 2.0) * (
        (1.0 + _e * sp) / (1.0 - _e * sp)
    ) ** (_e / 2.0)
    rho = 2.0 * A * K0_UPS * t / C_T
    # EPSG 32661/32761: E = FE + rho sin(lam); N = FN -/+ rho cos(lam)
    x = FE + rho * np.sin(lam)
    y = FN + rho * np.cos(lam) if south else FN - rho * np.cos(lam)
    return x, y
