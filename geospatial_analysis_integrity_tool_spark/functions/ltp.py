"""Local Tangent Plane (ENU) -> geodetic ingest transform (reference
coordinate system 12, "LTP" TTformat.c:28440; LSR, system 14, is the same
local-frame family).

Pipeline: the local east/north/up offsets rotate into ECEF through the
origin's rotation matrix (all entries are trig of the FIXED origin — Python
constants, like K0 in the UTM kernel), then ECEF -> geodetic by Bowring's
method (Bowring 1976; two refinement passes) with every transcendental a
bounded-domain polynomial, same dual-engine contract as functions/stages.py:

* both atan2 calls (longitude; latitude numerator/denominator) use the
  reduce-to-[0,1] + two-halving + degree-15 Taylor quadrant tree from
  functions/polar_stereo.py;
* sin/cos of the parametric and geodetic latitudes come either directly
  from the atan2 operands (sin theta = Z a / hypot(Z a, p b) — no trig at
  all) or from the degree-15/14 Taylor of an angle bounded by pi/2;
* two Bowring passes bound the inverse error below 1e-9 deg for |up| up to
  tens of km (fidelity-tested).
"""

from __future__ import annotations

import math

import numpy as np

from .polar_stereo import HALF_PI, PI
from .stages import atan_np, cos_np, dlit, sin_np, sql_atan_poly, sql_cos_poly, sql_sin_poly
from .utm import A, E2, RAD2DEG

B = A * math.sqrt(1.0 - E2)
EP2B = (E2 / (1.0 - E2)) * B  # e'^2 * b
E2A = E2 * A                  # e^2 * a


def ltp_origin(lat0_deg: float, lon0_deg: float, h0: float = 0.0):
    """ECEF origin + ENU->ECEF rotation entries for a fixed LTP origin."""
    p = math.radians(lat0_deg)
    l = math.radians(lon0_deg)
    sp, cp = math.sin(p), math.cos(p)
    sl, cl = math.sin(l), math.cos(l)
    n0 = A / math.sqrt(1.0 - E2 * sp * sp)
    x0 = (n0 + h0) * cp * cl
    y0 = (n0 + h0) * cp * sl
    z0 = (n0 * (1.0 - E2) + h0) * sp
    # columns e, n, u
    r = (
        (-sl, -sp * cl, cp * cl),
        (cl, -sp * sl, cp * sl),
        (0.0, cp, sp),
    )
    return (x0, y0, z0), r


def _sql_atan2_stages(prefix: str, ycol: str, xcol: str) -> list[tuple[str, str]]:
    """Full-circle atan2(y, x) -> ``{prefix}_ang`` (radians); the same
    reduce/halve/Taylor quadrant tree as the polar stereographic lon."""
    p = prefix
    return [
        (f"{p}_an", f"LEAST(abs({ycol}), abs({xcol}))"),
        (f"{p}_ad", f"GREATEST(abs({ycol}), abs({xcol}))"),
        (f"{p}_z", f"(CASE WHEN {p}_ad = 0.0 THEN 0.0 ELSE {p}_an / {p}_ad END)"),
        (f"{p}_z1", f"({p}_z / (1.0 + sqrt(1.0 + {p}_z * {p}_z)))"),
        (f"{p}_z2", f"({p}_z1 / (1.0 + sqrt(1.0 + {p}_z1 * {p}_z1)))"),
        (f"{p}_b", f"(4.0 * {sql_atan_poly(f'{p}_z2')})"),
        (
            f"{p}_raw",
            f"(CASE WHEN abs({ycol}) <= abs({xcol}) THEN {p}_b"
            f" ELSE {dlit(HALF_PI)} - {p}_b END)",
        ),
        (
            f"{p}_ang",
            f"(CASE WHEN {xcol} >= 0.0 THEN"
            f" (CASE WHEN {ycol} >= 0.0 THEN {p}_raw ELSE 0.0 - {p}_raw END)"
            f" ELSE (CASE WHEN {ycol} >= 0.0 THEN {dlit(PI)} - {p}_raw"
            f" ELSE {p}_raw - {dlit(PI)} END) END)",
        ),
    ]


def ecef_stages(xx: str, yy: str, zz: str,
                out_prefix: str = "ltp") -> list[tuple[str, str]]:
    """(name, expr) chain: ECEF meters -> ``{out_prefix}_lon/lat`` degrees
    (Bowring 2-pass, bounded-domain polynomial trig — the dual-engine core
    shared by LTP and the space-physics frames)."""
    return [
        ("_t_xx", xx),
        ("_t_yy", yy),
        ("_t_zz", zz),
        ("_t_p", "sqrt(_t_xx * _t_xx + _t_yy * _t_yy)"),
        *_sql_atan2_stages("_t_lo", "_t_yy", "_t_xx"),
        # Bowring pass 1: parametric latitude direct from the operands
        ("_t_h1", f"sqrt(_t_zz * {dlit(A)} * _t_zz * {dlit(A)}"
                  f" + _t_p * {dlit(B)} * _t_p * {dlit(B)})"),
        ("_t_st", f"(_t_zz * {dlit(A)} / _t_h1)"),
        ("_t_ct", f"(_t_p * {dlit(B)} / _t_h1)"),
        ("_t_nu1", f"(_t_zz + {dlit(EP2B)} * _t_st * _t_st * _t_st)"),
        ("_t_de1", f"(_t_p - {dlit(E2A)} * _t_ct * _t_ct * _t_ct)"),
        *_sql_atan2_stages("_t_f1", "_t_nu1", "_t_de1"),
        # Bowring pass 2: refine theta from phi1 (|phi1| <= pi/2 -> Taylor)
        ("_t_sf", sql_sin_poly("_t_f1_ang")),
        ("_t_cf", sql_cos_poly("_t_f1_ang")),
        ("_t_h2", f"sqrt({dlit(B)} * _t_sf * {dlit(B)} * _t_sf"
                  f" + {dlit(A)} * _t_cf * {dlit(A)} * _t_cf)"),
        ("_t_st2", f"({dlit(B)} * _t_sf / _t_h2)"),
        ("_t_ct2", f"({dlit(A)} * _t_cf / _t_h2)"),
        ("_t_nu2", f"(_t_zz + {dlit(EP2B)} * _t_st2 * _t_st2 * _t_st2)"),
        ("_t_de2", f"(_t_p - {dlit(E2A)} * _t_ct2 * _t_ct2 * _t_ct2)"),
        *_sql_atan2_stages("_t_f2", "_t_nu2", "_t_de2"),
        (f"{out_prefix}_lat", f"(_t_f2_ang * {dlit(RAD2DEG)})"),
        (f"{out_prefix}_lon", f"(_t_lo_ang * {dlit(RAD2DEG)})"),
    ]


def ltp_stages(e: str, n: str, u: str, lat0_deg: float, lon0_deg: float,
               h0: float = 0.0) -> list[tuple[str, str]]:
    """(name, expr) chain computing ``ltp_lon``/``ltp_lat`` (degrees) from
    local ENU meters at the given origin."""
    (x0, y0, z0), r = ltp_origin(lat0_deg, lon0_deg, h0)
    return ecef_stages(
        f"({dlit(x0)} + {dlit(r[0][0])} * ({e})"
        f" + {dlit(r[0][1])} * ({n}) + {dlit(r[0][2])} * ({u}))",
        f"({dlit(y0)} + {dlit(r[1][0])} * ({e})"
        f" + {dlit(r[1][1])} * ({n}) + {dlit(r[1][2])} * ({u}))",
        f"({dlit(z0)} + {dlit(r[2][1])} * ({n})"
        f" + {dlit(r[2][2])} * ({u}))",
    )


def _atan2_np(y, x):
    an = np.minimum(np.abs(y), np.abs(x))
    ad = np.maximum(np.abs(y), np.abs(x))
    z = np.where(ad == 0.0, 0.0, an / np.where(ad == 0.0, 1.0, ad))
    z1 = z / (1.0 + np.sqrt(1.0 + z * z))
    z2 = z1 / (1.0 + np.sqrt(1.0 + z1 * z1))
    b = 4.0 * atan_np(z2)
    raw = np.where(np.abs(y) <= np.abs(x), b, HALF_PI - b)
    return np.where(
        x >= 0.0,
        np.where(y >= 0.0, raw, -raw),
        np.where(y >= 0.0, PI - raw, raw - PI),
    )


def ltp_to_geodetic_np(e, n, u, lat0_deg: float, lon0_deg: float,
                       h0: float = 0.0):
    """numpy twin (same polynomial + operation order)."""
    (x0, y0, z0), r = ltp_origin(lat0_deg, lon0_deg, h0)
    e = np.asarray(e, dtype=np.float64)
    n = np.asarray(n, dtype=np.float64)
    u = np.asarray(u, dtype=np.float64)
    xx = x0 + r[0][0] * e + r[0][1] * n + r[0][2] * u
    yy = y0 + r[1][0] * e + r[1][1] * n + r[1][2] * u
    zz = z0 + r[2][1] * n + r[2][2] * u
    return ecef_to_geodetic_np(xx, yy, zz)


def ecef_to_geodetic_np(xx, yy, zz):
    """numpy twin of ``ecef_stages`` (same polynomials + operation order)."""
    p = np.sqrt(xx * xx + yy * yy)
    lon = _atan2_np(yy, xx)
    h1 = np.sqrt(zz * A * zz * A + p * B * p * B)
    st = zz * A / h1
    ct = p * B / h1
    phi1 = _atan2_np(zz + EP2B * st * st * st, p - E2A * ct * ct * ct)
    sf = sin_np(phi1)
    cf = cos_np(phi1)
    h2 = np.sqrt(B * sf * B * sf + A * cf * A * cf)
    st2 = B * sf / h2
    ct2 = A * cf / h2
    phi2 = _atan2_np(zz + EP2B * st2 * st2 * st2, p - E2A * ct2 * ct2 * ct2)
    return lon * RAD2DEG, phi2 * RAD2DEG


def geodetic_to_ltp_np(lon, lat, h, lat0_deg: float, lon0_deg: float,
                       h0: float = 0.0):
    """True-trig forward (test/fixture use only): geodetic -> ECEF -> ENU."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)
    phi = np.deg2rad(lat)
    lam = np.deg2rad(lon)
    sp, cp = np.sin(phi), np.cos(phi)
    nu = A / np.sqrt(1.0 - E2 * sp * sp)
    x = (nu + h) * cp * np.cos(lam)
    y = (nu + h) * cp * np.sin(lam)
    z = (nu * (1.0 - E2) + h) * sp
    (x0, y0, z0), r = ltp_origin(lat0_deg, lon0_deg, h0)
    dx, dy, dz = x - x0, y - y0, z - z0
    # R^T (columns were e,n,u)
    e = r[0][0] * dx + r[1][0] * dy + r[2][0] * dz
    n = r[0][1] * dx + r[1][1] * dy + r[2][1] * dz
    u = r[0][2] * dx + r[1][2] * dy + r[2][2] * dz
    return e, n, u
