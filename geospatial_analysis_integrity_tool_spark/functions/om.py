"""Oblique Mercator -> geodetic ingest transform (reference coordinate
system 11, "OM (Augmented Oblique Mercator)" TTformat.c:28439).

Hotine oblique Mercator, center-point + azimuth form (Snyder 1987
eqs. 9-11..9-25 for the aposphere constants, 9-42..9-47 for the inverse),
coordinates relative to the natural origin (u along the center line, v
across it).  The constants B / A' / E / gamma0 / lon0 involve only the
projection parameters and are Python-side literals, like the LCC cone
constants.

Per-row transcendentals, same dual-engine contract as functions/stages.py:

* Q' = exp(-B v / A') by the quartered degree-13 Taylor (|arg| <= ~3.3);
* V' = sin(B u / A') and the cosine twin by the degree-15/14 Taylor
  (regional fixtures keep |B u / A'| <= ~1.5);
* t = (E / sqrt((1+U')/(1-U')))^(1/B): the sqrt-ratio collapses to
  ln t = (ln E - atanh(U')) / B — atanh by the odd degree-15 Taylor after
  THREE pull-out halvings atanh(x) = 2 atanh(x / (1 + sqrt(1 - x^2)))
  (each one sqrt + divide, bringing |x| <= ~0.95 under ~0.2), then exp;
* chi = pi/2 - 2 atan(t) with the reciprocal-fold + two-halving atan and
  the shared conformal-latitude series;
* the longitude atan2 via the same quadrant CASE tree.
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


def om_constants(latc_deg: float, lonc_deg: float, azc_deg: float,
                 k0: float = 1.0):
    """Aposphere constants (Snyder 9-11..9-25, center + azimuth form)."""
    pc = math.radians(latc_deg)
    ac = math.radians(azc_deg)
    sp = math.sin(pc)
    cp = math.cos(pc)
    w = 1.0 - E2 * sp * sp
    Bc = math.sqrt(1.0 + E2 * cp**4 / (1.0 - E2))
    Ap = A * Bc * k0 * math.sqrt(1.0 - E2) / w
    t0 = math.tan(math.pi / 4.0 - pc / 2.0) * (
        (1.0 + _e * sp) / (1.0 - _e * sp)
    ) ** (_e / 2.0)
    D = Bc * math.sqrt(1.0 - E2) / (cp * math.sqrt(w))
    D2 = max(D * D, 1.0)
    F = D + math.copysign(math.sqrt(D2 - 1.0), pc)
    E = F * t0**Bc
    G = (F - 1.0 / F) / 2.0
    gamma0 = math.asin(math.sin(ac) / D)
    lon0 = math.radians(lonc_deg) - math.asin(G * math.tan(gamma0)) / Bc
    return Bc, Ap, E, gamma0, lon0


def om_stages(u: str, v: str, latc_deg: float, lonc_deg: float,
              azc_deg: float, k0: float = 1.0) -> list[tuple[str, str]]:
    """(name, expr) chain computing ``om_lon``/``om_lat`` (degrees) from
    natural-origin (u, v) meters (Snyder 9-42..9-47)."""
    Bc, Ap, E, gamma0, lon0 = om_constants(latc_deg, lonc_deg, azc_deg, k0)
    sg, cg = math.sin(gamma0), math.cos(gamma0)
    lnE = math.log(E)
    return [
        ("_o_vn", f"((0.0 - ({v})) * {dlit(Bc / Ap)})"),
        *sql_exp_poly_quarter("_o_vn", prefix="_o"),
        ("_o_qp", "_o_exp"),
        ("_o_sp", "((_o_qp - 1.0 / _o_qp) / 2.0)"),
        ("_o_tp", "((_o_qp + 1.0 / _o_qp) / 2.0)"),
        ("_o_ua", f"(({u}) * {dlit(Bc / Ap)})"),
        ("_o_vp", sql_sin_poly("_o_ua")),
        ("_o_cu", sql_cos_poly("_o_ua")),
        ("_o_up", f"((_o_vp * {dlit(cg)} + _o_sp * {dlit(sg)}) / _o_tp)"),
        # ln t = (ln E - atanh(U')) / B, atanh after two pull-out halvings
        ("_o_u1", "(_o_up / (1.0 + sqrt(1.0 - _o_up * _o_up)))"),
        ("_o_u2", "(_o_u1 / (1.0 + sqrt(1.0 - _o_u1 * _o_u1)))"),
        ("_o_u3", "(_o_u2 / (1.0 + sqrt(1.0 - _o_u2 * _o_u2)))"),
        ("_o_ath", f"(8.0 * {sql_atanh_poly('_o_u3')})"),
        ("_o_lnt", f"(({dlit(lnE)} - _o_ath) * {dlit(1.0 / Bc)})"),
        *sql_exp_poly_quarter("_o_lnt", prefix="_o_t"),
        ("_o_tt", "_o_t_exp"),
        ("_o_z", "(CASE WHEN _o_tt <= 1.0 THEN _o_tt ELSE 1.0 / _o_tt END)"),
        ("_o_z1", "(_o_z / (1.0 + sqrt(1.0 + _o_z * _o_z)))"),
        ("_o_z2", "(_o_z1 / (1.0 + sqrt(1.0 + _o_z1 * _o_z1)))"),
        ("_o_ab", f"(4.0 * {sql_atan_poly('_o_z2')})"),
        (
            "_o_att",
            f"(CASE WHEN _o_tt <= 1.0 THEN _o_ab"
            f" ELSE {dlit(HALF_PI)} - _o_ab END)",
        ),
        ("_o_chi", f"({dlit(HALF_PI)} - 2.0 * _o_att)"),
        ("_o_schi", sql_sin_poly("_o_chi")),
        ("_o_cchi", sql_cos_poly("_o_chi")),
        ("_o_s2", "(2.0 * _o_schi * _o_cchi)"),
        ("_o_c2", "(1.0 - 2.0 * _o_schi * _o_schi)"),
        ("_o_s4", "(2.0 * _o_s2 * _o_c2)"),
        ("_o_c4", "(1.0 - 2.0 * _o_s2 * _o_s2)"),
        ("_o_s6", "(_o_s4 * _o_c2 + _o_c4 * _o_s2)"),
        ("_o_s8", "(2.0 * _o_s4 * _o_c4)"),
        (
            "om_lat",
            f"((_o_chi + {dlit(CHI_A2)} * _o_s2 + {dlit(CHI_A4)} * _o_s4"
            f" + {dlit(CHI_A6)} * _o_s6 + {dlit(CHI_A8)} * _o_s8)"
            f" * {dlit(RAD2DEG)})",
        ),
        # lon = lon0 - atan2(S' cos g0 - V' sin g0, cos(Bu/A')) / B
        ("_o_ny", f"(_o_sp * {dlit(cg)} - _o_vp * {dlit(sg)})"),
        ("_o_an", "LEAST(abs(_o_ny), abs(_o_cu))"),
        ("_o_ad", "GREATEST(abs(_o_ny), abs(_o_cu))"),
        ("_o_az", "(CASE WHEN _o_ad = 0.0 THEN 0.0 ELSE _o_an / _o_ad END)"),
        ("_o_az1", "(_o_az / (1.0 + sqrt(1.0 + _o_az * _o_az)))"),
        ("_o_az2", "(_o_az1 / (1.0 + sqrt(1.0 + _o_az1 * _o_az1)))"),
        ("_o_bb", f"(4.0 * {sql_atan_poly('_o_az2')})"),
        (
            "_o_ar",
            f"(CASE WHEN abs(_o_ny) <= abs(_o_cu) THEN _o_bb"
            f" ELSE {dlit(HALF_PI)} - _o_bb END)",
        ),
        (
            "_o_th",
            f"(CASE WHEN _o_cu >= 0.0 THEN"
            f" (CASE WHEN _o_ny >= 0.0 THEN _o_ar ELSE 0.0 - _o_ar END)"
            f" ELSE (CASE WHEN _o_ny >= 0.0 THEN {dlit(PI)} - _o_ar"
            f" ELSE _o_ar - {dlit(PI)} END) END)",
        ),
        (
            "om_lon",
            f"(({dlit(lon0)} - _o_th * {dlit(1.0 / Bc)}) * {dlit(RAD2DEG)})",
        ),
    ]


def om_to_geodetic_np(u, v, latc_deg: float, lonc_deg: float,
                      azc_deg: float, k0: float = 1.0):
    """numpy twin (same polynomial + operation order)."""
    Bc, Ap, E, gamma0, lon0 = om_constants(latc_deg, lonc_deg, azc_deg, k0)
    sg, cg = math.sin(gamma0), math.cos(gamma0)
    lnE = math.log(E)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    qp = exp_quarter_np((0.0 - v) * (Bc / Ap))
    spv = (qp - 1.0 / qp) / 2.0
    tpv = (qp + 1.0 / qp) / 2.0
    ua = u * (Bc / Ap)
    vp = sin_np(ua)
    cu = cos_np(ua)
    up = (vp * cg + spv * sg) / tpv
    u1 = up / (1.0 + np.sqrt(1.0 - up * up))
    u2 = u1 / (1.0 + np.sqrt(1.0 - u1 * u1))
    u3 = u2 / (1.0 + np.sqrt(1.0 - u2 * u2))
    ath = 8.0 * atanh_np(u3)
    tt = exp_quarter_np((lnE - ath) * (1.0 / Bc))
    z = np.where(tt <= 1.0, tt, 1.0 / tt)
    z1 = z / (1.0 + np.sqrt(1.0 + z * z))
    z2 = z1 / (1.0 + np.sqrt(1.0 + z1 * z1))
    ab = 4.0 * atan_np(z2)
    att = np.where(tt <= 1.0, ab, HALF_PI - ab)
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
    ny = spv * cg - vp * sg
    an = np.minimum(np.abs(ny), np.abs(cu))
    ad = np.maximum(np.abs(ny), np.abs(cu))
    az = np.where(ad == 0.0, 0.0, an / np.where(ad == 0.0, 1.0, ad))
    az1 = az / (1.0 + np.sqrt(1.0 + az * az))
    az2 = az1 / (1.0 + np.sqrt(1.0 + az1 * az1))
    bb = 4.0 * atan_np(az2)
    ar = np.where(np.abs(ny) <= np.abs(cu), bb, HALF_PI - bb)
    th = np.where(
        cu >= 0.0,
        np.where(ny >= 0.0, ar, -ar),
        np.where(ny >= 0.0, PI - ar, ar - PI),
    )
    lon = (lon0 - th * (1.0 / Bc)) * RAD2DEG
    return lon, lat


def geodetic_to_om_np(lon, lat, latc_deg: float, lonc_deg: float,
                      azc_deg: float, k0: float = 1.0):
    """True-trig forward (test/fixture use only) — Snyder 9-30..9-39."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    Bc, Ap, E, gamma0, lon0 = om_constants(latc_deg, lonc_deg, azc_deg, k0)
    phi = np.deg2rad(lat)
    sp = np.sin(phi)
    t = np.tan(np.pi / 4.0 - phi / 2.0) * (
        (1.0 + _e * sp) / (1.0 - _e * sp)
    ) ** (_e / 2.0)
    Q = E / t**Bc
    S = (Q - 1.0 / Q) / 2.0
    T = (Q + 1.0 / Q) / 2.0
    dl = Bc * (np.deg2rad(lon) - lon0)
    V = np.sin(dl)
    U = (-V * np.cos(gamma0) + S * np.sin(gamma0)) / T
    v = Ap * np.log((1.0 - U) / (1.0 + U)) / (2.0 * Bc)
    u = Ap / Bc * np.arctan2(
        S * np.cos(gamma0) + V * np.sin(gamma0), np.cos(dl)
    )
    return u, v
