"""Mercator -> geodetic ingest transform (reference coordinate system 13,
"M (Augmented Mercator)" TTformat.c:28441).

Standard ellipsoidal Mercator inverse (Snyder 1987 eqs. 7-10/7-13: t from
the exponential of the normalized northing, chi = pi/2 - 2 atan(t), then
the conformal-latitude series eq. 3-5 shared with the polar stereographic
kernel).  Same dual-engine contract as functions/stages.py: every
transcendental becomes a bounded-domain polynomial so the identical
expression tree evaluates bit-for-bit on Spark and DuckDB:

* exp(x) for |x| <= ~3.3 (|lat| <= ~86): argument quartering
  exp(x) = (exp(x/4))^4 brings |x/4| <= 0.83, then a degree-13 Taylor
  (truncation < 1e-12 relative);
* atan(t) for t in (0, inf): fold t > 1 through
  atan(t) = pi/2 - atan(1/t), then two halvings and the degree-15 odd
  Taylor from functions/stages.py;
* the conformal-latitude sin multiples via the exact double-angle
  recurrences.
"""

from __future__ import annotations

import numpy as np

from .polar_stereo import CHI_A2, CHI_A4, CHI_A6, CHI_A8, HALF_PI, _e
from .stages import (
    atan_np,
    cos_np,
    dlit,
    exp_quarter_np,
    sin_np,
    sql_atan_poly,
    sql_cos_poly,
    sql_exp_poly_quarter,
    sql_sin_poly,
)
from .utm import A, RAD2DEG


def mercator_stages(easting: str, northing: str, lon0_deg: float = 0.0,
                    k0: float = 1.0, false_easting: float = 0.0,
                    false_northing: float = 0.0) -> list[tuple[str, str]]:
    """(name, expr) chain computing ``merc_lon``/``merc_lat`` (degrees)."""
    ak = A * k0
    x = (f"(({easting}) - {dlit(false_easting)})" if false_easting
         else f"({easting})")
    y = (f"(({northing}) - {dlit(false_northing)})" if false_northing
         else f"({northing})")
    return [
        ("_m_x", x),
        ("_m_y", y),
        *sql_exp_poly_quarter(f"((0.0 - _m_y) / {dlit(ak)})"),
        ("_m_t", "_m_exp"),
        # atan(t), t in (0, inf): fold through the reciprocal, two halvings
        ("_m_z", "(CASE WHEN _m_t <= 1.0 THEN _m_t ELSE 1.0 / _m_t END)"),
        ("_m_z1", "(_m_z / (1.0 + sqrt(1.0 + _m_z * _m_z)))"),
        ("_m_z2", "(_m_z1 / (1.0 + sqrt(1.0 + _m_z1 * _m_z1)))"),
        ("_m_base", f"(4.0 * {sql_atan_poly('_m_z2')})"),
        (
            "_m_att",
            f"(CASE WHEN _m_t <= 1.0 THEN _m_base"
            f" ELSE {dlit(HALF_PI)} - _m_base END)",
        ),
        ("_m_chi", f"({dlit(HALF_PI)} - 2.0 * _m_att)"),
        ("_m_schi", sql_sin_poly("_m_chi")),
        ("_m_cchi", sql_cos_poly("_m_chi")),
        ("_m_s2", "(2.0 * _m_schi * _m_cchi)"),
        ("_m_c2", "(1.0 - 2.0 * _m_schi * _m_schi)"),
        ("_m_s4", "(2.0 * _m_s2 * _m_c2)"),
        ("_m_c4", "(1.0 - 2.0 * _m_s2 * _m_s2)"),
        ("_m_s6", "(_m_s4 * _m_c2 + _m_c4 * _m_s2)"),
        ("_m_s8", "(2.0 * _m_s4 * _m_c4)"),
        (
            "merc_lat",
            f"((_m_chi + {dlit(CHI_A2)} * _m_s2 + {dlit(CHI_A4)} * _m_s4"
            f" + {dlit(CHI_A6)} * _m_s6 + {dlit(CHI_A8)} * _m_s8)"
            f" * {dlit(RAD2DEG)})",
        ),
        (
            "merc_lon",
            f"({dlit(lon0_deg)} + (_m_x / {dlit(ak)}) * {dlit(RAD2DEG)})",
        ),
    ]


def mercator_to_geodetic_np(easting, northing, lon0_deg: float = 0.0,
                            k0: float = 1.0, false_easting: float = 0.0,
                            false_northing: float = 0.0):
    """numpy twin (same polynomial + operation order)."""
    ak = A * k0
    x = np.asarray(easting, dtype=np.float64) - false_easting
    y = np.asarray(northing, dtype=np.float64) - false_northing
    t = exp_quarter_np((0.0 - y) / ak)
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
    phi = chi + CHI_A2 * s2 + CHI_A4 * s4 + CHI_A6 * s6 + CHI_A8 * s8
    lat = phi * RAD2DEG
    lon = lon0_deg + (x / ak) * RAD2DEG
    return lon, lat


def geodetic_to_mercator_np(lon, lat, lon0_deg: float = 0.0, k0: float = 1.0,
                            false_easting: float = 0.0,
                            false_northing: float = 0.0):
    """True-trig forward (test/fixture use only) — Snyder eqs. 7-7/7-8."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    phi = np.deg2rad(lat)
    sp = np.sin(phi)
    t = np.tan(np.pi / 4.0 - phi / 2.0) * (
        (1.0 + _e * sp) / (1.0 - _e * sp)
    ) ** (_e / 2.0)
    x = A * k0 * np.deg2rad(lon - lon0_deg) + false_easting
    y = -A * k0 * np.log(t) + false_northing
    return x, y
