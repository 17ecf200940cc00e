"""Geodesy kernels with GAIT's exact measurement semantics.

The reference measures distances/areas in a **local equirectangular frame**:
meters-per-degree-longitude = ``WGS84degreeLength * cos(avg_latitude)`` with
``WGS84degreeLength = 111319.5`` (reference: GAIT_API.h:31, TT.c:4252-4264,
7169-7180).  It is explicitly *not* haversine; row-identical outputs require this
formula.  Magnitudes are truncated to 3 significant decimals before compare /
report (TT.c:709 ``SignificantDecimals``, utilities.c:97 ``TruncateToNdigits``).

Two families live here:

1. **numpy kernels** (``*_np``) — used inside pandas/Arrow UDF check kernels.
   These use true ``np.cos`` (GAIT parity path).
2. **SQL-text builders** (``sql_*``) — emit arithmetic-only SQL fragments that are
   valid in BOTH Spark SQL and DuckDB.  Used for the oracle-compared queries, so
   both engines evaluate the *same* expression tree and produce bit-identical
   doubles.  ``cos`` is replaced by an 8th-order Taylor polynomial
   (|error| < 2e-6 for |lat| <= 66 deg) because libm `cos` is not guaranteed
   bit-identical across the JVM and DuckDB's C runtime; the polynomial is pure
   multiply/add, hence deterministic everywhere.  The engine treats this
   polynomial as *its* definition of the local scale factor for oracle-gated
   operators; GAIT-parity kernels keep true cos.
"""

from __future__ import annotations

import numpy as np

WGS84_DEGREE_LENGTH_M = 111319.5  # GAIT_API.h:31
MY_2D_SENTINEL_Z = 1.3070057  # GAIT_API.h:32 — z value meaning "2-D feature"
DEG2RAD = 0.017453292519943295


# ---------------------------------------------------------------------------
# numpy kernels (GAIT-parity path, used inside Arrow-batched UDFs)
# ---------------------------------------------------------------------------

def meters_per_degree_np(avg_lat_deg: np.ndarray) -> tuple[np.ndarray, float]:
    """(m per deg lon, m per deg lat) in GAIT's local frame. TT.c:4252-4264."""
    return WGS84_DEGREE_LENGTH_M * np.cos(avg_lat_deg * DEG2RAD), WGS84_DEGREE_LENGTH_M


def equirect_dist_m_np(x1, y1, x2, y2) -> np.ndarray:
    """GAIT planar distance between lon/lat pairs (degrees) in meters."""
    mlon, mlat = meters_per_degree_np((np.asarray(y1) + np.asarray(y2)) * 0.5)
    dx = (np.asarray(x2) - np.asarray(x1)) * mlon
    dy = (np.asarray(y2) - np.asarray(y1)) * mlat
    return np.sqrt(dx * dx + dy * dy)


def polygon_area_m2_np(xs: np.ndarray, ys: np.ndarray) -> float:
    """Ring area by shoelace in GAIT's local frame (CalculateGeodeticCoordArea,
    TT.c:4200 triangulates; shoelace is the same sum re-associated)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    avg_lat = ys.mean()
    mlon, mlat = meters_per_degree_np(np.array([avg_lat]))
    x = xs * float(mlon[0])
    y = ys * mlat
    return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) * 0.5)


def truncate3_np(v: np.ndarray) -> np.ndarray:
    """Truncate (toward zero) to 3 decimals — TruncateToNdigits, utilities.c:97."""
    return np.trunc(np.asarray(v, dtype=np.float64) * 1000.0) / 1000.0


def is_sentinel_z_np(z: np.ndarray) -> np.ndarray:
    """IsSentinelZvalue, TT.c:1589 — exact-compare against the 2-D sentinel."""
    return np.asarray(z) == MY_2D_SENTINEL_Z


def coslat_poly_np(lat_deg: np.ndarray) -> np.ndarray:
    """Bit-identical numpy twin of :func:`sql_coslat_poly` (same Horner order).

    Oracle-gated kernels use THIS instead of np.cos so that a distance computed
    in a pandas UDF equals the one computed by the SQL oracle to the last bit.
    """
    r = np.asarray(lat_deg, dtype=np.float64) * 0.017453292519943295
    r2 = r * r
    return 1.0 + r2 * (
        -0.5
        + r2
        * (
            0.041666666666666664
            + r2 * (-0.001388888888888889 + r2 * 0.0000248015873015873)
        )
    )


def equirect_dist_m_poly_np(x1, y1, x2, y2) -> np.ndarray:
    """Bit-identical numpy twin of :func:`sql_dist_m` (poly-cos local frame)."""
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    x2 = np.asarray(x2, dtype=np.float64)
    y2 = np.asarray(y2, dtype=np.float64)
    avg_lat = (y1 + y2) * 0.5
    mlon = 111319.5 * coslat_poly_np(avg_lat)
    dx = (x2 - x1) * mlon
    dy = (y2 - y1) * 111319.5
    return np.sqrt(dx * dx + dy * dy)


# ---------------------------------------------------------------------------
# SQL-text builders (dual-engine deterministic: Spark SQL == DuckDB SQL)
# ---------------------------------------------------------------------------

def sql_coslat_poly(lat_expr: str) -> str:
    """Taylor cos(lat_deg * pi/180) to x^8, pure multiply/add (Horner form)."""
    r = f"(({lat_expr}) * 0.017453292519943295)"
    r2 = f"({r} * {r})"
    # Horner: 1 - r2/2 + r2^2/24 - r2^3/720 + r2^4/40320
    return (
        f"(1.0 + {r2} * (-0.5 + {r2} * (0.041666666666666664 + {r2} * "
        f"(-0.001388888888888889 + {r2} * 0.0000248015873015873))))"
    )


def sql_dist_m(x1: str, y1: str, x2: str, y2: str) -> str:
    """Equirectangular distance in meters; arithmetic identical in both engines."""
    avg_lat = f"((({y1}) + ({y2})) * 0.5)"
    mlon = f"(111319.5 * {sql_coslat_poly(avg_lat)})"
    dx = f"((({x2}) - ({x1})) * {mlon})"
    dy = f"((({y2}) - ({y1})) * 111319.5)"
    return f"sqrt({dx} * {dx} + {dy} * {dy})"


def sql_trunc3_mm(expr: str) -> str:
    """floor(x*1000) as BIGINT — magnitude in integer millimeters (or milli-units),
    the cross-engine-stable form of GAIT's 3-decimal truncation for positives."""
    return f"CAST(floor(({expr}) * 1000.0) AS BIGINT)"


def sql_point_seg_dist_m(px: str, py: str, ax: str, ay: str, bx: str, by: str) -> str:
    """Point-to-segment distance in GAIT's local frame (SegmentToSmallArealDist2D
    family, geomchecks.c:243).  Projects in meter space at the segment's mean
    latitude; clamps the parameter t to [0,1] via CASE (identical both engines)."""
    avg_lat = f"((({ay}) + ({by})) * 0.5)"
    mlon = f"(111319.5 * {sql_coslat_poly(avg_lat)})"
    axm = f"((({ax})) * {mlon})"
    bxm = f"((({bx})) * {mlon})"
    pxm = f"((({px})) * {mlon})"
    aym = f"((({ay})) * 111319.5)"
    bym = f"((({by})) * 111319.5)"
    pym = f"((({py})) * 111319.5)"
    vx = f"({bxm} - {axm})"
    vy = f"({bym} - {aym})"
    wx = f"({pxm} - {axm})"
    wy = f"({pym} - {aym})"
    c1 = f"({vx} * {wx} + {vy} * {wy})"
    c2 = f"({vx} * {vx} + {vy} * {vy})"
    t = f"(CASE WHEN {c1} <= 0.0 THEN 0.0 WHEN {c1} >= {c2} THEN 1.0 ELSE {c1} / {c2} END)"
    dx = f"({wx} - {t} * {vx})"
    dy = f"({wy} - {t} * {vy})"
    return f"sqrt({dx} * {dx} + {dy} * {dy})"


def with_point_seg_dist_m(
    df,
    px: str,
    py: str,
    ax: str,
    ay: str,
    bx: str,
    by: str,
    out: str = "_d",
    block_pushdown: bool = False,
):
    """Staged-column twin of :func:`sql_point_seg_dist_m` for the ENGINE side.

    The flat SQL text expands every intermediate inline — ``t`` repeats ``c1``
    three times, ``c1`` repeats the Taylor ``mlon`` eight times — so the full
    fragment is ~49 KB and a Project evaluating it on millions of candidate
    pairs blows the JVM's 64 KB method limit (janino InternalCompilerException
    → whole-stage falls back to INTERPRETED eval; measured 31 s vs 4 s on the
    sf0.1 coverage fixture).  Here each intermediate is its own projected
    column; Catalyst's CollapseProject keeps multiply-referenced non-cheap
    aliases as separate projections, so every codegen method stays small.

    Bit-identical to the SQL text: the same IEEE-754 operations in the same
    order (avg_lat -> poly-cos mlon -> meter coords -> v/w -> c1/c2 -> CASE t
    -> residual -> sqrt), so ``<`` tolerance comparisons agree with the DuckDB
    oracle to the last bit.

    Returns df with ONE added column ``out``; all ``_psd_*`` scratch columns
    are dropped.

    block_pushdown: when the result feeds a Filter directly above a join,
    PushPredicateThroughJoin re-inlines every staged alias into the join
    CONDITION — a single ~110 KB expression that fails codegen and is then
    evaluated interpreted per cell-pair.  Setting this adds ``+ rand(7)*0.0``
    to the OUTPUT column: numerically the identity (distances are >= 0, and
    x + 0.0 is bit-identical for every non-negative x), but it marks the
    column non-deterministic, so Catalyst keeps the tolerance filter as a
    post-join staged Filter (which compiles) instead of inlining it.
    """
    from pyspark.sql import functions as F

    poly = sql_coslat_poly("_psd_avglat")
    scratch = [
        ("_psd_avglat", f"((({ay}) + ({by})) * 0.5)"),
        ("_psd_mlon", f"(111319.5 * {poly})"),
        ("_psd_vx", f"(((({bx})) * _psd_mlon) - ((({ax})) * _psd_mlon))"),
        ("_psd_vy", f"(((({by})) * 111319.5) - ((({ay})) * 111319.5))"),
        ("_psd_wx", f"(((({px})) * _psd_mlon) - ((({ax})) * _psd_mlon))"),
        ("_psd_wy", f"(((({py})) * 111319.5) - ((({ay})) * 111319.5))"),
        ("_psd_c1", "(_psd_vx * _psd_wx + _psd_vy * _psd_wy)"),
        ("_psd_c2", "(_psd_vx * _psd_vx + _psd_vy * _psd_vy)"),
        (
            "_psd_t",
            "(CASE WHEN _psd_c1 <= 0.0 THEN 0.0 WHEN _psd_c1 >= _psd_c2"
            " THEN 1.0 ELSE _psd_c1 / _psd_c2 END)",
        ),
        ("_psd_dx", "(_psd_wx - _psd_t * _psd_vx)"),
        ("_psd_dy", "(_psd_wy - _psd_t * _psd_vy)"),
    ]
    for name, expr in scratch:
        df = df.withColumn(name, F.expr(expr))
    taint = " + rand(7) * 0.0" if block_pushdown else ""
    df = df.withColumn(
        out, F.expr(f"sqrt(_psd_dx * _psd_dx + _psd_dy * _psd_dy){taint}")
    )
    return df.drop(*[n for n, _ in scratch])


def sql_euclidean_dist(x1: str, y1: str, x2: str, y2: str) -> str:
    """Planar distance for PROJECTED-meter coordinates — the reference's
    Distance() dispatch when the coordinate system is not geodetic
    (EuclideanDistance TT.c:7128; Ctype() SEEIT_API.c:122).  Same += order
    as the C: dx2 first, then + dy2."""
    dx = f"((({x1}) - ({x2})))"
    dy = f"((({y1}) - ({y2})))"
    return f"sqrt({dx} * {dx} + {dy} * {dy})"
