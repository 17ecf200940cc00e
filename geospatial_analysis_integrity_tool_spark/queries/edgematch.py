"""Boundary edge matching (SURVEY.md §2.3 boundary row): one operator, a
self-join on the along-boundary coordinate across adjacent bands
(``operators.pip.band_join``), and its ten gated parameterisations.

Reference semantics (PerformEdgeMatchChecks geomchecks.c:2958; attribute
matching PerformAttrEdgeMatchChecks geomchecks.c:1064; range-limited
PerformRangeLimitedEdgeMatchChecks geomchecks.c:31304; at-area variants
geomchecks.c:1852/2706/3022; one-line meanings errors.c:11285-11400):

* **Unmatched ends** — one check, :func:`unmatched_ends` (Spark) and
  :func:`_oracle_unmatched` (DuckDB), over a *branch*: rows
  ``(fid, x, y, mx, my, u, mu)`` of an end or vertex (x, y), its
  across-boundary counterpart (mx, my) (NULL = absent), and u / mu, the
  along-boundary coordinate that is banded and windowed.

  - ``geo_edge_match_unmatched`` — LGEOM_UNM_LON 168: west line ends at the
    12E meridian with no counterpart within 1 m.
  - ``geo_edge_match_range`` — LRNGE_UNM_LON 164 at 1 m, restricted to the
    along-boundary window [41, 43) (FindSpecificSensitivity(3,...) is the
    LatLonIncrement at geomchecks.c:31408); ends outside it are exempt.
  - ``geo_geom_unm`` — LGEOM_UNM_LAT 167 (the exact transpose at a LATITUDE
    grid line), AGEOM_UNM_LON 169 / AGEOM_UNM_LAT 170 (areal perimeter
    vertices), at 2.5 m.
  - ``geo_rnge_unm`` — LRNGE_UNM_LON 164 / LRNGE_UNM_LAT 163 /
    ARNGE_UNM_LON 166 / ARNGE_UNM_LAT 165 in the [41, 43) window, at 2.5 m.

* ``geo_edge_match_attr`` — ends that DO match geometrically across the
  meridian but disagree on their feature code (LE_A_UNM/_ATTR_A family).
* ``geo_le_a_unm`` — LE_A_UNM_LON 182: a line END within sensitivity3 of a
  whole-degree meridian that no AREAL feature picks up on the other side
  (geomchecks.c:32244-32555).  A vertex on the OPPOSITE side of the meridian
  (majority-vertex direction test, geomchecks.c:32337-32396) is an
  unconditional match; a vertex on the SAME side only matches when that area
  extends strictly closer to the meridian than the line end does (the
  ``fabs(rac->x - LatLonBase)`` comparison at geomchecks.c:32410-32420).
* ``geo_lunm_acrs_a`` — LUNM_ACRS_A 177: a line ENDPOINT within sensitivity2
  of an areal boundary with no other line continuing on the far side of that
  boundary (geomchecks.c:3176-3338): nearest areal boundary edge
  (PointToSmall/LargeArealDist2D), then another line with a vertex within
  sensitivity of the endpoint whose adjacent vertex sits on the OPPOSITE side
  of that edge from the ending line's penultimate vertex
  (TwoPointsOnSameSideOfLine, geomchecks.c:3245-3265).
* ``geo_l_unm_a`` — L_UNM_A 175: a line end node that no OTHER line's node
  matches inside the tolerancepad box, yet lies within Tolerance2 of an
  areal boundary edge (PointToSmallArealDist2D path, geomchecks.c:3074-3090);
  LSAME_UNM_A 176: a different-code node match does NOT excuse the end.
* ``geo_unm_attr_a`` — LUNM_ATTR_A 180 / AUNM_ATTR_A 179: the geometric match
  exists but the feature-code pairing is not allowed.
* ``geo_aunm_acrs_a`` — AUNM_ACRS_A 178: a matched vertex pair whose
  connector crosses the bounding areal's perimeter.

Fixtures derive in-query from ``geo_edges`` (west ends at the 12E meridian,
east counterparts across it; every 3rd absent, every 5th displaced), from
``AVERTS_SQL`` (areal perimeter vertices at the meridian, absences %4 /
displacements %7; inlined as a subquery, so no query body registers a view)
and from ``geo_areas`` bottom edges.  All arithmetic is integer-modulo ->
exact-literal division so Spark and DuckDB agree bitwise.  The engine runs
the band join with the JVM equirect distance, the corridor point->segment
cell join (operators/proximity.py) for the at-area checks and a broadcast
allowed-pairs table; the oracles reproduce each predicate with BETWEEN
prefilters over the same derived relations, except the point->segment
candidates (LUNM_ACRS_A and the end->bottom-edge check of L_UNM_A and
LUNM_ATTR_A), which render the engine's cell join through the DuckDB cell
renderers of operators/pip.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geodesy import sql_dist_m, sql_point_seg_dist_m
from ..operators.pip import (
    band_join,
    oracle_kring_cells,
    oracle_seg_cells,
    with_kring_cells,
    with_point_cell,
)
from ..operators.proximity import point_to_segment_proximity
from ..sources.synthetic import oracle_cte

MATCH_TOL_M = 1.0     # LGEOM/LRNGE_UNM_LON and attribute match tolerance
BANDED_TOL_M = 2.5    # tolerance of the geo_geom_unm / geo_rnge_unm branches
RANGE = (41.0, 43.0)  # LRNGE/ARNGE along-boundary window [lo, hi)

# --- unmatched ends: branches -------------------------------------------------
# Areal perimeter vertices at the 12E meridian: west vertex (px, py); east
# counterpart absent for every 4th id, displaced 0.00052 deg (~58 m, out of
# tolerance) for every 7th.
AVERTS_SQL = """
SELECT
  eid AS aid,
  12.0 - CAST(1 + eid % 11 AS DOUBLE) / 1000000.0 AS px,
  ya AS py,
  CASE WHEN eid % 4 = 0 THEN NULL
       ELSE 12.0 + CAST(1 + eid % 6 AS DOUBLE) / 1000000.0 END AS qx,
  CASE WHEN eid % 4 = 0 THEN NULL
       WHEN eid % 7 = 0 THEN ya + 0.00052
       ELSE ya + CAST(eid % 5 AS DOUBLE) / 1000000.0 END AS qy
FROM geo_edges
"""

# The _LAT branches are exact transposes: the boundary becomes the lat-12
# parallel, so lon/lat swap roles but distances stay in the true frame.
_EDGES_LON = (
    "SELECT eid AS fid, xa AS x, ya AS y, xb AS mx, yb AS my,"
    " ya AS u, yb AS mu FROM geo_edges"
)
_EDGES_LAT = (
    "SELECT eid AS fid, ya AS x, xa AS y, yb AS mx, xb AS my,"
    " ya AS u, yb AS mu FROM geo_edges"
)
_AVERTS_LON = (
    "SELECT aid AS fid, px AS x, py AS y, qx AS mx, qy AS my,"
    f" py AS u, qy AS mu FROM ({AVERTS_SQL}) averts"
)
_AVERTS_LAT = (
    "SELECT aid AS fid, py AS x, px AS y, qy AS mx, qx AS my,"
    f" py AS u, qy AS mu FROM ({AVERTS_SQL}) averts"
)

_GEOM_BRANCHES = {
    "LGEOM_UNM_LAT": _EDGES_LAT,
    "AGEOM_UNM_LON": _AVERTS_LON,
    "AGEOM_UNM_LAT": _AVERTS_LAT,
}
_RANGE_BRANCHES = {
    "LRNGE_UNM_LON": _EDGES_LON,
    "LRNGE_UNM_LAT": _EDGES_LAT,
    "ARNGE_UNM_LON": _AVERTS_LON,
    "ARNGE_UNM_LAT": _AVERTS_LAT,
}


def unmatched_ends(
    spark: SparkSession,
    branch_sql: str,
    tol_m: float,
    window: tuple[float, float] | None = None,
) -> DataFrame:
    """(fid, band_key): ends of one branch, inside ``window`` when given,
    with no counterpart within ``tol_m`` (band join on u / mu)."""
    base = spark.sql(branch_sql)
    ends = base.select("fid", "x", "y", "u")
    if window is not None:
        ends = ends.filter((F.col("u") >= window[0]) & (F.col("u") < window[1]))
    cps = base.filter(F.col("mx").isNotNull()).select(
        F.col("mx").alias("cx"), F.col("my").alias("cy"), "mu"
    )
    d = F.expr(sql_dist_m("x", "y", "cx", "cy"))
    matched = band_join(ends, cps, "u", "mu").filter(d < tol_m).select("fid").distinct()
    return ends.join(matched, "fid", "left_anti").select(
        "fid", F.expr("CAST(floor(u * 10000.0) AS BIGINT)").alias("band_key")
    )


def _oracle_unmatched(
    branch_sql: str,
    tol_m: float,
    head: str,
    window: tuple[float, float] | None = None,
) -> str:
    """DuckDB twin of :func:`unmatched_ends`: ``head`` (over alias ``a``)
    then ``band_key``."""
    d = sql_dist_m("a.x", "a.y", "b.mx", "b.my")
    win = (
        f"AND a.u >= {window[0]} AND a.u < {window[1]}" if window is not None else ""
    )
    return f"""
SELECT {head},
       CAST(floor(a.u * 10000.0) AS BIGINT) AS band_key
FROM ({branch_sql}) a
WHERE 1 = 1 {win}
  AND NOT EXISTS (
    SELECT 1 FROM ({branch_sql}) b
    WHERE b.mx IS NOT NULL
      AND b.mu BETWEEN a.u - 0.001 AND a.u + 0.001
      AND {d} < {tol_m}
)"""


def _unmatched_by_errtype(
    spark: SparkSession, branches: dict[str, str], window: tuple[float, float] | None
) -> DataFrame:
    parts = [
        unmatched_ends(spark, sql, BANDED_TOL_M, window).select(
            "fid", F.lit(errtype).alias("errtype"), "band_key"
        )
        for errtype, sql in branches.items()
    ]
    return reduce(DataFrame.unionByName, parts)


def _oracle_by_errtype(
    branches: dict[str, str], window: tuple[float, float] | None
) -> str:
    return f"{oracle_cte('geo_edges')}\n" + "\nUNION ALL\n".join(
        _oracle_unmatched(sql, BANDED_TOL_M, f"a.fid, '{errtype}' AS errtype", window)
        for errtype, sql in branches.items()
    )


def q_edge_match_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unmatched_ends(spark, _EDGES_LON, MATCH_TOL_M).withColumnRenamed(
        "fid", "eid"
    )


def q_edge_match_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unmatched_ends(spark, _EDGES_LON, MATCH_TOL_M, RANGE).withColumnRenamed(
        "fid", "eid"
    )


def q_geom_unm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unmatched_by_errtype(spark, _GEOM_BRANCHES, None)


def q_rnge_unm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unmatched_by_errtype(spark, _RANGE_BRANCHES, RANGE)


ORACLE_EDGE_MATCH = oracle_cte("geo_edges") + _oracle_unmatched(
    _EDGES_LON, MATCH_TOL_M, "a.fid AS eid"
)
ORACLE_EDGE_MATCH_RANGE = oracle_cte("geo_edges") + _oracle_unmatched(
    _EDGES_LON, MATCH_TOL_M, "a.fid AS eid", RANGE
)
ORACLE_GEOM_UNM = _oracle_by_errtype(_GEOM_BRANCHES, None)
ORACLE_RNGE_UNM = _oracle_by_errtype(_RANGE_BRANCHES, RANGE)


# --- geo_edge_match_attr ------------------------------------------------------
# west-side feature code (by edge id)
_FC_W = (
    "CASE CAST(eid % 4 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030'"
    " WHEN 2 THEN 'BH140' ELSE 'AN010' END"
)
# east-side code: same vocabulary, rotated for every 11th edge (planted
# attribute disagreement on an otherwise-perfect geometric match)
_FC_E = (
    "CASE WHEN eid % 11 = 0 THEN"
    " CASE CAST(eid % 4 AS INT) WHEN 0 THEN 'AT030' WHEN 1 THEN 'BH140'"
    " WHEN 2 THEN 'AN010' ELSE 'AP030' END"
    " ELSE "
    "CASE CAST(eid % 4 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030'"
    " WHEN 2 THEN 'BH140' ELSE 'AN010' END END"
)


def q_edge_match_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = spark.table("geo_edges")
    west = edges.selectExpr("eid", "xa AS px", "ya AS py", f"{_FC_W} AS fcode_w")
    east = edges.filter(F.col("xb").isNotNull()).selectExpr(
        "eid AS eid_b", "xb AS qx", "yb AS qy", f"{_FC_E} AS fcode_e"
    )
    d = F.expr(sql_dist_m("px", "py", "qx", "qy"))
    return (
        band_join(west, east, "py", "qy")
        .filter((d < MATCH_TOL_M) & (F.col("fcode_w") != F.col("fcode_e")))
        .select("eid", "eid_b", "fcode_w", "fcode_e")
        .dropDuplicates(["eid", "eid_b"])
    )


_EM_D = sql_dist_m("a.xa", "a.ya", "b.xb", "b.yb")

ORACLE_EDGE_MATCH_ATTR = f"""
{oracle_cte('geo_edges')},
west AS (SELECT eid, xa, ya, {_FC_W} AS fcode_w FROM geo_edges),
east AS (SELECT eid AS eid_b, xb, yb, {_FC_E} AS fcode_e
         FROM geo_edges WHERE xb IS NOT NULL)
SELECT DISTINCT a.eid, b.eid_b, a.fcode_w, b.fcode_e
FROM (SELECT eid, xa, ya, fcode_w FROM west) a
JOIN (SELECT eid_b, xb, yb, fcode_e FROM east) b
  ON b.yb BETWEEN a.ya - 0.001 AND a.ya + 0.001
WHERE {_EM_D} < {MATCH_TOL_M} AND a.fcode_w <> b.fcode_e
"""


# --- geo_le_a_unm (LE_A_UNM_LON 182) ------------------------------------------
LE_TOL_M = 1.0        # LowerTolerance: end-to-area-vertex match distance
MERIDIAN = 12.0       # the LatLonBase grid line the geo_edges fixture straddles

# Line ends: every geo_edges west end (xa = 12 - (1+eid%9) udeg) is within
# sensitivity3 of the 12E meridian; the line's majority-vertex direction is
# west (all fixture vertices west of 12E).
_LE_ENDS = "SELECT eid, xa AS px, ya AS py FROM geo_edges"

# Opposite-side (east) areal vertices: the geo_edges counterpart start, where
# present.  Every 3rd is absent, every 5th displaced 0.00045 deg (~50 m) out
# of tolerance — the unmatched plant.
_LE_EAST = (
    "SELECT eid AS aid_e, xb AS qx, yb AS qy FROM geo_edges WHERE xb IS NOT NULL"
)

# Same-side (west) areal vertices, planted for every 7th edge: the nearest
# vertex sits ~0.4 m from the line end; the area's meridian-ward extent
# (second vertex x) reaches closer to 12E than the line end only for every
# 14th edge — only those rescue the end per geomchecks.c:32410-32420.
_LE_WEST = """
SELECT
  eid AS aid_w,
  xa - 0.000002 AS wx,
  ya + 0.000003 AS wy,
  CASE WHEN eid % 14 = 0 THEN 12.0 - 0.0000005 ELSE 12.0 - 0.002 END AS w2x
FROM geo_edges WHERE eid % 7 = 0
"""


def q_le_a_unm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ends = spark.sql(_LE_ENDS)
    d_e = F.expr(sql_dist_m("px", "py", "qx", "qy"))
    matched_east = (
        band_join(ends, spark.sql(_LE_EAST), "py", "qy")
        .filter(d_e < LE_TOL_M)
        .select("eid")
        .distinct()
    )
    d_w = F.expr(sql_dist_m("px", "py", "wx", "wy"))
    matched_west = (
        band_join(ends, spark.sql(_LE_WEST), "py", "wy")
        .filter(d_w < LE_TOL_M)
        # same-side areas only rescue when they extend strictly closer to the
        # grid line than the line end (degree-space |x - base| comparison).
        .filter(F.expr(f"abs(w2x - {MERIDIAN}) < abs(px - {MERIDIAN})"))
        .select("eid")
        .distinct()
    )
    return (
        ends.join(matched_east, "eid", "left_anti")
        .join(matched_west, "eid", "left_anti")
        .select(
            "eid",
            F.expr("CAST(floor(py * 1000000.0) AS BIGINT)").alias("end_y_udeg"),
            F.lit("LE_A_UNM_LON").alias("errtype"),
        )
    )


_LE_D_E = sql_dist_m("a.px", "a.py", "b.qx", "b.qy")
_LE_D_W = sql_dist_m("a.px", "a.py", "w.wx", "w.wy")

ORACLE_LE_A_UNM = f"""
{oracle_cte('geo_edges')},
ends AS ({_LE_ENDS}),
east AS ({_LE_EAST}),
west AS ({_LE_WEST})
SELECT a.eid, CAST(floor(a.py * 1000000.0) AS BIGINT) AS end_y_udeg,
       'LE_A_UNM_LON' AS errtype
FROM ends a
WHERE NOT EXISTS (
    SELECT 1 FROM east b
    WHERE b.qy BETWEEN a.py - 0.0001 AND a.py + 0.0001
      AND {_LE_D_E} < {LE_TOL_M}
) AND NOT EXISTS (
    SELECT 1 FROM west w
    WHERE w.wy BETWEEN a.py - 0.0001 AND a.py + 0.0001
      AND {_LE_D_W} < {LE_TOL_M}
      AND abs(w.w2x - {MERIDIAN}) < abs(a.px - {MERIDIAN})
)
"""


# --- geo_lunm_acrs_a (LUNM_ACRS_A 177) ----------------------------------------
LA_TOL2_M = 1.0       # sensitivity2: endpoint-to-areal-boundary distance
LA_TOL1_M = 1.0       # sensitivity:  endpoint-to-other-line-vertex distance
_LA_CELL = 0.0005     # corridor/k-ring cell width (>= tolerances in degrees)

# Ending lines, one per geo_areas triangle: endpoint P just below the midpoint
# of the bottom edge (y1 row, x1..x1+w), penultimate vertex Q well below.
# x3 = x1 + w/2 exactly (GEO_AREAS_SQL), so P rides the bottom-edge midpoint.
_LA_ENDS = """
SELECT
  area_id AS end_id,
  x3 AS px, y1 - 0.000004 AS py,
  x3 AS qx, y1 - 0.0003   AS qy
FROM geo_areas
"""

# Candidate continuations (other lines): a vertex R within sensitivity of P
# for every even area; its adjacent vertex R2 is across the bottom edge
# (above, inside) unless area_id % 10 = 0, where the "continuation" stays on
# the SAME side — a planted false continuation the side test must reject.
_LA_CONTS = """
SELECT
  area_id + 100000000 AS cont_id,
  x3 + 0.000001 AS rx,
  CASE WHEN area_id % 10 = 0 THEN y1 - 0.000009 ELSE y1 + 0.000003 END AS ry,
  x3 + 0.000001 AS r2x,
  CASE WHEN area_id % 10 = 0 THEN y1 - 0.0003   ELSE y1 + 0.0003   END AS r2y
FROM geo_areas WHERE area_id % 2 = 0
"""

# All three boundary edges of every triangle (RawAreal perimeter walk).
_LA_EDGES = """
SELECT area_id, 0 AS eidx, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_areas
UNION ALL
SELECT area_id, 1 AS eidx, x2 AS ax, y2 AS ay, x3 AS bx, y3 AS by FROM geo_areas
UNION ALL
SELECT area_id, 2 AS eidx, x3 AS ax, y3 AS ay, x1 AS bx, y1 AS by FROM geo_areas
"""


# sign of cross((b-a), (p-a)): which side of the (infinite) boundary edge a
# point is on — TwoPointsOnSameSideOfLine's core (raw-degree arithmetic,
# identical both engines).
def _side(px: str, py: str) -> str:
    return (
        f"sign((bx - ax) * (({py}) - ay) - (by - ay) * (({px}) - ax))"
    )


def q_lunm_acrs_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint the derived fixture relations: the corridor join below
    # duplicates its inputs' expression trees several times, and the inlined
    # modular-arithmetic fixtures push generated code past janino's 64 KB
    # method limit (interpreted fallback).  Truncating lineage keeps every
    # downstream stage in whole-stage codegen.
    ends = spark.sql(_LA_ENDS).localCheckpoint()
    conts = spark.sql(_LA_CONTS).localCheckpoint()
    edges = (
        spark.sql(_LA_EDGES)
        .withColumn("seg_key", F.expr("area_id * 4 + eidx"))
        .localCheckpoint()
    )

    # 1) endpoint -> areal boundary corridor join; keep the NEAREST edge per
    #    endpoint (PointToArealDist2D argmin; ties broken by seg_key so both
    #    engines agree bitwise).
    near = point_to_segment_proximity(
        ends.select("end_id", "px", "py"),
        edges.select("seg_key", "ax", "ay", "bx", "by"),
        LA_TOL2_M,
        point_id="end_id",
        seg_id="seg_key",
        cell_deg=_LA_CELL,
    )
    w = Window.partitionBy("end_id").orderBy("dist_mm", "seg_key")
    nearest = (
        near.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(edges, "seg_key")
        .join(ends, "end_id")
    )

    # 2) endpoint -> other-line vertex k-ring join within sensitivity.
    p_cells = with_kring_cells(
        nearest.select("end_id", "px", "py", "qx", "qy", "ax", "ay", "bx", "by"),
        "px", "py", _LA_CELL,
    )
    c_cells = with_point_cell(conts, "rx", "ry", _LA_CELL)
    d_pr = F.expr(sql_dist_m("px", "py", "rx", "ry"))
    pairs = (
        p_cells.join(c_cells, "cell")
        .filter(d_pr < LA_TOL1_M)
        # 3) across test: penultimate vertex Q and the continuation's adjacent
        #    vertex R2 must fall on OPPOSITE sides of the nearest boundary edge.
        .filter(
            F.expr(_side("qx", "qy")) * F.expr(_side("r2x", "r2y")) < 0
        )
        .select("end_id")
        .distinct()
    )

    return (
        nearest.join(pairs, "end_id", "left_anti")
        .select(
            "end_id",
            F.expr("CAST(floor(px * 1000000.0) AS BIGINT)").alias("end_x_udeg"),
            F.expr("CAST(floor(py * 1000000.0) AS BIGINT)").alias("end_y_udeg"),
            F.lit("LUNM_ACRS_A").alias("errtype"),
        )
    )


_LA_PRD = sql_dist_m("n.px", "n.py", "c.rx", "c.ry")
_LA_PSD_C = sql_point_seg_dist_m("n.px", "n.py", "s.ax", "s.ay", "s.bx", "s.by")

# DuckDB candidate generation mirrors the engine's cell join (an IEJoin over
# the lattice-aligned fixture evaluates the meter refine on every x-overlap
# pair — the coverageq.py lesson): endpoints probe a 3x3 ring, edges cover
# their bbox cells.
ORACLE_LUNM_ACRS_A = f"""
{oracle_cte('geo_areas')},
ends AS MATERIALIZED ({_LA_ENDS}),
conts AS MATERIALIZED ({_LA_CONTS}),
edges AS ({_LA_EDGES}),
edgek AS (SELECT area_id * 4 + eidx AS seg_key, ax, ay, bx, by FROM edges),
{oracle_seg_cells('edgek', 'edgec', 0.01)},
{oracle_kring_cells('ends', 'endc', 0.01)},
cand AS (
  SELECT end_id, px, py, qx, qy, seg_key, ax, ay, bx, by,
         CAST(floor(d * 1000.0) AS BIGINT) AS dist_mm
  FROM (
    SELECT DISTINCT n.end_id, n.px, n.py, n.qx, n.qy, s.seg_key,
           s.ax, s.ay, s.bx, s.by, ({_LA_PSD_C}) AS d
    FROM endc n JOIN edgec s ON n.cellx = s.cellx AND n.celly = s.celly
  )
  WHERE d > 0.0 AND d < {LA_TOL2_M}
),
nearest AS (
  SELECT * FROM (
    SELECT cand.*,
           row_number() OVER (PARTITION BY end_id ORDER BY dist_mm, seg_key) AS rk
    FROM cand
  ) WHERE rk = 1
),
matched AS (
  SELECT DISTINCT n.end_id
  FROM nearest n
  JOIN conts c
    ON c.ry BETWEEN n.py - 0.000025 AND n.py + 0.000025
   AND c.rx BETWEEN n.px - 0.000025 AND n.px + 0.000025
  WHERE ({_LA_PRD}) < {LA_TOL1_M}
    AND sign((n.bx - n.ax) * (n.qy - n.ay) - (n.by - n.ay) * (n.qx - n.ax))
      * sign((n.bx - n.ax) * (c.r2y - n.ay) - (n.by - n.ay) * (c.r2x - n.ax)) < 0
)
SELECT n.end_id,
       CAST(floor(n.px * 1000000.0) AS BIGINT) AS end_x_udeg,
       CAST(floor(n.py * 1000000.0) AS BIGINT) AS end_y_udeg,
       'LUNM_ACRS_A' AS errtype
FROM nearest n
WHERE n.end_id NOT IN (SELECT end_id FROM matched)
"""


# --- geo_l_unm_a (L_UNM_A 175 / LSAME_UNM_A 176) ------------------------------
LUA_EDGE_TOL_M = 0.5  # L_UNM_A Tolerance2: end-to-areal-edge distance
PAD_TOL_M = 1.0       # L_UNM_A tolerancepad: end-to-other-line-node match box

# Line ends seeded a third of the way along each geo_areas bottom edge,
# 0.3 udeg (~33 mm) above it -> every end is within Tolerance2 of an areal
# edge.  Rescue nodes (other lines) sit 2 udeg away (inside the 1 m pad box)
# except for every 3rd area; the rescue's fcode matches the end's only for
# even ids.
LUA_ENDS_SQL = """
SELECT
  area_id AS lid,
  CASE CAST(area_id % 4 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030'
       WHEN 2 THEN 'BH140' ELSE 'AN010' END AS fcode,
  x1 + CAST(1 + area_id % 5 AS DOUBLE) / 3000.0 AS ex,
  y1 + 0.0000003 AS ey
FROM geo_areas
"""

LUA_RESCUE_SQL = """
SELECT
  area_id AS rid,
  CASE WHEN area_id % 2 = 0 THEN
    CASE CAST(area_id % 4 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030'
         WHEN 2 THEN 'BH140' ELSE 'AN010' END
  ELSE
    CASE CAST(area_id % 4 AS INT) WHEN 0 THEN 'AT030' WHEN 1 THEN 'BH140'
         WHEN 2 THEN 'AN010' ELSE 'AP030' END
  END AS rfcode,
  x1 + CAST(1 + area_id % 5 AS DOUBLE) / 3000.0 + 0.000002 AS rx,
  y1 + 0.0000003 + 0.000002 AS ry
FROM geo_areas WHERE area_id % 3 <> 0
"""

# geo_areas bottom edges (horizontal: (x1,y1)-(x2,y2) with y2 = y1)
BOT_EDGES_SQL = """
SELECT area_id AS aid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_areas
"""


def _near_bottom_edge(ends: DataFrame, edges: DataFrame) -> DataFrame:
    """(src_id, tgt_id, dist_mm): line ends within Tolerance2 of an edge."""
    return point_to_segment_proximity(
        ends.selectExpr("lid AS src_id", "ex AS px", "ey AS py"),
        edges.selectExpr("aid AS tgt_id", "ax", "ay", "bx", "by"),
        LUA_EDGE_TOL_M,
        cell_deg=0.001,
        open_interval=False,
    )


def q_l_unm_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    ends = spark.sql(LUA_ENDS_SQL)
    near_edge = (
        _near_bottom_edge(ends, spark.sql(BOT_EDGES_SQL))
        .groupBy("src_id")
        .agg(F.min("dist_mm").alias("edge_mm"))
    )
    d = F.expr(sql_dist_m("ex", "ey", "rx", "ry"))
    pairs = band_join(ends, spark.sql(LUA_RESCUE_SQL), "ey", "ry").filter(d < PAD_TOL_M)
    any_rescued = pairs.select("lid").distinct()
    same_rescued = (
        pairs.filter(F.col("fcode") == F.col("rfcode")).select("lid").distinct()
    )

    base = ends.join(near_edge.withColumnRenamed("src_id", "lid"), "lid")
    unm = (
        base.join(any_rescued, "lid", "left_anti")
        .select("lid", F.lit("L_UNM_A").alias("errtype"), "edge_mm")
    )
    same_unm = (
        base.join(any_rescued, "lid", "left_semi")
        .join(same_rescued, "lid", "left_anti")
        .select("lid", F.lit("LSAME_UNM_A").alias("errtype"), "edge_mm")
    )
    return unm.unionByName(same_unm)


_D_RESCUE = sql_dist_m("e.ex", "e.ey", "r.rx", "r.ry")
_PSD_EDGE = sql_point_seg_dist_m("e.ex", "e.ey", "g.ax", "g.ay", "g.bx", "g.by")

# DuckDB twin of _near_bottom_edge's candidates: the CTEs ``edgec`` (the
# ``edges`` bottom edges over their bbox cells) and ``endc`` (the ``ends``
# over their 3x3 k-ring), joined per cell as ``e`` and ``g``.  A pair may
# meet in several cells; both users aggregate or DISTINCT it.
_NEAR_EDGE_CELLS = (
    oracle_seg_cells("edges", "edgec", 0.001)
    + ",\n"
    + oracle_kring_cells("ends", "endc", 0.001, "ex", "ey")
)
_NEAR_EDGE_JOIN = "endc e JOIN edgec g ON e.cellx = g.cellx AND e.celly = g.celly"

ORACLE_L_UNM_A = f"""
{oracle_cte('geo_areas')},
ends AS ({LUA_ENDS_SQL}),
rescue AS ({LUA_RESCUE_SQL}),
edges AS ({BOT_EDGES_SQL}),
{_NEAR_EDGE_CELLS},
near_edge AS (
  SELECT e.lid, MIN(CAST(floor({_PSD_EDGE} * 1000.0) AS BIGINT)) AS edge_mm
  FROM {_NEAR_EDGE_JOIN}
  WHERE {_PSD_EDGE} < {LUA_EDGE_TOL_M}
  GROUP BY e.lid
),
any_rescued AS (
  SELECT DISTINCT e.lid FROM ends e JOIN rescue r
    ON r.ry BETWEEN e.ey - 0.0005 AND e.ey + 0.0005
   AND r.rx BETWEEN e.ex - 0.0005 AND e.ex + 0.0005
  WHERE {_D_RESCUE} < {PAD_TOL_M}
),
same_rescued AS (
  SELECT DISTINCT e.lid FROM ends e JOIN rescue r
    ON r.ry BETWEEN e.ey - 0.0005 AND e.ey + 0.0005
   AND r.rx BETWEEN e.ex - 0.0005 AND e.ex + 0.0005
  WHERE {_D_RESCUE} < {PAD_TOL_M} AND e.fcode = r.rfcode
)
SELECT n.lid, 'L_UNM_A' AS errtype, n.edge_mm
FROM near_edge n
WHERE n.lid NOT IN (SELECT lid FROM any_rescued)
UNION ALL
SELECT n.lid, 'LSAME_UNM_A' AS errtype, n.edge_mm
FROM near_edge n
WHERE n.lid IN (SELECT lid FROM any_rescued)
  AND n.lid NOT IN (SELECT lid FROM same_rescued)
"""


# --- matched averts pairs: geo_unm_attr_a (AUNM_ATTR_A) and geo_aunm_acrs_a ----
_AV_FC_W = (
    "CASE CAST(aid % 4 AS INT) WHEN 0 THEN 'FA000' WHEN 1 THEN 'AL015'"
    " WHEN 2 THEN 'BH140' ELSE 'FA000' END"
)
# east-side code rotates out of agreement every 13th id
_AV_FC_E = (
    "CASE WHEN aid % 13 = 0 THEN"
    " CASE CAST(aid % 4 AS INT) WHEN 0 THEN 'AL015' WHEN 1 THEN 'BH140'"
    " WHEN 2 THEN 'FA000' ELSE 'BH140' END"
    " ELSE "
    "CASE CAST(aid % 4 AS INT) WHEN 0 THEN 'FA000' WHEN 1 THEN 'AL015'"
    " WHEN 2 THEN 'BH140' ELSE 'FA000' END END"
)


def _averts_pairs(spark: SparkSession) -> DataFrame:
    """Matched averts vertex pairs: west (aid, px, py, fc_w) x east
    (aid_e, qx, qy, fc_e) within BANDED_TOL_M."""
    av = spark.sql(AVERTS_SQL)
    west = av.selectExpr("aid", "px", "py", f"{_AV_FC_W} AS fc_w")
    east = av.filter(F.col("qx").isNotNull()).selectExpr(
        "aid AS aid_e", "qx", "qy", f"{_AV_FC_E} AS fc_e"
    )
    d = F.expr(sql_dist_m("px", "py", "qx", "qy"))
    return band_join(west, east, "py", "qy").filter(d < BANDED_TOL_M)


_D_AV = sql_dist_m("w.px", "w.py", "e.qx", "e.qy")

# DuckDB twin of _averts_pairs: the averts and avpairs CTEs
_AV_PAIRS_CTES = f"""averts AS ({AVERTS_SQL}),
avpairs AS (
  SELECT w.aid AS fid, e.aid AS other_id, w.px, w.py, e.qx, e.qy, w.fc_w, e.fc_e
  FROM (SELECT aid, px, py, {_AV_FC_W} AS fc_w FROM averts) w
  JOIN (SELECT aid, qx, qy, {_AV_FC_E} AS fc_e FROM averts
        WHERE qx IS NOT NULL) e
    ON e.qy BETWEEN w.py - 0.001 AND w.py + 0.001
  WHERE {_D_AV} < {BANDED_TOL_M}
)"""


# --- geo_unm_attr_a (LUNM_ATTR_A 180 / AUNM_ATTR_A 179) -----------------------
# LUNM_ATTR_A: line end geometrically on an areal edge, but the (line fcode,
# area fcode) pairing is not in the allowed table.  AUNM_ATTR_A: matched
# averts vertex pairs whose codes disagree.
ALLOWED_PAIRS = (
    ("AP030", "FA000"),
    ("AT030", "AL015"),
    ("BH140", "BH140"),
    ("AN010", "FA000"),
)


def q_unm_attr_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    ends = spark.sql(LUA_ENDS_SQL)
    edges = spark.sql(BOT_EDGES_SQL).join(
        spark.table("geo_areas").selectExpr("area_id AS aid", "fcode AS afcode"),
        "aid",
    )
    allowed = spark.createDataFrame(
        list(ALLOWED_PAIRS), schema="fcode string, afcode string"
    )
    lunm = (
        _near_bottom_edge(ends, edges)
        .withColumnRenamed("src_id", "lid")
        .withColumnRenamed("tgt_id", "aid")
        .join(ends.select("lid", "fcode"), "lid")
        .join(edges.select("aid", "afcode"), "aid")
        .join(F.broadcast(allowed), ["fcode", "afcode"], "left_anti")
        .select(
            F.col("lid").alias("fid"), F.col("aid").alias("other_id"),
            F.lit("LUNM_ATTR_A").alias("errtype"),
        )
        .dropDuplicates(["fid", "other_id"])
    )
    aunm = (
        _averts_pairs(spark)
        .filter(F.col("fc_w") != F.col("fc_e"))
        .select(
            F.col("aid").alias("fid"), F.col("aid_e").alias("other_id"),
            F.lit("AUNM_ATTR_A").alias("errtype"),
        )
        .dropDuplicates(["fid", "other_id"])
    )
    return lunm.unionByName(aunm)


_ALLOWED_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in ALLOWED_PAIRS)

ORACLE_UNM_ATTR_A = f"""
{oracle_cte('geo_areas', 'geo_edges')},
{_AV_PAIRS_CTES},
ends AS ({LUA_ENDS_SQL}),
edges AS (
  SELECT g.aid, g.ax, g.ay, g.bx, g.by, a.fcode AS afcode
  FROM ({BOT_EDGES_SQL}) g JOIN geo_areas a ON a.area_id = g.aid
),
{_NEAR_EDGE_CELLS},
allowed(fcode, afcode) AS (VALUES {_ALLOWED_VALUES})
SELECT DISTINCT e.lid AS fid, g.aid AS other_id, 'LUNM_ATTR_A' AS errtype
FROM {_NEAR_EDGE_JOIN}
WHERE {_PSD_EDGE} < {LUA_EDGE_TOL_M}
  AND NOT EXISTS (SELECT 1 FROM allowed al
                  WHERE al.fcode = e.fcode AND al.afcode = g.afcode)
UNION ALL
SELECT DISTINCT fid, other_id, 'AUNM_ATTR_A' AS errtype
FROM avpairs WHERE fc_w <> fc_e
"""


# --- geo_aunm_acrs_a (AUNM_ACRS_A 178) ----------------------------------------
# Bounding areal: rectangle whose EAST edge runs down the 12E meridian for
# lat [41.0, 41.5).  A matched averts pair always straddles 12E, so the pair
# is "matched across the bounding area feature" exactly when its connector
# crosses that edge: interpolated latitude at lon 12 inside the window.
BOUND_LAT_LO = 41.0
BOUND_LAT_HI = 41.5

_Y12 = "(py + (qy - py) * (12.0 - px) / (qx - px))"


def q_aunm_acrs_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _averts_pairs(spark)
        .withColumn("y12", F.expr(_Y12))
        .filter((F.col("y12") >= BOUND_LAT_LO) & (F.col("y12") < BOUND_LAT_HI))
        .select(
            F.col("aid").alias("fid"),
            F.col("aid_e").alias("other_id"),
            F.lit("AUNM_ACRS_A").alias("errtype"),
            F.expr("CAST(floor(y12 * 1000000.0) AS BIGINT)").alias("cross_udeg"),
        )
        .dropDuplicates(["fid", "other_id"])
    )


ORACLE_AUNM_ACRS_A = f"""
{oracle_cte('geo_edges')},
{_AV_PAIRS_CTES},
pairs AS (SELECT DISTINCT fid, other_id, {_Y12} AS y12 FROM avpairs)
SELECT fid, other_id, 'AUNM_ACRS_A' AS errtype,
       CAST(floor(y12 * 1000000.0) AS BIGINT) AS cross_udeg
FROM pairs
WHERE y12 >= {BOUND_LAT_LO} AND y12 < {BOUND_LAT_HI}
"""


QUERIES = {
    "geo_edge_match_unmatched": q_edge_match_unmatched,
    "geo_edge_match_attr": q_edge_match_attr,
    "geo_edge_match_range": q_edge_match_range,
    "geo_le_a_unm": q_le_a_unm,
    "geo_lunm_acrs_a": q_lunm_acrs_a,
    "geo_geom_unm": q_geom_unm,
    "geo_rnge_unm": q_rnge_unm,
    "geo_l_unm_a": q_l_unm_a,
    "geo_unm_attr_a": q_unm_attr_a,
    "geo_aunm_acrs_a": q_aunm_acrs_a,
}

ORACLES = {
    "geo_edge_match_unmatched": ORACLE_EDGE_MATCH,
    "geo_edge_match_attr": ORACLE_EDGE_MATCH_ATTR,
    "geo_edge_match_range": ORACLE_EDGE_MATCH_RANGE,
    "geo_le_a_unm": ORACLE_LE_A_UNM,
    "geo_lunm_acrs_a": ORACLE_LUNM_ACRS_A,
    "geo_geom_unm": ORACLE_GEOM_UNM,
    "geo_rnge_unm": ORACLE_RNGE_UNM,
    "geo_l_unm_a": ORACLE_L_UNM_A,
    "geo_unm_attr_a": ORACLE_UNM_ATTR_A,
    "geo_aunm_acrs_a": ORACLE_AUNM_ACRS_A,
}
