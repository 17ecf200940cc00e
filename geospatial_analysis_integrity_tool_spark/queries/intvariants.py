"""Intersection VARIANT checks across line/area/model-poly layers.

Reference semantics (drivers PerformLinearRelatedChecks geomchecks.c:12715,
PerformArealRelatedChecks geomchecks.c:39633; one-line meanings
errors.c:11275-11533):

* ``geo_cut_int``      — CUT_INT 15 (errors.c:11320 "cut-out intersects
  parent feature outer ring"): an inner-ring edge properly crosses an edge
  of its OWN outer ring (hole escapes the face).
* ``geo_laiex``        — LAIEX 125 (errors.c:11311 "line - area
  intersection with 3rd feature exception"): a line x area-perimeter
  crossing is a condition UNLESS an exception-class point feature sits at
  the crossing (within tolerance).
* ``geo_lfnoint``      — LFNOINT 126 (errors.c:11357 "line fails to
  intersect another line ... and no end node on 1/4 degree line"): lines
  with NO proper crossing against any other line whose end nodes also do
  not lie on a quarter-degree lattice line (the edge-of-cell excuse,
  PointOnQuarterDegreeBoundary TT.c:1400).
* ``geo_areaintarea``  — AREAINTAREA 129 (errors.c:11318 "areal - areal
  intersection of edges"): perimeter-edge proper crossings between two
  distinct areals (reported as the crossing pair + count, where
  AOVERLAPA/geo_area_overlap reports containment-or-overlap).
* ``geo_llintnoend``   — LLINTNOEND 133 (errors.c:11308 "two lines
  intersect, pt of intersection is away from either primary participant
  end node"): crossing point further than tolerance (meter frame) from
  ALL four primary end nodes — the tolerance-band variant of the exact
  LLNOENDINT 128 already gated by queries/variantq.py.
* ``geo_lmint``        — LMINT 232 (errors.c:11312 "line - model
  intersection"): line segments crossing edges of the SEEIT "model
  polygon" layer (ThePolys share_linux.h:824; the 3-D triangle layer of
  queries/compositionq.py).
* ``geo_nonodeovlp``   — NONODEOVLP 159 (errors.c:11305 "line, area have
  overlapping edge without common node"): a line segment collinear with an
  area perimeter edge, positive-length overlap, sharing NO quantized node
  with it (EdgesOverlap geomchecks.c:36118 without the common-vertex
  escape).

Fixtures (in-module, derived from geo_vareas / geo_areas / geo_lines /
compositionq.POLYS_SQL): every 18th hole ring is shifted up half the face
height so it crosses the outer top chain; exception points are planted at
every 4th line x area crossing; every 11th area gets a mid-edge collinear
overlap segment that shares no node.  All arithmetic is integer-modulo ->
exact-literal division so both engines agree bitwise.

Engine shapes: per-feature equi-join for the cutout-vs-own-ring test
(intrinsically same-feature), the cell crossing join
(``operators/intersections.crossing_pairs``) for every cross-feature
crossing, k-ring point joins for the
exception suppression — no UDFs.  DuckDB oracles use the same 0.01-deg
cell equi-key for self-joins (IEJoin avoidance + speed, see
queries/coverageq.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geodesy import sql_coslat_poly, sql_dist_m
from ..operators.intersections import (
    crossing_pairs,
    seg_cols,
    sql_intersection_xy,
    sql_proper_cross,
)
from ..operators.pip import (
    explode_seg_cells,
    oracle_seg_cells,
    with_kring_cells,
    with_point_cell,
)
from ..sources.synthetic import oracle_cte
from .compositionq import POLYS_SQL

CELL = 0.01
EXC_TOL_M = 1.0          # LAIEX exception-point suppression radius
NOEND_TOL_M = 2.0        # LLINTNOEND distance-from-end-node tolerance
QTR_EPS = 0.0000004      # quarter-degree-line membership (in quarter units)
COLL_EPS = 1e-12         # collinearity cross-product bound (deg^2)


#: the a/b segment self-join aliases of the oracles
_AB = (seg_cols("a"), seg_cols("b"))


# --- geo_cut_int (CUT_INT 15) -----------------------------------------------------

# hole rings; every 18th area's hole shifted UP by half the face height so
# its edges cross the outer top chain
HOLE2_SQL = """
SELECT area_id, vidx, x,
       CASE WHEN area_id % 18 = 0
            THEN y + CAST(2 + ((area_id * 5) % 7) AS DOUBLE) / 2000.0
            ELSE y END AS y
FROM geo_vareas WHERE ring = 1
"""

# ring -> closed segment list via lead/first windows (shared shape)
_RING_SEGS = """
SELECT area_id,
       x AS ax, y AS ay,
       COALESCE(LEAD(x) OVER w, FIRST_VALUE(x) OVER w) AS bx,
       COALESCE(LEAD(y) OVER w, FIRST_VALUE(y) OVER w) AS by
FROM {src}
WINDOW w AS (PARTITION BY area_id ORDER BY vidx)
"""


def _ring_segs_df(v: DataFrame) -> DataFrame:
    wnd = Window.partitionBy("area_id").orderBy("vidx")
    return v.select(
        "area_id",
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.coalesce(F.lead("x").over(wnd), F.first("x").over(wnd)).alias("bx"),
        F.coalesce(F.lead("y").over(wnd), F.first("y").over(wnd)).alias("by"),
    )


def q_cut_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    holes = _ring_segs_df(spark.sql(HOLE2_SQL)).selectExpr(
        "area_id", "ax AS _ax", "ay AS _ay", "bx AS _bx", "by AS _by"
    )
    outer = _ring_segs_df(
        spark.table("geo_vareas").filter("ring = 0").select(
            "area_id", "vidx", "x", "y")
    ).selectExpr("area_id", "ax AS _cx", "ay AS _cy", "bx AS _dx", "by AS _dy")
    return (
        holes.join(outer, "area_id")
        .filter(F.expr(sql_proper_cross()))
        .groupBy("area_id")
        .agg(F.count("*").alias("ncross"))
        .selectExpr("area_id", "'CUT_INT' AS errtype",
                    "CAST(ncross AS BIGINT) AS ncross")
    )


_CROSS_HO = sql_proper_cross(seg_cols("h"), seg_cols("o"))

ORACLE_CUT_INT = f"""
{oracle_cte('geo_vareas')},
holes AS ({_RING_SEGS.format(src=f'({HOLE2_SQL})')}),
outer_r AS ({_RING_SEGS.format(src='(SELECT area_id, vidx, x, y FROM geo_vareas WHERE ring = 0)')})
SELECT h.area_id, 'CUT_INT' AS errtype, CAST(COUNT(*) AS BIGINT) AS ncross
FROM holes h JOIN outer_r o ON h.area_id = o.area_id
WHERE {_CROSS_HO}
GROUP BY h.area_id
"""


# --- geo_laiex (LAIEX 125) ----------------------------------------------------------

# vertical 2-vertex lines through each triangle's (horizontal) bottom edge
LAIEX_LINES_SQL = """
SELECT
  area_id AS lid,
  x1 + CAST((1 + area_id % 5) * (1 + area_id % 3) AS DOUBLE) / 8000.0 AS lx,
  y1 - 0.0002 AS ya,
  y1 + (y3 - y1) / 8.0 AS yb
FROM geo_areas
"""

# exception-class points at every 4th line's bottom-edge crossing (the
# crossing of a vertical line with the horizontal bottom edge is exactly
# (lx, y1))
LAIEX_EXC_SQL = """
SELECT
  area_id AS eid,
  x1 + CAST((1 + area_id % 5) * (1 + area_id % 3) AS DOUBLE) / 8000.0 AS ex,
  y1 AS ey
FROM geo_areas WHERE area_id % 4 = 0
"""

AREA_EDGES_SQL = """
SELECT area_id AS aid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_areas
UNION ALL
SELECT area_id, x2, y2, x3, y3 FROM geo_areas
UNION ALL
SELECT area_id, x3, y3, x1, y1 FROM geo_areas
"""

_IX, _IY = sql_intersection_xy()


def q_laiex(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = spark.sql(LAIEX_LINES_SQL)
    edges = spark.sql(AREA_EDGES_SQL)
    xings = (
        crossing_pairs(lines, edges, CELL, a_seg=("lx", "ya", "lx", "yb"))
        .select(
            "lid", "aid",
            F.expr(_IX).alias("ix"), F.expr(_IY).alias("iy"),
        )
        .dropDuplicates(["lid", "aid", "ix", "iy"])
    )
    exc = spark.sql(LAIEX_EXC_SQL)
    xk = with_kring_cells(xings, "ix", "iy", 0.0001)
    pk = with_point_cell(exc, "ex", "ey", 0.0001)
    d = F.expr(sql_dist_m("ix", "iy", "ex", "ey"))
    # suppression is PER CROSSING: a pair is reported if ANY of its
    # crossings lacks a nearby exception point (errors.c:11311 semantics)
    suppressed = (
        xk.join(pk, "cell").filter(d < EXC_TOL_M)
        .select("lid", "aid", "ix", "iy").distinct()
    )
    return (
        xings.join(suppressed, ["lid", "aid", "ix", "iy"], "left_anti")
        .select("lid", "aid", F.lit("LAIEX").alias("errtype"))
        .distinct()
    )


_LE = (seg_cols("l"), seg_cols("e"))
_IX_LE, _IY_LE = sql_intersection_xy(*_LE)
_D_XE = sql_dist_m("x.ix", "x.iy", "p.ex", "p.ey")

ORACLE_LAIEX = f"""
{oracle_cte('geo_areas')},
lines AS (
  SELECT lid, lx AS ax, ya AS ay, lx AS bx, yb AS by FROM ({LAIEX_LINES_SQL})
),
edges AS ({AREA_EDGES_SQL}),
xings AS (
  SELECT DISTINCT l.lid, e.aid, {_IX_LE} AS ix, {_IY_LE} AS iy
  FROM lines l JOIN edges e
    ON l.ax >= LEAST(e.ax, e.bx) - 0.01 AND l.ax <= GREATEST(e.ax, e.bx) + 0.01
   AND LEAST(l.ay, l.by) <= GREATEST(e.ay, e.by)
   AND GREATEST(l.ay, l.by) >= LEAST(e.ay, e.by)
  WHERE {sql_proper_cross(*_LE)}
)
SELECT DISTINCT x.lid, x.aid, 'LAIEX' AS errtype
FROM xings x
WHERE NOT EXISTS (
  SELECT 1 FROM ({LAIEX_EXC_SQL}) p
  WHERE p.ex BETWEEN x.ix - 0.0005 AND x.ix + 0.0005
    AND p.ey BETWEEN x.iy - 0.0005 AND x.iy + 0.0005
    AND {_D_XE} < {EXC_TOL_M}
)
"""


# --- geo_lfnoint (LFNOINT 126) -------------------------------------------------------

LINE_SEGS_SQL = """
SELECT line_id AS sid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_lines
UNION ALL
SELECT line_id, x2, y2, x3, y3 FROM geo_lines
"""

_ON_QTR = (
    "(abs({e} * 4.0 - floor({e} * 4.0 + 0.5)) < " + str(QTR_EPS) + ")"
)
_END_ON_QTR = (
    f"({_ON_QTR.format(e='x1')} OR {_ON_QTR.format(e='y1')}"
    f" OR {_ON_QTR.format(e='x3')} OR {_ON_QTR.format(e='y3')})"
)


def q_lfnoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = spark.sql(LINE_SEGS_SQL)
    crossing = (
        crossing_pairs(
            segs.withColumnRenamed("sid", "id_a"),
            segs.withColumnRenamed("sid", "id_b"),
            CELL,
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select(F.col("id_a").alias("line_id"))
        .distinct()
    )
    lines = spark.table("geo_lines").filter(f"NOT {_END_ON_QTR}").select(
        "line_id"
    )
    return (
        lines.join(crossing, "line_id", "left_anti")
        .selectExpr("line_id", "'LFNOINT' AS errtype")
    )


_CROSS_AB = sql_proper_cross(*_AB)

ORACLE_LFNOINT = f"""
{oracle_cte('geo_lines')},
segs AS ({LINE_SEGS_SQL}),
{oracle_seg_cells('segs', 'segc', CELL)},
crossing AS (
  SELECT DISTINCT a.sid AS line_id
  FROM segc a JOIN segc b
    ON a.cellx = b.cellx AND a.celly = b.celly AND a.sid <> b.sid
  WHERE a._mnx <= b._mxx AND a._mxx >= b._mnx
    AND a._mny <= b._mxy AND a._mxy >= b._mny
    AND {_CROSS_AB}
)
SELECT line_id, 'LFNOINT' AS errtype
FROM geo_lines
WHERE NOT {_END_ON_QTR}
  AND line_id NOT IN (SELECT line_id FROM crossing)
"""


# --- geo_areaintarea (AREAINTAREA 129) ----------------------------------------------

# The base triangle lattice is collision-free by construction (the 719/523
# multipliers never co-collide within a scale factor), so a SECOND areal
# layer is derived: every 3rd triangle shifted by (w/2, h/4) — guaranteed
# edge crossings against its source and its source's neighbors.  ids offset
# by 10^9 to keep the two layers distinct.
AREAS_B_SQL = """
SELECT
  area_id + 1000000000 AS aid,
  x1 + (x2 - x1) / 2.0 AS ax1, y1 + (y3 - y1) / 4.0 AS ay1,
  x2 + (x2 - x1) / 2.0 AS ax2, y2 + (y3 - y1) / 4.0 AS ay2,
  x3 + (x2 - x1) / 2.0 AS ax3, y3 + (y3 - y1) / 4.0 AS ay3
FROM geo_areas WHERE area_id % 3 = 0
"""

AREA_B_EDGES_SQL = f"""
SELECT aid, ax1 AS ax, ay1 AS ay, ax2 AS bx, ay2 AS by FROM ({AREAS_B_SQL})
UNION ALL
SELECT aid, ax2, ay2, ax3, ay3 FROM ({AREAS_B_SQL})
UNION ALL
SELECT aid, ax3, ay3, ax1, ay1 FROM ({AREAS_B_SQL})
"""


def q_areaintarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    ea = spark.sql(AREA_EDGES_SQL)
    eb = spark.sql(AREA_B_EDGES_SQL)
    pairs = (
        crossing_pairs(
            ea.withColumnRenamed("aid", "id_a"),
            eb.withColumnRenamed("aid", "id_b"),
            CELL,
        )
        .select(
            "id_a", "id_b",
            F.expr(_IX).alias("ix"), F.expr(_IY).alias("iy"),
        )
        .dropDuplicates(["id_a", "id_b", "ix", "iy"])
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("ncross"))
        .selectExpr("id_a", "id_b", "'AREAINTAREA' AS errtype",
                    "CAST(ncross AS BIGINT) AS ncross")
    )


_IX_AB, _IY_AB = sql_intersection_xy(*_AB)

ORACLE_AREAINTAREA = f"""
{oracle_cte('geo_areas')},
ea AS ({AREA_EDGES_SQL}),
eb AS ({AREA_B_EDGES_SQL}),
{oracle_seg_cells('ea', 'eac', CELL)},
{oracle_seg_cells('eb', 'ebc', CELL)},
xp AS (
  SELECT DISTINCT a.aid AS id_a, b.aid AS id_b,
         {_IX_AB} AS ix, {_IY_AB} AS iy
  FROM eac a JOIN ebc b
    ON a.cellx = b.cellx AND a.celly = b.celly
  WHERE a._mnx <= b._mxx AND a._mxx >= b._mnx
    AND a._mny <= b._mxy AND a._mxy >= b._mny
    AND {_CROSS_AB}
)
SELECT id_a, id_b, 'AREAINTAREA' AS errtype, CAST(COUNT(*) AS BIGINT) AS ncross
FROM xp GROUP BY id_a, id_b
"""


# --- geo_llintnoend (LLINTNOEND 133) --------------------------------------------------

_MIN_END_D = (
    f"LEAST({sql_dist_m('ix', 'iy', 'ex1a', 'ey1a')},"
    f" {sql_dist_m('ix', 'iy', 'ex2a', 'ey2a')},"
    f" {sql_dist_m('ix', 'iy', 'ex1b', 'ey1b')},"
    f" {sql_dist_m('ix', 'iy', 'ex2b', 'ey2b')})"
)


def q_llintnoend(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = spark.table("geo_lines")
    segs = spark.sql(LINE_SEGS_SQL)
    ends = lines.selectExpr(
        "line_id AS sid", "x1 AS ex1", "y1 AS ey1", "x3 AS ex2", "y3 AS ey2"
    )
    xp = (
        crossing_pairs(
            segs.withColumnRenamed("sid", "id_a"),
            segs.withColumnRenamed("sid", "id_b"),
            CELL,
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.expr(_IX).alias("ix"), F.expr(_IY).alias("iy"),
        )
        .dropDuplicates(["id_a", "id_b", "ix", "iy"])
    )
    xp = (
        xp.join(ends.selectExpr("sid AS id_a", "ex1 AS ex1a", "ey1 AS ey1a",
                                "ex2 AS ex2a", "ey2 AS ey2a"), "id_a")
        .join(ends.selectExpr("sid AS id_b", "ex1 AS ex1b", "ey1 AS ey1b",
                              "ex2 AS ex2b", "ey2 AS ey2b"), "id_b")
    )
    return (
        xp.filter(F.expr(_MIN_END_D) > NOEND_TOL_M)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("ncross"))
        .selectExpr("id_a", "id_b", "'LLINTNOEND' AS errtype",
                    "CAST(ncross AS BIGINT) AS ncross")
    )


ORACLE_LLINTNOEND = f"""
{oracle_cte('geo_lines')},
segs AS ({LINE_SEGS_SQL}),
{oracle_seg_cells('segs', 'segc', CELL)},
xp AS (
  SELECT DISTINCT a.sid AS id_a, b.sid AS id_b,
         {_IX_AB} AS ix, {_IY_AB} AS iy
  FROM segc a JOIN segc b
    ON a.cellx = b.cellx AND a.celly = b.celly AND a.sid < b.sid
  WHERE a._mnx <= b._mxx AND a._mxx >= b._mnx
    AND a._mny <= b._mxy AND a._mxy >= b._mny
    AND {_CROSS_AB}
),
xe AS (
  SELECT xp.id_a, xp.id_b, xp.ix, xp.iy,
         la.x1 AS ex1a, la.y1 AS ey1a, la.x3 AS ex2a, la.y3 AS ey2a,
         lb.x1 AS ex1b, lb.y1 AS ey1b, lb.x3 AS ex2b, lb.y3 AS ey2b
  FROM xp
  JOIN geo_lines la ON la.line_id = xp.id_a
  JOIN geo_lines lb ON lb.line_id = xp.id_b
)
SELECT id_a, id_b, 'LLINTNOEND' AS errtype, CAST(COUNT(*) AS BIGINT) AS ncross
FROM xe
WHERE {_MIN_END_D} > {NOEND_TOL_M}
GROUP BY id_a, id_b
"""


# --- geo_lmint (LMINT 232) ------------------------------------------------------------

POLY_EDGES_SQL = f"""
SELECT poly_id AS pid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM ({POLYS_SQL})
UNION ALL
SELECT poly_id, x2, y2, x3, y3 FROM ({POLYS_SQL})
UNION ALL
SELECT poly_id, x3, y3, x1, y1 FROM ({POLYS_SQL})
"""


def q_lmint(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsegs = spark.sql(LINE_SEGS_SQL)
    pedges = spark.sql(POLY_EDGES_SQL)
    return (
        crossing_pairs(lsegs, pedges, CELL)
        .select(F.col("sid").alias("line_id"), F.col("pid").alias("poly_id"))
        .distinct()
        .selectExpr("line_id", "poly_id", "'LMINT' AS errtype")
    )


ORACLE_LMINT = f"""
{oracle_cte('geo_lines')},
lsegs AS ({LINE_SEGS_SQL}),
pedges AS ({POLY_EDGES_SQL}),
{oracle_seg_cells('lsegs', 'lc', CELL)},
{oracle_seg_cells('pedges', 'pc', CELL)}
SELECT DISTINCT l.sid AS line_id, p.pid AS poly_id, 'LMINT' AS errtype
FROM lc l JOIN pc p
  ON l.cellx = p.cellx AND l.celly = p.celly
WHERE l._mnx <= p._mxx AND l._mxx >= p._mnx
  AND l._mny <= p._mxy AND l._mxy >= p._mny
  AND {sql_proper_cross(seg_cols('l'), seg_cols('p'))}
"""


# --- geo_nonodeovlp (NONODEOVLP 159) ---------------------------------------------------

# Collinear overlap segments on the (horizontal) bottom edge of every 11th
# area, spanning the middle third -> positive overlap, no shared node.
OVLP_LINES_SQL = """
SELECT
  area_id AS lid,
  x1 + (x2 - x1) / 3.0 AS ax,
  y1 AS ay,
  x1 + (x2 - x1) * 2.0 / 3.0 AS bx,
  y1 AS by
FROM geo_areas WHERE area_id % 11 = 0
"""

#: the line segment and area edge columns of the NONODEOVLP refine
_LINE = ("ax", "ay", "bx", "by")
_EDGE = ("ex1", "ey1", "ex2", "ey2")


def _coll(line=_LINE, edge=_EDGE) -> str:
    """Both edge ends on the line's carrier (cross product below COLL_EPS)."""
    ax, ay, bx, by = line
    ex1, ey1, ex2, ey2 = edge
    return (
        f"abs(({bx} - {ax}) * ({ey1} - {ay}) - ({by} - {ay}) * ({ex1} - {ax})) < {COLL_EPS}"
        f" AND abs(({bx} - {ax}) * ({ey2} - {ay}) - ({by} - {ay}) * ({ex2} - {ax})) < {COLL_EPS}"
    )


def _ovlp_m(line=_LINE, edge=_EDGE) -> str:
    """Overlap length along the dominant axis (meter frame)."""
    ax, ay, bx, by = line
    ex1, ey1, ex2, ey2 = edge
    return (
        f"CASE WHEN abs({bx} - {ax}) >= abs({by} - {ay})"
        f" THEN greatest(0.0, LEAST(GREATEST({ax}, {bx}), GREATEST({ex1}, {ex2}))"
        f"                 - GREATEST(LEAST({ax}, {bx}), LEAST({ex1}, {ex2})))"
        f"      * (111319.5 * {sql_coslat_poly(ay)})"
        f" ELSE greatest(0.0, LEAST(GREATEST({ay}, {by}), GREATEST({ey1}, {ey2}))"
        f"                 - GREATEST(LEAST({ay}, {by}), LEAST({ey1}, {ey2})))"
        "      * 111319.5 END"
    )


def _no_shared_node(line=_LINE, edge=_EDGE) -> str:
    """No line end shares a micro-degree-quantized node with an edge end."""
    ax, ay, bx, by = line
    ex1, ey1, ex2, ey2 = edge

    def u(v: str) -> str:
        return f"CAST(floor({v} * 1000000.0) AS BIGINT)"

    same = [
        f"({u(px)} = {u(qx)}      AND {u(py)} = {u(qy)})"
        for px, py in ((ax, ay), (bx, by))
        for qx, qy in ((ex1, ey1), (ex2, ey2))
    ]
    return f"NOT ({' OR '.join(same)})"


def q_nonodeovlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = spark.sql(OVLP_LINES_SQL)
    lc = explode_seg_cells(lines, CELL)
    ec = explode_seg_cells(spark.sql(AREA_EDGES_SQL), CELL).selectExpr(
        "cell", "aid", "ax AS ex1", "ay AS ey1", "bx AS ex2", "by AS ey2"
    )
    joined = lc.join(ec, "cell").filter(F.expr(_coll()))
    out = (
        joined.withColumn("ovlp_m", F.expr(_ovlp_m()))
        .filter((F.col("ovlp_m") > 0.0) & F.expr(_no_shared_node()))
        .select(
            "lid", "aid", F.lit("NONODEOVLP").alias("errtype"),
            F.expr("CAST(floor(ovlp_m * 1000.0) AS BIGINT)").alias("ovlp_mm"),
        )
        .groupBy("lid", "aid", "errtype")
        .agg(F.max("ovlp_mm").alias("ovlp_mm"))
    )
    return out


_LE_OVLP = (seg_cols("l"), seg_cols("e", *_EDGE))
_OVLP_LE = _ovlp_m(*_LE_OVLP)

ORACLE_NONODEOVLP = f"""
{oracle_cte('geo_areas')},
lines AS ({OVLP_LINES_SQL}),
edges0 AS (
  SELECT aid, ax AS ex1, ay AS ey1, bx AS ex2, by AS ey2 FROM ({AREA_EDGES_SQL})
),
edges AS (
  SELECT aid, ex1, ey1, ex2, ey2,
         ex1 AS ax, ey1 AS ay, ex2 AS bx, ey2 AS by
  FROM edges0
),
{oracle_seg_cells('lines', 'lc', CELL)},
{oracle_seg_cells('edges', 'ec', CELL)}
SELECT l.lid, e.aid, 'NONODEOVLP' AS errtype,
       MAX(CAST(floor(({_OVLP_LE}) * 1000.0) AS BIGINT)) AS ovlp_mm
FROM lc l JOIN ec e
  ON l.cellx = e.cellx AND l.celly = e.celly
WHERE {_coll(*_LE_OVLP)}
  AND ({_OVLP_LE}) > 0.0
  AND {_no_shared_node(*_LE_OVLP)}
GROUP BY l.lid, e.aid
"""


QUERIES = {
    "geo_cut_int": q_cut_int,
    "geo_laiex": q_laiex,
    "geo_lfnoint": q_lfnoint,
    "geo_areaintarea": q_areaintarea,
    "geo_llintnoend": q_llintnoend,
    "geo_lmint": q_lmint,
    "geo_nonodeovlp": q_nonodeovlp,
}

ORACLES = {
    "geo_cut_int": ORACLE_CUT_INT,
    "geo_laiex": ORACLE_LAIEX,
    "geo_lfnoint": ORACLE_LFNOINT,
    "geo_areaintarea": ORACLE_AREAINTAREA,
    "geo_llintnoend": ORACLE_LLINTNOEND,
    "geo_lmint": ORACLE_LMINT,
    "geo_nonodeovlp": ORACLE_NONODEOVLP,
}
