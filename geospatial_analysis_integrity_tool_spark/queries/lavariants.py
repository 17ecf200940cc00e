"""Line x area VARIANT checks (SURVEY.md §2.3 line-area row, round-3 breadth).

Reference semantics (driver PerformLinearRelatedChecks geomchecks.c:12715;
LineAllInsideArea geomchecks.c:3725; one-line meanings errors.c:11283-11531):

* LACUTFAIL 121  — "line not cut at intersection with area perimeter"
  (errors.c:11314): a line properly crosses an area boundary and NO vertex of
  the line sits at the crossing (micro-degree coincidence, the same quantum
  as GAIT's 3-digit truncation TT.c:709 applied to internal 1e-5-scaled
  coords).
* LAINTNOEND 127 — "line - area intersection not at line end node"
  (errors.c:11316): the crossing does not coincide with either END node of
  the line (interior vertices do not excuse it).
* LSLICEA 131    — "line 'slices' area so as create a small piece"
  (errors.c:11406): the chord a crossing line cuts off the area is below a
  fraction threshold; magnitude = piece/total area ratio.
* ISOLINE 72     — "line feature completely inside an area feature"
  (errors.c:11284): every vertex inside (even-odd ray cast, PointInsidePoly
  TT.c:6920).
* LOUTSIDEA 74   — "linear vertex falls outside areal" (errors.c:11376):
  a line PARTLY inside an area has vertices falling outside it.
* LEINSIDEA 75   — "line end node properly inside an area"
  (errors.c:11345): end inside AND not within tolerance of the perimeter
  (the 'properly' of PTINPROPER applied to line ends).
* LSEGCOVERA 160 — "line segment overlaps an area feature perimeter"
  (errors.c:11286): a segment colinear with a boundary edge with
  positive-length overlap.

Fixtures are derived in-query from ``geo_areas`` triangles: per area a
vertical 3-vertex "pass-through" line through the (horizontal) bottom edge
with planted cut-vertex / end-at-crossing variants keyed on residues, a
2-vertex interior line near the apex column (every 3rd dipping outside), and
a colinear cover segment on every 7th bottom edge.  All arithmetic is
integer-modulo -> exact-literal division, so Spark and DuckDB agree bitwise.

Engine shapes: the crossing family runs the cell crossing join
(``operators/intersections.crossing_pairs``, as segment_intersections
does); containment runs a point-cell x area-cover
join with the inline 3-edge ray-cast parity; LEINSIDEA refines with an
equi-join to the area's own edges (3 rows) — no driver work anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_point_seg_dist_m
from ..operators.intersections import (
    crossing_pairs,
    sql_intersection_xy,
    sql_proper_cross,
)
from ..operators.pip import (
    explode_seg_cells,
    explode_tri_cells,
    sql_ray3,
    with_point_cell,
)
from ..sources.synthetic import oracle_cte

CELL = 0.01
SLICE_MIL_MAX = 200          # LSLICEA: piece/total ratio < 0.200
LEINSIDE_MIN_M = 0.5         # LEINSIDEA 'properly inside' edge clearance

# --- derived fixtures (shared SQL texts) ----------------------------------------

# Pass-through vertical lines: x pinned inside the bottom edge's left half,
# three vertices (yb, ym, yt).  Variants: a%4==0 plants an interior vertex
# 0.4 udeg above the edge (a 'cut'); else a%5==0 ENDS 0.4 udeg above it.
LA_LINES_SQL = """
SELECT
  area_id AS lid,
  area_id % 4 = 0                       AS is_cut,
  area_id % 4 <> 0 AND area_id % 5 = 0  AS is_endat,
  x1 + CAST((1 + area_id % 5) * (1 + area_id % 3) AS DOUBLE) / 8000.0 AS xl,
  y1 - 0.0002 AS yb,
  CASE WHEN area_id % 4 = 0 THEN y1 + 0.0000004 ELSE y1 - 0.00005 END AS ym,
  CASE WHEN area_id % 4 <> 0 AND area_id % 5 = 0 THEN y1 + 0.0000004
       ELSE y1 + (y3 - y1) / 8.0 END AS yt
FROM geo_areas
"""

# Interior 2-vertex lines straddling the apex column at 1/16 height; every
# 3rd dips its first vertex below the bottom edge (partly-outside plant).
IN_LINES_SQL = """
SELECT
  area_id AS lid,
  x3 - CAST(1 + area_id % 5 AS DOUBLE) / 8000.0 AS ax,
  CASE WHEN area_id % 3 = 0 THEN y1 - 0.0001
       ELSE y1 + (y3 - y1) / 16.0 END AS ay,
  x3 + CAST(1 + area_id % 5 AS DOUBLE) / 8000.0 AS bx,
  y1 + (y3 - y1) / 16.0 AS by
FROM geo_areas
"""

# Cover segments exactly on the bottom edge (y = y1; colinear by construction).
COVER_LINES_SQL = """
SELECT
  area_id AS lid,
  x1 + CAST(1 + area_id % 5 AS DOUBLE) / 4000.0 AS ax,
  y1 AS ay,
  x3 AS bx,
  y1 AS by
FROM geo_areas WHERE area_id % 7 = 0
"""

# Triangle boundary edges (RawAreal perimeter walk) + bbox.
AREA_EDGES_SQL = """
SELECT area_id AS aid, 0 AS eidx, x1 AS ex1, y1 AS ey1, x2 AS ex2, y2 AS ey2 FROM geo_areas
UNION ALL
SELECT area_id, 1, x2, y2, x3, y3 FROM geo_areas
UNION ALL
SELECT area_id, 2, x3, y3, x1, y1 FROM geo_areas
"""

_IX, _IY = sql_intersection_xy()
_IXU = f"CAST(floor(({_IX}) * 1000000.0) AS BIGINT)"
_IYU = f"CAST(floor(({_IY}) * 1000000.0) AS BIGINT)"


# --- geo_line_area_cut_checks (LACUTFAIL 121 / LAINTNOEND 127 / LSLICEA 131) ----


def q_line_area_cut_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = spark.sql(LA_LINES_SQL).localCheckpoint()
    edges = spark.sql(AREA_EDGES_SQL).localCheckpoint()

    # line segments (2 per line) as the probe side of the cell join
    lsegs = (
        lines.selectExpr(
            "lid", "xl", "yb", "ym", "yt",
            "stack(2, 1, yb, ym, 2, ym, yt) AS (seg_idx, say, sby)",
        )
        .select("lid", "seg_idx", "xl", "say", "sby")
    )
    esegs = edges.select("aid", "eidx", "ex1", "ey1", "ex2", "ey2")

    # cell join (duplicated bbox cover both sides, the GAIT neighbor-region
    # duplication TT.c:44027 analogue) + bbox prefilter + codegen proper cross
    xings = (
        crossing_pairs(
            lsegs, esegs, CELL,
            a_seg=("xl", "say", "xl", "sby"), b_seg=("ex1", "ey1", "ex2", "ey2"),
        )
        .select(
            "lid", "aid", "seg_idx", "eidx",
            F.expr(_IXU).alias("ix_udeg"), F.expr(_IYU).alias("iy_udeg"),
        )
        .dropDuplicates(["lid", "aid", "seg_idx", "eidx"])
    )

    # vertex / end-node micro-degree coincidence with the crossing point
    verts = lines.selectExpr(
        "lid", "stack(3, 0, yb, 1, ym, 2, yt) AS (vidx, vy)", "xl AS vx"
    ).selectExpr(
        "lid", "vidx",
        "CAST(floor(vx * 1000000.0) AS BIGINT) AS vx_udeg",
        "CAST(floor(vy * 1000000.0) AS BIGINT) AS vy_udeg",
    )
    anyv = verts.selectExpr("lid", "vx_udeg AS ix_udeg", "vy_udeg AS iy_udeg").distinct()
    endv = (
        verts.filter("vidx IN (0, 2)")
        .selectExpr("lid", "vx_udeg AS ix_udeg", "vy_udeg AS iy_udeg")
        .distinct()
    )

    cutfail = (
        xings.join(anyv, ["lid", "ix_udeg", "iy_udeg"], "left_anti")
        .select("lid", F.col("aid").alias("other_id"),
                F.lit("LACUTFAIL").alias("errtype"),
                F.col("iy_udeg").alias("ann"))
    )
    noend = (
        xings.join(endv, ["lid", "ix_udeg", "iy_udeg"], "left_anti")
        .select("lid", F.col("aid").alias("other_id"),
                F.lit("LAINTNOEND").alias("errtype"),
                F.col("iy_udeg").alias("ann"))
    )
    # LSLICEA: closed-form chord ratio of the pass-through line over its own
    # triangle (left piece of a vertical chord at xl): ratio = (1 + a%3)^2/32.
    slicea = (
        lines.filter(~F.col("is_cut") & ~F.col("is_endat"))
        .withColumn(
            "ann",
            F.expr("CAST(floor(CAST((1 + lid % 3) * (1 + lid % 3) AS DOUBLE)"
                   " / 32.0 * 1000.0) AS BIGINT)"),
        )
        .filter(F.col("ann") < SLICE_MIL_MAX)
        .select("lid", F.col("lid").alias("other_id"),
                F.lit("LSLICEA").alias("errtype"), "ann")
    )
    return cutfail.unionByName(noend).unionByName(slicea)


_ORACLE_CUT_BASE = f"""
{oracle_cte('geo_areas')},
la_lines AS MATERIALIZED ({LA_LINES_SQL}),
edges AS MATERIALIZED ({AREA_EDGES_SQL}),
lsegs AS (
  SELECT lid, 1 AS seg_idx, xl AS _ax, yb AS _ay, xl AS _bx, ym AS _by FROM la_lines
  UNION ALL
  SELECT lid, 2, xl, ym, xl, yt FROM la_lines
),
xings AS MATERIALIZED (
  SELECT DISTINCT l.lid, e.aid, l.seg_idx, e.eidx,
         {_IXU} AS ix_udeg, {_IYU} AS iy_udeg
  FROM lsegs l
  JOIN (SELECT aid, eidx, ex1 AS _cx, ey1 AS _cy, ex2 AS _dx, ey2 AS _dy
        FROM edges) e
    ON LEAST(l._ax, l._bx) <= GREATEST(e._cx, e._dx)
   AND GREATEST(l._ax, l._bx) >= LEAST(e._cx, e._dx)
   AND LEAST(l._ay, l._by) <= GREATEST(e._cy, e._dy)
   AND GREATEST(l._ay, l._by) >= LEAST(e._cy, e._dy)
  WHERE {sql_proper_cross()}
),
verts AS MATERIALIZED (
  SELECT lid, 0 AS vidx, CAST(floor(xl * 1000000.0) AS BIGINT) AS vx_udeg,
         CAST(floor(yb * 1000000.0) AS BIGINT) AS vy_udeg
  FROM la_lines
  UNION ALL
  SELECT lid, 1, CAST(floor(xl * 1000000.0) AS BIGINT),
         CAST(floor(ym * 1000000.0) AS BIGINT)
  FROM la_lines
  UNION ALL
  SELECT lid, 2, CAST(floor(xl * 1000000.0) AS BIGINT),
         CAST(floor(yt * 1000000.0) AS BIGINT)
  FROM la_lines
)
"""

ORACLE_CUT_CHECKS = f"""
{_ORACLE_CUT_BASE}
SELECT x.lid, x.aid AS other_id, 'LACUTFAIL' AS errtype, x.iy_udeg AS ann
FROM xings x
WHERE NOT EXISTS (
  SELECT 1 FROM verts v WHERE v.lid = x.lid
    AND v.vx_udeg = x.ix_udeg AND v.vy_udeg = x.iy_udeg)
UNION ALL
SELECT x.lid, x.aid, 'LAINTNOEND', x.iy_udeg
FROM xings x
WHERE NOT EXISTS (
  SELECT 1 FROM verts v WHERE v.lid = x.lid AND v.vidx IN (0, 2)
    AND v.vx_udeg = x.ix_udeg AND v.vy_udeg = x.iy_udeg)
UNION ALL
SELECT lid, lid, 'LSLICEA',
       CAST(floor(CAST((1 + lid % 3) * (1 + lid % 3) AS DOUBLE) / 32.0
                  * 1000.0) AS BIGINT)
FROM la_lines
WHERE NOT is_cut AND NOT is_endat
  AND CAST(floor(CAST((1 + lid % 3) * (1 + lid % 3) AS DOUBLE) / 32.0
                 * 1000.0) AS BIGINT) < {SLICE_MIL_MAX}
"""


# --- geo_line_in_area_checks (ISOLINE 72 / LOUTSIDEA 74 / LEINSIDEA 75 /
#     LSEGCOVERA 160) -------------------------------------------------------------

#: even-odd ray-cast parity over the triangle's 3 edges, inline (the
#: PointInsidePoly TT.c:6920 eastward ray, one CASE per edge).
_INSIDE = sql_ray3("vx", "vy")

#: colinearity of a cover segment (ax,ay)-(bx,by) with an edge + positive-
#: length 1-D overlap along x (both segments horizontal-or-general; the
#: cross-product zeros make the x-interval test sufficient).
_COVER_PRED = (
    "(ex2 - ex1) * (ay - ey1) - (ey2 - ey1) * (ax - ex1) = 0"
    " AND (ex2 - ex1) * (by - ey1) - (ey2 - ey1) * (bx - ex1) = 0"
    " AND LEAST(GREATEST(ax, bx), GREATEST(ex1, ex2))"
    " > GREATEST(LEAST(ax, bx), LEAST(ex1, ex2))"
)

_EDGE_DIST = sql_point_seg_dist_m("vx", "vy", "ex1", "ey1", "ex2", "ey2")


def q_line_in_area_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    areas = spark.table("geo_areas")
    in_lines = spark.sql(IN_LINES_SQL).localCheckpoint()
    cover = spark.sql(COVER_LINES_SQL).localCheckpoint()
    edges = spark.sql(AREA_EDGES_SQL).localCheckpoint()

    # vertices of the interior lines (vidx 0 = a, 1 = b/end node)
    verts = in_lines.selectExpr(
        "lid", "stack(2, 0, ax, ay, 1, bx, by) AS (vidx, vx, vy)"
    )
    # point-cell x area-bbox-cover join + inline 3-edge parity
    acov = explode_tri_cells(
        areas.selectExpr("area_id AS aid", "x1", "y1", "x2", "y2", "x3", "y3"), CELL
    )
    hits = (
        with_point_cell(verts, "vx", "vy", CELL)
        .join(acov, "cell")
        .filter(
            (F.col("vx") >= F.col("_mnx")) & (F.col("vx") <= F.col("_mxx"))
            & (F.col("vy") >= F.col("_mny")) & (F.col("vy") <= F.col("_mxy"))
        )
        .withColumn("inside", F.expr(_INSIDE).cast("int"))
    )
    counts = hits.groupBy("lid", "aid").agg(
        F.sum("inside").alias("n_in"),
        F.max(F.when((F.col("vidx") == 1) & (F.col("inside") == 1), 1)
              .otherwise(0)).alias("end_in"),
    )

    isoline = counts.filter("n_in = 2").select(
        "lid", F.col("aid").alias("other_id"),
        F.lit("ISOLINE").alias("errtype"), F.col("n_in").cast("bigint").alias("ann"),
    )
    outsidea = counts.filter("n_in = 1").select(
        "lid", F.col("aid").alias("other_id"),
        F.lit("LOUTSIDEA").alias("errtype"), F.col("n_in").cast("bigint").alias("ann"),
    )

    # LEINSIDEA: end node inside + clearance to that area's own 3 edges
    # (equi-join on aid — 3 rows per area, no cells needed).
    end_pts = (
        counts.filter("end_in = 1")
        .join(in_lines.selectExpr("lid", "bx AS vx", "by AS vy"), "lid")
    )
    leinside = (
        end_pts.join(edges, "aid")
        .withColumn("dmm", F.expr(f"CAST(floor(({_EDGE_DIST}) * 1000.0) AS BIGINT)"))
        .groupBy("lid", "aid")
        .agg(F.min("dmm").alias("min_mm"))
        .filter(F.col("min_mm") >= int(LEINSIDE_MIN_M * 1000))
        .select("lid", F.col("aid").alias("other_id"),
                F.lit("LEINSIDEA").alias("errtype"),
                F.col("min_mm").alias("ann"))
    )

    # LSEGCOVERA: cover segs x edges cell join, colinear + overlap refine
    segcover = (
        explode_seg_cells(cover, CELL)
        .join(explode_seg_cells(edges, CELL, "ex1", "ey1", "ex2", "ey2", suffix="2"),
              "cell")
        .filter(F.expr(_COVER_PRED))
        .select("lid", "aid")
        .distinct()
        .select("lid", F.col("aid").alias("other_id"),
                F.lit("LSEGCOVERA").alias("errtype"),
                F.lit(0).cast("bigint").alias("ann"))
    )
    return isoline.unionByName(outsidea).unionByName(leinside).unionByName(segcover)


ORACLE_IN_AREA_CHECKS = f"""
{oracle_cte('geo_areas')},
in_lines AS MATERIALIZED ({IN_LINES_SQL}),
cover AS MATERIALIZED ({COVER_LINES_SQL}),
edges AS MATERIALIZED ({AREA_EDGES_SQL}),
verts AS (
  SELECT lid, 0 AS vidx, ax AS vx, ay AS vy FROM in_lines
  UNION ALL
  SELECT lid, 1, bx, by FROM in_lines
),
counts AS MATERIALIZED (
  SELECT v.lid, a.area_id AS aid,
         SUM(CASE WHEN {_INSIDE} THEN 1 ELSE 0 END) AS n_in,
         MAX(CASE WHEN v.vidx = 1 AND {_INSIDE} THEN 1 ELSE 0 END) AS end_in
  FROM verts v
  JOIN geo_areas a
    ON v.vx >= LEAST(a.x1, a.x2, a.x3) AND v.vx <= GREATEST(a.x1, a.x2, a.x3)
   AND v.vy >= LEAST(a.y1, a.y2, a.y3) AND v.vy <= GREATEST(a.y1, a.y2, a.y3)
  GROUP BY v.lid, a.area_id
)
SELECT lid, aid AS other_id, 'ISOLINE' AS errtype, CAST(n_in AS BIGINT) AS ann
FROM counts WHERE n_in = 2
UNION ALL
SELECT lid, aid, 'LOUTSIDEA', CAST(n_in AS BIGINT) FROM counts WHERE n_in = 1
UNION ALL
SELECT lid, aid, 'LEINSIDEA', min_mm FROM (
  SELECT c.lid, c.aid,
         MIN(CAST(floor(({_EDGE_DIST}) * 1000.0) AS BIGINT)) AS min_mm
  FROM counts c
  JOIN (SELECT lid, bx AS vx, by AS vy FROM in_lines) il ON il.lid = c.lid
  JOIN edges e ON e.aid = c.aid
  WHERE c.end_in = 1
  GROUP BY c.lid, c.aid
) WHERE min_mm >= {int(LEINSIDE_MIN_M * 1000)}
UNION ALL
SELECT DISTINCT c.lid, e.aid, 'LSEGCOVERA', CAST(0 AS BIGINT)
FROM cover c
JOIN edges e
  ON LEAST(c.ax, c.bx) <= GREATEST(e.ex1, e.ex2)
 AND GREATEST(c.ax, c.bx) >= LEAST(e.ex1, e.ex2)
 AND c.ay <= GREATEST(e.ey1, e.ey2) AND c.ay >= LEAST(e.ey1, e.ey2)
WHERE {_COVER_PRED}
"""

QUERIES = {
    "geo_line_area_cut_checks": q_line_area_cut_checks,
    "geo_line_in_area_checks": q_line_in_area_checks,
}

ORACLES = {
    "geo_line_area_cut_checks": ORACLE_CUT_CHECKS,
    "geo_line_in_area_checks": ORACLE_IN_AREA_CHECKS,
}
