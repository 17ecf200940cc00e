"""Model-polygon ("ThePolys") and region containment checks.

Reference semantics (SEEIT poly checks TT.c:45864-46710 and
geomchecks.c:27443-27680; one-line meanings errors.c:11275-11533):

* ``geo_ptosideregion`` — PTOSIDEREGION 67 (errors.c:11333 "point feature
  not inside any typed areal or poly"): gated-class points with NO
  hole-aware (even-odd over all rings) containment in any areal.
* ``geo_leaon_notin``   — LEAON_NOTIN 76 (errors.c:11316 "line end node on
  area edge, line not inside area"): an end node ON the perimeter (within
  a mm band) whose feature's other end is OUTSIDE the areal.
* ``geo_polyoside``     — POLYOSIDEAREA 236 (errors.c:11332 "Poly
  completely outside all areals of given type"): no corner inside any
  areal and no edge crossing any areal edge.
* ``geo_polyintpoly``   — POLYINTPOLY 237 (errors.c:11275 "two polygons,
  of selected types, intersect"): edge crossings between the model-poly
  layer and its shifted twin (the base lattice is collision-free, as with
  AREAINTAREA — see queries/intvariants.py).
* ``geo_polyintarea``   — POLYINTAREA 238 (errors.c:11317 "polygon -
  areal intersection of edges"): organic cross-lattice crossings between
  the model-poly layer and the areal triangles.
* ``geo_lspint``        — LSPINT 233 (errors.c:11529 "line intersects poly
  with slope > x", GTEQ sensitivity on the plane slope,
  geomchecks.c:27464) and LSPIEXP 234 (:27557-27680 "... except when
  intersection [point lies inside an exception areal]": the role-3
  ``PointInsidePoly(xi, yi, ...)`` suppression at geomchecks.c:27626-27641)
  — both from ONE crossing join; the slope gate is the trig-free form
  cxx^2 + cxy^2 >= tan^2(T) * cxz^2 (no atan, bit-identical across
  engines).

Fixtures: in-module ON-edge stub lines for every 6th areal (every 12th
turns inward -> excluded); a shifted model-poly twin layer; 13 exception
strip-triangles over the window (even strips) for LSPIEXP.

Engine shapes: the hole-aware containment reuses vgeomq._inside_pairs
(cell-cover candidates + ray-crossing parity equi-join, the per-edge term
``operators/pip.sql_ray_edge``); triangle containment is
``operators/pip.sql_ray3``; crossings run the cell crossing join
``operators/intersections.crossing_pairs``; everything is window/join/agg — no UDFs.  DuckDB
oracles use the 0.01-deg cell equi-key for segment joins (IEJoin
avoidance, see queries/intvariants.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.intersections import (
    crossing_pairs,
    seg_cols,
    sql_intersection_xy,
    sql_proper_cross,
)
from ..operators.pip import (
    explode_tri_cells,
    oracle_bbox_cells,
    oracle_point_cell,
    oracle_seg_cells,
    sql_ray3,
    sql_ray_edge,
    with_point_cell,
)
from ..sources.synthetic import oracle_cte
from .compositionq import POLYS_SQL
from .intvariants import AREA_EDGES_SQL, LINE_SEGS_SQL, POLY_EDGES_SQL
from .vgeomq import _inside_pairs

CELL = 0.01
ON_EDGE_M = 0.01        # LEAON_NOTIN end-on-perimeter band (1 cm)
LSP_TAN2 = 3.0          # tan^2(60 deg) = 3: LSPINT slope threshold


# --- geo_ptosideregion (PTOSIDEREGION 67) -------------------------------------------

_VAREA_EDGES = """
SELECT area_id, x AS ex1, y AS ey1,
       COALESCE(LEAD(x) OVER w, FIRST_VALUE(x) OVER w) AS ex2,
       COALESCE(LEAD(y) OVER w, FIRST_VALUE(y) OVER w) AS ey2
FROM geo_vareas
WINDOW w AS (PARTITION BY area_id, ring ORDER BY vidx)
"""


def q_ptosideregion(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = spark.sql(_VAREA_EDGES)
    sites = spark.table("geo_sites").filter("fcode = 'AT010'")
    probes = sites.selectExpr("site_id", "lon AS px", "lat AS py")
    inside = _inside_pairs(spark, edges, probes, ["site_id"])
    return (
        sites.join(inside.select("site_id").distinct(), "site_id", "left_anti")
        .selectExpr("site_id", "'PTOSIDEREGION' AS errtype")
    )


ORACLE_PTOSIDEREGION = f"""
{oracle_cte('geo_sites', 'geo_vareas')},
edges AS ({_VAREA_EDGES}),
bbox AS (
  SELECT area_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM geo_vareas GROUP BY 1
),
{oracle_bbox_cells('bbox', 'bc', 'mnx', 'mxx', 'mny', 'mxy', CELL)},
probes AS (
  SELECT site_id, lon AS px, lat AS py, {oracle_point_cell('lon', 'lat', CELL)}
  FROM geo_sites WHERE fcode = 'AT010'
),
cand AS (
  SELECT p.site_id, p.px, p.py, b.area_id
  FROM probes p JOIN bc b ON p.cellx = b.cellx AND p.celly = b.celly
  WHERE p.px >= b.mnx AND p.px <= b.mxx AND p.py >= b.mny AND p.py <= b.mxy
),
inside AS (
  SELECT c.site_id
  FROM cand c JOIN edges e ON c.area_id = e.area_id
  GROUP BY c.site_id, c.area_id
  HAVING SUM({sql_ray_edge('px', 'py', 'ex1', 'ey1', 'ex2', 'ey2')}) % 2 = 1
)
SELECT site_id, 'PTOSIDEREGION' AS errtype
FROM geo_sites
WHERE fcode = 'AT010'
  AND site_id NOT IN (SELECT site_id FROM inside)
"""


# --- geo_leaon_notin (LEAON_NOTIN 76) -------------------------------------------------

# stub lines with one end exactly ON the bottom edge of every 6th areal;
# every 12th turns INWARD (other end inside) -> excluded
STUB_LINES_SQL = """
SELECT
  area_id AS lid,
  x1 + (x2 - x1) / 4.0 AS ax,
  y1 AS ay,
  x1 + (x2 - x1) / 4.0 AS bx,
  CASE WHEN area_id % 12 = 0 THEN y1 + (y3 - y1) / 64.0
       ELSE y1 - 0.0003 END AS by
FROM geo_areas WHERE area_id % 6 = 0
"""

def q_leaon_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.proximity import point_seg_candidates

    stubs = spark.sql(STUB_LINES_SQL)
    edges = spark.sql(AREA_EDGES_SQL)
    on_edge = point_seg_candidates(
        stubs.selectExpr("lid AS src_id", "ax AS px", "ay AS py"),
        edges.selectExpr("aid AS tgt_id", "ax", "ay", "bx", "by"),
        ON_EDGE_M,
        cell_deg=0.001,
        open_interval=False,
    ).select("src_id", "tgt_id").distinct()
    # other-end containment in the SAME areal (triangle parity);
    # candidate (stub other-end, areal) pairs via cell join on the areal bbox
    other = stubs.selectExpr("lid", "bx AS px", "by AS py")
    areas = spark.table("geo_areas").select(
        "area_id", "x1", "y1", "x2", "y2", "x3", "y3"
    )
    acells = explode_tri_cells(areas, CELL)
    pcells = with_point_cell(other, "px", "py", CELL)
    inside = (
        pcells.join(acells, "cell")
        .filter(
            (F.col("px") >= F.col("_mnx")) & (F.col("px") <= F.col("_mxx"))
            & (F.col("py") >= F.col("_mny")) & (F.col("py") <= F.col("_mxy"))
        )
        .filter(F.expr(sql_ray3("px", "py")))
        .select("lid", F.col("area_id").alias("tgt_id"))
        .distinct()
    )
    return (
        on_edge.withColumnRenamed("src_id", "lid")
        .join(inside, ["lid", "tgt_id"], "left_anti")
        .selectExpr("lid", "tgt_id AS aid", "'LEAON_NOTIN' AS errtype")
    )


from ..functions.geodesy import sql_point_seg_dist_m  # noqa: E402

_PSD_S = sql_point_seg_dist_m("s.ax", "s.ay", "e.ax", "e.ay", "e.bx", "e.by")

ORACLE_LEAON_NOTIN = f"""
{oracle_cte('geo_areas')},
stubs AS ({STUB_LINES_SQL}),
edges AS ({AREA_EDGES_SQL})
SELECT DISTINCT s.lid, e.aid, 'LEAON_NOTIN' AS errtype
FROM stubs s
JOIN edges e
  ON s.ax >= LEAST(e.ax, e.bx) - 0.001 AND s.ax <= GREATEST(e.ax, e.bx) + 0.001
 AND s.ay >= LEAST(e.ay, e.by) - 0.001 AND s.ay <= GREATEST(e.ay, e.by) + 0.001
WHERE {_PSD_S} >= 0.0 AND {_PSD_S} < {ON_EDGE_M}
  AND NOT EXISTS (
    SELECT 1 FROM geo_areas a
    WHERE a.area_id = e.aid
      AND s.bx >= LEAST(a.x1, a.x2, a.x3) AND s.bx <= GREATEST(a.x1, a.x2, a.x3)
      AND s.by >= LEAST(a.y1, a.y2, a.y3) AND s.by <= GREATEST(a.y1, a.y2, a.y3)
      AND {sql_ray3('s.bx', 's.by', 'a.')}
  )
"""


# --- geo_polyoside (POLYOSIDEAREA 236) ------------------------------------------------

POLY_CORNERS_SQL = f"""
SELECT poly_id, x1 AS px, y1 AS py FROM ({POLYS_SQL})
UNION ALL
SELECT poly_id, x2, y2 FROM ({POLYS_SQL})
UNION ALL
SELECT poly_id, x3, y3 FROM ({POLYS_SQL})
"""


def q_polyoside(spark: SparkSession, sf_dir: str) -> DataFrame:
    polys = spark.sql(POLYS_SQL).filter("poly_id % 5 = 0")
    corners = spark.sql(POLY_CORNERS_SQL).filter("poly_id % 5 = 0")
    areas = spark.table("geo_areas").select(
        "area_id", "x1", "y1", "x2", "y2", "x3", "y3"
    )
    acells = explode_tri_cells(areas, CELL)
    pcells = with_point_cell(corners, "px", "py", CELL)
    corner_in = (
        pcells.join(acells, "cell")
        .filter(
            (F.col("px") >= F.col("_mnx")) & (F.col("px") <= F.col("_mxx"))
            & (F.col("py") >= F.col("_mny")) & (F.col("py") <= F.col("_mxy"))
        )
        .filter(F.expr(sql_ray3("px", "py")))
        .select("poly_id")
        .distinct()
    )
    pedges = spark.sql(POLY_EDGES_SQL).filter("pid % 5 = 0")
    aedges = spark.sql(AREA_EDGES_SQL)
    edge_x = (
        crossing_pairs(pedges, aedges, CELL)
        .select(F.col("pid").alias("poly_id"))
        .distinct()
    )
    return (
        polys.select("poly_id")
        .join(corner_in, "poly_id", "left_anti")
        .join(edge_x, "poly_id", "left_anti")
        .selectExpr("poly_id", "'POLYOSIDEAREA' AS errtype")
    )


_CROSS_PA = sql_proper_cross(seg_cols("p"), seg_cols("a"))

ORACLE_POLYOSIDE = f"""
{oracle_cte('geo_areas')},
polys AS (SELECT * FROM ({POLYS_SQL}) WHERE poly_id % 5 = 0),
corners AS (SELECT * FROM ({POLY_CORNERS_SQL}) WHERE poly_id % 5 = 0),
pedges AS (SELECT * FROM ({POLY_EDGES_SQL}) WHERE pid % 5 = 0),
aedges AS ({AREA_EDGES_SQL}),
pe2 AS (SELECT pid, ax, ay, bx, by FROM pedges),
ae2 AS (SELECT aid, ax, ay, bx, by FROM aedges),
{oracle_seg_cells('pe2', 'pc', CELL)},
{oracle_seg_cells('ae2', 'ac', CELL)},
corner_in AS (
  SELECT DISTINCT c.poly_id
  FROM corners c JOIN geo_areas a
    ON c.px >= LEAST(a.x1, a.x2, a.x3) AND c.px <= GREATEST(a.x1, a.x2, a.x3)
   AND c.py >= LEAST(a.y1, a.y2, a.y3) AND c.py <= GREATEST(a.y1, a.y2, a.y3)
  WHERE {sql_ray3('c.px', 'c.py', 'a.')}
),
edge_x AS (
  SELECT DISTINCT p.pid AS poly_id
  FROM pc p JOIN ac a ON p.cellx = a.cellx AND p.celly = a.celly
  WHERE p._mnx <= a._mxx AND p._mxx >= a._mnx
    AND p._mny <= a._mxy AND p._mxy >= a._mny
    AND {_CROSS_PA}
)
SELECT poly_id, 'POLYOSIDEAREA' AS errtype
FROM polys
WHERE poly_id NOT IN (SELECT poly_id FROM corner_in)
  AND poly_id NOT IN (SELECT poly_id FROM edge_x)
"""


# --- geo_polyintpoly (POLYINTPOLY 237) ------------------------------------------------

# shifted model-poly twin (the 863/431 lattice is collision-free, like the
# areal lattice — see intvariants.AREAS_B_SQL)
POLYS_B_EDGES_SQL = f"""
SELECT poly_id + 1000000000 AS pid,
       x1 + (x2 - x1) / 2.0 AS ax, y1 + (y3 - y1) / 4.0 AS ay,
       x2 + (x2 - x1) / 2.0 AS bx, y2 + (y3 - y1) / 4.0 AS by
FROM ({POLYS_SQL}) WHERE poly_id % 3 = 0
UNION ALL
SELECT poly_id + 1000000000,
       x2 + (x2 - x1) / 2.0, y2 + (y3 - y1) / 4.0,
       x3 + (x2 - x1) / 2.0, y3 + (y3 - y1) / 4.0
FROM ({POLYS_SQL}) WHERE poly_id % 3 = 0
UNION ALL
SELECT poly_id + 1000000000,
       x3 + (x2 - x1) / 2.0, y3 + (y3 - y1) / 4.0,
       x1 + (x2 - x1) / 2.0, y1 + (y3 - y1) / 4.0
FROM ({POLYS_SQL}) WHERE poly_id % 3 = 0
"""


def q_polyintpoly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ea = spark.sql(POLY_EDGES_SQL)
    eb = spark.sql(POLYS_B_EDGES_SQL)
    return (
        crossing_pairs(
            ea.withColumnRenamed("pid", "id_a"),
            eb.withColumnRenamed("pid", "id_b"),
            CELL,
        )
        .select("id_a", "id_b")
        .distinct()
        .selectExpr("id_a", "id_b", "'POLYINTPOLY' AS errtype")
    )


ORACLE_POLYINTPOLY = f"""
WITH ea AS (SELECT pid, ax, ay, bx, by FROM ({POLY_EDGES_SQL})),
eb AS ({POLYS_B_EDGES_SQL}),
{oracle_seg_cells('ea', 'eac', CELL)},
{oracle_seg_cells('eb', 'ebc', CELL)}
SELECT DISTINCT a.pid AS id_a, b.pid AS id_b, 'POLYINTPOLY' AS errtype
FROM eac a JOIN ebc b ON a.cellx = b.cellx AND a.celly = b.celly
WHERE a._mnx <= b._mxx AND a._mxx >= b._mnx
  AND a._mny <= b._mxy AND a._mxy >= b._mny
  AND {sql_proper_cross(seg_cols('a'), seg_cols('b'))}
"""


# --- geo_polyintarea (POLYINTAREA 238) ------------------------------------------------


def q_polyintarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    pe = spark.sql(POLY_EDGES_SQL)
    ae = spark.sql(AREA_EDGES_SQL)
    return (
        crossing_pairs(pe, ae, CELL)
        .select("pid", "aid")
        .distinct()
        .selectExpr("pid AS poly_id", "aid AS area_id",
                    "'POLYINTAREA' AS errtype")
    )


ORACLE_POLYINTAREA = f"""
{oracle_cte('geo_areas')},
pe AS (SELECT pid, ax, ay, bx, by FROM ({POLY_EDGES_SQL})),
ae AS (SELECT aid, ax, ay, bx, by FROM ({AREA_EDGES_SQL})),
{oracle_seg_cells('pe', 'pc', CELL)},
{oracle_seg_cells('ae', 'ac', CELL)}
SELECT DISTINCT p.pid AS poly_id, a.aid AS area_id, 'POLYINTAREA' AS errtype
FROM pc p JOIN ac a ON p.cellx = a.cellx AND p.celly = a.celly
WHERE p._mnx <= a._mxx AND p._mxx >= a._mnx
  AND p._mny <= a._mxy AND p._mxy >= a._mny
  AND {_CROSS_PA}
"""


# --- geo_lspint (LSPINT 233 / LSPIEXP 234) --------------------------------------------

from ..functions.geodesy import sql_coslat_poly  # noqa: E402

_MLON_P = f"(111319.5 * {sql_coslat_poly('((y1 + y2 + y3) / 3.0)')})"
_CXX = "((y2 - y1) * 111319.5 * (z3 - z1) - (z2 - z1) * (y3 - y1) * 111319.5)"
_CXY = f"((z2 - z1) * (x3 - x1) * {_MLON_P} - (x2 - x1) * {_MLON_P} * (z3 - z1))"
_CXZ = (
    f"((x2 - x1) * {_MLON_P} * (y3 - y1) * 111319.5"
    f" - (y2 - y1) * 111319.5 * (x3 - x1) * {_MLON_P})"
)
_STEEP = f"({_CXX} * {_CXX} + {_CXY} * {_CXY}) >= {LSP_TAN2} * ({_CXZ} * {_CXZ})"

STEEP_EDGES_SQL = f"""
SELECT pid, ax, ay, bx, by FROM (
  SELECT poly_id AS pid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by, {_STEEP} AS steep
  FROM ({POLYS_SQL})
  UNION ALL
  SELECT poly_id, x2, y2, x3, y3, {_STEEP} FROM ({POLYS_SQL})
  UNION ALL
  SELECT poly_id, x3, y3, x1, y1, {_STEEP} FROM ({POLYS_SQL})
) WHERE steep
"""

# exception areals: 13 strip triangles over the window (even strips);
# crossing points strictly inside are exempt (geomchecks.c:27626 role-3
# PointInsidePoly suppression)
EXC_AREAS_SQL = """
SELECT n_nationkey AS eid,
       10.0 + CAST(n_nationkey AS DOUBLE) * 0.16          AS tx1,
       40.0                                               AS ty1,
       10.0 + CAST(n_nationkey AS DOUBLE) * 0.16 + 0.159  AS tx2,
       40.0                                               AS ty2,
       10.0 + CAST(n_nationkey AS DOUBLE) * 0.16          AS tx3,
       44.0                                               AS ty3
FROM nation WHERE n_nationkey % 2 = 0
"""

_IX, _IY = sql_intersection_xy()

def q_lspint(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsegs = spark.sql(LINE_SEGS_SQL)
    # materialize the (small) poly layer once: the fixture synthesis CASEs
    # plus the steep predicate inlined 3x per edge branch blow the codegen
    # unit past the JIT limit (132 s -> ~10 s); after the checkpoint the
    # steep filter and edge explode run over plain columns
    p = spark.sql(POLYS_SQL).localCheckpoint()
    steep = p.filter(F.expr(_STEEP))
    sedges = steep.select(
        F.col("poly_id").alias("pid"),
        F.explode(
            F.array(
                F.struct(
                    F.col("x1").alias("ax"), F.col("y1").alias("ay"),
                    F.col("x2").alias("bx"), F.col("y2").alias("by"),
                ),
                F.struct(
                    F.col("x2").alias("ax"), F.col("y2").alias("ay"),
                    F.col("x3").alias("bx"), F.col("y3").alias("by"),
                ),
                F.struct(
                    F.col("x3").alias("ax"), F.col("y3").alias("ay"),
                    F.col("x1").alias("bx"), F.col("y1").alias("by"),
                ),
            )
        ).alias("e"),
    ).select("pid", "e.ax", "e.ay", "e.bx", "e.by")
    xings = (
        crossing_pairs(lsegs, sedges, CELL)
        .select(
            "sid", "pid",
            F.expr(_IX).alias("ix"), F.expr(_IY).alias("iy"),
        )
        .dropDuplicates(["sid", "pid", "ix", "iy"])
    )
    exc = spark.table("nation").selectExpr(
        "n_nationkey AS eid",
        "10.0 + CAST(n_nationkey AS DOUBLE) * 0.16 AS tx1", "40.0 AS ty1",
        "10.0 + CAST(n_nationkey AS DOUBLE) * 0.16 + 0.159 AS tx2", "40.0 AS ty2",
        "10.0 + CAST(n_nationkey AS DOUBLE) * 0.16 AS tx3", "44.0 AS ty3",
    ).filter("eid % 2 = 0")
    in_exc = (
        xings.join(F.broadcast(exc))
        .filter(F.expr(sql_ray3("ix", "iy", "t")))
        .select("sid", "pid", "ix", "iy")
        .distinct()
    )
    lspint = xings.select(
        "sid", "pid", F.lit("LSPINT").alias("errtype")
    ).distinct()
    lspiexp = (
        xings.join(in_exc, ["sid", "pid", "ix", "iy"], "left_anti")
        .select("sid", "pid", F.lit("LSPIEXP").alias("errtype"))
        .distinct()
    )
    return lspint.unionByName(lspiexp)


_LS = (seg_cols("l"), seg_cols("s"))
_IX_LS, _IY_LS = sql_intersection_xy(*_LS)

ORACLE_LSPINT = f"""
{oracle_cte('geo_lines')},
lsegs AS ({LINE_SEGS_SQL}),
sedges AS ({STEEP_EDGES_SQL}),
{oracle_seg_cells('lsegs', 'lc', CELL)},
{oracle_seg_cells('sedges', 'sc', CELL)},
xings AS (
  SELECT DISTINCT l.sid, s.pid, {_IX_LS} AS ix, {_IY_LS} AS iy
  FROM lc l JOIN sc s ON l.cellx = s.cellx AND l.celly = s.celly
  WHERE l._mnx <= s._mxx AND l._mxx >= s._mnx
    AND l._mny <= s._mxy AND l._mxy >= s._mny
    AND {sql_proper_cross(*_LS)}
),
exc AS ({EXC_AREAS_SQL})
SELECT DISTINCT sid, pid, 'LSPINT' AS errtype FROM xings
UNION ALL
SELECT DISTINCT sid, pid, 'LSPIEXP' FROM xings x
WHERE NOT EXISTS (
  SELECT 1 FROM exc
  WHERE {sql_ray3('x.ix', 'x.iy', 't')}
)
"""


QUERIES = {
    "geo_ptosideregion": q_ptosideregion,
    "geo_leaon_notin": q_leaon_notin,
    "geo_polyoside": q_polyoside,
    "geo_polyintpoly": q_polyintpoly,
    "geo_polyintarea": q_polyintarea,
    "geo_lspint": q_lspint,
}

ORACLES = {
    "geo_ptosideregion": ORACLE_PTOSIDEREGION,
    "geo_leaon_notin": ORACLE_LEAON_NOTIN,
    "geo_polyoside": ORACLE_POLYOSIDE,
    "geo_polyintpoly": ORACLE_POLYINTPOLY,
    "geo_polyintarea": ORACLE_POLYINTAREA,
    "geo_lspint": ORACLE_LSPINT,
}
