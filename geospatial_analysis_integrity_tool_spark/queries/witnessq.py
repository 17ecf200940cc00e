"""Connectivity / containment-with-witness checks (SURVEY.md §2.3 row 8
breadth).  Reference: TT.c CheckRegion witness sections + geomchecks drivers;
one-line meanings errors.c:11329-11412:

``geo_end_connect_checks`` — quantized end-node coincidence joins (the
network-formation node key, AddEdgesToNetwork TT.c:54437):

* ENCONFAIL 55   — "end node connectivity failure" (errors.c:11410): a line
  end node coincident (exact micro-degree) with NO other line end and NO
  point feature.
* NOENDCON 52    — "both end nodes of a line fail to connect or be covered"
  (errors.c:11408).
* BOTHENDCON 146 — "both end nodes of a line feature are covered by
  specified-type point features" (errors.c:11409).
* CONNECTFAIL 60 — "point, line, or area feature without 'connection' to
  specified 2nd feature" (errors.c:11389): here a point feature no line end
  touches.

``geo_perimeter_connect_checks`` — junction/perimeter coincidence:

* LLAINT 53      — "line - line endpt connect at area perimeter"
  (errors.c:11376): >= 2 line ends meet at a node lying ON an areal edge.
* L_NOTL_AINT 57 — "line end point connects to 'not type line' at area
  perimeter" (errors.c:11377): the junction partner is a point feature.
* NOCOINCIDE 54  — "area without line end node or segment on its perimeter"
  (errors.c:11341): anti-join of areals against all on-perimeter end hits.
* OBJ_WO_TWO 66  — "area contains secondary P,A,L but not tertiary P,A,L"
  (errors.c:11338): zone contains an 'AL015' point but no 'GB005' point
  (even-odd parity, PointInsidePoly TT.c:6920).

No planted fixtures: the lattice construction of geo_lines/geo_sites/
geo_areas yields organic exact coincidences (equal integer-modulo lattice
coordinates produce bit-identical doubles in both engines), and the %37/%41
defect residues of geo_lines supply unconnected ends.  Engine shapes are
hash joins on quantized (ux, uy) node keys, a point-cell x edge-bbox cell
join with an exact on-segment refine, and the zone parity join at the 4-deg
PIP cell width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pip import (
    explode_seg_cells,
    explode_tri_cells,
    oracle_point_cell,
    oracle_seg_cells,
    sql_ray3,
    with_point_cell,
)
from ..sources.synthetic import oracle_cte

CELL = 0.01
ZCELL = 4.0

_UX = "CAST(floor({v} * 1000000.0) AS BIGINT)"

# line end nodes, quantized (which: 0 = start, 1 = end)
ENDS_SQL = f"""
SELECT line_id, 0 AS which,
       {_UX.format(v='x1')} AS ux, {_UX.format(v='y1')} AS uy
FROM geo_lines
UNION ALL
SELECT line_id, 1, {_UX.format(v='x3')}, {_UX.format(v='y3')} FROM geo_lines
"""

# point features: organic sites + planted covers on BOTH end nodes of every
# 50th line (the BOTHENDCON witness; they also rescue those ends from
# ENCONFAIL — a planted pass).
SITES_SQL = f"""
SELECT site_id, {_UX.format(v='lon')} AS ux, {_UX.format(v='lat')} AS uy
FROM geo_sites
UNION ALL
SELECT line_id + 900000000, {_UX.format(v='x1')}, {_UX.format(v='y1')}
FROM geo_lines WHERE line_id % 50 = 0
UNION ALL
SELECT line_id + 950000000, {_UX.format(v='x3')}, {_UX.format(v='y3')}
FROM geo_lines WHERE line_id % 50 = 0
"""


def q_end_connect_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ends = spark.sql(ENDS_SQL).localCheckpoint()
    sites = spark.sql(SITES_SQL).localCheckpoint()

    other = ends.selectExpr("line_id AS oid", "ux", "uy")
    line_match = (
        ends.join(other, ["ux", "uy"])
        .filter("oid <> line_id")
        .select("line_id", "which").distinct()
    )
    site_match = (
        ends.join(sites.select("ux", "uy").distinct(), ["ux", "uy"])
        .select("line_id", "which").distinct()
    )
    connected = line_match.unionByName(site_match).distinct()

    enconfail = ends.join(connected, ["line_id", "which"], "left_anti").select(
        F.col("line_id").alias("id1"),
        F.col("which").cast("bigint").alias("ann"),
        F.lit("ENCONFAIL").alias("errtype"),
    )
    # lines with both ends unconnected / both ends point-covered
    noendcon = (
        ends.join(connected, ["line_id", "which"], "left_anti")
        .groupBy("line_id").agg(F.countDistinct("which").alias("n"))
        .filter("n = 2")
        .select(F.col("line_id").alias("id1"),
                F.lit(2).cast("bigint").alias("ann"),
                F.lit("NOENDCON").alias("errtype"))
    )
    bothend = (
        site_match.groupBy("line_id").agg(F.countDistinct("which").alias("n"))
        .filter("n = 2")
        .select(F.col("line_id").alias("id1"),
                F.lit(2).cast("bigint").alias("ann"),
                F.lit("BOTHENDCON").alias("errtype"))
    )
    connectfail = (
        sites.join(ends.select("ux", "uy").distinct(), ["ux", "uy"], "left_anti")
        .select(F.col("site_id").alias("id1"),
                F.lit(0).cast("bigint").alias("ann"),
                F.lit("CONNECTFAIL").alias("errtype"))
    )
    return enconfail.unionByName(noendcon).unionByName(bothend).unionByName(connectfail)


ORACLE_END_CONNECT = f"""
{oracle_cte('geo_lines', 'geo_sites')},
ends AS MATERIALIZED ({ENDS_SQL}),
sites AS MATERIALIZED ({SITES_SQL}),
line_match AS MATERIALIZED (
  SELECT DISTINCT e.line_id, e.which
  FROM ends e JOIN ends o ON e.ux = o.ux AND e.uy = o.uy
  WHERE o.line_id <> e.line_id
),
site_match AS MATERIALIZED (
  SELECT DISTINCT e.line_id, e.which
  FROM ends e JOIN (SELECT DISTINCT ux, uy FROM sites) s
    ON e.ux = s.ux AND e.uy = s.uy
),
connected AS (
  SELECT line_id, which FROM line_match
  UNION
  SELECT line_id, which FROM site_match
),
unconn AS (
  SELECT e.line_id, e.which FROM ends e
  WHERE NOT EXISTS (SELECT 1 FROM connected c
                    WHERE c.line_id = e.line_id AND c.which = e.which)
)
SELECT line_id AS id1, CAST(which AS BIGINT) AS ann, 'ENCONFAIL' AS errtype
FROM unconn
UNION ALL
SELECT line_id, CAST(2 AS BIGINT), 'NOENDCON'
FROM (SELECT line_id FROM unconn GROUP BY line_id
      HAVING COUNT(DISTINCT which) = 2)
UNION ALL
SELECT line_id, CAST(2 AS BIGINT), 'BOTHENDCON'
FROM (SELECT line_id FROM site_match GROUP BY line_id
      HAVING COUNT(DISTINCT which) = 2)
UNION ALL
SELECT s.site_id, CAST(0 AS BIGINT), 'CONNECTFAIL'
FROM sites s
WHERE NOT EXISTS (SELECT 1 FROM ends e WHERE e.ux = s.ux AND e.uy = s.uy)
"""


# --- geo_perimeter_connect_checks -----------------------------------------------

AREA_EDGES_SQL = """
SELECT area_id AS aid, 0 AS eidx, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_areas
UNION ALL
SELECT area_id, 1, x2, y2, x3, y3 FROM geo_areas
UNION ALL
SELECT area_id, 2, x3, y3, x1, y1 FROM geo_areas
"""


def _on_seg(px="px", py="py", ax="ax", ay="ay", bx="bx", by="by") -> str:
    """Exact on-segment predicate: zero cross product + bbox membership
    (PointOnLineSegment share_linux.h:999 semantics on raw degrees)."""
    return (
        f"({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}) = 0"
        f" AND {px} >= LEAST({ax}, {bx}) AND {px} <= GREATEST({ax}, {bx})"
        f" AND {py} >= LEAST({ay}, {by}) AND {py} <= GREATEST({ay}, {by})"
    )


# both line end nodes with raw coords (for the perimeter refine)
ENDPTS_SQL = """
SELECT line_id, 0 AS which, x1 AS px, y1 AS py FROM geo_lines
UNION ALL
SELECT line_id, 1, x3, y3 FROM geo_lines
"""


def q_perimeter_connect_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    endpts = spark.sql(ENDPTS_SQL).localCheckpoint()
    edges = spark.sql(AREA_EDGES_SQL).localCheckpoint()
    sites = spark.sql(SITES_SQL).localCheckpoint()

    hits = (
        with_point_cell(endpts, "px", "py", CELL)
        .join(explode_seg_cells(edges, CELL), "cell")
        .filter(F.expr(_on_seg()))
        .select("line_id", "which", "px", "py", "aid")
        .distinct()
        .localCheckpoint()
    )

    # LLAINT: >= 2 distinct lines' START nodes at one point on a perimeter
    starts = hits.filter("which = 0")
    nodes = (
        starts.groupBy("px", "py", "aid")
        .agg(F.countDistinct("line_id").alias("nl"),
             F.min("line_id").alias("lid"))
        .filter("nl >= 2")
    )
    llaint = nodes.select(
        F.col("lid").alias("id1"), F.col("aid").alias("id2"),
        F.lit("LLAINT").alias("errtype"),
        F.expr("CAST(floor(py * 1000000.0) AS BIGINT)").alias("ann"),
    )
    # L_NOTL_AINT: a start node on a perimeter coincident with a point feature
    lnotl = (
        starts.withColumn("ux", F.expr(_UX.format(v="px")))
        .withColumn("uy", F.expr(_UX.format(v="py")))
        .join(sites.select("ux", "uy").distinct(), ["ux", "uy"])
        .select(F.col("line_id").alias("id1"), F.col("aid").alias("id2"),
                F.lit("L_NOTL_AINT").alias("errtype"),
                F.col("uy").alias("ann"))
        .distinct()
    )
    # NOCOINCIDE: areas with NO end node anywhere on their perimeter
    nocoincide = (
        spark.table("geo_areas").selectExpr("area_id AS aid")
        .join(hits.select("aid").distinct(), "aid", "left_anti")
        .select(F.col("aid").alias("id1"), F.lit(-1).cast("bigint").alias("id2"),
                F.lit("NOCOINCIDE").alias("errtype"),
                F.lit(0).cast("bigint").alias("ann"))
    )
    # OBJ_WO_TWO: zone contains an AL015 point but no GB005 point
    zones = spark.table("geo_zones")
    zcov = explode_tri_cells(zones, ZCELL)
    pin = (
        with_point_cell(
            spark.table("geo_points").selectExpr("point_id", "fcode",
                                                 "lon AS px", "lat AS py"),
            "px", "py", ZCELL,
        )
        .join(zcov, "cell")
        .filter(F.expr(sql_ray3("px", "py")))
        .groupBy("zone_id")
        .agg(
            F.sum(F.expr("CASE WHEN fcode = 'AL015' THEN 1 ELSE 0 END")).alias("n2"),
            F.sum(F.expr("CASE WHEN fcode = 'GB005' THEN 1 ELSE 0 END")).alias("n3"),
        )
        .filter("n2 >= 1 AND n3 = 0")
    )
    objwo = pin.select(
        F.col("zone_id").cast("bigint").alias("id1"),
        F.lit(-1).cast("bigint").alias("id2"),
        F.lit("OBJ_WO_TWO").alias("errtype"),
        F.col("n2").cast("bigint").alias("ann"),
    )
    return llaint.unionByName(lnotl).unionByName(nocoincide).unionByName(objwo)


ORACLE_PERIM_CONNECT = f"""
{oracle_cte('geo_lines', 'geo_sites', 'geo_areas', 'geo_zones', 'geo_points')},
endpts AS MATERIALIZED ({ENDPTS_SQL}),
edges AS MATERIALIZED ({AREA_EDGES_SQL}),
sites AS MATERIALIZED ({SITES_SQL}),
endc AS (SELECT *, {oracle_point_cell('px', 'py', CELL)} FROM endpts),
{oracle_seg_cells('edges', 'edgec', CELL)},
hits AS MATERIALIZED (
  SELECT DISTINCT p.line_id, p.which, p.px, p.py, e.aid
  FROM endc p JOIN edgec e ON p.cellx = e.cellx AND p.celly = e.celly
  WHERE {_on_seg('p.px', 'p.py', 'e.ax', 'e.ay', 'e.bx', 'e.by')}
),
nodes AS (
  SELECT px, py, aid, COUNT(DISTINCT line_id) AS nl, MIN(line_id) AS lid
  FROM hits WHERE which = 0 GROUP BY px, py, aid
),
pin AS MATERIALIZED (
  SELECT z.zone_id,
         SUM(CASE WHEN p.fcode = 'AL015' THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN p.fcode = 'GB005' THEN 1 ELSE 0 END) AS n3
  FROM geo_points p
  JOIN geo_zones z
    ON p.lon >= LEAST(z.x1, z.x2, z.x3) AND p.lon <= GREATEST(z.x1, z.x2, z.x3)
   AND p.lat >= LEAST(z.y1, z.y2, z.y3) AND p.lat <= GREATEST(z.y1, z.y2, z.y3)
  WHERE {sql_ray3('p.lon', 'p.lat', tri='z.')}
  GROUP BY z.zone_id
)
SELECT lid AS id1, aid AS id2, 'LLAINT' AS errtype,
       CAST(floor(py * 1000000.0) AS BIGINT) AS ann
FROM nodes WHERE nl >= 2
UNION ALL
SELECT DISTINCT h.line_id, h.aid, 'L_NOTL_AINT',
       CAST(floor(h.py * 1000000.0) AS BIGINT)
FROM hits h
JOIN (SELECT DISTINCT ux, uy FROM sites) s
  ON CAST(floor(h.px * 1000000.0) AS BIGINT) = s.ux
 AND CAST(floor(h.py * 1000000.0) AS BIGINT) = s.uy
WHERE h.which = 0
UNION ALL
SELECT a.area_id, CAST(-1 AS BIGINT), 'NOCOINCIDE', CAST(0 AS BIGINT)
FROM geo_areas a
WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.aid = a.area_id)
UNION ALL
SELECT CAST(zone_id AS BIGINT), CAST(-1 AS BIGINT), 'OBJ_WO_TWO',
       CAST(n2 AS BIGINT)
FROM pin WHERE n2 >= 1 AND n3 = 0
"""

QUERIES = {
    "geo_end_connect_checks": q_end_connect_checks,
    "geo_perimeter_connect_checks": q_perimeter_connect_checks,
}

ORACLES = {
    "geo_end_connect_checks": ORACLE_END_CONNECT,
    "geo_perimeter_connect_checks": ORACLE_PERIM_CONNECT,
}
