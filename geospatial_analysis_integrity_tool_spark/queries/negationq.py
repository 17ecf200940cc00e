"""Negated-existence check family (SURVEY.md §2.3 "NO*/FAIL*" rows):

* ``geo_lines_no_intersection`` — LLNOINT 115 (PerformLinearRelatedChecks
  geomchecks.c:12715 negated family): line pairs whose bounding boxes
  overlap (they plausibly SHOULD meet) but that have no proper crossing.
  Anti-join of the bbox-cell candidate pairs against the crossing pairs —
  the negation scoped exactly like the positive check (same candidate
  generator), which is what keeps false positives bounded at scale.
* ``geo_inside_hole`` — AINSIDEHOLE 73 (AreaInsideArea geomchecks.c:31105 +
  hole rings share_linux.h:310-330): an areal lying entirely inside another
  areal's HOLE.  Even-odd parity of every vertex against the hole ring's
  edges; candidates via hole bbox cells.  Planted fixtures (tiny triangles
  centered in every 30th area's hole) since the prime lattice produces no
  organic cases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.intersections import line_intersections, vertices_to_lines
from ..operators.pip import explode_bbox_cells, sql_ray_edge, with_point_cell
from ..sources.synthetic import GEO_VIEWS, oracle_cte
from .vgeomq import CELL, ORACLE_LLINT_V, _E_EDGE

# --- geo_lines_no_intersection (LLNOINT 115) -----------------------------------

NOINT_CELL = 0.02  # whole-line bboxes are wider than segments; coarser cells


def q_lines_no_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.table("geo_vlines")
    lines = vertices_to_lines(v)
    bbox = v.groupBy("line_id").agg(
        F.min("x").alias("_minx"),
        F.max("x").alias("_maxx"),
        F.min("y").alias("_miny"),
        F.max("y").alias("_maxy"),
    )
    cells = explode_bbox_cells(bbox, "_minx", "_maxx", "_miny", "_maxy", NOINT_CELL)
    a = cells.select(
        "cell", F.col("line_id").alias("id_a"),
        F.col("_minx").alias("ax0"), F.col("_maxx").alias("ax1"),
        F.col("_miny").alias("ay0"), F.col("_maxy").alias("ay1"),
    )
    b = cells.select(
        "cell", F.col("line_id").alias("id_b"),
        F.col("_minx").alias("bx0"), F.col("_maxx").alias("bx1"),
        F.col("_miny").alias("by0"), F.col("_maxy").alias("by1"),
    )
    cand = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("ax0") <= F.col("bx1")) & (F.col("ax1") >= F.col("bx0"))
            & (F.col("ay0") <= F.col("by1")) & (F.col("ay1") >= F.col("by0"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    crossing = (
        line_intersections(lines, cell_deg=CELL)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.join(crossing, ["id_a", "id_b"], "left_anti")


ORACLE_LLNOINT = f"""
WITH llint AS ({ORACLE_LLINT_V}),
geo_vlines AS ({GEO_VIEWS['geo_vlines']}),
bbox AS (
  SELECT line_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM geo_vlines GROUP BY 1
),
cand AS (
  SELECT a.line_id AS id_a, b.line_id AS id_b
  FROM bbox a JOIN bbox b
    ON a.line_id < b.line_id
   AND a.mnx <= b.mxx AND a.mxx >= b.mnx
   AND a.mny <= b.mxy AND a.mxy >= b.mny
)
SELECT c.id_a, c.id_b FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM llint x WHERE x.id_a = c.id_a AND x.id_b = c.id_b
)
"""


# --- geo_inside_hole (AINSIDEHOLE 73) ------------------------------------------

# planted inner areas: a tiny triangle centered inside the hole of every
# 30th area (those areas are %6==0 so they carry a hole ring)
_AREAS_IH_SQL = """
SELECT area_id, ring, vidx, x, y FROM geo_vareas
UNION ALL
SELECT o_orderkey + 40000000 AS area_id, 0 AS ring, k AS vidx,
  CAST((o_orderkey * 719) % 3989 AS DOUBLE) / 1000.0 + 10.0
    + CAST(2 + (o_orderkey % 6) AS DOUBLE) / 1000.0
      * CASE WHEN k = 0 THEN 0.45 WHEN k = 1 THEN 0.55 ELSE 0.5 END AS x,
  CAST((o_orderkey * 523) % 3997 AS DOUBLE) / 1000.0 + 40.0
    + CAST(2 + ((o_orderkey * 5) % 7) AS DOUBLE) / 1000.0
      * CASE WHEN k < 2 THEN 0.6 ELSE 0.7 END AS y
FROM orders
CROSS JOIN (SELECT CAST(c_custkey AS BIGINT) AS k
            FROM customer WHERE c_custkey < 3) nums
WHERE (o_orderkey % 30) = 0
"""


def q_inside_hole(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vgeomq import _area_edges

    aug = spark.sql(_AREAS_IH_SQL)
    aug.createOrReplaceTempView("geo_vareas_ih")
    holes = aug.filter("ring = 1")
    holes.createOrReplaceTempView("geo_vareas_holes")
    hedges = _area_edges(spark, view="geo_vareas_holes").select(
        F.col("area_id").alias("hole_area_id"), "ex1", "ey1", "ex2", "ey2"
    )
    hbbox = holes.groupBy("area_id").agg(
        F.min("x").alias("_minx"), F.max("x").alias("_maxx"),
        F.min("y").alias("_miny"), F.max("y").alias("_maxy"),
    ).withColumnRenamed("area_id", "hole_area_id")
    hcells = explode_bbox_cells(hbbox, "_minx", "_maxx", "_miny", "_maxy", CELL)

    probes = aug.filter("ring = 0").select(
        F.col("area_id").alias("inner_id"), "vidx",
        F.col("x").alias("px"), F.col("y").alias("py"),
    )
    pcells = with_point_cell(probes, "px", "py", CELL)
    cand = (
        pcells.join(hcells, "cell")
        .filter(
            (F.col("px") >= F.col("_minx")) & (F.col("px") <= F.col("_maxx"))
            & (F.col("py") >= F.col("_miny")) & (F.col("py") <= F.col("_maxy"))
        )
        .filter(F.col("inner_id") != F.col("hole_area_id"))
        .select("inner_id", "vidx", "px", "py", "hole_area_id")
    )
    parity = (
        cand.join(hedges, "hole_area_id")
        .withColumn("_c", F.expr(sql_ray_edge("px", "py", "ex1", "ey1", "ex2", "ey2")))
        .groupBy("inner_id", "vidx", "hole_area_id")
        .agg(F.sum("_c").alias("_nc"))
        .filter(F.col("_nc") % 2 == 1)
    )
    nverts = aug.filter("ring = 0").groupBy("area_id").agg(
        F.count("*").alias("_nv")
    ).withColumnRenamed("area_id", "inner_id")
    return (
        parity.groupBy("inner_id", "hole_area_id")
        .agg(F.count("*").alias("_nin"))
        .join(nverts, "inner_id")
        .filter(F.col("_nin") == F.col("_nv"))
        .select("inner_id", "hole_area_id")
    )


ORACLE_INSIDE_HOLE = f"""
{oracle_cte('geo_vareas')},
aug AS MATERIALIZED ({_AREAS_IH_SQL}),
holes AS (SELECT * FROM aug WHERE ring = 1),
hn AS (SELECT area_id, COUNT(*) AS n FROM holes GROUP BY 1),
hedges AS (
  SELECT a.area_id AS hole_area_id, a.x AS ex1, a.y AS ey1, b.x AS ex2, b.y AS ey2
  FROM holes a
  JOIN hn ON hn.area_id = a.area_id
  JOIN holes b ON b.area_id = a.area_id AND b.vidx = (a.vidx + 1) % hn.n
),
hbbox AS (
  SELECT area_id AS hole_area_id,
         MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM holes GROUP BY 1
),
probes AS (
  SELECT area_id AS inner_id, vidx, x AS px, y AS py FROM aug WHERE ring = 0
),
cand AS (
  SELECT p.inner_id, p.vidx, p.px, p.py, h.hole_area_id
  FROM probes p JOIN hbbox h
    ON p.px >= h.mnx AND p.px <= h.mxx AND p.py >= h.mny AND p.py <= h.mxy
  WHERE p.inner_id <> h.hole_area_id
),
parity AS (
  SELECT c.inner_id, c.vidx, c.hole_area_id,
         SUM({sql_ray_edge('c.px', 'c.py', *_E_EDGE)}) AS nc
  FROM cand c JOIN hedges e ON e.hole_area_id = c.hole_area_id
  GROUP BY 1, 2, 3
),
nv AS (SELECT area_id AS inner_id, COUNT(*) AS nverts FROM aug WHERE ring = 0 GROUP BY 1)
SELECT p.inner_id, p.hole_area_id
FROM parity p
JOIN nv ON nv.inner_id = p.inner_id
WHERE p.nc % 2 = 1
GROUP BY p.inner_id, p.hole_area_id, nv.nverts
HAVING COUNT(*) = nv.nverts
"""

QUERIES = {
    "geo_lines_no_intersection": q_lines_no_intersection,
    "geo_inside_hole": q_inside_hole,
}

ORACLES = {
    "geo_lines_no_intersection": ORACLE_LLNOINT,
    "geo_inside_hole": ORACLE_INSIDE_HOLE,
}
