"""Overshoot + areal shared-edge checks (SURVEY.md §2.3 rows 6-7 completion).

* ``geo_overshoot`` — LOVERSHTL 30 (geomchecks.c:5266-10630 over/under
  family): a line CROSSES another feature close to one of its own end nodes
  — it was digitized slightly past the junction.  Composed from the
  segment-intersection join: crossings on a line's first/last segment whose
  intersection point lies within tolerance of that end node.  All the
  tolerance math happens in integer micro-degrees (Manhattan), so both
  engines decide identically.
* ``geo_area_shared_edges`` — SHAREPERIM 156 / DUPLICATESEG 155 for areals
  (TwoArealsShareEdge geomchecks.c:38624, edge lists :37932): canonicalized
  quantized ring edges shared by more than one areal.  The fixture plants
  duplicates (every 9th area gets a verbatim copy) since the organic lattice
  never repeats an edge exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.intersections import segment_intersections, segments_of_vertices
from ..sources.synthetic import GEO_VIEWS, oracle_cte
from .vgeomq import SEGCELL, ORACLE_LLINT_V

OVERSHOOT_UDEG = 500  # ~55 m Manhattan in integer micro-degrees


def q_overshoot(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.table("geo_vlines")
    x = segment_intersections(segments_of_vertices(v), cell_deg=SEGCELL)

    nv = v.groupBy("line_id").agg(F.count("*").alias("_n"))
    ends = (
        v.join(nv, "line_id")
        .filter((F.col("vidx") == 0) | (F.col("vidx") == F.col("_n") - 1))
        .selectExpr(
            "line_id",
            "CASE WHEN vidx = 0 THEN 0 ELSE 1 END AS end_which",
            "CASE WHEN vidx = 0 THEN 1 ELSE CAST(_n - 1 AS INT) END AS seg_end",
            "CAST(floor(x * 1000000.0) AS BIGINT) AS ex_udeg",
            "CAST(floor(y * 1000000.0) AS BIGINT) AS ey_udeg",
        )
    )
    near = (
        f"abs(ix_udeg - ex_udeg) + abs(iy_udeg - ey_udeg) < {OVERSHOOT_UDEG}"
    )
    a_side = (
        x.join(ends, (x["id_a"] == ends["line_id"]) & (x["seg_a"] == ends["seg_end"]))
        .filter(F.expr(near))
        .selectExpr("line_id", "id_b AS other_id", "end_which", "ix_udeg", "iy_udeg")
    )
    b_side = (
        x.join(ends, (x["id_b"] == ends["line_id"]) & (x["seg_b"] == ends["seg_end"]))
        .filter(F.expr(near))
        .selectExpr("line_id", "id_a AS other_id", "end_which", "ix_udeg", "iy_udeg")
    )
    return a_side.unionByName(b_side).dropDuplicates(
        ["line_id", "other_id", "end_which", "ix_udeg", "iy_udeg"]
    )


ORACLE_OVERSHOOT = f"""
WITH llint AS ({ORACLE_LLINT_V}),
geo_vlines AS ({GEO_VIEWS['geo_vlines']}),
nv AS (SELECT line_id, COUNT(*) AS n FROM geo_vlines GROUP BY 1),
ends AS (
  SELECT v.line_id,
         CASE WHEN v.vidx = 0 THEN 0 ELSE 1 END AS end_which,
         CASE WHEN v.vidx = 0 THEN 1 ELSE CAST(nv.n - 1 AS INT) END AS seg_end,
         CAST(floor(v.x * 1000000.0) AS BIGINT) AS ex_udeg,
         CAST(floor(v.y * 1000000.0) AS BIGINT) AS ey_udeg
  FROM geo_vlines v JOIN nv USING (line_id)
  WHERE v.vidx = 0 OR v.vidx = nv.n - 1
)
SELECT DISTINCT line_id, other_id, end_which, ix_udeg, iy_udeg FROM (
  SELECT e.line_id, x.id_b AS other_id, e.end_which, x.ix_udeg, x.iy_udeg
  FROM llint x JOIN ends e ON x.id_a = e.line_id AND x.seg_a = e.seg_end
  WHERE abs(x.ix_udeg - e.ex_udeg) + abs(x.iy_udeg - e.ey_udeg) < {OVERSHOOT_UDEG}
  UNION ALL
  SELECT e.line_id, x.id_a, e.end_which, x.ix_udeg, x.iy_udeg
  FROM llint x JOIN ends e ON x.id_b = e.line_id AND x.seg_b = e.seg_end
  WHERE abs(x.ix_udeg - e.ex_udeg) + abs(x.iy_udeg - e.ey_udeg) < {OVERSHOOT_UDEG}
) u
"""


# --- geo_area_shared_edges ------------------------------------------------------

# augmented areas: every 9th area gets a verbatim duplicate (area_id + 20M)
_AREAS_DUP_SQL = """
SELECT area_id, ring, vidx, x, y FROM geo_vareas
UNION ALL
SELECT area_id + 20000000, ring, vidx, x, y FROM geo_vareas WHERE area_id % 9 = 0
"""

_PT_KEY = "(CAST(floor({x} * 1000000.0) AS BIGINT) * 100000000 + CAST(floor({y} * 1000000.0) AS BIGINT))"


def q_area_shared_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = spark.sql(_AREAS_DUP_SQL)
    aug.createOrReplaceTempView("geo_vareas_dup")
    nv = aug.groupBy("area_id", "ring").agg(F.count("*").alias("_n"))
    w = aug.select(
        F.col("area_id").alias("_a2"),
        F.col("ring").alias("_r2"),
        F.col("vidx").alias("_widx"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    edges = (
        aug.join(nv, ["area_id", "ring"])
        .join(w, (F.col("_a2") == F.col("area_id")) & (F.col("_r2") == F.col("ring")))
        .filter(F.col("_widx") == (F.col("vidx") + 1) % F.col("_n"))
    )
    k1 = _PT_KEY.format(x="x", y="y")
    k2 = _PT_KEY.format(x="x2", y="y2")
    return (
        edges.selectExpr(
            "area_id",
            f"LEAST({k1}, {k2}) AS _ka",
            f"GREATEST({k1}, {k2}) AS _kb",
        )
        .selectExpr("area_id", "concat(CAST(_ka AS STRING), ':', CAST(_kb AS STRING)) AS edge_key")
        .groupBy("edge_key")
        .agg(
            F.countDistinct("area_id").alias("n_areas"),
            F.min("area_id").alias("first_area_id"),
        )
        .filter(F.col("n_areas") > 1)
    )


ORACLE_AREA_SHARED_EDGES = f"""
{oracle_cte('geo_vareas')},
aug AS MATERIALIZED ({_AREAS_DUP_SQL}),
nv AS (SELECT area_id, ring, COUNT(*) AS n FROM aug GROUP BY 1, 2),
edges AS (
  SELECT v.area_id,
         LEAST({_PT_KEY.format(x='v.x', y='v.y')}, {_PT_KEY.format(x='w.x', y='w.y')}) AS ka,
         GREATEST({_PT_KEY.format(x='v.x', y='v.y')}, {_PT_KEY.format(x='w.x', y='w.y')}) AS kb
  FROM aug v
  JOIN nv ON nv.area_id = v.area_id AND nv.ring = v.ring
  JOIN aug w ON w.area_id = v.area_id AND w.ring = v.ring
       AND w.vidx = (v.vidx + 1) % nv.n
)
SELECT CAST(ka AS STRING) || ':' || CAST(kb AS STRING) AS edge_key,
       CAST(COUNT(DISTINCT area_id) AS BIGINT) AS n_areas,
       MIN(area_id) AS first_area_id
FROM edges
GROUP BY 1 HAVING COUNT(DISTINCT area_id) > 1
"""

QUERIES = {
    "geo_overshoot": q_overshoot,
    "geo_area_shared_edges": q_area_shared_edges,
}

ORACLES = {
    "geo_overshoot": ORACLE_OVERSHOOT,
    "geo_area_shared_edges": ORACLE_AREA_SHARED_EDGES,
}
