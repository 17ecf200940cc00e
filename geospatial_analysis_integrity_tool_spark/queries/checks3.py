"""Third wave of check families:

* conditions_pipeline_scalable — the two-phase (per-cell rank + offsets)
  ordinal numbering gated against a single-window SQL oracle: both must
  realize the identical (cell, magnitude, sedrisid) region-major total order
  (GAIT numbers conditions in region-scan order, errors.c:12480).
* geo_points_without_zone — OBJECTWITHOUT 65 (feature lacking a required
  containing areal): anti-join of the PIP join result against the point set.
* geo_zvalue_checks — z-value group: ELEV range violations + 2-D sentinel
  accounting (MY2DSENTINEL 1.3070057, GAIT_API.h:32; IsSentinelZvalue
  TT.c:1589).
* geo_edge_suppression — ConditionOnDataEdge (geomchecks.c:540): conditions
  whose anchor touches the data-cell edge (here: within tolerance of a
  quarter-degree boundary, PointOnQuarterDegreeBoundary TT.c:1400) are
  suppressed from the report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conditions import consolidate_scalable
from ..operators.checks_single import single_feature_checks
from ..operators.pip import pip_join, sql_side
from ..sources.synthetic import oracle_cte, register_geo_views
from .conditionspipe import TOL, _CELL

# --- conditions_pipeline_scalable ---------------------------------------------


def q_conditions_pipeline_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    lines = spark.table("geo_lines").selectExpr(
        "line_id * 10 + 2 AS feature_id",
        "fcode",
        "CAST(2 AS INT) AS geom_type",
        "array(x1, x2, x3) AS xs",
        "array(y1, y2, y3) AS ys",
        f"{_CELL} AS cell",
    )
    conds = single_feature_checks(lines, TOL)
    cells = lines.select("feature_id", "cell")
    conds = conds.join(cells, "feature_id").select(
        "errtype",
        F.lit(1).alias("instance"),
        F.lit(0).cast("bigint").alias("cond_num"),
        "magnitude_mm",
        F.expr("CAST(feature_id AS STRING)").alias("sedrisid"),
        "cell",
    )
    return consolidate_scalable(
        conds, cell_col="cell", order_keys=["magnitude_mm", "sedrisid"], dedup=False
    ).select("errtype", "instance", "cond_num", "magnitude_mm", "sedrisid", "cell")


def _line_stats_sql() -> str:
    from ..functions.geodesy import sql_dist_m

    d01 = sql_dist_m("x1", "y1", "x2", "y2")
    d12 = sql_dist_m("x2", "y2", "x3", "y3")
    return f"""
  SELECT line_id * 10 + 2 AS feature_id, {_CELL} AS cell,
         LEAST({d01}, {d12}) AS min_edge,
         ({d01} + {d12}) AS total_len
  FROM geo_lines
"""


ORACLE_PIPELINE_SCALABLE = f"""
{oracle_cte('geo_lines')},
line_stats AS ({_line_stats_sql()}),
raw AS (
  SELECT 'SEGLEN' AS errtype, CAST(floor(min_edge * 1000.0) AS BIGINT) AS magnitude_mm,
         CAST(feature_id AS STRING) AS sedrisid, cell
  FROM line_stats WHERE min_edge < {TOL.seglen_m} AND min_edge > 0
  UNION ALL
  SELECT 'SHORTFEAT', CAST(floor(total_len * 1000.0) AS BIGINT),
         CAST(feature_id AS STRING), cell
  FROM line_stats WHERE total_len < {TOL.shortfeat_m}
  UNION ALL
  SELECT 'LONGFEAT', CAST(floor(total_len * 1000.0) AS BIGINT),
         CAST(feature_id AS STRING), cell
  FROM line_stats WHERE total_len > {TOL.longfeat_m}
)
SELECT errtype, 1 AS instance,
       CAST(row_number() OVER (PARTITION BY errtype
            ORDER BY cell, magnitude_mm, sedrisid) AS BIGINT) AS cond_num,
       magnitude_mm, sedrisid, cell
FROM raw
"""


# --- geo_points_without_zone (OBJECTWITHOUT 65) -------------------------------
def q_points_without_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    points = spark.table("geo_points")
    zones = spark.table("geo_zones").select(
        F.col("zone_id"),
        F.array("x1", "x2", "x3").alias("xs"),
        F.array("y1", "y2", "y3").alias("ys"),
    )
    inside = pip_join(points, zones, point_id="point_id", poly_id="zone_id").select(
        "point_id"
    )
    return points.join(inside, "point_id", "left_anti").select("point_id", "fcode")


_D1 = sql_side(("p.lon", "p.lat"), ("z.x1", "z.y1"), ("z.x2", "z.y2"))
_D2 = sql_side(("p.lon", "p.lat"), ("z.x2", "z.y2"), ("z.x3", "z.y3"))
_D3 = sql_side(("p.lon", "p.lat"), ("z.x3", "z.y3"), ("z.x1", "z.y1"))

ORACLE_POINTS_WITHOUT = f"""
{oracle_cte('geo_points', 'geo_zones')}
SELECT p.point_id AS point_id, p.fcode AS fcode
FROM geo_points p
WHERE NOT EXISTS (
  SELECT 1 FROM geo_zones z
  WHERE ({_D1} > 0 AND {_D2} > 0 AND {_D3} > 0)
     OR ({_D1} < 0 AND {_D2} < 0 AND {_D3} < 0)
)
"""


# --- geo_zvalue_checks --------------------------------------------------------
# z synthesized in shared text: every 6th point is 2-D (sentinel), every 23rd
# has an out-of-range elevation
_Z_EXPR = (
    "CASE WHEN point_id % 6 = 0 THEN 1.3070057"
    " WHEN point_id % 23 = 0 THEN 9500.0 + CAST(point_id % 100 AS DOUBLE)"
    " ELSE CAST((point_id * 131) % 4000 AS DOUBLE) END"
)
ELEV_MAX = 9000.0


def q_zvalue_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    pts = spark.table("geo_points").selectExpr("point_id", f"{_Z_EXPR} AS z")
    # sentinel features are 2-D: exempt from elevation checks (TT.c:1589)
    return (
        pts.filter(F.expr("z <> 1.3070057"))
        .filter(F.col("z") > ELEV_MAX)
        .selectExpr(
            "point_id",
            "'ELEVGT' AS errtype",
            "CAST(floor(z * 1000.0) AS BIGINT) AS magnitude_mm",
        )
    )


ORACLE_ZVALUE = f"""
{oracle_cte('geo_points')},
pts AS (SELECT point_id, {_Z_EXPR} AS z FROM geo_points)
SELECT point_id, 'ELEVGT' AS errtype,
       CAST(floor(z * 1000.0) AS BIGINT) AS magnitude_mm
FROM pts WHERE z <> 1.3070057 AND z > {ELEV_MAX}
"""


# --- geo_edge_suppression -----------------------------------------------------
# quarter-degree boundary test: fractional part of 4*coord within eps of an
# integer (PointOnQuarterDegreeBoundary TT.c:1400 semantics, eps in degrees)
_EPS4 = 0.0004  # ~11 m at the equator, in quarter-degree units


def _on_qtr(expr: str) -> str:
    frac = f"(({expr}) * 4.0 - floor(({expr}) * 4.0))"
    return f"({frac} < {_EPS4} OR {frac} > 1.0 - {_EPS4})"


def q_edge_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undershoot conditions whose end node touches a quarter-degree cell
    edge are suppressed (ConditionOnDataEdge, geomchecks.c:540-1060)."""
    register_geo_views(spark, sf_dir)
    lines = spark.table("geo_lines")
    from ..operators.proximity import point_to_segment_proximity

    ends = lines.select(
        F.col("line_id").alias("src_id"),
        F.col("x3").alias("px"),
        F.col("y3").alias("py"),
    )
    segs = lines.select(
        F.col("line_id").alias("tgt_id"),
        F.col("x1").alias("ax"),
        F.col("y1").alias("ay"),
        F.col("x2").alias("bx"),
        F.col("y2").alias("by"),
    )
    conds = point_to_segment_proximity(ends, segs, tol_m=3.0).filter(
        F.col("src_id") != F.col("tgt_id")
    )
    anchors = lines.select(
        F.col("line_id").alias("src_id"), F.col("x3").alias("_ax3"), F.col("y3").alias("_ay3")
    )
    return (
        conds.join(anchors, "src_id")
        .filter(~F.expr(_on_qtr("_ax3")) & ~F.expr(_on_qtr("_ay3")))
        .select("src_id", "tgt_id", "dist_mm")
    )


def _ush_d() -> str:
    from ..functions.geodesy import sql_point_seg_dist_m

    return sql_point_seg_dist_m("a.x3", "a.y3", "b.x1", "b.y1", "b.x2", "b.y2")


ORACLE_EDGE_SUPPRESSION = f"""
{oracle_cte('geo_lines')}
SELECT a.line_id AS src_id, b.line_id AS tgt_id,
       CAST(floor({_ush_d()} * 1000.0) AS BIGINT) AS dist_mm
FROM geo_lines a JOIN geo_lines b
  ON a.line_id <> b.line_id
 AND a.x3 BETWEEN b.x1 - 0.012 AND b.x1 + 0.012
 AND a.y3 BETWEEN b.y1 - 0.012 AND b.y1 + 0.012
WHERE {_ush_d()} > 0.0 AND {_ush_d()} < 3.0
  AND NOT {_on_qtr('a.x3')} AND NOT {_on_qtr('a.y3')}
"""


QUERIES = {
    "conditions_pipeline_scalable": q_conditions_pipeline_scalable,
    "geo_points_without_zone": q_points_without_zone,
    "geo_zvalue_checks": q_zvalue_checks,
    "geo_edge_suppression": q_edge_suppression,
}

ORACLES = {
    "conditions_pipeline_scalable": ORACLE_PIPELINE_SCALABLE,
    "geo_points_without_zone": ORACLE_POINTS_WITHOUT,
    "geo_zvalue_checks": ORACLE_ZVALUE,
    "geo_edge_suppression": ORACLE_EDGE_SUPPRESSION,
}
