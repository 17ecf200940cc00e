"""Endpoint self-touch + region containment checks:

* ``geo_endpoint_self_touch`` — ENDPTINT 16 (TT.c single-feature sections):
  a line's END NODE lies within tolerance of one of its own NON-ADJACENT
  segments — the feature nearly closes on itself or re-touches its path.
  Join key = feature id (perfectly partitioned, like LOOPS); the exact
  point-to-segment distance is the shared equirectangular text both engines
  evaluate.
* ``geo_feat_outside`` — FEATOUTSIDE 70: a feature poking outside the
  declared region envelope (here the [10, 14) x [40, 44) working window —
  the planted long-segment tails escape it).  A pure filter over per-feature
  bbox aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_point_seg_dist_m, with_point_seg_dist_m
from ..operators.intersections import segments_of_vertices
from ..sources.synthetic import oracle_cte

SELF_TOUCH_TOL_M = 15.0
REGION = (10.0, 14.0, 40.0, 44.0)  # lon_min, lon_max, lat_min, lat_max

# --- geo_endpoint_self_touch (ENDPTINT 16) -------------------------------------


def q_endpoint_self_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.table("geo_vlines")
    segs = segments_of_vertices(v)
    nv = v.groupBy("line_id").agg(F.count("*").alias("_n"))
    ends = (
        v.join(nv, "line_id")
        .filter((F.col("vidx") == 0) | (F.col("vidx") == F.col("_n") - 1))
        .selectExpr(
            "line_id",
            "CASE WHEN vidx = 0 THEN 0 ELSE 1 END AS end_which",
            # segments adjacent to this end node (excluded from the test)
            "CASE WHEN vidx = 0 THEN 1 ELSE CAST(_n - 1 AS INT) END AS adj_seg",
            "x AS px",
            "y AS py",
        )
    )
    # The flat ~50 KB distance fragment overflows janino's 64 KB method limit
    # when inlined into the tolerance filter above this join (whole-stage
    # falls back to interpreted eval).  The staged-column twin computes the
    # identical IEEE-754 sequence through small per-alias projections, and
    # its rand(7) * 0.0 term keeps the filter from being re-inlined into the
    # join condition.  Oracle hash unchanged.
    staged = with_point_seg_dist_m(
        ends.join(segs, "line_id").filter(F.col("seg_idx") != F.col("adj_seg")),
        "px", "py", "sax", "say", "sbx", "sby",
    )
    return (
        staged.filter(F.col("_d") < SELF_TOUCH_TOL_M)
        .selectExpr(
            "line_id",
            "end_which",
            "seg_idx",
            "CAST(floor(_d * 1000.0) AS BIGINT) AS dist_mm",
        )
    )


_ST_D = sql_point_seg_dist_m("e.px", "e.py", "s.sax", "s.say", "s.sbx", "s.sby")

ORACLE_ENDPOINT_SELF_TOUCH = f"""
{oracle_cte('geo_vlines')},
nv AS (SELECT line_id, COUNT(*) AS n FROM geo_vlines GROUP BY 1),
segs AS (
  SELECT a.line_id, a.vidx + 1 AS seg_idx,
         a.x AS sax, a.y AS say, b.x AS sbx, b.y AS sby
  FROM geo_vlines a
  JOIN geo_vlines b ON a.line_id = b.line_id AND b.vidx = a.vidx + 1
),
ends AS (
  SELECT v.line_id,
         CASE WHEN v.vidx = 0 THEN 0 ELSE 1 END AS end_which,
         CASE WHEN v.vidx = 0 THEN 1 ELSE CAST(nv.n - 1 AS INT) END AS adj_seg,
         v.x AS px, v.y AS py
  FROM geo_vlines v JOIN nv USING (line_id)
  WHERE v.vidx = 0 OR v.vidx = nv.n - 1
)
SELECT e.line_id, e.end_which, s.seg_idx,
       CAST(floor(({_ST_D}) * 1000.0) AS BIGINT) AS dist_mm
FROM ends e JOIN segs s ON s.line_id = e.line_id
WHERE s.seg_idx <> e.adj_seg
  AND ({_ST_D}) < {SELF_TOUCH_TOL_M}
"""


# --- geo_feat_outside (FEATOUTSIDE 70) -----------------------------------------


def q_feat_outside(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.table("geo_vlines")
    bbox = v.groupBy("line_id").agg(
        F.min("x").alias("_mnx"), F.max("x").alias("_mxx"),
        F.min("y").alias("_mny"), F.max("y").alias("_mxy"),
    )
    x0, x1, y0, y1 = REGION
    return (
        bbox.filter(
            (F.col("_mnx") < x0) | (F.col("_mxx") >= x1)
            | (F.col("_mny") < y0) | (F.col("_mxy") >= y1)
        )
        .selectExpr(
            "line_id",
            "CAST(floor(_mxx * 1000000.0) AS BIGINT) AS max_x_udeg",
            "CAST(floor(_mxy * 1000000.0) AS BIGINT) AS max_y_udeg",
        )
    )


ORACLE_FEAT_OUTSIDE = f"""
{oracle_cte('geo_vlines')},
bbox AS (
  SELECT line_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM geo_vlines GROUP BY 1
)
SELECT line_id,
       CAST(floor(mxx * 1000000.0) AS BIGINT) AS max_x_udeg,
       CAST(floor(mxy * 1000000.0) AS BIGINT) AS max_y_udeg
FROM bbox
WHERE mnx < {REGION[0]} OR mxx >= {REGION[1]}
   OR mny < {REGION[2]} OR mxy >= {REGION[3]}
"""

QUERIES = {
    "geo_endpoint_self_touch": q_endpoint_self_touch,
    "geo_feat_outside": q_feat_outside,
}

ORACLES = {
    "geo_endpoint_self_touch": ORACLE_ENDPOINT_SELF_TOUCH,
    "geo_feat_outside": ORACLE_FEAT_OUTSIDE,
}
