"""LSR (Local Space Rectangular) frame checks — coordinate system 14.

Reference: TTformat.c:28427's coordflag switch lists system 14 as
"LSR (Local Space Rectangular)" (interface4.c:16034 names the SEDRIS twins
SRM_SRFT_LOCAL_SPACE_RECT_3D/2D, flags 14/15).  GAIT applies NO earth
transform to LSR input: Ctype() (SEEIT_API.c:115) routes systems 14/15/16
into return-2 — the planar measurement frame — so every check runs on the
coordinates exactly as read, with Distance() dispatching to
EuclideanDistance (TT.c:7151/7128).  That is what these queries pin down:
an arbitrary local Cartesian frame (arbitrary origin + orientation — here
a fixed rotation + translation of the site/line layers into "plant
coordinates") flowing through the SAME check operators under
``frame="euclidean"``, untouched by any geodetic machinery.

Bit-exactness: the affine into the LSR frame is a shared SQL expression
(identical literal rotation constants, identical association) evaluated by
both engines; the planar distance is the shared ``sql_euclidean_dist``
text; per-segment/pair magnitudes truncate to integer units before any
reordered aggregation.

Spark shape: the affine is a scalar projection fused into the scan
(whole-stage codegen); proximity reuses the k-ring cell join with
tol-sized cells (operators/proximity.py:52) — at 100 TB the LSR path costs
exactly what the projected-frame path costs: nothing extra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_euclidean_dist, sql_trunc3_mm
from ..operators.intersections import segments_of_vertices
from ..operators.proximity import point_proximity_pairs
from ..sources.synthetic import oracle_cte

#: fixed LSR frame: rotate by 0.48 rad, then offset — constants are exact
#: double literals shared by both engines (repr of cos/sin(0.48))
_C = "0.8869949227792842"
_S = "0.4617791755414829"
_TX = "250000.0"
_TY = "-130000.0"


def _lsr_x(x: str, y: str) -> str:
    return f"(((({x}) * 100000.0) * {_C} - (({y}) * 100000.0) * {_S}) + {_TX})"


def _lsr_y(x: str, y: str) -> str:
    return f"(((({x}) * 100000.0) * {_S} + (({y}) * 100000.0) * {_C}) + {_TY})"


# --- lsr_prox_planar: PTPTPROX under LSR input (Ctype()==2 passthrough) --------

#: tolerance in LSR units — rotation is length-preserving, so this matches
#: the projected-frame variant's 40000-unit band
LSR_TOL_U = 40000.0

_LSR_SITES_SELECT = (
    "SELECT site_id, "
    f"{_lsr_x('lon', 'lat')} AS lx, {_lsr_y('lon', 'lat')} AS ly "
    "FROM geo_sites"
)


def q_lsr_prox_planar(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = spark.sql(_LSR_SITES_SELECT)
    return point_proximity_pairs(
        pts, id_col="site_id", lon="lx", lat="ly",
        tol_m=LSR_TOL_U, frame="euclidean",
    )


_LSR_D = sql_euclidean_dist("a.lx", "a.ly", "b.lx", "b.ly")
ORACLE_LSR_PROX = f"""
{oracle_cte('geo_sites')},
lsr AS ({_LSR_SITES_SELECT})
SELECT a.site_id AS id_a, b.site_id AS id_b,
       CAST(floor({_LSR_D} * 1000.0) AS BIGINT) AS dist_mm
FROM lsr a JOIN lsr b ON a.site_id < b.site_id
WHERE {_LSR_D} > 0.0 AND {_LSR_D} < {LSR_TOL_U}
"""


# --- lsr_feat_length_checks: SEGLEN accumulation in the LSR frame --------------

#: same native-unit thresholds as the projected-frame variant — the LSR
#: rotation preserves length, so SHORT/LONG classifications are frame-stable
SHORTFEAT_LSR_MU = 224_000
LONGFEAT_LSR_MU = 4_492_000

_SEG_LSR_MU = sql_trunc3_mm(
    sql_euclidean_dist(
        _lsr_x("sax", "say"), _lsr_y("sax", "say"),
        _lsr_x("sbx", "sby"), _lsr_y("sbx", "sby"),
    )
)


def q_lsr_feat_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = segments_of_vertices(spark.table("geo_vlines"))
    lengths = (
        segs.selectExpr("line_id", f"{_SEG_LSR_MU} AS seg_mu")
        .groupBy("line_id")
        .agg(F.sum("seg_mu").alias("len_mu"))
    )
    return (
        lengths.withColumn(
            "errtype",
            F.expr(
                f"CASE WHEN len_mu < {SHORTFEAT_LSR_MU} THEN 'SHORTFEAT'"
                f" WHEN len_mu > {LONGFEAT_LSR_MU} THEN 'LONGFEAT' END"
            ),
        )
        .filter(F.col("errtype").isNotNull())
        .selectExpr("line_id", "errtype", "CAST(len_mu AS BIGINT) AS len_mu")
    )


ORACLE_LSR_FEAT_LENGTH = f"""
{oracle_cte('geo_vlines')},
segs AS (
  SELECT a.line_id,
         a.x AS sax, a.y AS say, b.x AS sbx, b.y AS sby
  FROM geo_vlines a
  JOIN geo_vlines b ON a.line_id = b.line_id AND b.vidx = a.vidx + 1
),
lens AS (
  SELECT line_id, CAST(SUM({_SEG_LSR_MU}) AS BIGINT) AS len_mu FROM segs GROUP BY 1
)
SELECT line_id,
       CASE WHEN len_mu < {SHORTFEAT_LSR_MU} THEN 'SHORTFEAT'
            WHEN len_mu > {LONGFEAT_LSR_MU} THEN 'LONGFEAT' END AS errtype,
       len_mu
FROM lens
WHERE len_mu < {SHORTFEAT_LSR_MU} OR len_mu > {LONGFEAT_LSR_MU}
"""


QUERIES = {
    "lsr_prox_planar": q_lsr_prox_planar,
    "lsr_feat_length_checks": q_lsr_feat_length,
}

ORACLES = {
    "lsr_prox_planar": ORACLE_LSR_PROX,
    "lsr_feat_length_checks": ORACLE_LSR_FEAT_LENGTH,
}
