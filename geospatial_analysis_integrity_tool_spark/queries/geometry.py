"""Geospatial check queries (oracle-gated).

Each query runs the engine's Spark-native operator; each oracle is an
independent DuckDB SQL formulation of the same semantics over the same
bit-identical synthesized geometry (sources/synthetic.py).  Reference
semantics citations are on each function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m, sql_point_seg_dist_m
from ..operators.pip import pip_join, sql_side
from ..operators.proximity import point_proximity_pairs, point_to_segment_proximity
from ..sources.synthetic import oracle_cte, register_geo_views

PROX_TOL_M = 50000.0
UNDERSHOOT_TOL_M = 3.0


# --- geo_pip: point-in-polygon spatial hash join (PTINREGION 64) --------------
def q_geo_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PTINREGION (GAIT_API.h:317ff id 64): point inside typed areal.

    Engine: cell-cover equi-join + eastward ray-cast refine (TT.c:6920).
    """
    register_geo_views(spark, sf_dir)
    points = spark.table("geo_points")
    zones = spark.table("geo_zones").select(
        F.col("zone_id"),
        F.array("x1", "x2", "x3").alias("xs"),
        F.array("y1", "y2", "y3").alias("ys"),
    )
    out = pip_join(points, zones, point_id="point_id", poly_id="zone_id")
    return out.select("point_id", "zone_id", "fcode")


def q_geo_pip_gait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PTINREGION through the REFERENCE-EXACT PointInsidePoly kernel
    (functions/gait_parity.point_inside_poly_gait, the transcription fuzzed
    bit-for-bit against the compiled C in tests/test_ref_oracle_parity.py)
    instead of the half-open fast path — same oracle as geo_pip (the
    fixture keeps points off the boundary-degenerate set where only the
    tie-breaks differ), so the gate proves the reference kernel agrees at
    query scale."""
    register_geo_views(spark, sf_dir)
    points = spark.table("geo_points")
    zones = spark.table("geo_zones").select(
        F.col("zone_id"),
        F.array("x1", "x2", "x3").alias("xs"),
        F.array("y1", "y2", "y3").alias("ys"),
    )
    out = pip_join(
        points, zones, point_id="point_id", poly_id="zone_id", kernel="gait"
    )
    return out.select("point_id", "zone_id", "fcode")


_D1 = sql_side(("p.lon", "p.lat"), ("z.x1", "z.y1"), ("z.x2", "z.y2"))
_D2 = sql_side(("p.lon", "p.lat"), ("z.x2", "z.y2"), ("z.x3", "z.y3"))
_D3 = sql_side(("p.lon", "p.lat"), ("z.x3", "z.y3"), ("z.x1", "z.y1"))

ORACLE_GEO_PIP = f"""
{oracle_cte('geo_points', 'geo_zones')}
SELECT p.point_id AS point_id, z.zone_id AS zone_id, p.fcode AS fcode
FROM geo_points p, geo_zones z
WHERE ({_D1} > 0 AND {_D2} > 0 AND {_D3} > 0)
   OR ({_D1} < 0 AND {_D2} < 0 AND {_D3} < 0)
"""


# --- geo_prox_pairs: point-point proximity (PTPTPROX 95) ----------------------
def q_geo_prox_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PTPTPROX (GAIT_API.h id 95): two point features closer than tolerance.

    Engine: k-ring cell self-join, JVM-side exact distance (no UDF).
    """
    register_geo_views(spark, sf_dir)
    return point_proximity_pairs(
        spark.table("geo_sites"), id_col="site_id", tol_m=PROX_TOL_M
    )


ORACLE_GEO_PROX = f"""
{oracle_cte('geo_sites')}
SELECT a.site_id AS id_a, b.site_id AS id_b,
       CAST(floor({sql_dist_m('a.lon', 'a.lat', 'b.lon', 'b.lat')} * 1000.0) AS BIGINT) AS dist_mm
FROM geo_sites a JOIN geo_sites b ON a.site_id < b.site_id
WHERE {sql_dist_m('a.lon', 'a.lat', 'b.lon', 'b.lat')} > 0.0
  AND {sql_dist_m('a.lon', 'a.lat', 'b.lon', 'b.lat')} < {PROX_TOL_M}
"""


# --- geo_undershoot: dangling end near another line (LUNDERSHTL 29) -----------
def q_geo_undershoot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUNDERSHTL (geomchecks.c:6432-6753): line end node within (0, tol) of
    another line — OPENINT sensitivity (TT.c:13798 SensitivityCheck).
    """
    register_geo_views(spark, sf_dir)
    lines = spark.table("geo_lines")
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
    out = point_to_segment_proximity(ends, segs, tol_m=UNDERSHOOT_TOL_M)
    return out.filter(F.col("src_id") != F.col("tgt_id"))


_USH_D = sql_point_seg_dist_m("a.x3", "a.y3", "b.x1", "b.y1", "b.x2", "b.y2")
ORACLE_GEO_UNDERSHOOT = f"""
{oracle_cte('geo_lines')}
SELECT a.line_id AS src_id, b.line_id AS tgt_id,
       CAST(floor({_USH_D} * 1000.0) AS BIGINT) AS dist_mm
FROM geo_lines a JOIN geo_lines b
  ON a.line_id <> b.line_id
 AND a.x3 BETWEEN b.x1 - 0.012 AND b.x1 + 0.012
 AND a.y3 BETWEEN b.y1 - 0.012 AND b.y1 + 0.012
WHERE {_USH_D} > 0.0 AND {_USH_D} < {UNDERSHOOT_TOL_M}
"""


# --- geo_kink: sharp direction change at interior vertex (KINK 103) -----------
# Trig-free formulation: turn angle > 150 deg  <=>  dot(u, v) < 0 AND
# dot^2 > cos^2(30deg-complement) * |u|^2 |v|^2 with cos^2 = 0.75, computed in
# the poly-cos meter frame (FindAcuteAngleBetweenSegments moregeomchecks.c:1591).
def _kink_expr(prefix: str) -> str:
    from ..functions.geodesy import sql_coslat_poly

    mlon = f"(111319.5 * {sql_coslat_poly(f'{prefix}y2')})"
    ux = f"(({prefix}x2 - {prefix}x1) * {mlon})"
    uy = f"(({prefix}y2 - {prefix}y1) * 111319.5)"
    vx = f"(({prefix}x3 - {prefix}x2) * {mlon})"
    vy = f"(({prefix}y3 - {prefix}y2) * 111319.5)"
    dot = f"({ux} * {vx} + {uy} * {vy})"
    u2 = f"({ux} * {ux} + {uy} * {uy})"
    v2 = f"({vx} * {vx} + {vy} * {vy})"
    return f"({dot} < 0.0 AND {dot} * {dot} > 0.75 * {u2} * {v2})"


def q_geo_kink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KINK (TT.c:43064ff emission; angle kernel moregeomchecks.c:1591)."""
    register_geo_views(spark, sf_dir)
    return (
        spark.table("geo_lines")
        .filter(F.expr(_kink_expr("")))
        .select("line_id", "fcode")
    )


ORACLE_GEO_KINK = f"""
{oracle_cte('geo_lines')}
SELECT line_id AS line_id, fcode AS fcode
FROM geo_lines
WHERE {_kink_expr('')}
"""


# --- geo_dup_geom: duplicate geometry groups (G_DUPS 23) ----------------------
_SIG = (
    "md5(concat("
    "CAST(CAST(floor(x1 * 1000000.0) AS BIGINT) AS STRING), ':',"
    "CAST(CAST(floor(y1 * 1000000.0) AS BIGINT) AS STRING), ':',"
    "CAST(CAST(floor(x2 * 1000000.0) AS BIGINT) AS STRING), ':',"
    "CAST(CAST(floor(y2 * 1000000.0) AS BIGINT) AS STRING)))"
)


def q_geo_dup_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G_DUPS (errors.c:11267): features with identical vertex sequences.

    Engine: hash-groupBy on a canonical micro-degree geometry signature — the
    Spark replacement for GAIT's per-region O(n^2) duplicate scan (TT.c:45157).
    """
    register_geo_views(spark, sf_dir)
    return (
        spark.table("geo_lines_dup")
        .select(F.expr(_SIG).alias("geom_sig"), "line_id")
        .groupBy("geom_sig")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("line_id").alias("first_line_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


ORACLE_GEO_DUP = f"""
{oracle_cte('geo_lines_dup')}
SELECT {_SIG} AS geom_sig, COUNT(*) AS n_dups, MIN(line_id) AS first_line_id
FROM geo_lines_dup
GROUP BY 1
HAVING COUNT(*) > 1
"""


# --- geo_cell_histogram: per-cell feature counts (the skew detector input) ----
def q_geo_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell density histogram — the engine's analogue of GAIT's
    density-adaptive region sizing input (TTformat.c:28570-28612); feeds the
    hot-cell split planner (plans/partitioning.py)."""
    register_geo_views(spark, sf_dir)
    return (
        spark.table("geo_points")
        .select(
            F.expr("CAST(floor(lon / 4.0) AS BIGINT)").alias("cell_x"),
            F.expr("CAST(floor(lat / 4.0) AS BIGINT)").alias("cell_y"),
        )
        .groupBy("cell_x", "cell_y")
        .agg(F.count("*").alias("n_features"))
    )


ORACLE_GEO_HIST = f"""
{oracle_cte('geo_points')}
SELECT CAST(floor(lon / 4.0) AS BIGINT) AS cell_x,
       CAST(floor(lat / 4.0) AS BIGINT) AS cell_y,
       COUNT(*) AS n_features
FROM geo_points
GROUP BY 1, 2
"""


# --- geo_pip_salted: same semantics through the hot-cell salt plan ------------
def q_geo_pip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-identical to geo_pip but executed through cell_histogram ->
    salt_plan -> salted_join (north rule skew machinery); the shared oracle
    proves salting changes only the physical plan."""
    from ..operators.pip import pip_join_salted

    register_geo_views(spark, sf_dir)
    points = spark.table("geo_points")
    zones = spark.table("geo_zones").select(
        F.col("zone_id"),
        F.array("x1", "x2", "x3").alias("xs"),
        F.array("y1", "y2", "y3").alias("ys"),
    )
    # low target forces real salting on the densest cells even at sf0.01
    out = pip_join_salted(
        points, zones, point_id="point_id", poly_id="zone_id",
        target_rows_per_task=50,
    )
    return out.select("point_id", "zone_id", "fcode")


# --- geo_knn: k nearest neighbors per site ------------------------------------
KNN_K = 3
KNN_RADIUS_M = 100000.0


def q_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.proximity import knn_points

    register_geo_views(spark, sf_dir)
    return knn_points(
        spark.table("geo_sites"), k=KNN_K, radius_m=KNN_RADIUS_M, max_abs_lat_deg=44.1
    )


_KNN_D = sql_dist_m("a.lon", "a.lat", "b.lon", "b.lat")
ORACLE_GEO_KNN = f"""
{oracle_cte('geo_sites')},
cand AS (
  SELECT a.site_id AS site_id, b.site_id AS neighbor_id, {_KNN_D} AS d
  FROM geo_sites a JOIN geo_sites b ON a.site_id <> b.site_id
  WHERE {_KNN_D} < {KNN_RADIUS_M}
),
ranked AS (
  SELECT site_id, neighbor_id, d,
         row_number() OVER (PARTITION BY site_id ORDER BY d, neighbor_id) AS rank
  FROM cand
)
SELECT site_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(d * 1000.0) AS BIGINT) AS dist_mm
FROM ranked WHERE rank <= {KNN_K}
"""


# --- geo_prox_pairs_euclidean: PTPTPROX in the PROJECTED measurement frame -----
#
# The reference's Distance() switches to planar EuclideanDistance whenever
# the active coordinate system is projected (TT.c:7151 dispatch,
# EuclideanDistance TT.c:7128, Ctype() SEEIT_API.c:122) — tolerances then
# live in projected units, not equirect meters.  Fixture: the geo_sites
# layer mapped to GAIT-style native units (deg * 100000, the reference's own
# internal scaling, TTformat.c:29926); tolerance in the same units.  Engine:
# the identical k-ring cell join with meter-sized cells and the planar
# refine — proving the measurement-frame switch end-to-end, not just in the
# parity kernels.

EUCL_TOL_U = 40000.0


def q_geo_prox_pairs_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geo_views(spark, sf_dir)
    pts = spark.table("geo_sites").selectExpr(
        "site_id", "lon * 100000.0 AS px", "lat * 100000.0 AS py"
    )
    return point_proximity_pairs(
        pts, id_col="site_id", lon="px", lat="py",
        tol_m=EUCL_TOL_U, frame="euclidean",
    )


_EU_D = (
    "sqrt(((a.lon * 100000.0) - (b.lon * 100000.0))"
    " * ((a.lon * 100000.0) - (b.lon * 100000.0))"
    " + ((a.lat * 100000.0) - (b.lat * 100000.0))"
    " * ((a.lat * 100000.0) - (b.lat * 100000.0)))"
)
ORACLE_GEO_PROX_EUCLIDEAN = f"""
{oracle_cte('geo_sites')}
SELECT a.site_id AS id_a, b.site_id AS id_b,
       CAST(floor({_EU_D} * 1000.0) AS BIGINT) AS dist_mm
FROM geo_sites a JOIN geo_sites b ON a.site_id < b.site_id
WHERE {_EU_D} > 0.0 AND {_EU_D} < {EUCL_TOL_U}
"""


QUERIES = {
    "geo_pip": q_geo_pip,
    "geo_pip_gait": q_geo_pip_gait,
    "geo_pip_salted": q_geo_pip_salted,
    "geo_knn": q_geo_knn,
    "geo_prox_pairs": q_geo_prox_pairs,
    "geo_prox_pairs_euclidean": q_geo_prox_pairs_euclidean,
    "geo_undershoot": q_geo_undershoot,
    "geo_kink": q_geo_kink,
    "geo_dup_geom": q_geo_dup_geom,
    "geo_cell_histogram": q_geo_cell_histogram,
}

ORACLES = {
    "geo_pip": ORACLE_GEO_PIP,
    "geo_pip_gait": ORACLE_GEO_PIP,
    "geo_pip_salted": ORACLE_GEO_PIP,
    "geo_knn": ORACLE_GEO_KNN,
    "geo_prox_pairs": ORACLE_GEO_PROX,
    "geo_prox_pairs_euclidean": ORACLE_GEO_PROX_EUCLIDEAN,
    "geo_undershoot": ORACLE_GEO_UNDERSHOOT,
    "geo_kink": ORACLE_GEO_KINK,
    "geo_dup_geom": ORACLE_GEO_DUP,
    "geo_cell_histogram": ORACLE_GEO_HIST,
}
