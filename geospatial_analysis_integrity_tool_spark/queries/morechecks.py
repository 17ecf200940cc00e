"""Additional condition templates composed from the core joins:

* ``geo_multi_intersections`` — LLMULTINT 114: two lines crossing MORE than
  once (rollup of the crossing join per pair).
* ``geo_cross_away_from_nodes`` — LLNONODEINT 113: a crossing whose
  intersection point is far from every end node of both lines (junctions
  should be noded); integer micro-degree Manhattan tolerance.
* ``geo_isolated_areas`` — ISOLATEDA 116: areals that intersect NOTHING
  (anti-join against the overlap pairs on the same augmented set).
* ``geo_feat_length_checks`` — SHORTFEAT 4 / LONGFEAT 7: per-feature total
  length thresholds in GAIT's local equirectangular METERS frame
  (meters-per-degree-longitude = 111319.5 * cos(avg_lat), TT.c:4252-4264)
  with 3-decimal truncation (TT.c:709) — each segment length truncates to
  integer millimeters before the per-feature sum, so the sum is exact
  integer arithmetic (order-free across both engines) while the magnitude
  is the meters GAIT reports (per-segment-truncation error <= n_segs mm).
* ``geo_area_size_checks`` — SMALLAREA 3 / BIGAREA 5: outer-ring area in
  GAIT's frame (CalculateGeodeticCoordArea TT.c:4200): the shoelace sum is
  exact integer micro-degree^2, converted to m^2 by ONE deterministic
  multiply (mlon * mlat * 1e-12 / 2) at the ring's quantized average
  latitude, then 3-decimal-truncated.

Reference drivers: PerformLinearRelatedChecks geomchecks.c:12715 (LLINT
family), PerformArealRelatedChecks :39633 (ISOLATEDA), errors.c size-check
switch ~12470 (SHORTFEAT/LONGFEAT/SMALLAREA/BIGAREA).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_coslat_poly, sql_dist_m, sql_trunc3_mm
from ..operators.intersections import segment_intersections, segments_of_vertices
from ..sources.synthetic import GEO_VIEWS, oracle_cte
from .vgeomq import CELL, SEGCELL, ORACLE_LLINT_V

NODE_TOL_M = 33.0          # crossing counts as "at a node" within 33 m
                           # (GAIT local-frame meters, TT.c:4252-4264)
SHORTFEAT_MM = 250_000         # total length < 250 m (integer millimeters)
LONGFEAT_MM = 5_000_000        # total length > 5 km
SMALLAREA_MM2 = 46_000_000     # outer-ring area < 46,000 m^2 (milli-m^2)
BIGAREA_MM2 = 370_000_000      # outer-ring area > 370,000 m^2


# --- geo_multi_intersections (LLMULTINT 114) -----------------------------------


def q_multi_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = segment_intersections(
        segments_of_vertices(spark.table("geo_vlines")), cell_deg=CELL
    )
    return (
        x.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_crossings"))
        .filter(F.col("n_crossings") > 1)
    )


ORACLE_MULTI_INT = f"""
WITH llint AS ({ORACLE_LLINT_V})
SELECT id_a, id_b, COUNT(*) AS n_crossings
FROM llint GROUP BY 1, 2 HAVING COUNT(*) > 1
"""


# --- geo_cross_away_from_nodes (LLNONODEINT 113) -------------------------------


def q_cross_away_from_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.table("geo_vlines")
    x = segment_intersections(segments_of_vertices(v), cell_deg=SEGCELL)
    nv = v.groupBy("line_id").agg(F.count("*").alias("_n"))
    ends = (
        v.join(nv, "line_id")
        .filter((F.col("vidx") == 0) | (F.col("vidx") == F.col("_n") - 1))
        .selectExpr(
            "line_id",
            "CAST(floor(x * 1000000.0) AS BIGINT) AS ex",
            "CAST(floor(y * 1000000.0) AS BIGINT) AS ey",
        )
    )
    # meter-frame node distance (both engines evaluate the same text over
    # integer-derived doubles, so the decision is bit-identical)
    node_dist = sql_dist_m(
        "(CAST(ix_udeg AS DOUBLE) * 1e-6)", "(CAST(iy_udeg AS DOUBLE) * 1e-6)",
        "(CAST(ex AS DOUBLE) * 1e-6)", "(CAST(ey AS DOUBLE) * 1e-6)",
    )
    near_a = (
        x.join(ends, x["id_a"] == ends["line_id"])
        .filter(F.expr(f"{node_dist} < {NODE_TOL_M}"))
        .select("id_a", "id_b", "seg_a", "seg_b")
    )
    near_b = (
        x.join(ends, x["id_b"] == ends["line_id"])
        .filter(F.expr(f"{node_dist} < {NODE_TOL_M}"))
        .select("id_a", "id_b", "seg_a", "seg_b")
    )
    near = near_a.unionByName(near_b).dropDuplicates(
        ["id_a", "id_b", "seg_a", "seg_b"]
    )
    return x.join(near, ["id_a", "id_b", "seg_a", "seg_b"], "left_anti").select(
        "id_a", "id_b", "seg_a", "seg_b", "ix_udeg", "iy_udeg"
    )


ORACLE_NO_NODE_INT = f"""
WITH llint AS ({ORACLE_LLINT_V}),
geo_vlines AS ({GEO_VIEWS['geo_vlines']}),
nv AS (SELECT line_id, COUNT(*) AS n FROM geo_vlines GROUP BY 1),
ends AS (
  SELECT v.line_id,
         CAST(floor(v.x * 1000000.0) AS BIGINT) AS ex,
         CAST(floor(v.y * 1000000.0) AS BIGINT) AS ey
  FROM geo_vlines v JOIN nv USING (line_id)
  WHERE v.vidx = 0 OR v.vidx = nv.n - 1
)
SELECT x.id_a, x.id_b, x.seg_a, x.seg_b, x.ix_udeg, x.iy_udeg
FROM llint x
WHERE NOT EXISTS (
  SELECT 1 FROM ends e
  WHERE (e.line_id = x.id_a OR e.line_id = x.id_b)
    AND {sql_dist_m('(CAST(x.ix_udeg AS DOUBLE) * 1e-6)', '(CAST(x.iy_udeg AS DOUBLE) * 1e-6)',
                    '(CAST(e.ex AS DOUBLE) * 1e-6)', '(CAST(e.ey AS DOUBLE) * 1e-6)')} < {NODE_TOL_M}
)
"""


# --- geo_isolated_areas (ISOLATEDA 116) ----------------------------------------


def q_isolated_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vgeomq import q_area_overlap

    overlaps = q_area_overlap(spark, sf_dir)
    touched = (
        overlaps.select(F.col("id_a").alias("area_id"))
        .unionAll(overlaps.select(F.col("id_b").alias("area_id")))
        .distinct()
    )
    all_areas = spark.table("geo_vareas_ov").select("area_id").distinct()
    return all_areas.join(touched, "area_id", "left_anti")


def _isolated_oracle() -> str:
    from .vgeomq import ORACLE_AREA_OVERLAP_V, _AREAS_OV_SQL

    return f"""
WITH ov AS ({ORACLE_AREA_OVERLAP_V}),
{oracle_cte('geo_vareas').removeprefix('WITH ')},
aug AS ({_AREAS_OV_SQL}),
all_areas AS (SELECT DISTINCT area_id FROM aug)
SELECT a.area_id FROM all_areas a
WHERE NOT EXISTS (SELECT 1 FROM ov WHERE ov.id_a = a.area_id OR ov.id_b = a.area_id)
"""


# --- geo_feat_length_checks (SHORTFEAT 4 / LONGFEAT 7) -------------------------
#
# GAIT measures feature length in its local equirectangular meters frame
# (TT.c:4252-4264) and truncates magnitudes to 3 decimals (TT.c:709).  The
# dual-engine form truncates EACH segment to integer millimeters, then sums
# exact integers — order-free, so Spark's shuffled aggregation and DuckDB's
# scan order agree to the bit; the magnitude is GAIT's meters to within
# n_segs mm.

#: per-segment truncated length (mm) — shared SQL text, cols sax/say/sbx/sby
_SEG_MM = sql_trunc3_mm(sql_dist_m("sax", "say", "sbx", "sby"))


def q_feat_length_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = segments_of_vertices(spark.table("geo_vlines"))
    lengths = (
        segs.selectExpr("line_id", f"{_SEG_MM} AS seg_mm")
        .groupBy("line_id")
        .agg(F.sum("seg_mm").alias("len_mm"))
    )
    return (
        lengths.withColumn(
            "errtype",
            F.expr(
                f"CASE WHEN len_mm < {SHORTFEAT_MM} THEN 'SHORTFEAT'"
                f" WHEN len_mm > {LONGFEAT_MM} THEN 'LONGFEAT' END"
            ),
        )
        .filter(F.col("errtype").isNotNull())
        .selectExpr("line_id", "errtype", "CAST(len_mm AS BIGINT) AS len_mm")
    )


ORACLE_FEAT_LENGTH = f"""
{oracle_cte('geo_vlines')},
segs AS (
  SELECT a.line_id,
         a.x AS sax, a.y AS say, b.x AS sbx, b.y AS sby
  FROM geo_vlines a
  JOIN geo_vlines b ON a.line_id = b.line_id AND b.vidx = a.vidx + 1
),
lens AS (
  SELECT line_id, CAST(SUM({_SEG_MM}) AS BIGINT) AS len_mm FROM segs GROUP BY 1
)
SELECT line_id,
       CASE WHEN len_mm < {SHORTFEAT_MM} THEN 'SHORTFEAT'
            WHEN len_mm > {LONGFEAT_MM} THEN 'LONGFEAT' END AS errtype,
       len_mm
FROM lens
WHERE len_mm < {SHORTFEAT_MM} OR len_mm > {LONGFEAT_MM}
"""


# --- geo_feat_length_euclidean (SHORTFEAT/LONGFEAT, projected frame) -----------
#
# Under a projected coordinate system the reference's Distance() dispatches
# to planar EuclideanDistance (TT.c:7151/7128; Ctype() SEEIT_API.c:122), so
# the SEGLEN accumulation (TT.c:4252) runs in projected units.  Fixture:
# geo_vlines in GAIT native units (deg * 100000, TTformat.c:29926);
# thresholds in the same units (the 3-decimal truncation applies unchanged).

from ..functions.geodesy import sql_euclidean_dist

#: native-unit thresholds: ~250 m and ~5 km at the equator in deg*1e5 units
SHORTFEAT_EU_MU = 224_000
LONGFEAT_EU_MU = 4_492_000

_SEG_EU_MU = sql_trunc3_mm(
    sql_euclidean_dist(
        "sax * 100000.0", "say * 100000.0", "sbx * 100000.0", "sby * 100000.0"
    )
)


def q_feat_length_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = segments_of_vertices(spark.table("geo_vlines"))
    lengths = (
        segs.selectExpr("line_id", f"{_SEG_EU_MU} AS seg_mu")
        .groupBy("line_id")
        .agg(F.sum("seg_mu").alias("len_mu"))
    )
    return (
        lengths.withColumn(
            "errtype",
            F.expr(
                f"CASE WHEN len_mu < {SHORTFEAT_EU_MU} THEN 'SHORTFEAT'"
                f" WHEN len_mu > {LONGFEAT_EU_MU} THEN 'LONGFEAT' END"
            ),
        )
        .filter(F.col("errtype").isNotNull())
        .selectExpr("line_id", "errtype", "CAST(len_mu AS BIGINT) AS len_mu")
    )


ORACLE_FEAT_LENGTH_EU = f"""
{oracle_cte('geo_vlines')},
segs AS (
  SELECT a.line_id,
         a.x AS sax, a.y AS say, b.x AS sbx, b.y AS sby
  FROM geo_vlines a
  JOIN geo_vlines b ON a.line_id = b.line_id AND b.vidx = a.vidx + 1
),
lens AS (
  SELECT line_id, CAST(SUM({_SEG_EU_MU}) AS BIGINT) AS len_mu FROM segs GROUP BY 1
)
SELECT line_id,
       CASE WHEN len_mu < {SHORTFEAT_EU_MU} THEN 'SHORTFEAT'
            WHEN len_mu > {LONGFEAT_EU_MU} THEN 'LONGFEAT' END AS errtype,
       len_mu
FROM lens
WHERE len_mu < {SHORTFEAT_EU_MU} OR len_mu > {LONGFEAT_EU_MU}
"""


# --- geo_area_size_checks (SMALLAREA 3 / BIGAREA 5) ----------------------------


# ring's average latitude from exact integer micro-degree sums (order-free),
# then ONE deterministic multiply chain converts the exact integer shoelace
# (udeg^2) to m^2 in GAIT's frame: 0.5 * mlon * mlat * 1e-12
_AVG_LAT_SQL = (
    "CAST(SUM(CAST(floor(y * 1000000.0) AS BIGINT)) AS DOUBLE)"
    " / (COUNT(*) * 1000000.0)"
)
_AREA_M2_SQL = (
    "CAST(abs(area2_udeg2) AS DOUBLE)"
    f" * (111319.5 * {sql_coslat_poly('avg_lat')})"
    " * 111319.5 * 0.0000000000005"
)
_AREA_MM2_SQL = sql_trunc3_mm(_AREA_M2_SQL)


def q_area_size_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sensq import q_ring_winding

    winding = q_ring_winding(spark, sf_dir).filter("ring = 0")
    lat = (
        spark.table("geo_vareas")
        .filter("ring = 0")
        .groupBy("area_id")
        .agg(F.expr(_AVG_LAT_SQL).alias("avg_lat"))
    )
    return (
        winding.join(lat, "area_id")
        .withColumn("area_mm2", F.expr(_AREA_MM2_SQL))
        .withColumn(
            "errtype",
            F.expr(
                f"CASE WHEN area_mm2 < {SMALLAREA_MM2} THEN 'SMALLAREA'"
                f" WHEN area_mm2 > {BIGAREA_MM2} THEN 'BIGAREA' END"
            ),
        )
        .filter(F.col("errtype").isNotNull())
        .select("area_id", "errtype", "area_mm2")
    )


def _area_size_oracle() -> str:
    from .sensq import ORACLE_RING_WINDING

    return f"""
WITH winding AS ({ORACLE_RING_WINDING}),
{oracle_cte('geo_vareas').removeprefix('WITH ')},
lat AS (
  SELECT area_id, {_AVG_LAT_SQL} AS avg_lat
  FROM geo_vareas WHERE ring = 0 GROUP BY area_id
),
sized AS (
  SELECT w.area_id, {_AREA_MM2_SQL} AS area_mm2
  FROM winding w JOIN lat USING (area_id)
  WHERE w.ring = 0
)
SELECT area_id,
       CASE WHEN area_mm2 < {SMALLAREA_MM2} THEN 'SMALLAREA'
            WHEN area_mm2 > {BIGAREA_MM2} THEN 'BIGAREA' END AS errtype,
       area_mm2
FROM sized
WHERE area_mm2 < {SMALLAREA_MM2} OR area_mm2 > {BIGAREA_MM2}
"""


QUERIES = {
    "geo_multi_intersections": q_multi_intersections,
    "geo_cross_away_from_nodes": q_cross_away_from_nodes,
    "geo_isolated_areas": q_isolated_areas,
    "geo_feat_length_checks": q_feat_length_checks,
    "geo_feat_length_euclidean": q_feat_length_euclidean,
    "geo_area_size_checks": q_area_size_checks,
}

ORACLES = {
    "geo_multi_intersections": ORACLE_MULTI_INT,
    "geo_cross_away_from_nodes": ORACLE_NO_NODE_INT,
    "geo_isolated_areas": _isolated_oracle(),
    "geo_feat_length_checks": ORACLE_FEAT_LENGTH,
    "geo_feat_length_euclidean": ORACLE_FEAT_LENGTH_EU,
    "geo_area_size_checks": _area_size_oracle(),
}
