"""Second wave of GAIT check families (SURVEY.md §2.3/§2.9 coverage):

* geo_duplicate_segments — canonicalized-edge hash groupBy (DUPLICATESEG 155,
  AddEdgeSegment/MatchAreaEdge geomchecks.c:37932/38163): explode segments,
  canonicalize endpoints, count parity.
* geo_dangles — NOENDCON 52-style: endpoint with no other feature endpoint
  within tolerance (negated-existence anti-join scoped by k-ring cells).
* geo_conflation_best_match — CONFLATE 161 (PerformConflationAnalyses
  moregeomchecks.c:3678): per feature of set A, the best-matching feature of
  set B within a search radius (distance join + window argmin).
* vvt_dependencies — VVTERR2WAY/3WAY 216/217 inter-attribute rules +
  ISF illegal-pair matrix (tds_illegals.c) as broadcast rule lookups.
* conditions_summary — WriteSummaryReport (interface.c:19527) rollup of the
  consolidated conditions table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conditions import summary_report
from ..functions.geodesy import sql_dist_m
from ..operators.pip import with_kring_cells, with_point_cell
from ..sources.synthetic import oracle_cte
from .conditionspipe import ORACLE_CONDITIONS_PIPELINE, q_conditions_pipeline

DANGLE_TOL_M = 5.0
CONFLATE_RADIUS_M = 10000.0


# --- geo_duplicate_segments (edge-hash) ---------------------------------------
_EDGE_KEY = (
    "md5(concat("
    "CAST(LEAST(CAST(floor(x1 * 1000000.0) AS BIGINT) * 100000000 + CAST(floor(y1 * 1000000.0) AS BIGINT),"
    "           CAST(floor(x2 * 1000000.0) AS BIGINT) * 100000000 + CAST(floor(y2 * 1000000.0) AS BIGINT)) AS STRING),"
    "':',"
    "CAST(GREATEST(CAST(floor(x1 * 1000000.0) AS BIGINT) * 100000000 + CAST(floor(y1 * 1000000.0) AS BIGINT),"
    "              CAST(floor(x2 * 1000000.0) AS BIGINT) * 100000000 + CAST(floor(y2 * 1000000.0) AS BIGINT)) AS STRING)))"
)


def q_duplicate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("geo_lines_dup")
        .select(F.expr(_EDGE_KEY).alias("edge_key"), "line_id")
        .groupBy("edge_key")
        .agg(F.count("*").alias("n_edges"), F.min("line_id").alias("first_line_id"))
        .filter(F.col("n_edges") > 1)
    )


ORACLE_DUP_SEGMENTS = f"""
{oracle_cte('geo_lines_dup')}
SELECT {_EDGE_KEY} AS edge_key, COUNT(*) AS n_edges, MIN(line_id) AS first_line_id
FROM geo_lines_dup
GROUP BY 1 HAVING COUNT(*) > 1
"""


# --- geo_dangles (NOENDCON) ---------------------------------------------------
def q_dangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = spark.table("geo_lines")
    starts = lines.select(
        "line_id", F.lit(0).alias("end_idx"), F.col("x1").alias("ex"), F.col("y1").alias("ey")
    )
    ends = lines.select(
        "line_id", F.lit(2).alias("end_idx"), F.col("x3").alias("ex"), F.col("y3").alias("ey")
    )
    endpoints = starts.unionByName(ends)
    cell_deg = 0.0001
    left = with_point_cell(endpoints, "ex", "ey", cell_deg)
    right = with_kring_cells(
        endpoints.select(
            F.col("line_id").alias("lid2"),
            F.col("ex").alias("qx"),
            F.col("ey").alias("qy"),
        ),
        "qx",
        "qy",
        cell_deg,
    )
    d = F.expr(sql_dist_m("ex", "ey", "qx", "qy"))
    connected = (
        left.join(right, "cell")
        .filter((F.col("line_id") != F.col("lid2")) & (d < F.lit(DANGLE_TOL_M)))
        .select("line_id", "end_idx")
        .distinct()
    )
    return endpoints.join(connected, ["line_id", "end_idx"], "left_anti").select(
        "line_id", "end_idx"
    )


_DG_D = sql_dist_m("a.ex", "a.ey", "b.qx", "b.qy")
ORACLE_DANGLES = f"""
{oracle_cte('geo_lines')},
endpoints AS (
  SELECT line_id, 0 AS end_idx, x1 AS ex, y1 AS ey FROM geo_lines
  UNION ALL
  SELECT line_id, 2, x3, y3 FROM geo_lines
)
SELECT a.line_id AS line_id, a.end_idx AS end_idx
FROM endpoints a
WHERE NOT EXISTS (
  SELECT 1 FROM (SELECT line_id AS lid2, ex AS qx, ey AS qy FROM endpoints) b
  WHERE b.lid2 <> a.line_id
    AND b.qx BETWEEN a.ex - 0.001 AND a.ex + 0.001
    AND b.qy BETWEEN a.ey - 0.001 AND a.ey + 0.001
    AND {_DG_D} < {DANGLE_TOL_M}
)
"""


# --- geo_conflation_best_match ------------------------------------------------
def q_conflation_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    sites = spark.table("geo_sites")
    lines = spark.table("geo_lines").select(
        "line_id", F.col("x1").alias("qx"), F.col("y1").alias("qy")
    )
    cell_deg = CONFLATE_RADIUS_M / (111319.5 * 0.7) * 1.001
    left = with_point_cell(sites, "lon", "lat", cell_deg)
    right = with_kring_cells(lines, "qx", "qy", cell_deg)
    d = F.expr(sql_dist_m("lon", "lat", "qx", "qy"))
    cands = (
        left.join(right, "cell")
        .withColumn("_d", d)
        .filter(F.col("_d") < F.lit(CONFLATE_RADIUS_M))
        .dropDuplicates(["site_id", "line_id"])
    )
    w = Window.partitionBy("site_id").orderBy(F.col("_d").asc(), F.col("line_id").asc())
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "site_id",
            F.col("line_id").alias("best_line_id"),
            F.expr("CAST(floor(_d * 1000.0) AS BIGINT)").alias("dist_mm"),
        )
    )


_CF_D = sql_dist_m("s.lon", "s.lat", "l.x1", "l.y1")
ORACLE_CONFLATION = f"""
{oracle_cte('geo_sites', 'geo_lines')},
cands AS (
  SELECT s.site_id, l.line_id, {_CF_D} AS d
  FROM geo_sites s JOIN geo_lines l
    ON l.x1 BETWEEN s.lon - 0.15 AND s.lon + 0.15
   AND l.y1 BETWEEN s.lat - 0.15 AND s.lat + 0.15
  WHERE {_CF_D} < {CONFLATE_RADIUS_M}
),
ranked AS (
  SELECT site_id, line_id, d,
         row_number() OVER (PARTITION BY site_id ORDER BY d, line_id) AS rk
  FROM cands
)
SELECT site_id, line_id AS best_line_id, CAST(floor(d * 1000.0) AS BIGINT) AS dist_mm
FROM ranked WHERE rk = 1
"""


# --- vvt_dependencies (VVTERR2WAY/3WAY + ISF pair matrix) ---------------------
_ATTR_BASE = """
  SELECT p_partkey AS feature_id, p_type AS typ, p_size AS siz,
         CASE WHEN p_partkey % 5 <> 0 THEN p_name END AS nam,
         CASE WHEN p_partkey % 7 = 0 THEN p_brand END AS brd
  FROM part
"""


def q_vvt_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = spark.sql(_ATTR_BASE)
    # VVTERR2WAY: PROMO parts must have siz <= 20
    v2 = base.filter((F.col("typ") == "PROMO") & (F.col("siz") > 20)).select(
        "feature_id", F.lit("VVTERR2WAY").alias("errtype"), F.lit("TYP~SIZ").alias("rule")
    )
    # VVTERR3WAY: ECONOMY parts with a brand must carry a name
    v3 = base.filter(
        (F.col("typ") == "ECONOMY") & F.col("brd").isNotNull() & F.col("nam").isNull()
    ).select(
        "feature_id", F.lit("VVTERR3WAY").alias("errtype"), F.lit("TYP~BRD~NAM").alias("rule")
    )
    # ISF illegal pair matrix: (typ, brd) combos marked 'e'
    isf = spark.createDataFrame(
        [("LARGE", "Brand#7", "e"), ("SMALL", "Brand#14", "e"), ("PROMO", "Brand#21", "e")],
        "typ string, brd string, code string",
    )
    v_isf = (
        base.join(F.broadcast(isf), ["typ", "brd"])
        .filter(F.col("code") == "e")
        .select(
            "feature_id", F.lit("ISF_PAIR").alias("errtype"), F.lit("TYP~BRD").alias("rule")
        )
    )
    return v2.unionByName(v3).unionByName(v_isf)


ORACLE_VVT = f"""
WITH base AS ({_ATTR_BASE})
SELECT feature_id, 'VVTERR2WAY' AS errtype, 'TYP~SIZ' AS rule
FROM base WHERE typ = 'PROMO' AND siz > 20
UNION ALL
SELECT feature_id, 'VVTERR3WAY', 'TYP~BRD~NAM'
FROM base WHERE typ = 'ECONOMY' AND brd IS NOT NULL AND nam IS NULL
UNION ALL
SELECT feature_id, 'ISF_PAIR', 'TYP~BRD'
FROM base
JOIN (VALUES ('LARGE', 'Brand#7'), ('SMALL', 'Brand#14'), ('PROMO', 'Brand#21'))
     AS isf(t, b) ON base.typ = isf.t AND base.brd = isf.b
"""


# --- conditions_summary -------------------------------------------------------
def q_conditions_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return summary_report(q_conditions_pipeline(spark, sf_dir))


ORACLE_CONDITIONS_SUMMARY = f"""
WITH pipeline AS ({ORACLE_CONDITIONS_PIPELINE})
SELECT errtype, instance, COUNT(*) AS n_conditions,
       MIN(magnitude_mm) AS min_magnitude_mm,
       MAX(magnitude_mm) AS max_magnitude_mm
FROM pipeline GROUP BY 1, 2
"""


QUERIES = {
    "geo_duplicate_segments": q_duplicate_segments,
    "geo_dangles": q_dangles,
    "geo_conflation_best_match": q_conflation_best_match,
    "vvt_dependencies": q_vvt_dependencies,
    "conditions_summary": q_conditions_summary,
}

ORACLES = {
    "geo_duplicate_segments": ORACLE_DUP_SEGMENTS,
    "geo_dangles": ORACLE_DANGLES,
    "geo_conflation_best_match": ORACLE_CONFLATION,
    "vvt_dependencies": ORACLE_VVT,
    "conditions_summary": ORACLE_CONDITIONS_SUMMARY,
}
