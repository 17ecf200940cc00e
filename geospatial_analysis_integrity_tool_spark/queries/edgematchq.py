"""Edge-match variants (SURVEY.md §2.3 boundary row, completing the family):

* ``geo_edge_match_attr``  — attribute edge matching (PerformAttrEdgeMatchChecks
  geomchecks.c:1064): endpoints that DO match geometrically across the
  meridian but disagree on their feature code (LE_A_UNM/_ATTR_A family).
* ``geo_edge_match_range`` — range-limited edge matching
  (PerformRangeLimitedEdgeMatchChecks geomchecks.c:31304): the unmatched
  check applied only inside a latitude window; ends outside the window are
  exempt.

Both run on the geo_edges fixture (west ends at the 12E meridian, east
counterparts across it; every 3rd absent, every 5th displaced).  Feature
codes are derived from eid residues with a planted disagreement every 11th
edge.  The banded k-ring join along the meridian is the same cross-tile
equi-join shape as geo_edge_match_unmatched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m
from ..sources.synthetic import oracle_cte

EDGE_TOL_M = 1.0
RANGE_LAT_LO = 41.0
RANGE_LAT_HI = 43.0

# west-side feature code (by edge id)
_FC_W = (
    "CASE CAST(eid % 4 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030'"
    " WHEN 2 THEN 'BH140' ELSE 'AN010' END"
)
# east-side code: same vocabulary, rotated for every 11th edge (planted
# attribute disagreement on an otherwise-perfect geometric match)
_FC_E = (
    "CASE WHEN eid % 11 = 0 THEN"
    " CASE CAST(eid % 4 AS INT) WHEN 0 THEN 'AT030' WHEN 1 THEN 'BH140'"
    " WHEN 2 THEN 'AN010' ELSE 'AP030' END"
    " ELSE "
    "CASE CAST(eid % 4 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030'"
    " WHEN 2 THEN 'BH140' ELSE 'AN010' END END"
)

_BAND = 0.0001  # ~11 m bands along the meridian


def _sides(spark: SparkSession):
    edges = spark.table("geo_edges")
    west = edges.selectExpr(
        "eid", "xa AS px", "ya AS py", f"{_FC_W} AS fcode_w"
    )
    east = edges.filter(F.col("xb").isNotNull()).selectExpr(
        "eid AS eid_b", "xb AS qx", "yb AS qy",
        _FC_E.replace("eid", "eid") + " AS fcode_e",
    )
    return west, east


def _banded_pairs(west: DataFrame, east: DataFrame) -> DataFrame:
    w = west.withColumn("band", F.floor(F.col("py") / _BAND))
    e = east.withColumn("band0", F.floor(F.col("qy") / _BAND))
    e = e.withColumn(
        "band", F.explode(F.expr("array(band0 - 1, band0, band0 + 1)"))
    ).drop("band0")
    d = F.expr(sql_dist_m("px", "py", "qx", "qy"))
    return w.join(e, "band").withColumn("_d", d).filter(F.col("_d") < EDGE_TOL_M)


def q_edge_match_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    west, east = _sides(spark)
    return (
        _banded_pairs(west, east)
        .filter(F.col("fcode_w") != F.col("fcode_e"))
        .select("eid", "eid_b", "fcode_w", "fcode_e")
        .dropDuplicates(["eid", "eid_b"])
    )


_EM_D = sql_dist_m("a.xa", "a.ya", "b.xb", "b.yb")

ORACLE_EDGE_MATCH_ATTR = f"""
{oracle_cte('geo_edges')},
west AS (SELECT eid, xa, ya, {_FC_W} AS fcode_w FROM geo_edges),
east AS (SELECT eid AS eid_b, xb, yb, {_FC_E} AS fcode_e
         FROM geo_edges WHERE xb IS NOT NULL)
SELECT DISTINCT a.eid, b.eid_b, a.fcode_w, b.fcode_e
FROM (SELECT eid, xa, ya, fcode_w FROM west) a
JOIN (SELECT eid_b, xb, yb, fcode_e FROM east) b
  ON b.yb BETWEEN a.ya - 0.001 AND a.ya + 0.001
WHERE {_EM_D} < {EDGE_TOL_M} AND a.fcode_w <> b.fcode_e
"""


def q_edge_match_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    west, east = _sides(spark)
    in_range = west.filter(
        (F.col("py") >= RANGE_LAT_LO) & (F.col("py") < RANGE_LAT_HI)
    )
    matched = _banded_pairs(in_range, east).select("eid").distinct()
    return in_range.join(matched, "eid", "left_anti").select(
        "eid", F.expr("CAST(floor(py * 10000.0) AS BIGINT)").alias("band_key")
    )


ORACLE_EDGE_MATCH_RANGE = f"""
{oracle_cte('geo_edges')}
SELECT a.eid, CAST(floor(a.ya * 10000.0) AS BIGINT) AS band_key
FROM geo_edges a
WHERE a.ya >= {RANGE_LAT_LO} AND a.ya < {RANGE_LAT_HI}
  AND NOT EXISTS (
    SELECT 1 FROM geo_edges b
    WHERE b.xb IS NOT NULL
      AND b.yb BETWEEN a.ya - 0.001 AND a.ya + 0.001
      AND {_EM_D} < {EDGE_TOL_M}
)
"""

QUERIES = {
    "geo_edge_match_attr": q_edge_match_attr,
    "geo_edge_match_range": q_edge_match_range,
}

ORACLES = {
    "geo_edge_match_attr": ORACLE_EDGE_MATCH_ATTR,
    "geo_edge_match_range": ORACLE_EDGE_MATCH_RANGE,
}
