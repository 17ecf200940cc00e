"""MGCP cell-packaging conventions (round-2 "missing #8", second half).

Reference: MGCPBatchPackageCheck (interface.c:48082) drives
TestMGCPPackaging (interface3.c:21279), which validates the folder listing
of a packaged MGCP cell:

* the CELLID grammar [E|W]ddd[N|S]dd with E in 0..179, W in 1..180,
  N in 0..89, S in 1..90 (interface3.c:21569-21600 digit/range tests);
* exactly ONE ``<CELLID>_Reports_subN.zip`` (duplicates and absence are
  distinct errors, interface3.c:21520-21552);
* the fixed report-file rosters: 3 summary files, 9 condreport.* files and
  27 attribution report files (interface3.c:21292-21336 string tables).

Spark shape: the expected-file roster broadcasts (39 literals); the package
listing is a synthesized long-form (package_id, filename) table with
planted violations; every check is a membership/count predicate.  The
oracle re-derives the identical listing closed-form, so the gate verifies
the convention logic, not the fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_PACKAGES = 60

SUMMARY_FILES = ["checkoptions.txt", "checksummary.txt", "contentsummary.txt"]
CONDREPORT_FILES = [
    "condreport.bo", "condreport.es", "condreport.es2", "condreport.lk",
    "condreport.lk2", "condreport.ns", "condreport.nt", "condreport.sm",
    "condreport.vr",
]
ATTR_FILES = [
    "badattr.txt", "badcase.txt", "badcoord.txt", "badfcode.txt",
    "badhole.txt", "badlen.txt", "badmgcpfilename.txt", "badshapes.txt",
    "badtype.txt", "blankattrval.txt", "blankattrval.csv", "blankG.txt",
    "DependencyErr.txt", "emptyshapes.txt", "ID_FormatErr.txt",
    "MetaDataErr.txt", "mgcpmixednull.txt", "MissingAttribute.txt",
    "nofcodecolumn.txt", "nullshp.txt", "PickListErr.txt",
    "ReqAttrNullValueErr.txt", "UnexpectedAttr.txt", "UnexpectedGeom.txt",
    "unkcolumn.txt", "unkcolumnG.txt", "ValueRangeErr.txt",
]
REQUIRED_FILES = SUMMARY_FILES + CONDREPORT_FILES + ATTR_FILES

# package metadata (shared closed form over an integer package id p):
# every 7th-with-remainder-3 package gets the out-of-range E180 cell id
_PKG_META = {
    "ew": "CASE WHEN (p % 2) = 0 THEN 'E' ELSE 'W' END",
    "lon_i": "CASE WHEN (p % 7) = 3 THEN 180 ELSE 1 + (p * 37) % 179 END",
    "ns": "CASE WHEN (p % 3) = 0 THEN 'N' ELSE 'S' END",
    "lat_i": "1 + (p * 13) % 89",
}
#: CELLID validity (interface3.c:21569-21600): hemisphere-dependent ranges
_CELL_OK = (
    "(((ew = 'E' AND lon_i BETWEEN 0 AND 179)"
    " OR (ew = 'W' AND lon_i BETWEEN 1 AND 180))"
    " AND ((ns = 'N' AND lat_i BETWEEN 0 AND 89)"
    " OR (ns = 'S' AND lat_i BETWEEN 1 AND 90)))"
)

# planted listing violations:
#   p % 11 = 5  -> checksummary.txt omitted       (MGCP_PKG_MISSING)
#   p % 13 = 4  -> second _Reports_sub zip added  (MGCP_PKG_MULTIREPORT)
#   p % 17 = 6  -> the reports zip omitted        (MGCP_PKG_NOREPORT)


def _packages_sql() -> str:
    m = _PKG_META
    return f"""
SELECT p, {m['ew']} AS ew, {m['lon_i']} AS lon_i,
       {m['ns']} AS ns, {m['lat_i']} AS lat_i
FROM (SELECT o_orderkey AS p FROM orders WHERE o_orderkey < {N_PACKAGES})
"""


def q_mgcp_package_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    pkgs = spark.sql(_packages_sql())
    required = spark.createDataFrame(
        [(f,) for f in REQUIRED_FILES], "filename string"
    )
    listing = (
        pkgs.crossJoin(F.broadcast(required))
        .filter(F.expr("NOT (p % 11 = 5 AND filename = 'checksummary.txt')"))
        .select("p", "filename")
        .unionByName(
            pkgs.filter("p % 17 <> 6").selectExpr(
                "p", "'CELL_Reports_sub1.zip' AS filename"
            )
        )
        .unionByName(
            pkgs.filter("p % 13 = 4").selectExpr(
                "p", "'CELL_Reports_sub2.zip' AS filename"
            )
        )
    )
    bad_cell = pkgs.filter(F.expr(f"NOT {_CELL_OK}")).selectExpr(
        "p AS package_id", "'MGCP_PKG_BADCELLID' AS errtype",
        "CAST(NULL AS STRING) AS filename",
    )
    present = listing.withColumn("_have", F.lit(1))
    missing = (
        pkgs.crossJoin(F.broadcast(required))
        .join(present, ["p", "filename"], "left_anti")
        .selectExpr(
            "p AS package_id", "'MGCP_PKG_MISSING' AS errtype", "filename"
        )
    )
    nrep = (
        listing.filter(F.expr("position('_Reports_sub' IN filename) > 0"))
        .groupBy("p")
        .agg(F.count("*").alias("_nr"))
    )
    rep = (
        pkgs.join(nrep, "p", "left")
        .withColumn("_nr", F.coalesce(F.col("_nr"), F.lit(0)))
        .withColumn(
            "errtype",
            F.expr(
                "CASE WHEN _nr = 0 THEN 'MGCP_PKG_NOREPORT'"
                " WHEN _nr > 1 THEN 'MGCP_PKG_MULTIREPORT' END"
            ),
        )
        .filter(F.col("errtype").isNotNull())
        .selectExpr("p AS package_id", "errtype", "CAST(NULL AS STRING) AS filename")
    )
    return bad_cell.unionByName(missing).unionByName(rep)


def _oracle() -> str:
    req = ", ".join(f"('{f}')" for f in REQUIRED_FILES)
    return f"""
WITH pkgs AS MATERIALIZED ({_packages_sql()}),
required AS (SELECT * FROM (VALUES {req}) t(filename)),
listing AS MATERIALIZED (
  SELECT p, filename FROM pkgs CROSS JOIN required
  WHERE NOT (p % 11 = 5 AND filename = 'checksummary.txt')
  UNION ALL
  SELECT p, 'CELL_Reports_sub1.zip' FROM pkgs WHERE p % 17 <> 6
  UNION ALL
  SELECT p, 'CELL_Reports_sub2.zip' FROM pkgs WHERE p % 13 = 4
)
SELECT p AS package_id, 'MGCP_PKG_BADCELLID' AS errtype,
       CAST(NULL AS VARCHAR) AS filename
FROM pkgs WHERE NOT {_CELL_OK}
UNION ALL
SELECT k.p, 'MGCP_PKG_MISSING', k.filename
FROM (SELECT p, filename FROM pkgs CROSS JOIN required) k
WHERE NOT EXISTS (
  SELECT 1 FROM listing l WHERE l.p = k.p AND l.filename = k.filename
)
UNION ALL
SELECT p, CASE WHEN nr = 0 THEN 'MGCP_PKG_NOREPORT'
               ELSE 'MGCP_PKG_MULTIREPORT' END,
       CAST(NULL AS VARCHAR)
FROM (
  SELECT g.p, COUNT(l.filename) AS nr
  FROM pkgs g LEFT JOIN listing l
    ON l.p = g.p AND position('_Reports_sub' IN l.filename) > 0
  GROUP BY 1
)
WHERE nr = 0 OR nr > 1
"""


QUERIES = {"mgcp_package_check": q_mgcp_package_check}
ORACLES = {"mgcp_package_check": _oracle()}
