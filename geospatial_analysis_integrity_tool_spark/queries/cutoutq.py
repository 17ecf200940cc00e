"""Cut-out, merge-failure, narrow-triangle, and areal-z checks.

Reference semantics (comment text errors.c:11440-11540):

* ``geo_cutout_checks`` — CUTOUT "simply identifies a cut-out of an area
  feature" and SMLCUTOUT (errors.c:11469 "small included area inner ring of
  area feature"): every inner ring, classed by its area in GAIT's local
  equirectangular frame (CalculateGeodeticCoordArea TT.c:4200, 3-decimal
  truncation TT.c:709).
* ``geo_failmerge_checks`` — FAILMERGEL (errors.c:11549 "line object that
  should be merged with connecting line") and FAILMERGEL2 ("... no
  accounting for metadata"): a node where EXACTLY two line ends of the same
  fcode meet — mergeable; FAILMERGEL additionally requires equal attributes,
  FAILMERGEL2 flags the attribute-blind remainder.
* ``geo_narrow_checks`` — NARROW (errors.c:11473 "narrow triangle"):
  relative altitude 2*area/longest_side^2 below threshold, meter frame.
* ``geo_areal_z_checks`` — NOT_FLAT (errors.c:11430 "area feature with
  surface that is not uniform elevation") and ZUNCLOSED (:11428 "area feat
  not closed in Z"): per-ring z statistics over a derived deterministic
  3-D decoration of the variable-vertex areal fixture.
* ``geo_hslope`` — HSLOPE (errors.c:11481 "high slope poly"): the exact
  plane through a triangle's three 3-D corners, slope percent
  sqrt(nx^2+ny^2)/|nz|*100 above tolerance (meter frame).

Spark-first shape: windows + hash groupBys on ring/node keys; the plane fit
is a closed-form per-row expression (no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_coslat_poly, sql_trunc3_mm
from ..sources.synthetic import GEO_VIEWS, oracle_cte

SMLCUTOUT_MM2 = 15_000_000   # inner ring below 15,000 m^2 -> SMLCUTOUT
NARROW_PPM = 50_000          # 2*area/L^2 below 0.05 (integer ppm)
HSLOPE_PCT = 30.0            # plane slope above 30 percent


# --- geo_cutout_checks (CUTOUT / SMLCUTOUT) -------------------------------------

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


def q_cutout_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sensq import q_ring_winding

    holes = q_ring_winding(spark, sf_dir).filter("ring = 1")
    lat = (
        spark.table("geo_vareas")
        .filter("ring = 1")
        .groupBy("area_id")
        .agg(F.expr(_AVG_LAT_SQL).alias("avg_lat"))
    )
    return (
        holes.join(lat, "area_id")
        .withColumn("area_mm2", F.expr(_AREA_MM2_SQL))
        .selectExpr(
            "area_id",
            f"CASE WHEN area_mm2 < {SMLCUTOUT_MM2} THEN 'SMLCUTOUT'"
            " ELSE 'CUTOUT' END AS errtype",
            "area_mm2",
        )
    )


def _cutout_oracle() -> str:
    from .sensq import ORACLE_RING_WINDING

    return f"""
WITH winding AS ({ORACLE_RING_WINDING.strip()}),
geo_vareas2 AS ({GEO_VIEWS['geo_vareas']}),
lat AS (
  SELECT area_id, {_AVG_LAT_SQL} AS avg_lat
  FROM geo_vareas2 WHERE ring = 1 GROUP BY 1
),
holes AS (
  SELECT w.area_id, {_AREA_MM2_SQL} AS area_mm2
  FROM winding w JOIN lat USING (area_id) WHERE w.ring = 1
)
SELECT area_id,
       CASE WHEN area_mm2 < {SMLCUTOUT_MM2} THEN 'SMLCUTOUT'
            ELSE 'CUTOUT' END AS errtype,
       area_mm2
FROM holes
"""


# --- geo_failmerge_checks (FAILMERGEL / FAILMERGEL2) ----------------------------


def q_failmerge_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        spark.table("geo_lines_dup")
        .filter("line_id % 13 < 2")
        .selectExpr(
            "line_id",
            "CAST(line_id % 7 AS INT) AS attr",
            "x1", "y1", "x2", "y2",
        )
    )
    ends = d.selectExpr(
        "line_id", "attr",
        "CAST(floor(x1 * 1000000.0) AS BIGINT) AS nx",
        "CAST(floor(y1 * 1000000.0) AS BIGINT) AS ny",
    ).unionByName(
        d.selectExpr(
            "line_id", "attr",
            "CAST(floor(x2 * 1000000.0) AS BIGINT) AS nx",
            "CAST(floor(y2 * 1000000.0) AS BIGINT) AS ny",
        )
    )
    two = (
        ends.groupBy("nx", "ny")
        .agg(
            F.count("*").alias("deg"),
            F.countDistinct("line_id").alias("nlines"),
            F.min("line_id").alias("line_a"),
            F.max("line_id").alias("line_b"),
            F.countDistinct("attr").alias("nattr"),
        )
        .filter("deg = 2 AND nlines = 2")
    )
    return two.selectExpr(
        "nx", "ny", "line_a", "line_b",
        "CASE WHEN nattr = 1 THEN 'FAILMERGEL' ELSE 'FAILMERGEL2' END"
        " AS errtype",
    )


ORACLE_FAILMERGE = f"""
WITH geo_lines_dup AS ({GEO_VIEWS['geo_lines_dup']}),
d AS (
  SELECT line_id, CAST(line_id % 7 AS INT) AS attr, x1, y1, x2, y2
  FROM geo_lines_dup WHERE line_id % 13 < 2
),
ends AS (
  SELECT line_id, attr,
         CAST(floor(x1 * 1000000.0) AS BIGINT) AS nx,
         CAST(floor(y1 * 1000000.0) AS BIGINT) AS ny
  FROM d
  UNION ALL
  SELECT line_id, attr,
         CAST(floor(x2 * 1000000.0) AS BIGINT),
         CAST(floor(y2 * 1000000.0) AS BIGINT)
  FROM d
)
SELECT nx, ny, MIN(line_id) AS line_a, MAX(line_id) AS line_b,
       CASE WHEN COUNT(DISTINCT attr) = 1 THEN 'FAILMERGEL'
            ELSE 'FAILMERGEL2' END AS errtype
FROM ends GROUP BY 1, 2
HAVING COUNT(*) = 2 AND COUNT(DISTINCT line_id) = 2
"""


# --- geo_narrow_checks (NARROW) -------------------------------------------------
#
# Integer micro-degree corners -> exact shoelace (udeg^2); sides in GAIT
# meters via the shared dual-engine text; relative altitude = 2*area/L^2
# where L = longest side.  Everything is one deterministic expression chain
# over identical doubles, so the < threshold decision agrees bit-for-bit.

_TRI_M2 = (
    "CAST(abs((x2i - x1i) * (y3i - y1i) - (x3i - x1i) * (y2i - y1i)) AS DOUBLE)"
    f" * (111319.5 * {sql_coslat_poly('((CAST(y1i + y2i + y3i AS DOUBLE)) / 3000000.0)')})"
    " * 111319.5 * 0.0000000000005"
)


def _side_m(xa: str, ya: str, xb: str, yb: str) -> str:
    # meter distance between integer-udeg corners (shared text both engines)
    from ..functions.geodesy import sql_dist_m

    return sql_dist_m(
        f"(CAST({xa} AS DOUBLE) * 0.000001)",
        f"(CAST({ya} AS DOUBLE) * 0.000001)",
        f"(CAST({xb} AS DOUBLE) * 0.000001)",
        f"(CAST({yb} AS DOUBLE) * 0.000001)",
    )


_LMAX = (
    f"greatest({_side_m('x1i','y1i','x2i','y2i')},"
    f" {_side_m('x2i','y2i','x3i','y3i')},"
    f" {_side_m('x1i','y1i','x3i','y3i')})"
)

_CORNERS = """
  SELECT area_id,
         CAST(floor(x1 * 1000000.0) AS BIGINT) AS x1i,
         CAST(floor(y1 * 1000000.0) AS BIGINT) AS y1i,
         CAST(floor(x2 * 1000000.0) AS BIGINT) AS x2i,
         CAST(floor(y2 * 1000000.0) AS BIGINT) AS y2i,
         CAST(floor(x3 * 1000000.0) AS BIGINT) AS x3i,
         CAST(floor(y3 * 1000000.0) AS BIGINT) AS y3i
  FROM geo_areas
"""


def q_narrow_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The one-shot expression (2*area / lmax^2 with lmax inlined twice and the
    # cos-lat polynomial expanded ~25x after CollapseProject) used to overflow
    # janino's 64 KB method limit and drop the stage out of whole-stage
    # codegen.  Staging the three side lengths + shoelace area behind a
    # Generate barrier (explode of a 1-element struct array) keeps each
    # projection small enough to compile while computing the *identical*
    # double sequence, so the oracle hash is unchanged.
    c = spark.sql(_CORNERS)
    staged = c.select(
        "area_id",
        F.explode(
            F.array(
                F.struct(
                    F.expr(_TRI_M2).alias("tri_m2"),
                    F.expr(_side_m("x1i", "y1i", "x2i", "y2i")).alias("s12"),
                    F.expr(_side_m("x2i", "y2i", "x3i", "y3i")).alias("s23"),
                    F.expr(_side_m("x1i", "y1i", "x3i", "y3i")).alias("s13"),
                )
            )
        ).alias("t"),
    )
    r = staged.select(
        "area_id",
        F.expr(
            "CAST(floor(2.0 * t.tri_m2"
            " / (greatest(t.s12, t.s23, t.s13) * greatest(t.s12, t.s23, t.s13))"
            " * 1000000.0) AS BIGINT)"
        ).alias("ratio_ppm"),
    )
    return r.filter(f"ratio_ppm < {NARROW_PPM}").select("area_id", "ratio_ppm")


ORACLE_NARROW = f"""
{oracle_cte('geo_areas')},
c AS ({_CORNERS}),
r AS (
  SELECT area_id,
         CAST(floor(2.0 * {_TRI_M2} / ({_LMAX} * {_LMAX}) * 1000000.0)
              AS BIGINT) AS ratio_ppm
  FROM c
)
SELECT area_id, ratio_ppm FROM r WHERE ratio_ppm < {NARROW_PPM}
"""


# --- geo_areal_z_checks (NOT_FLAT / ZUNCLOSED) ----------------------------------
#
# Deterministic 3-D decoration of the variable-vertex areal fixture: every
# 5th area undulates, every 9th gets a bump at its LAST outer-ring vertex
# (so the ring start/end elevations disagree -> ZUNCLOSED).

_VA_Z = (
    "CAST((area_id * 53) % 200 AS DOUBLE) / 10.0"
    " + CASE WHEN area_id % 5 = 0"
    " THEN CAST((area_id * 13 + vidx * 29) % 40 AS DOUBLE) / 4.0 ELSE 0.0 END"
    " + CASE WHEN area_id % 9 = 0 AND vidx = maxv THEN 5.0 ELSE 0.0 END"
)


def q_areal_z_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    v = spark.table("geo_vareas").filter("ring = 0").select(
        "area_id", "vidx"
    )
    w = Window.partitionBy("area_id")
    v = v.withColumn("maxv", F.max("vidx").over(w)).withColumn(
        "z", F.expr(_VA_Z)
    )
    agg = v.groupBy("area_id").agg(
        F.countDistinct("z").alias("nz"),
        F.expr("MIN(CASE WHEN vidx = 0 THEN z END)").alias("z0"),
        F.expr("MIN(CASE WHEN vidx = maxv THEN z END)").alias("zn"),
    )
    flat = agg.filter("nz > 1").selectExpr(
        "area_id", "'NOT_FLAT' AS errtype", "CAST(nz AS BIGINT) AS mag"
    )
    unz = agg.filter("z0 <> zn").selectExpr(
        "area_id", "'ZUNCLOSED' AS errtype",
        f"{sql_trunc3_mm('abs(zn - z0)')} AS mag",
    )
    return flat.unionByName(unz)


ORACLE_AREAL_Z = f"""
{oracle_cte('geo_vareas')},
v AS (
  SELECT area_id, vidx,
         MAX(vidx) OVER (PARTITION BY area_id) AS maxv
  FROM geo_vareas WHERE ring = 0
),
vz AS (SELECT area_id, vidx, maxv, {_VA_Z} AS z FROM v),
agg AS (
  SELECT area_id, COUNT(DISTINCT z) AS nz,
         MIN(CASE WHEN vidx = 0 THEN z END) AS z0,
         MIN(CASE WHEN vidx = maxv THEN z END) AS zn
  FROM vz GROUP BY 1
)
SELECT area_id, 'NOT_FLAT' AS errtype, CAST(nz AS BIGINT) AS mag
FROM agg WHERE nz > 1
UNION ALL
SELECT area_id, 'ZUNCLOSED', {sql_trunc3_mm('abs(zn - z0)')}
FROM agg WHERE z0 <> zn
"""


# --- geo_hslope (HSLOPE) --------------------------------------------------------
#
# Triangle corners get a deterministic z (every 17th area is tilted hard);
# the plane through the three 3-D corners has gradient (a, b) with
# slope% = sqrt(nx^2 + ny^2) / |nz| * 100 where n is the cross product of
# the two meter-frame edge vectors.

_TRI_Z = "CAST((area_id * 7 + {i} * 11) % 30 AS DOUBLE)" \
    " + CASE WHEN area_id % 17 = 0 THEN CAST({i} * 25 AS DOUBLE) ELSE 0.0 END"

_MLON = f"(111319.5 * {sql_coslat_poly('((y1 + y2 + y3) / 3.0)')})"
_SLOPE_PCT = (
    f"sqrt("
    f" ((y2 - y1) * 111319.5 * (z3 - z1) - (y3 - y1) * 111319.5 * (z2 - z1))"
    f" * ((y2 - y1) * 111319.5 * (z3 - z1) - (y3 - y1) * 111319.5 * (z2 - z1))"
    f" + ((z2 - z1) * (x3 - x1) * {_MLON} - (z3 - z1) * (x2 - x1) * {_MLON})"
    f" * ((z2 - z1) * (x3 - x1) * {_MLON} - (z3 - z1) * (x2 - x1) * {_MLON})"
    f") / abs((x2 - x1) * {_MLON} * (y3 - y1) * 111319.5"
    f" - (x3 - x1) * {_MLON} * (y2 - y1) * 111319.5) * 100.0"
)


def q_hslope(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = spark.table("geo_areas").selectExpr(
        "area_id", "x1", "y1", "x2", "y2", "x3", "y3",
        f"{_TRI_Z.format(i=1)} AS z1",
        f"{_TRI_Z.format(i=2)} AS z2",
        f"{_TRI_Z.format(i=3)} AS z3",
    )
    a = a.withColumn("slope_mpct", F.expr(sql_trunc3_mm(_SLOPE_PCT)))
    return a.filter(f"slope_mpct > {int(HSLOPE_PCT * 1000)}").select(
        "area_id", "slope_mpct"
    )


ORACLE_HSLOPE = f"""
{oracle_cte('geo_areas')},
a AS (
  SELECT area_id, x1, y1, x2, y2, x3, y3,
         {_TRI_Z.format(i=1)} AS z1,
         {_TRI_Z.format(i=2)} AS z2,
         {_TRI_Z.format(i=3)} AS z3
  FROM geo_areas
),
s AS (
  SELECT area_id, {sql_trunc3_mm(_SLOPE_PCT)} AS slope_mpct FROM a
)
SELECT area_id, slope_mpct FROM s WHERE slope_mpct > {int(HSLOPE_PCT * 1000)}
"""


QUERIES = {
    "geo_cutout_checks": q_cutout_checks,
    "geo_failmerge_checks": q_failmerge_checks,
    "geo_narrow_checks": q_narrow_checks,
    "geo_areal_z_checks": q_areal_z_checks,
    "geo_hslope": q_hslope,
}

ORACLES = {
    "geo_cutout_checks": _cutout_oracle(),
    "geo_failmerge_checks": ORACLE_FAILMERGE,
    "geo_narrow_checks": ORACLE_NARROW,
    "geo_areal_z_checks": ORACLE_AREAL_Z,
    "geo_hslope": ORACLE_HSLOPE,
}
