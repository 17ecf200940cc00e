"""Elevation-profile, segment-sharing, and node-consistency checks.

Reference semantics (comment text errors.c:11460-11540; drivers in TT.c /
geomchecks.c):

* ``geo_elev_profile_checks``
  - ELEVADJCHANGE (errors.c:11463 "change in adjacent node elevations >
    threshold"): per-segment |dz| above tolerance;
  - FEATSPIKE (errors.c:11464 "elevation spike along 3D feature"): interior
    vertex rising (or dropping) away from BOTH neighbors by > tolerance;
  - PC_SLOPE (errors.c:11476 "line feature segment with percent slope above
    tolerance"): |dz| / horizontal length (GAIT local equirect meters,
    TT.c:4252-4264) * 100 above tolerance.
* ``geo_longseg_oside_checks``
  - LONGSEG (errors.c:11466 "segment with length at or above threshold"),
    the upper twin of SEGLEN, meter frame + 3-decimal truncation (TT.c:709);
  - OSIDE_LAT / OSIDE_LON (errors.c:11470-11471 "feature coordinate above or
    below latitude/longitude range"): vertex outside the project window.
* ``geo_shareseg_checks``
  - SHARESEG (errors.c:11530 "line feature segment overlaps 1 other line
    feature segment") and SHARE3SEG (errors.c:11478 "... overlaps 2 other
    ... segments"): canonical integer micro-degree segment-key grouping,
    the same edge-list pairing AddEdgeSegment builds (geomchecks.c:37932).
* ``geo_lattrchng``
  - LATTRCHNG (errors.c:11390 "line end point connects to same fdcode line,
    but attributes differ between the 2 features"): quantized end-node join,
    equal fcode, differing attribute (order priority plays the attribute).
* ``geo_cnode_z_checks``
  - CNODE_ZBUST (errors.c:11528 "Z mismatch between any two connecting nodes
    (in x,y)") and L2D_L3D_MATCH (errors.c:11526 "Linear End - Linear End Z
    Mismatch", the 2D-vs-3D pairing): per connecting node, the z spread of
    3-D features and the 2D/3D sentinel mix.  The 2-D sentinel is GAIT's
    exact constant 1.3070057 (GAIT_API.h:32, IsSentinelZvalue TT.c:1589).

Spark-first shape: every check is a window (lead/lag over vidx) or a hash
groupBy on integer micro-degree keys — no joins wider than the node/segment
key space, all expressions JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m, sql_trunc3_mm
from ..sources.synthetic import GEO_VIEWS, oracle_cte

ELEVADJ_TOL = 20.0     # ELEVADJCHANGE: |dz| > 20 (natural wrap steps = 26.3)
FEATSPIKE_TOL = 40.0   # FEATSPIKE: vertex away from BOTH neighbors by > 40
PC_SLOPE_PCT = 15.0    # PC_SLOPE: percent slope above 15
LONGSEG_MM = 10_000_000  # LONGSEG: segment >= 10 km (planted 0.3-deg jumps)
REGION_W, REGION_E = 10.0, 14.0   # project window (fixture lattice)
REGION_S, REGION_N = 40.0, 44.0

MY_2D_SENTINEL_Z = 1.3070057  # GAIT_API.h:32
ZBUST_TOL = 25


# --- geo_elev_profile_checks (ELEVADJCHANGE 11463 / FEATSPIKE / PC_SLOPE) ------

_HORIZ_M = sql_dist_m("x", "y", "nx", "ny")


def q_elev_profile_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    v = spark.table("geo_vlines").select("line_id", "vidx", "x", "y", "z")
    w = Window.partitionBy("line_id").orderBy("vidx")
    t = (
        v.withColumn("nx", F.lead("x").over(w))
        .withColumn("ny", F.lead("y").over(w))
        .withColumn("nz", F.lead("z").over(w))
        .withColumn("pz", F.lag("z").over(w))
    )
    seg = t.filter(F.col("nx").isNotNull())
    adj = seg.filter(F.expr(f"abs(nz - z) > {ELEVADJ_TOL}")).selectExpr(
        "line_id",
        "vidx",
        "'ELEVADJCHANGE' AS errtype",
        f"{sql_trunc3_mm('abs(nz - z)')} AS mag",
    )
    spike = (
        t.filter(F.col("nz").isNotNull() & F.col("pz").isNotNull())
        .filter(
            F.expr(
                f"((z - pz) > {FEATSPIKE_TOL} AND (z - nz) > {FEATSPIKE_TOL})"
                f" OR ((pz - z) > {FEATSPIKE_TOL} AND (nz - z) > {FEATSPIKE_TOL})"
            )
        )
        .selectExpr(
            "line_id",
            "vidx",
            "'FEATSPIKE' AS errtype",
            f"{sql_trunc3_mm('least(abs(z - pz), abs(z - nz))')} AS mag",
        )
    )
    slope = seg.filter(
        F.expr(f"abs(nz - z) / {_HORIZ_M} * 100.0 > {PC_SLOPE_PCT}")
    ).selectExpr(
        "line_id",
        "vidx",
        "'PC_SLOPE' AS errtype",
        f"{sql_trunc3_mm(f'abs(nz - z) / {_HORIZ_M} * 100.0')} AS mag",
    )
    return adj.unionByName(spike).unionByName(slope)


ORACLE_ELEV_PROFILE = f"""
{oracle_cte('geo_vlines')},
t AS (
  SELECT line_id, vidx, x, y, z,
         lead(x) OVER w AS nx, lead(y) OVER w AS ny,
         lead(z) OVER w AS nz, lag(z) OVER w AS pz
  FROM geo_vlines
  WINDOW w AS (PARTITION BY line_id ORDER BY vidx)
)
SELECT line_id, vidx, 'ELEVADJCHANGE' AS errtype,
       {sql_trunc3_mm('abs(nz - z)')} AS mag
FROM t WHERE nx IS NOT NULL AND abs(nz - z) > {ELEVADJ_TOL}
UNION ALL
SELECT line_id, vidx, 'FEATSPIKE',
       {sql_trunc3_mm('least(abs(z - pz), abs(z - nz))')}
FROM t WHERE nz IS NOT NULL AND pz IS NOT NULL
  AND (((z - pz) > {FEATSPIKE_TOL} AND (z - nz) > {FEATSPIKE_TOL})
       OR ((pz - z) > {FEATSPIKE_TOL} AND (nz - z) > {FEATSPIKE_TOL}))
UNION ALL
SELECT line_id, vidx, 'PC_SLOPE',
       {sql_trunc3_mm(f'abs(nz - z) / {_HORIZ_M} * 100.0')}
FROM t WHERE nx IS NOT NULL AND abs(nz - z) / {_HORIZ_M} * 100.0 > {PC_SLOPE_PCT}
"""


# --- geo_longseg_oside_checks (LONGSEG / OSIDE_LAT / OSIDE_LON) -----------------

_SEGLEN_MM = sql_trunc3_mm(sql_dist_m("x", "y", "nx", "ny"))


def q_longseg_oside_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    v = spark.table("geo_vlines").select("line_id", "vidx", "x", "y")
    w = Window.partitionBy("line_id").orderBy("vidx")
    seg = (
        v.withColumn("nx", F.lead("x").over(w))
        .withColumn("ny", F.lead("y").over(w))
        .filter(F.col("nx").isNotNull())
    )
    longseg = seg.filter(F.expr(f"{_SEGLEN_MM} >= {LONGSEG_MM}")).selectExpr(
        "line_id", "vidx", "'LONGSEG' AS errtype", f"{_SEGLEN_MM} AS mag"
    )
    oside = v.withColumn(
        "errtype",
        F.expr(
            f"CASE WHEN y < {REGION_S} OR y >= {REGION_N} THEN 'OSIDE_LAT'"
            f" WHEN x < {REGION_W} OR x >= {REGION_E} THEN 'OSIDE_LON' END"
        ),
    ).filter(F.col("errtype").isNotNull())
    oside = oside.selectExpr(
        "line_id",
        "vidx",
        "errtype",
        "CASE WHEN errtype = 'OSIDE_LAT'"
        " THEN CAST(floor(y * 1000000.0) AS BIGINT)"
        " ELSE CAST(floor(x * 1000000.0) AS BIGINT) END AS mag",
    )
    return longseg.unionByName(oside)


ORACLE_LONGSEG_OSIDE = f"""
{oracle_cte('geo_vlines')},
seg AS (
  SELECT line_id, vidx, x, y,
         lead(x) OVER (PARTITION BY line_id ORDER BY vidx) AS nx,
         lead(y) OVER (PARTITION BY line_id ORDER BY vidx) AS ny
  FROM geo_vlines
)
SELECT line_id, vidx, 'LONGSEG' AS errtype, {_SEGLEN_MM} AS mag
FROM seg WHERE nx IS NOT NULL AND {_SEGLEN_MM} >= {LONGSEG_MM}
UNION ALL
SELECT line_id, vidx,
       CASE WHEN y < {REGION_S} OR y >= {REGION_N} THEN 'OSIDE_LAT'
            ELSE 'OSIDE_LON' END,
       CASE WHEN y < {REGION_S} OR y >= {REGION_N}
            THEN CAST(floor(y * 1000000.0) AS BIGINT)
            ELSE CAST(floor(x * 1000000.0) AS BIGINT) END
FROM geo_vlines
WHERE y < {REGION_S} OR y >= {REGION_N}
   OR x < {REGION_W} OR x >= {REGION_E}
"""


# --- geo_shareseg_checks (SHARESEG / SHARE3SEG) ---------------------------------
#
# Features = every 13th-or-next duplicate-fixture line (line_id % 13 < 2),
# so each geometry residue carries a SMALL variable number of copies (0..4 at
# sf0.01) and both "shared with exactly one other" and "shared with two or
# more others" occur.  Key = canonical micro-degree segment (lower end first).

_SEG_KEY = (
    "concat(CAST(least(CAST(floor(x1 * 1000000.0) AS BIGINT),"
    " CAST(floor(x2 * 1000000.0) AS BIGINT)) AS STRING), ':',"
    " CAST(least(CAST(floor(y1 * 1000000.0) AS BIGINT),"
    " CAST(floor(y2 * 1000000.0) AS BIGINT)) AS STRING), ':',"
    " CAST(greatest(CAST(floor(x1 * 1000000.0) AS BIGINT),"
    " CAST(floor(x2 * 1000000.0) AS BIGINT)) AS STRING), ':',"
    " CAST(greatest(CAST(floor(y1 * 1000000.0) AS BIGINT),"
    " CAST(floor(y2 * 1000000.0) AS BIGINT)) AS STRING))"
)


def q_shareseg_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        spark.table("geo_lines_dup")
        .filter("line_id % 13 < 2")
        .selectExpr("line_id", f"{_SEG_KEY} AS k")
    )
    counts = d.groupBy("k").agg(F.countDistinct("line_id").alias("n_owners"))
    return (
        d.join(counts, "k")
        .filter(F.col("n_owners") >= 2)
        .selectExpr(
            "line_id",
            "CASE WHEN n_owners = 2 THEN 'SHARESEG' ELSE 'SHARE3SEG' END"
            " AS errtype",
            "CAST(n_owners - 1 AS BIGINT) AS n_others",
        )
    )


ORACLE_SHARESEG = f"""
WITH geo_lines_dup AS ({GEO_VIEWS['geo_lines_dup']}),
d AS (
  SELECT line_id, {_SEG_KEY} AS k FROM geo_lines_dup WHERE line_id % 13 < 2
),
counts AS (
  SELECT k, COUNT(DISTINCT line_id) AS n_owners FROM d GROUP BY 1
)
SELECT d.line_id,
       CASE WHEN c.n_owners = 2 THEN 'SHARESEG' ELSE 'SHARE3SEG' END AS errtype,
       CAST(c.n_owners - 1 AS BIGINT) AS n_others
FROM d JOIN counts c ON c.k = d.k
WHERE c.n_owners >= 2
"""


# --- geo_lattrchng (LATTRCHNG 11390) --------------------------------------------


def q_lattrchng(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = spark.table("geo_lines")
    attrs = spark.table("orders").selectExpr(
        "CAST(o_orderkey AS BIGINT) AS line_id", "o_orderpriority AS attr"
    )
    la = lines.join(attrs, "line_id")
    ends = la.selectExpr(
        "line_id", "fcode", "attr",
        "CAST(floor(x1 * 1000000.0) AS BIGINT) AS nx",
        "CAST(floor(y1 * 1000000.0) AS BIGINT) AS ny",
    ).unionByName(
        la.selectExpr(
            "line_id", "fcode", "attr",
            "CAST(floor(x3 * 1000000.0) AS BIGINT) AS nx",
            "CAST(floor(y3 * 1000000.0) AS BIGINT) AS ny",
        )
    )
    a = ends.selectExpr(
        "nx", "ny", "line_id AS line_a", "fcode AS fc_a", "attr AS at_a"
    )
    b = ends.selectExpr(
        "nx", "ny", "line_id AS line_b", "fcode AS fc_b", "attr AS at_b"
    )
    return (
        a.join(b, ["nx", "ny"])
        .filter("line_a < line_b AND fc_a = fc_b AND at_a <> at_b")
        .select("line_a", "line_b", "nx", "ny")
        .distinct()
    )


ORACLE_LATTRCHNG = f"""
{oracle_cte('geo_lines')},
ends AS (
  SELECT g.line_id, g.fcode, o.o_orderpriority AS attr,
         CAST(floor(g.x1 * 1000000.0) AS BIGINT) AS nx,
         CAST(floor(g.y1 * 1000000.0) AS BIGINT) AS ny
  FROM geo_lines g JOIN orders o ON o.o_orderkey = g.line_id
  UNION ALL
  SELECT g.line_id, g.fcode, o.o_orderpriority,
         CAST(floor(g.x3 * 1000000.0) AS BIGINT),
         CAST(floor(g.y3 * 1000000.0) AS BIGINT)
  FROM geo_lines g JOIN orders o ON o.o_orderkey = g.line_id
)
SELECT DISTINCT a.line_id AS line_a, b.line_id AS line_b, a.nx, a.ny
FROM ends a JOIN ends b ON a.nx = b.nx AND a.ny = b.ny
WHERE a.line_id < b.line_id AND a.fcode = b.fcode AND a.attr <> b.attr
"""


# --- geo_cnode_z_checks (CNODE_ZBUST / L2D_L3D_MATCH) ---------------------------
#
# Derived z per duplicate-fixture feature: every 23rd line is 2-D (carries
# GAIT's exact sentinel), the rest get an integer elevation (line_id*7)%50.
# Connecting nodes are the quantized shared endpoints.  Per node:
#   * CNODE_ZBUST  — 3-D z spread (max-min) above tolerance;
#   * L2D_L3D_MATCH — the node mixes 2-D and 3-D features.
# Witness encoding: z*10^12 + line_id packs (z, line) so MIN/MAX are exact
# integer aggregates that decode to deterministic witnesses.

_DUP_Z = (
    f"CASE WHEN line_id % 23 = 0 THEN {MY_2D_SENTINEL_Z}"
    " ELSE CAST((line_id * 7) % 50 AS DOUBLE) END"
)


def q_cnode_z_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.table("geo_lines_dup").selectExpr(
        "line_id", f"{_DUP_Z} AS z", "x1", "y1", "x2", "y2"
    )
    ends = d.selectExpr(
        "line_id", "z",
        "CAST(floor(x1 * 1000000.0) AS BIGINT) AS nx",
        "CAST(floor(y1 * 1000000.0) AS BIGINT) AS ny",
    ).unionByName(
        d.selectExpr(
            "line_id", "z",
            "CAST(floor(x2 * 1000000.0) AS BIGINT) AS nx",
            "CAST(floor(y2 * 1000000.0) AS BIGINT) AS ny",
        )
    )
    agg = ends.groupBy("nx", "ny").agg(
        F.expr(
            f"SUM(CASE WHEN z = {MY_2D_SENTINEL_Z} THEN 1 ELSE 0 END)"
        ).alias("n_2d"),
        F.expr(
            f"COUNT(CASE WHEN z <> {MY_2D_SENTINEL_Z} THEN 1 END)"
        ).alias("n_3d"),
        F.expr(
            f"MIN(CASE WHEN z <> {MY_2D_SENTINEL_Z} THEN"
            " CAST(z AS BIGINT) * 1000000000000 + line_id END)"
        ).alias("lo"),
        F.expr(
            f"MAX(CASE WHEN z <> {MY_2D_SENTINEL_Z} THEN"
            " CAST(z AS BIGINT) * 1000000000000 + line_id END)"
        ).alias("hi"),
    )
    zbust = agg.filter(
        F.expr(f"n_3d >= 2 AND hi DIV 1000000000000 - lo DIV 1000000000000 > {ZBUST_TOL}")
    ).selectExpr(
        "nx", "ny", "'CNODE_ZBUST' AS errtype",
        "CAST(hi DIV 1000000000000 - lo DIV 1000000000000 AS BIGINT) AS dz",
        "CAST(lo % 1000000000000 AS BIGINT) AS wit_lo",
        "CAST(hi % 1000000000000 AS BIGINT) AS wit_hi",
    )
    mix = agg.filter("n_2d >= 1 AND n_3d >= 1").selectExpr(
        "nx", "ny", "'L2D_L3D_MATCH' AS errtype",
        "CAST(-1 AS BIGINT) AS dz",
        "CAST(lo % 1000000000000 AS BIGINT) AS wit_lo",
        "CAST(hi % 1000000000000 AS BIGINT) AS wit_hi",
    )
    return zbust.unionByName(mix)


ORACLE_CNODE_Z = f"""
WITH geo_lines_dup AS ({GEO_VIEWS['geo_lines_dup']}),
d AS (
  SELECT line_id, {_DUP_Z} AS z, x1, y1, x2, y2 FROM geo_lines_dup
),
ends AS (
  SELECT line_id, z,
         CAST(floor(x1 * 1000000.0) AS BIGINT) AS nx,
         CAST(floor(y1 * 1000000.0) AS BIGINT) AS ny
  FROM d
  UNION ALL
  SELECT line_id, z,
         CAST(floor(x2 * 1000000.0) AS BIGINT),
         CAST(floor(y2 * 1000000.0) AS BIGINT)
  FROM d
),
agg AS (
  SELECT nx, ny,
         SUM(CASE WHEN z = {MY_2D_SENTINEL_Z} THEN 1 ELSE 0 END) AS n_2d,
         COUNT(CASE WHEN z <> {MY_2D_SENTINEL_Z} THEN 1 END) AS n_3d,
         MIN(CASE WHEN z <> {MY_2D_SENTINEL_Z} THEN
             CAST(z AS BIGINT) * 1000000000000 + line_id END) AS lo,
         MAX(CASE WHEN z <> {MY_2D_SENTINEL_Z} THEN
             CAST(z AS BIGINT) * 1000000000000 + line_id END) AS hi
  FROM ends GROUP BY 1, 2
)
SELECT nx, ny, 'CNODE_ZBUST' AS errtype,
       CAST(hi // 1000000000000 - lo // 1000000000000 AS BIGINT) AS dz,
       CAST(lo % 1000000000000 AS BIGINT) AS wit_lo,
       CAST(hi % 1000000000000 AS BIGINT) AS wit_hi
FROM agg
WHERE n_3d >= 2 AND hi // 1000000000000 - lo // 1000000000000 > {ZBUST_TOL}
UNION ALL
SELECT nx, ny, 'L2D_L3D_MATCH',
       CAST(-1 AS BIGINT),
       CAST(lo % 1000000000000 AS BIGINT),
       CAST(hi % 1000000000000 AS BIGINT)
FROM agg WHERE n_2d >= 1 AND n_3d >= 1
"""


QUERIES = {
    "geo_elev_profile_checks": q_elev_profile_checks,
    "geo_longseg_oside_checks": q_longseg_oside_checks,
    "geo_shareseg_checks": q_shareseg_checks,
    "geo_lattrchng": q_lattrchng,
    "geo_cnode_z_checks": q_cnode_z_checks,
}

ORACLES = {
    "geo_elev_profile_checks": ORACLE_ELEV_PROFILE,
    "geo_longseg_oside_checks": ORACLE_LONGSEG_OSIDE,
    "geo_shareseg_checks": ORACLE_SHARESEG,
    "geo_lattrchng": ORACLE_LATTRCHNG,
    "geo_cnode_z_checks": ORACLE_CNODE_Z,
}
