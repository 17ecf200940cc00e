"""Edge-match UNMATCHED variant breadth (SURVEY.md §2.3 boundary row).

Reference semantics (PerformEdgeMatchChecks geomchecks.c:2958 family; range
variants PerformRangeLimitedEdgeMatchChecks geomchecks.c:31304; at-area
variants geomchecks.c:1852/2706/3022; one-line meanings errors.c:11285-11400):

* ``geo_geom_unm``    — LGEOM_UNM_LAT 167 (line end geometry unmatched at a
  LATITUDE grid boundary; exact transpose of LGEOM_UNM_LON 168, which
  queries/checks2.py gates as geo_edge_match_unmatched), AGEOM_UNM_LAT 169 /
  AGEOM_UNM_LON 170 (the same check applied to AREAL perimeter vertices).
* ``geo_rnge_unm``    — LRNGE_UNM_LON 164 / LRNGE_UNM_LAT 163 /
  ARNGE_UNM_LON 166 / ARNGE_UNM_LAT 165: the unmatched check restricted to a
  caller-supplied along-boundary window (FindSpecificSensitivity(3,...) is
  the LatLonIncrement at geomchecks.c:31408); ends outside the window are
  exempt.
* ``geo_l_unm_a``     — L_UNM_A 175 ("line endpt unmatched at area feature
  boundary", errors.c:16000): a line end node that no OTHER line's node
  matches inside the tolerancepad box, yet lies within Tolerance2 of an
  areal boundary edge (PointToSmallArealDist2D path, geomchecks.c:3074-3090).
  LSAME_UNM_A 176 ("line endpt unmatched with line of same FCODE at Area
  boundary"): a different-code node match does NOT excuse the end.
* ``geo_unm_attr_a``  — LUNM_ATTR_A 180 / AUNM_ATTR_A 179 (attribute
  unmatched at area boundary, PerformAttrEdgeMatchChecks geomchecks.c:1064):
  the geometric match exists but the feature-code pairing is not allowed.
* ``geo_aunm_acrs_a`` — AUNM_ACRS_A 178 ("area feature edge incorrectly
  matched across a bounding area feature", errors.c case table): a matched
  vertex pair whose connector crosses the bounding areal's perimeter.

Fixtures derive from ``geo_edges`` (meridian ends with planted absences %3 /
displacements %5) plus two in-module views: ``averts`` (areal perimeter
vertices at the meridian, absences %4 / displacements %7) and line ends
seeded onto ``geo_areas`` bottom edges with rescue nodes (absent %3, fcode
rotated %2).  All arithmetic is integer-modulo -> exact-literal division so
Spark and DuckDB agree bitwise.

Engine shapes: banded equi-join along the boundary (band = floor(u / 1e-4),
counterpart exploded +-1 band — the cross-tile neighbor-region duplication of
TT.c:44027) with the JVM equirect distance; corridor point->segment cell join
(operators/proximity.py) for the at-area family; a broadcast allowed-pairs
table for the attribute variant.  No UDFs anywhere; the oracle reproduces
each predicate with BETWEEN prefilters over the same derived relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m
from ..operators.proximity import point_to_segment_proximity
from ..sources.synthetic import oracle_cte

TOL_M = 2.5          # unmatched tolerance for the banded family
_BAND = 0.0001       # ~8-11 m bands along the boundary (>= TOL_M everywhere)
RANGE_LO = 41.0      # LRNGE/ARNGE along-boundary window
RANGE_HI = 43.0
EDGE_TOL_M = 0.5     # L_UNM_A Tolerance2: end-to-areal-edge distance
PAD_TOL_M = 1.0      # L_UNM_A tolerancepad: end-to-other-line-node match box

# --- areal perimeter vertices at the 12E meridian -------------------------------
# West vertex (px, py); east counterpart absent for every 4th id, displaced
# 0.00052 deg (~58 m, out of the 2.5 m tolerance) for every 7th.
AVERTS_SQL = """
SELECT
  eid AS aid,
  12.0 - CAST(1 + eid % 11 AS DOUBLE) / 1000000.0 AS px,
  ya AS py,
  CASE WHEN eid % 4 = 0 THEN NULL
       ELSE 12.0 + CAST(1 + eid % 6 AS DOUBLE) / 1000000.0 END AS qx,
  CASE WHEN eid % 4 = 0 THEN NULL
       WHEN eid % 7 = 0 THEN ya + 0.00052
       ELSE ya + CAST(eid % 5 AS DOUBLE) / 1000000.0 END AS qy
FROM geo_edges
"""

# --- branch views: (fid, x, y, mx, my, u, mu) ------------------------------------
# (x, y) = end/vertex in real lon/lat; (mx, my) = counterpart (NULL = absent);
# u / mu = the along-boundary coordinate used for banding and windows.
# The _LAT branches are exact transposes: the boundary becomes the lat-12
# parallel, so lon/lat swap roles but distances stay in the true frame.
_BRANCHES: dict[str, str] = {
    "LGEOM_UNM_LAT": (
        "SELECT eid AS fid, ya AS x, xa AS y, yb AS mx, xb AS my,"
        " ya AS u, yb AS mu FROM geo_edges"
    ),
    "AGEOM_UNM_LON": (
        "SELECT aid AS fid, px AS x, py AS y, qx AS mx, qy AS my,"
        " py AS u, qy AS mu FROM averts"
    ),
    "AGEOM_UNM_LAT": (
        "SELECT aid AS fid, py AS x, px AS y, qy AS mx, qx AS my,"
        " py AS u, qy AS mu FROM averts"
    ),
}

_RANGE_BRANCHES: dict[str, str] = {
    "LRNGE_UNM_LON": (
        "SELECT eid AS fid, xa AS x, ya AS y, xb AS mx, yb AS my,"
        " ya AS u, yb AS mu FROM geo_edges"
    ),
    "LRNGE_UNM_LAT": _BRANCHES["LGEOM_UNM_LAT"],
    "ARNGE_UNM_LON": _BRANCHES["AGEOM_UNM_LON"],
    "ARNGE_UNM_LAT": _BRANCHES["AGEOM_UNM_LAT"],
}


def _register_fixtures(spark: SparkSession) -> None:
    spark.sql(AVERTS_SQL).createOrReplaceTempView("averts")


def _banded_unmatched(
    spark: SparkSession,
    branch_sql: str,
    errtype: str,
    window: tuple[float, float] | None = None,
) -> DataFrame:
    """Ends of one branch with no counterpart within TOL_M (banded join)."""
    base = spark.sql(branch_sql)
    ends = base.select("fid", "x", "y", "u")
    if window is not None:
        ends = ends.filter((F.col("u") >= window[0]) & (F.col("u") < window[1]))
    ends = ends.withColumn("band", F.floor(F.col("u") / _BAND))
    cps = (
        base.filter(F.col("mx").isNotNull())
        .select(F.col("mx").alias("cx"), F.col("my").alias("cy"),
                F.floor(F.col("mu") / _BAND).alias("band0"))
        .withColumn("band", F.explode(F.expr("array(band0 - 1, band0, band0 + 1)")))
        .drop("band0")
    )
    d = F.expr(sql_dist_m("x", "y", "cx", "cy"))
    matched = (
        ends.join(cps, "band")
        .filter(d < TOL_M)
        .select("fid")
        .distinct()
    )
    return (
        ends.join(matched, "fid", "left_anti")
        .select(
            "fid",
            F.lit(errtype).alias("errtype"),
            F.expr("CAST(floor(u * 10000.0) AS BIGINT)").alias("band_key"),
        )
    )


def _oracle_unmatched(
    branch_sql: str, errtype: str, window: tuple[float, float] | None = None
) -> str:
    d = sql_dist_m("a.x", "a.y", "b.mx", "b.my")
    win = (
        f"AND a.u >= {window[0]} AND a.u < {window[1]}" if window is not None else ""
    )
    return f"""
SELECT a.fid, '{errtype}' AS errtype,
       CAST(floor(a.u * 10000.0) AS BIGINT) AS band_key
FROM ({branch_sql}) a
WHERE 1 = 1 {win}
  AND NOT EXISTS (
    SELECT 1 FROM ({branch_sql}) b
    WHERE b.mx IS NOT NULL
      AND b.mu BETWEEN a.u - 0.001 AND a.u + 0.001
      AND {d} < {TOL_M}
)"""


# --- geo_geom_unm (LGEOM_UNM_LAT 167 / AGEOM_UNM_LON 169 / AGEOM_UNM_LAT 170) ---


def q_geom_unm(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_fixtures(spark)
    out = None
    for errtype, sql in _BRANCHES.items():
        part = _banded_unmatched(spark, sql, errtype)
        out = part if out is None else out.unionByName(part)
    return out


ORACLE_GEOM_UNM = (
    f"{oracle_cte('geo_edges')},\naverts AS ({AVERTS_SQL})\n"
    + "\nUNION ALL\n".join(
        _oracle_unmatched(sql, errtype) for errtype, sql in _BRANCHES.items()
    )
)


# --- geo_rnge_unm (LRNGE 163/164, ARNGE 165/166) ---------------------------------


def q_rnge_unm(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_fixtures(spark)
    out = None
    for errtype, sql in _RANGE_BRANCHES.items():
        part = _banded_unmatched(spark, sql, errtype, window=(RANGE_LO, RANGE_HI))
        out = part if out is None else out.unionByName(part)
    return out


ORACLE_RNGE_UNM = (
    f"{oracle_cte('geo_edges')},\naverts AS ({AVERTS_SQL})\n"
    + "\nUNION ALL\n".join(
        _oracle_unmatched(sql, errtype, window=(RANGE_LO, RANGE_HI))
        for errtype, sql in _RANGE_BRANCHES.items()
    )
)


# --- geo_l_unm_a (L_UNM_A 175 / LSAME_UNM_A 176) ---------------------------------
# Line ends seeded a third of the way along each geo_areas bottom edge,
# 0.3 udeg (~33 mm) above it -> every end is within Tolerance2 of an areal
# edge.  Rescue nodes (other lines) sit 2 udeg away (inside the 1 m pad box)
# except for every 3rd area; the rescue's fcode matches the end's only for
# even ids.
LUA_ENDS_SQL = """
SELECT
  area_id AS lid,
  CASE CAST(area_id % 4 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030'
       WHEN 2 THEN 'BH140' ELSE 'AN010' END AS fcode,
  x1 + CAST(1 + area_id % 5 AS DOUBLE) / 3000.0 AS ex,
  y1 + 0.0000003 AS ey
FROM geo_areas
"""

LUA_RESCUE_SQL = """
SELECT
  area_id AS rid,
  CASE WHEN area_id % 2 = 0 THEN
    CASE CAST(area_id % 4 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030'
         WHEN 2 THEN 'BH140' ELSE 'AN010' END
  ELSE
    CASE CAST(area_id % 4 AS INT) WHEN 0 THEN 'AT030' WHEN 1 THEN 'BH140'
         WHEN 2 THEN 'AN010' ELSE 'AP030' END
  END AS rfcode,
  x1 + CAST(1 + area_id % 5 AS DOUBLE) / 3000.0 + 0.000002 AS rx,
  y1 + 0.0000003 + 0.000002 AS ry
FROM geo_areas WHERE area_id % 3 <> 0
"""

# geo_areas bottom edges (horizontal: (x1,y1)-(x2,y2) with y2 = y1)
BOT_EDGES_SQL = """
SELECT area_id AS aid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_areas
"""

_RESCUE_BAND = 0.0001  # >= PAD_TOL_M in degrees everywhere in the window


def _lua_parts(spark: SparkSession):
    ends = spark.sql(LUA_ENDS_SQL)
    rescue = spark.sql(LUA_RESCUE_SQL)
    edges = spark.sql(BOT_EDGES_SQL)

    near_edge = point_to_segment_proximity(
        ends.selectExpr("lid AS src_id", "ex AS px", "ey AS py"),
        edges.selectExpr("aid AS tgt_id", "ax", "ay", "bx", "by"),
        EDGE_TOL_M,
        cell_deg=0.001,
        open_interval=False,
    ).groupBy("src_id").agg(F.min("dist_mm").alias("edge_mm"))

    e = ends.withColumn("band", F.floor(F.col("ey") / _RESCUE_BAND))
    r = (
        rescue.withColumn("band0", F.floor(F.col("ry") / _RESCUE_BAND))
        .withColumn("band", F.explode(F.expr("array(band0 - 1, band0, band0 + 1)")))
        .drop("band0")
    )
    d = F.expr(sql_dist_m("ex", "ey", "rx", "ry"))
    pairs = e.join(r, "band").filter(d < PAD_TOL_M)
    any_rescued = pairs.select("lid").distinct()
    same_rescued = (
        pairs.filter(F.col("fcode") == F.col("rfcode")).select("lid").distinct()
    )
    return ends, near_edge, any_rescued, same_rescued


def q_l_unm_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    ends, near_edge, any_rescued, same_rescued = _lua_parts(spark)
    base = ends.join(
        near_edge.withColumnRenamed("src_id", "lid"), "lid"
    )
    unm = (
        base.join(any_rescued, "lid", "left_anti")
        .select("lid", F.lit("L_UNM_A").alias("errtype"), "edge_mm")
    )
    same_unm = (
        base.join(any_rescued, "lid", "left_semi")
        .join(same_rescued, "lid", "left_anti")
        .select("lid", F.lit("LSAME_UNM_A").alias("errtype"), "edge_mm")
    )
    return unm.unionByName(same_unm)


def _psd(px, py, ax, ay, bx, by):
    from ..functions.geodesy import sql_point_seg_dist_m

    return sql_point_seg_dist_m(px, py, ax, ay, bx, by)


_D_RESCUE = sql_dist_m("e.ex", "e.ey", "r.rx", "r.ry")

ORACLE_L_UNM_A = f"""
{oracle_cte('geo_areas')},
ends AS ({LUA_ENDS_SQL}),
rescue AS ({LUA_RESCUE_SQL}),
edges AS ({BOT_EDGES_SQL}),
near_edge AS (
  SELECT e.lid, MIN(CAST(floor({_psd('e.ex', 'e.ey', 'g.ax', 'g.ay', 'g.bx', 'g.by')} * 1000.0) AS BIGINT)) AS edge_mm
  FROM ends e
  JOIN edges g
    ON g.ay BETWEEN e.ey - 0.0001 AND e.ey + 0.0001
   AND e.ex >= g.ax - 0.0001 AND e.ex <= g.bx + 0.0001
  WHERE {_psd('e.ex', 'e.ey', 'g.ax', 'g.ay', 'g.bx', 'g.by')} < {EDGE_TOL_M}
  GROUP BY e.lid
),
any_rescued AS (
  SELECT DISTINCT e.lid FROM ends e JOIN rescue r
    ON r.ry BETWEEN e.ey - 0.0005 AND e.ey + 0.0005
   AND r.rx BETWEEN e.ex - 0.0005 AND e.ex + 0.0005
  WHERE {_D_RESCUE} < {PAD_TOL_M}
),
same_rescued AS (
  SELECT DISTINCT e.lid FROM ends e JOIN rescue r
    ON r.ry BETWEEN e.ey - 0.0005 AND e.ey + 0.0005
   AND r.rx BETWEEN e.ex - 0.0005 AND e.ex + 0.0005
  WHERE {_D_RESCUE} < {PAD_TOL_M} AND e.fcode = r.rfcode
)
SELECT n.lid, 'L_UNM_A' AS errtype, n.edge_mm
FROM near_edge n
WHERE n.lid NOT IN (SELECT lid FROM any_rescued)
UNION ALL
SELECT n.lid, 'LSAME_UNM_A' AS errtype, n.edge_mm
FROM near_edge n
WHERE n.lid IN (SELECT lid FROM any_rescued)
  AND n.lid NOT IN (SELECT lid FROM same_rescued)
"""


# --- geo_unm_attr_a (LUNM_ATTR_A 180 / AUNM_ATTR_A 179) --------------------------
# LUNM_ATTR_A: line end geometrically on an areal edge, but the (line fcode,
# area fcode) pairing is not in the allowed table.  AUNM_ATTR_A: matched
# averts vertex pairs whose east-side code rotates out of agreement every
# 13th id.
ALLOWED_PAIRS = (
    ("AP030", "FA000"),
    ("AT030", "AL015"),
    ("BH140", "BH140"),
    ("AN010", "FA000"),
)

_AV_FC_W = (
    "CASE CAST(aid % 4 AS INT) WHEN 0 THEN 'FA000' WHEN 1 THEN 'AL015'"
    " WHEN 2 THEN 'BH140' ELSE 'FA000' END"
)
_AV_FC_E = (
    "CASE WHEN aid % 13 = 0 THEN"
    " CASE CAST(aid % 4 AS INT) WHEN 0 THEN 'AL015' WHEN 1 THEN 'BH140'"
    " WHEN 2 THEN 'FA000' ELSE 'BH140' END"
    " ELSE "
    "CASE CAST(aid % 4 AS INT) WHEN 0 THEN 'FA000' WHEN 1 THEN 'AL015'"
    " WHEN 2 THEN 'BH140' ELSE 'FA000' END END"
)


def q_unm_attr_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_fixtures(spark)
    ends = spark.sql(LUA_ENDS_SQL)
    edges = spark.sql(BOT_EDGES_SQL).join(
        spark.table("geo_areas").selectExpr("area_id AS aid", "fcode AS afcode"),
        "aid",
    )
    near = point_to_segment_proximity(
        ends.selectExpr("lid AS src_id", "ex AS px", "ey AS py"),
        edges.selectExpr("aid AS tgt_id", "ax", "ay", "bx", "by"),
        EDGE_TOL_M,
        cell_deg=0.001,
        open_interval=False,
    )
    allowed = spark.createDataFrame(
        list(ALLOWED_PAIRS), schema="fcode string, afcode string"
    )
    lunm = (
        near.withColumnRenamed("src_id", "lid")
        .withColumnRenamed("tgt_id", "aid")
        .join(ends.select("lid", "fcode"), "lid")
        .join(edges.select("aid", "afcode"), "aid")
        .join(F.broadcast(allowed), ["fcode", "afcode"], "left_anti")
        .select(
            F.col("lid").alias("fid"), F.col("aid").alias("other_id"),
            F.lit("LUNM_ATTR_A").alias("errtype"),
        )
        .dropDuplicates(["fid", "other_id"])
    )

    av = spark.table("averts")
    w = av.selectExpr("aid", "px", "py", f"{_AV_FC_W} AS fc_w").withColumn(
        "band", F.floor(F.col("py") / _BAND)
    )
    e = (
        av.filter(F.col("qx").isNotNull())
        .selectExpr("aid AS aid_e", "qx", "qy", f"{_AV_FC_E} AS fc_e")
        .withColumn("band0", F.floor(F.col("qy") / _BAND))
        .withColumn("band", F.explode(F.expr("array(band0 - 1, band0, band0 + 1)")))
        .drop("band0")
    )
    d = F.expr(sql_dist_m("px", "py", "qx", "qy"))
    aunm = (
        w.join(e, "band")
        .filter((d < TOL_M) & (F.col("fc_w") != F.col("fc_e")))
        .select(
            F.col("aid").alias("fid"), F.col("aid_e").alias("other_id"),
            F.lit("AUNM_ATTR_A").alias("errtype"),
        )
        .dropDuplicates(["fid", "other_id"])
    )
    return lunm.unionByName(aunm)


_ALLOWED_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in ALLOWED_PAIRS)
_D_AV = sql_dist_m("w.px", "w.py", "e.qx", "e.qy")

ORACLE_UNM_ATTR_A = f"""
{oracle_cte('geo_areas', 'geo_edges')},
averts AS ({AVERTS_SQL}),
ends AS ({LUA_ENDS_SQL}),
edges AS (
  SELECT g.aid, g.ax, g.ay, g.bx, g.by, a.fcode AS afcode
  FROM ({BOT_EDGES_SQL}) g JOIN geo_areas a ON a.area_id = g.aid
),
allowed(fcode, afcode) AS (VALUES {_ALLOWED_VALUES})
SELECT DISTINCT e.lid AS fid, g.aid AS other_id, 'LUNM_ATTR_A' AS errtype
FROM ends e
JOIN edges g
  ON g.ay BETWEEN e.ey - 0.0001 AND e.ey + 0.0001
 AND e.ex >= g.ax - 0.0001 AND e.ex <= g.bx + 0.0001
WHERE {_psd('e.ex', 'e.ey', 'g.ax', 'g.ay', 'g.bx', 'g.by')} < {EDGE_TOL_M}
  AND NOT EXISTS (SELECT 1 FROM allowed al
                  WHERE al.fcode = e.fcode AND al.afcode = g.afcode)
UNION ALL
SELECT DISTINCT w.aid AS fid, e.aid AS other_id, 'AUNM_ATTR_A' AS errtype
FROM (SELECT aid, px, py, {_AV_FC_W} AS fc_w FROM averts) w
JOIN (SELECT aid, qx, qy, {_AV_FC_E} AS fc_e FROM averts
      WHERE qx IS NOT NULL) e
  ON e.qy BETWEEN w.py - 0.001 AND w.py + 0.001
WHERE {_D_AV} < {TOL_M} AND w.fc_w <> e.fc_e
"""


# --- geo_aunm_acrs_a (AUNM_ACRS_A 178) -------------------------------------------
# Bounding areal: rectangle whose EAST edge runs down the 12E meridian for
# lat [41.0, 41.5).  A matched averts pair always straddles 12E, so the pair
# is "matched across the bounding area feature" exactly when its connector
# crosses that edge: interpolated latitude at lon 12 inside the window.
BOUND_LAT_LO = 41.0
BOUND_LAT_HI = 41.5

_Y12 = "(py + (qy - py) * (12.0 - px) / (qx - px))"


def q_aunm_acrs_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_fixtures(spark)
    av = spark.table("averts")
    w = av.select("aid", "px", "py").withColumn("band", F.floor(F.col("py") / _BAND))
    e = (
        av.filter(F.col("qx").isNotNull())
        .selectExpr("aid AS aid_e", "qx", "qy")
        .withColumn("band0", F.floor(F.col("qy") / _BAND))
        .withColumn("band", F.explode(F.expr("array(band0 - 1, band0, band0 + 1)")))
        .drop("band0")
    )
    d = F.expr(sql_dist_m("px", "py", "qx", "qy"))
    return (
        w.join(e, "band")
        .filter(d < TOL_M)
        .withColumn("y12", F.expr(_Y12))
        .filter((F.col("y12") >= BOUND_LAT_LO) & (F.col("y12") < BOUND_LAT_HI))
        .select(
            F.col("aid").alias("fid"),
            F.col("aid_e").alias("other_id"),
            F.lit("AUNM_ACRS_A").alias("errtype"),
            F.expr("CAST(floor(y12 * 1000000.0) AS BIGINT)").alias("cross_udeg"),
        )
        .dropDuplicates(["fid", "other_id"])
    )


_D_AV2 = sql_dist_m("w.px", "w.py", "e.qx", "e.qy")
_Y12_O = "(w.py + (e.qy - w.py) * (12.0 - w.px) / (e.qx - w.px))"

ORACLE_AUNM_ACRS_A = f"""
{oracle_cte('geo_edges')},
averts AS ({AVERTS_SQL}),
pairs AS (
  SELECT DISTINCT w.aid AS fid, e.aid AS other_id, {_Y12_O} AS y12
  FROM (SELECT aid, px, py FROM averts) w
  JOIN (SELECT aid, qx, qy FROM averts WHERE qx IS NOT NULL) e
    ON e.qy BETWEEN w.py - 0.001 AND w.py + 0.001
  WHERE {_D_AV2} < {TOL_M}
)
SELECT fid, other_id, 'AUNM_ACRS_A' AS errtype,
       CAST(floor(y12 * 1000000.0) AS BIGINT) AS cross_udeg
FROM pairs
WHERE y12 >= {BOUND_LAT_LO} AND y12 < {BOUND_LAT_HI}
"""


QUERIES = {
    "geo_geom_unm": q_geom_unm,
    "geo_rnge_unm": q_rnge_unm,
    "geo_l_unm_a": q_l_unm_a,
    "geo_unm_attr_a": q_unm_attr_a,
    "geo_aunm_acrs_a": q_aunm_acrs_a,
}

ORACLES = {
    "geo_geom_unm": ORACLE_GEOM_UNM,
    "geo_rnge_unm": ORACLE_RNGE_UNM,
    "geo_l_unm_a": ORACLE_L_UNM_A,
    "geo_unm_attr_a": ORACLE_UNM_ATTR_A,
    "geo_aunm_acrs_a": ORACLE_AUNM_ACRS_A,
}
