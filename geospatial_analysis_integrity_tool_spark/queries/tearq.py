"""Surface tears, sliver gaps, and merge/kink stragglers.

Reference semantics:

* ``geo_tear_checks``   — VTEAR 241 ("Vertical Tear: adjacent
  polygons-areals (in 2D) do not match in elevation at this location",
  SEEIT_API.c:8584-8586; edge-match z deltas TT.c:31660-31670) and HTEAR
  243 ("Surface Hole: a hole exists in the stratum surface",
  SEEIT_API.c:8592-8594; Tcover length accounting TT.c:31671-31676): over
  a z-decorated triangulated stratum surface, an interior edge shared by
  two polys with disagreeing elevations is a vertical tear (magnitude =
  meters of disagreement); an interior edge covered only once is a
  surface hole (magnitude = uncovered length in meters).
* ``geo_failmergea2``   — FAILMERGEA2 49 (errors.c:11281 "area feature
  that should be merged with area that shares edge - no accounting for
  metadata"): shared-edge same-fcode pairs whose attributes DIFFER — the
  attribute-blind complement of FAILMERGEA 48 (gated by
  queries/aavariants.py), mirroring the FAILMERGEL/FAILMERGEL2 split
  (queries/cutoutq.py).
* ``geo_lasliver``      — LASLIVER 99 (errors.c:11519 "sliver formed
  between line and area features"): a line running nearly parallel to an
  area perimeter edge with both end nodes inside the open (0, tol) band.
* ``geo_llsliver``      — LLSLIVER 100 (errors.c:11521 "sliver formed
  between two line features"): the same thin-gap template between two
  lines.
* ``geo_la_kink``       — L_A_KINK 111 (errors.c:11440 "kink at
  intersection of line end node and area feature perim"): an end node ON
  the perimeter whose final segment meets the perimeter edge at a
  near-tangent angle (sin^2 below threshold — the spike formation), where
  a perpendicular junction is clean.

Fixtures: the stratum mosaic reuses the coverage grid (60x60 squares,
every 97th triangle removed -> surface holes) with corner-keyed z and a
+25 m bust on every 41st triangle -> vertical tears; parallel sliver
lines 0.4 m off every 14th area bottom edge / every 21st line's first
segment; tangent-approach stubs on every 10th area (every 20th arrives
perpendicular -> excluded).

Engine shapes: canonical-edge hash groupBy with z carried per owner (the
coverage2 edge-parity pattern), corridor point->segment cell joins for
the sliver bands, trig-free sin^2 angle gates — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m, sql_point_seg_dist_m, sql_trunc3_mm
from ..operators.proximity import point_seg_candidates
from ..sources.synthetic import oracle_cte

GRID_N = 60
HOLE_MOD = 97
BUST_MOD = 41
SLIVER_TOL_M = 1.0
SIN2_PAR = 0.0076120467488713   # sin^2(5 deg): near-parallel gate
SIN2_KINK = 0.066987298107780675  # sin^2(15 deg): tangent-approach gate


# --- geo_tear_checks (VTEAR 241 / HTEAR 243) ----------------------------------------

# stratum mosaic with corner-keyed z and per-triangle bust (shared text)
TEAR_EDGES_SQL = f"""
tris AS (
  SELECT o_orderkey AS tri_id,
         CAST(floor(o_orderkey / 2.0) AS BIGINT) % {GRID_N} AS i,
         CAST(floor(floor(o_orderkey / 2.0) / {GRID_N}) AS BIGINT) AS j,
         CAST(o_orderkey % 2 AS INT) AS upper,
         CASE WHEN o_orderkey % {BUST_MOD} = 0 THEN 25.0 ELSE 0.0 END AS bust
  FROM orders
  WHERE o_orderkey < {2 * GRID_N * GRID_N} AND o_orderkey % {HOLE_MOD} <> 0
),
corners AS (
  SELECT tri_id, upper, bust,
         i * 100000 + j            AS sw,
         (i + 1) * 100000 + j      AS se,
         (i + 1) * 100000 + j + 1  AS ne,
         i * 100000 + j + 1        AS nw
  FROM tris
),
edges AS (
  SELECT tri_id, bust, LEAST(sw, se) AS a, GREATEST(sw, se) AS b
  FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, bust, LEAST(se, ne), GREATEST(se, ne) FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, bust, LEAST(ne, sw), GREATEST(ne, sw) FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, bust, LEAST(sw, ne), GREATEST(sw, ne) FROM corners WHERE upper = 1
  UNION ALL
  SELECT tri_id, bust, LEAST(ne, nw), GREATEST(ne, nw) FROM corners WHERE upper = 1
  UNION ALL
  SELECT tri_id, bust, LEAST(nw, sw), GREATEST(nw, sw) FROM corners WHERE upper = 1
)
"""

_NOT_BOUNDARY = f"""
NOT (
  (CAST(floor(a / 100000.0) AS BIGINT) = 0 AND CAST(floor(b / 100000.0) AS BIGINT) = 0)
  OR (CAST(floor(a / 100000.0) AS BIGINT) = {GRID_N} AND CAST(floor(b / 100000.0) AS BIGINT) = {GRID_N})
  OR (a % 100000 = 0 AND b % 100000 = 0)
  OR (a % 100000 = {GRID_N} AND b % 100000 = {GRID_N})
)
"""

# corner lattice -> lon/lat -> edge length in GAIT meters
_EDGE_LEN_M = sql_dist_m(
    "(10.0 + CAST(floor(a / 100000.0) AS DOUBLE) / 100.0)",
    "(40.0 + CAST(a % 100000 AS DOUBLE) / 100.0)",
    "(10.0 + CAST(floor(b / 100000.0) AS DOUBLE) / 100.0)",
    "(40.0 + CAST(b % 100000 AS DOUBLE) / 100.0)",
)

TEAR_BODY_SQL = f"""
agg AS (
  SELECT a, b, COUNT(*) AS cnt,
         MAX(bust) - MIN(bust) AS dz
  FROM edges GROUP BY a, b
)
SELECT a, b, 'VTEAR' AS errtype, {sql_trunc3_mm('dz')} AS mag
FROM agg WHERE cnt = 2 AND dz > 0.0
UNION ALL
SELECT a, b, 'HTEAR', {sql_trunc3_mm(_EDGE_LEN_M)}
FROM agg WHERE cnt = 1 AND {_NOT_BOUNDARY}
"""


def q_tear_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(f"WITH {TEAR_EDGES_SQL}, {TEAR_BODY_SQL}")


ORACLE_TEARS = f"WITH {TEAR_EDGES_SQL}, {TEAR_BODY_SQL}"


# --- geo_failmergea2 (FAILMERGEA2 49) -----------------------------------------------

# fcode by square color, attr by triangle id: the two triangles of one
# square share the diagonal, same fcode, attrs differ unless equal mod 7
FM2_SQL = f"""
fm AS (
  SELECT e.a, e.b, e.tri_id,
         CASE CAST((CAST(floor(e.a / 100000.0) AS BIGINT) + e.a % 100000) % 3 AS INT)
           WHEN 0 THEN 'FA000' WHEN 1 THEN 'AL015' ELSE 'BH140' END AS fcode,
         CAST(e.tri_id % 7 AS INT) AS attr
  FROM edges e
),
pairs AS (
  SELECT x.a, x.b, x.tri_id AS id1, y.tri_id AS id2
  FROM fm x JOIN fm y
    ON x.a = y.a AND x.b = y.b AND x.tri_id < y.tri_id
   AND x.fcode = y.fcode AND x.attr <> y.attr
)
SELECT id1, id2, 'FAILMERGEA2' AS errtype FROM pairs
"""


def q_failmergea2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(f"WITH {TEAR_EDGES_SQL}, {FM2_SQL}")


ORACLE_FAILMERGEA2 = f"WITH {TEAR_EDGES_SQL}, {FM2_SQL}"


# --- geo_lasliver / geo_llsliver (LASLIVER 99 / LLSLIVER 100) ------------------------

# parallel sliver lines 0.4 m above the bottom edge of every 14th area,
# spanning the middle 3/4 of the edge
LAS_LINES_SQL = """
SELECT
  area_id AS lid,
  x1 + (x2 - x1) / 8.0 AS ax,
  y1 + 0.0000036 AS ay,
  x1 + (x2 - x1) * 7.0 / 8.0 AS bx,
  y1 + 0.0000036 AS by
FROM geo_areas WHERE area_id % 14 = 0
"""

AREA_EDGES_SQL2 = """
SELECT area_id AS aid, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_areas
UNION ALL
SELECT area_id, x2, y2, x3, y3 FROM geo_areas
UNION ALL
SELECT area_id, x3, y3, x1, y1 FROM geo_areas
"""

# twin lines 0.4 m above the first segment of every 21st line
LLS_TWINS_SQL = """
SELECT
  line_id + 1000000000 AS lid,
  x1 AS ax, y1 + 0.0000036 AS ay,
  x2 AS bx, y2 + 0.0000036 AS by
FROM geo_lines WHERE line_id % 21 = 0
"""

LLS_SEGS_SQL = """
SELECT line_id AS sid, 0 AS segno, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_lines
UNION ALL
SELECT line_id, 1, x2, y2, x3, y3 FROM geo_lines
"""


def _near_parallel(sin2: float, sdx="sdx", sdy="sdy", tdx="tdx", tdy="tdy") -> str:
    """sin^2 of the angle between the src direction (sdx, sdy) and the tgt
    direction (tdx, tdy) below ``sin2``, in cross/dot squared form."""
    return (
        f"(({sdx} * {tdy} - {sdy} * {tdx}) * ({sdx} * {tdy} - {sdy} * {tdx}))"
        f" < {sin2} * (({sdx} * {sdx} + {sdy} * {sdy}) * ({tdx} * {tdx} + {tdy} * {tdy}))"
    )


#: the oracles' src direction and tgt segment direction columns
_ES_DIRS = ("e.sdx", "e.sdy", "(s.bx - s.ax)", "(s.by - s.ay)")


def _sliver_pairs(
    spark: SparkSession, src_lines: DataFrame, tgt_segs: DataFrame,
    src_id: str, tgt_id: str, errname: str,
) -> DataFrame:
    """Thin-gap pairs: BOTH src end nodes in the open (0, tol) band of one
    tgt feature AND the two are near-parallel.

    The candidate point key is src*2+end so the two ends stay
    distinguishable through the cell join (a pair can also repeat through
    several cells or several segments of one target) — the pair qualifies
    on COUNT(DISTINCT end), exactly mirrored in the oracle.
    """
    ends = src_lines.selectExpr(
        f"{src_id} * 2 AS pkey", "ax AS px", "ay AS py",
        "bx - ax AS sdx", "by - ay AS sdy",
    ).unionByName(
        src_lines.selectExpr(
            f"{src_id} * 2 + 1 AS pkey", "bx AS px", "by AS py",
            "bx - ax AS sdx", "by - ay AS sdy",
        )
    )
    segs = tgt_segs.selectExpr(
        f"{tgt_id} AS tgt_id", "ax", "ay", "bx", "by",
        "bx - ax AS tdx", "by - ay AS tdy",
    )
    cand = point_seg_candidates(
        ends.select("pkey", "px", "py"), segs, SLIVER_TOL_M,
        point_id="pkey",
        cell_deg=0.001, open_interval=True,
        keep_seg_cols=("tdx", "tdy"),
    )
    cand = cand.join(
        F.broadcast(ends.select("pkey", "sdx", "sdy").distinct()), "pkey"
    )
    both = (
        cand.filter(F.expr(_near_parallel(SIN2_PAR)))
        .withColumn("src_id", F.expr("CAST(floor(pkey / 2.0) AS BIGINT)"))
        .groupBy("src_id", "tgt_id")
        .agg(F.countDistinct("pkey").alias("nend"))
        .filter("nend >= 2")
    )
    return both.selectExpr(
        "src_id", "tgt_id", f"'{errname}' AS errtype"
    )


def q_lasliver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sliver_pairs(
        spark,
        spark.sql(LAS_LINES_SQL),
        spark.sql(AREA_EDGES_SQL2),
        "lid", "aid", "LASLIVER",
    )


def q_llsliver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sliver_pairs(
        spark,
        spark.sql(LLS_TWINS_SQL),
        spark.sql(LLS_SEGS_SQL),
        "lid", "sid", "LLSLIVER",
    )


_PSD_ES = sql_point_seg_dist_m("e.px", "e.py", "s.ax", "s.ay", "s.bx", "s.by")


def _sliver_oracle(lines_sql: str, segs_sql: str, src_id: str,
                   tgt_id: str, errname: str, ctes: str) -> str:
    return f"""
{ctes},
ends AS (
  SELECT {src_id} AS src_id, 0 AS end_idx, ax AS px, ay AS py,
         bx - ax AS sdx, by - ay AS sdy
  FROM ({lines_sql})
  UNION ALL
  SELECT {src_id}, 1, bx, by, bx - ax, by - ay FROM ({lines_sql})
),
segs AS (SELECT {tgt_id} AS tgt_id, ax, ay, bx, by FROM ({segs_sql}))
SELECT e.src_id, s.tgt_id, '{errname}' AS errtype
FROM ends e JOIN segs s
  ON e.px >= LEAST(s.ax, s.bx) - 0.0001
 AND e.px <= GREATEST(s.ax, s.bx) + 0.0001
 AND e.py >= LEAST(s.ay, s.by) - 0.0001
 AND e.py <= GREATEST(s.ay, s.by) + 0.0001
WHERE {_PSD_ES} > 0.0 AND {_PSD_ES} < {SLIVER_TOL_M}
  AND {_near_parallel(SIN2_PAR, *_ES_DIRS)}
GROUP BY e.src_id, s.tgt_id
HAVING COUNT(DISTINCT e.end_idx) >= 2
"""


ORACLE_LASLIVER = _sliver_oracle(
    LAS_LINES_SQL, AREA_EDGES_SQL2, "lid", "aid", "LASLIVER",
    oracle_cte("geo_areas"),
)
ORACLE_LLSLIVER = _sliver_oracle(
    LLS_TWINS_SQL, LLS_SEGS_SQL, "lid", "sid", "LLSLIVER",
    oracle_cte("geo_lines"),
)


# --- geo_la_kink (L_A_KINK 111) -------------------------------------------------------

# tangent-approach stubs ending ON the bottom edge of every 10th area;
# every 20th arrives perpendicular (clean junction -> excluded)
KINK_STUBS_SQL = """
SELECT
  area_id AS lid,
  CASE WHEN area_id % 20 = 0 THEN x1 + (x2 - x1) / 4.0
       ELSE x1 + (x2 - x1) / 4.0 - 0.0005 END AS ax,
  CASE WHEN area_id % 20 = 0 THEN y1 - 0.0005
       ELSE y1 - 0.0000009 END AS ay,
  x1 + (x2 - x1) / 4.0 AS bx,
  y1 AS by
FROM geo_areas WHERE area_id % 10 = 0
"""


def q_la_kink(spark: SparkSession, sf_dir: str) -> DataFrame:
    stubs = spark.sql(KINK_STUBS_SQL)
    segs = spark.sql(AREA_EDGES_SQL2).selectExpr(
        "aid AS tgt_id", "ax", "ay", "bx", "by",
        "bx - ax AS tdx", "by - ay AS tdy",
    )
    ends = stubs.selectExpr(
        "lid AS src_id", "bx AS px", "by AS py",
        "bx - ax AS sdx", "by - ay AS sdy",
    )
    cand = point_seg_candidates(
        ends, segs, 0.01,
        cell_deg=0.001, open_interval=False,
        keep_seg_cols=("tdx", "tdy"),
    )
    cand = cand.join(
        F.broadcast(ends.select("src_id", "sdx", "sdy").distinct()), "src_id"
    )
    return (
        cand.filter(F.expr(_near_parallel(SIN2_KINK)))
        .select("src_id", "tgt_id", F.lit("L_A_KINK").alias("errtype"))
        .distinct()
    )


ORACLE_LA_KINK = f"""
{oracle_cte('geo_areas')},
stubs AS ({KINK_STUBS_SQL}),
ends AS (
  SELECT lid AS src_id, bx AS px, by AS py,
         bx - ax AS sdx, by - ay AS sdy
  FROM stubs
),
segs AS (SELECT aid AS tgt_id, ax, ay, bx, by FROM ({AREA_EDGES_SQL2}))
SELECT DISTINCT e.src_id, s.tgt_id, 'L_A_KINK' AS errtype
FROM ends e JOIN segs s
  ON e.px >= LEAST(s.ax, s.bx) - 0.0001
 AND e.px <= GREATEST(s.ax, s.bx) + 0.0001
 AND e.py >= LEAST(s.ay, s.by) - 0.0001
 AND e.py <= GREATEST(s.ay, s.by) + 0.0001
WHERE {_PSD_ES} >= 0.0 AND {_PSD_ES} < 0.01
  AND {_near_parallel(SIN2_KINK, *_ES_DIRS)}
"""


QUERIES = {
    "geo_tear_checks": q_tear_checks,
    "geo_failmergea2": q_failmergea2,
    "geo_lasliver": q_lasliver,
    "geo_llsliver": q_llsliver,
    "geo_la_kink": q_la_kink,
}

ORACLES = {
    "geo_tear_checks": ORACLE_TEARS,
    "geo_failmergea2": ORACLE_FAILMERGEA2,
    "geo_lasliver": ORACLE_LASLIVER,
    "geo_llsliver": ORACLE_LLSLIVER,
    "geo_la_kink": ORACLE_LA_KINK,
}
