"""Undershoot / overshoot VARIANT checks (SURVEY.md §2.3 row 6 breadth).

Reference: the over/under family PerformLinearOverUnderChecks
geomchecks.c:5266-10630; one-line meanings errors.c:11404-11560:

``geo_shoot_area_checks`` — a probe within the open tolerance band of an
AREA perimeter, classified by feature class and even-odd side
(PointInsidePoly TT.c:6920):

* LUNDERSHTA 33 — "line end area perimeter undershoot": end node outside
  the area, 0 < d < tol from its perimeter (errors.c:11412).
* LOVERSHTA 40  — "line end - area perimeter overshoot": the line crossed
  the perimeter and its end sits inside within tolerance (errors.c:11413).
* PUNDERSHTA 41 — "point not on area perimeter and is outside that area
  feature" (errors.c:11541).
* POVERSHTA 42  — "point not on area perimeter and is inside" (errors.c:11542).
* AUNDERSHTA 27 / AOVERSHTA 28 — "area edge under/overshoots neighbor area
  edge" (errors.c:11419-11420): a vertex of one areal in the tolerance band
  of ANOTHER areal's edge, sided the same way.

``geo_shoot_line_checks`` — tolerance-band checks against LINE segments:

* LVUSHTL 35     — "interior line vertex undershoots a different line
  feature" (errors.c:11447).
* LVOSHTL 36     — "interior line vertex overshoots a different line
  feature" (errors.c:11449): the vertex crossed to the far side.
* LUSHTL_CLEAN 43 — "like line - line undershoot, but no condition if
  feature mid-undershoot" (errors.c:11445): a strictly closer third segment
  inside the gap suppresses the condition.
* LOSHTL_DF 32   — "line - line overshoot, different line feature types"
  (errors.c:11443).

Fixtures are module-local, derived from ``geo_areas`` / ``orders`` with
integer-modulo -> exact-literal arithmetic (planted in-tolerance bands
~0.05-0.4 m, out-of-tolerance plants at 1.1 m via the %11 residue, blockers
at half-distance via the %6 residue).  The engine runs the real k-ring
corridor join (operators/proximity.point_to_segment_proximity — the same
distributed shape as geo_undershoot) and decides errtype with shared SQL
(cross-product side sign, 3-edge ray-cast parity); the oracle reproduces the
predicate over banded equi-join candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_point_seg_dist_m
from ..operators.pip import sql_ray3
from ..operators.proximity import point_to_segment_proximity
from ..sources.synthetic import oracle_cte

TOL_M = 0.5
CELL = 0.01
_TOL_MM = int(TOL_M * 1000)

# --- geo_shoot_area_checks ------------------------------------------------------

# Augmented areas: every 17th triangle gets a copy translated +3e-6 deg north
# (~0.33 m) — the AUNDERSHTA/AOVERSHTA neighbor plant.
AUG_AREAS_SQL = """
SELECT area_id AS aid, x1, y1, x2, y2, x3, y3 FROM geo_areas
UNION ALL
SELECT area_id + 300000000, x1, y1 + 0.000003, x2, y2 + 0.000003,
       x3, y3 + 0.000003
FROM geo_areas WHERE area_id % 17 = 0
"""

# Probes: P = free points, L = line end nodes (both in the band of their own
# area's bottom edge, under/over by parity, out-of-tol every 11th), A = the
# 6 vertices of each planted twin pair (owner excluded via excl).
AREA_PROBES_SQL = """
SELECT
  area_id AS pid, 'P' AS src, CAST(-1 AS BIGINT) AS excl,
  x1 + CAST(3 * (1 + area_id % 5) AS DOUBLE) / 8000.0 AS px,
  y1 + CASE WHEN area_id % 2 = 0 THEN -1.0 ELSE 1.0 END
     * CASE WHEN area_id % 11 = 0 THEN 0.00001
            ELSE CAST(1 + area_id % 7 AS DOUBLE) / 2000000.0 END AS py
FROM geo_areas
UNION ALL
SELECT
  area_id + 100000000, 'L', CAST(-1 AS BIGINT),
  x1 + CAST(5 * (1 + area_id % 5) AS DOUBLE) / 16000.0,
  y1 + CASE WHEN area_id % 2 = 1 THEN -1.0 ELSE 1.0 END
     * CASE WHEN area_id % 11 = 0 THEN 0.00001
            ELSE CAST(1 + area_id % 7 AS DOUBLE) / 2000000.0 END
FROM geo_areas
UNION ALL
SELECT 600000000 + area_id * 6 + 0, 'A', area_id, x1, y1 FROM geo_areas WHERE area_id % 17 = 0
UNION ALL
SELECT 600000000 + area_id * 6 + 1, 'A', area_id, x2, y2 FROM geo_areas WHERE area_id % 17 = 0
UNION ALL
SELECT 600000000 + area_id * 6 + 2, 'A', area_id, x3, y3 FROM geo_areas WHERE area_id % 17 = 0
UNION ALL
SELECT 600000000 + area_id * 6 + 3, 'A', area_id + 300000000, x1, y1 + 0.000003 FROM geo_areas WHERE area_id % 17 = 0
UNION ALL
SELECT 600000000 + area_id * 6 + 4, 'A', area_id + 300000000, x2, y2 + 0.000003 FROM geo_areas WHERE area_id % 17 = 0
UNION ALL
SELECT 600000000 + area_id * 6 + 5, 'A', area_id + 300000000, x3, y3 + 0.000003 FROM geo_areas WHERE area_id % 17 = 0
"""

AUG_EDGES_SQL = f"""
SELECT aid, 0 AS eidx, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM ({AUG_AREAS_SQL})
UNION ALL
SELECT aid, 1, x2, y2, x3, y3 FROM ({AUG_AREAS_SQL})
UNION ALL
SELECT aid, 2, x3, y3, x1, y1 FROM ({AUG_AREAS_SQL})
"""


_ERRTYPE_AREA = f"""
CASE WHEN src = 'P' AND NOT {sql_ray3('px', 'py')} THEN 'PUNDERSHTA'
     WHEN src = 'P' THEN 'POVERSHTA'
     WHEN src = 'L' AND NOT {sql_ray3('px', 'py')} THEN 'LUNDERSHTA'
     WHEN src = 'L' THEN 'LOVERSHTA'
     WHEN NOT {sql_ray3('px', 'py')} THEN 'AUNDERSHTA'
     ELSE 'AOVERSHTA' END
"""


def q_shoot_area_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    probes = spark.sql(AREA_PROBES_SQL).localCheckpoint()
    edges = (
        spark.sql(AUG_EDGES_SQL)
        .withColumn("seg_key", F.expr("aid * 4 + eidx"))
        .localCheckpoint()
    )
    areas = spark.sql(AUG_AREAS_SQL).localCheckpoint()

    prox = point_to_segment_proximity(
        probes.select("pid", "px", "py"),
        edges.select("seg_key", "ax", "ay", "bx", "by"),
        TOL_M,
        point_id="pid",
        seg_id="seg_key",
        cell_deg=CELL,
    )
    pairs = (
        prox.withColumn("aid", F.expr("seg_key DIV 4"))
        .groupBy("pid", "aid")
        .agg(F.min("dist_mm").alias("min_mm"))
        .join(probes, "pid")
        .filter(F.col("aid") != F.col("excl"))
        .join(areas, "aid")
    )
    return pairs.select(
        "pid",
        "aid",
        F.expr(_ERRTYPE_AREA).alias("errtype"),
        F.col("min_mm").alias("ann"),
    )


_PSD = sql_point_seg_dist_m("px", "py", "ax", "ay", "bx", "by")

ORACLE_SHOOT_AREA = f"""
{oracle_cte('geo_areas')},
aug AS MATERIALIZED ({AUG_AREAS_SQL}),
probes AS MATERIALIZED ({AREA_PROBES_SQL}),
edges AS MATERIALIZED (
  SELECT aid, 0 AS eidx, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM aug
  UNION ALL SELECT aid, 1, x2, y2, x3, y3 FROM aug
  UNION ALL SELECT aid, 2, x3, y3, x1, y1 FROM aug
),
probeb AS MATERIALIZED (
  SELECT p.*, CAST(floor(p.py / {CELL}) AS BIGINT) + d.dy AS band
  FROM probes p, (SELECT unnest([-1, 0, 1]) AS dy) d
),
edgeb AS MATERIALIZED (
  SELECT e.*, unnest(generate_series(
      CAST(floor(LEAST(e.ay, e.by) / {CELL}) AS BIGINT),
      CAST(floor(GREATEST(e.ay, e.by) / {CELL}) AS BIGINT))) AS band
  FROM edges e
),
pairs AS (
  SELECT pid, aid, MIN(CAST(floor(d * 1000.0) AS BIGINT)) AS min_mm
  FROM (
    SELECT DISTINCT p.pid, e.aid, p.px, p.py,
           e.ax, e.ay, e.bx, e.by, ({_PSD}) AS d
    FROM probeb p
    JOIN edgeb e ON p.band = e.band
     AND p.px BETWEEN LEAST(e.ax, e.bx) - 0.0001 AND GREATEST(e.ax, e.bx) + 0.0001
  )
  WHERE d > 0.0 AND d < {TOL_M}
  GROUP BY pid, aid
)
SELECT c.pid, c.aid, {_ERRTYPE_AREA} AS errtype, c.min_mm AS ann
FROM pairs c
JOIN probes p USING (pid)
JOIN aug a ON a.aid = c.aid
WHERE c.aid <> p.excl
"""


# --- geo_shoot_line_checks ------------------------------------------------------

# Horizontal target segments on the orders lattice + same-key fcodes.
SV_TARGETS_SQL = """
SELECT
  o_orderkey AS sid,
  CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0 AS ax,
  CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS ay,
  CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0 + 0.002 AS bx,
  CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS by,
  CASE WHEN o_orderkey % 2 = 0 THEN 'AP030' ELSE 'AT030' END AS fc
FROM orders
UNION ALL
SELECT
  o_orderkey + 500000000,
  CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0 + 0.0003,
  CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0
    - CAST(1 + o_orderkey % 7 AS DOUBLE) / 4000000.0,
  CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0 + 0.0007,
  CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0
    - CAST(1 + o_orderkey % 7 AS DOUBLE) / 4000000.0,
  'AL015'
FROM orders WHERE o_orderkey % 6 = 0
"""

# M = interior vertices (all keys), E = end nodes (every 3rd key; below the
# target when key % 4 < 2, above otherwise).
SV_PROBES_SQL = """
SELECT
  o_orderkey AS pid, 'M' AS kind, CAST(NULL AS STRING) AS pfc,
  CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0 + 0.001 AS px,
  CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0
    + CASE WHEN o_orderkey % 2 = 0 THEN -1.0 ELSE 1.0 END
    * CASE WHEN o_orderkey % 11 = 0 THEN 0.00001
           ELSE CAST(1 + o_orderkey % 7 AS DOUBLE) / 2000000.0 END AS py
FROM orders
UNION ALL
SELECT
  o_orderkey + 200000000, 'E',
  CASE WHEN o_orderkey % 2 = 0 THEN 'AP030' ELSE 'BH140' END,
  CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0 + 0.0005,
  CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0
    + CASE WHEN o_orderkey % 4 < 2 THEN -1.0 ELSE 1.0 END
    * CASE WHEN o_orderkey % 11 = 0 THEN 0.00001
           ELSE CAST(1 + o_orderkey % 7 AS DOUBLE) / 2000000.0 END
FROM orders WHERE o_orderkey % 3 = 0
"""

#: side of the probe vs the (directed) target segment: positive = the
#: far/crossed side for our left-to-right fixtures (TwoPointsOnSameSideOfLine
#: moregeomchecks.c:5241 core).
_SIDE = "sign((bx - ax) * (py - ay) - (by - ay) * (px - ax))"


def q_shoot_line_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    targets = spark.sql(SV_TARGETS_SQL).localCheckpoint()
    probes = spark.sql(SV_PROBES_SQL).localCheckpoint()

    prox = point_to_segment_proximity(
        probes.select("pid", "px", "py"),
        targets.select("sid", "ax", "ay", "bx", "by"),
        TOL_M,
        point_id="pid",
        seg_id="sid",
        cell_deg=CELL,
    )
    from pyspark.sql.window import Window

    pairs = (
        prox.join(probes, "pid")
        .join(targets, "sid")
        .withColumn("side", F.expr(_SIDE))
        # a strictly closer third segment blocks the CLEAN variant
        .withColumn(
            "blocked",
            (F.col("dist_mm")
             > F.min("dist_mm").over(Window.partitionBy("pid"))).cast("int"),
        )
    )
    mids = pairs.filter("kind = 'M'").select(
        "pid", "sid",
        F.expr("CASE WHEN side > 0 THEN 'LVOSHTL' ELSE 'LVUSHTL' END")
        .alias("errtype"),
        F.col("dist_mm").alias("ann"),
    )
    over_df = pairs.filter("kind = 'E' AND side > 0 AND pfc <> fc").select(
        "pid", "sid", F.lit("LOSHTL_DF").alias("errtype"),
        F.col("dist_mm").alias("ann"),
    )
    clean = pairs.filter("kind = 'E' AND side < 0 AND blocked = 0").select(
        "pid", "sid", F.lit("LUSHTL_CLEAN").alias("errtype"),
        F.col("dist_mm").alias("ann"),
    )
    return mids.unionByName(over_df).unionByName(clean)


ORACLE_SHOOT_LINE = f"""
WITH targets AS MATERIALIZED ({SV_TARGETS_SQL}),
probes AS MATERIALIZED ({SV_PROBES_SQL}),
probeb AS MATERIALIZED (
  SELECT p.*, CAST(floor(p.py / {CELL}) AS BIGINT) + d.dy AS band
  FROM probes p, (SELECT unnest([-1, 0, 1]) AS dy) d
),
pairs AS MATERIALIZED (
  SELECT pid, sid, kind, pfc, fc,
         CAST(floor(d * 1000.0) AS BIGINT) AS dist_mm,
         {_SIDE} AS side
  FROM (
    SELECT DISTINCT p.pid, p.kind, p.pfc, t.sid, t.fc,
           p.px, p.py, t.ax, t.ay, t.bx, t.by, ({_PSD}) AS d
    FROM probeb p
    JOIN (SELECT t.*, CAST(floor(t.ay / {CELL}) AS BIGINT) AS band
          FROM targets t) t USING (band)
    WHERE p.px BETWEEN LEAST(t.ax, t.bx) - 0.0001
                   AND GREATEST(t.ax, t.bx) + 0.0001
  )
  WHERE d > 0.0 AND d < {TOL_M}
),
ranked AS (
  SELECT *, MIN(dist_mm) OVER (PARTITION BY pid) AS min_mm FROM pairs
)
SELECT pid, sid,
       CASE WHEN side > 0 THEN 'LVOSHTL' ELSE 'LVUSHTL' END AS errtype,
       dist_mm AS ann
FROM ranked WHERE kind = 'M'
UNION ALL
SELECT pid, sid, 'LOSHTL_DF', dist_mm
FROM ranked WHERE kind = 'E' AND side > 0 AND pfc <> fc
UNION ALL
SELECT pid, sid, 'LUSHTL_CLEAN', dist_mm
FROM ranked WHERE kind = 'E' AND side < 0 AND dist_mm = min_mm
"""

QUERIES = {
    "geo_shoot_area_checks": q_shoot_area_checks,
    "geo_shoot_line_checks": q_shoot_line_checks,
}

ORACLES = {
    "geo_shoot_area_checks": ORACLE_SHOOT_AREA,
    "geo_shoot_line_checks": ORACLE_SHOOT_LINE,
}
