"""Area x area VARIANT checks (SURVEY.md §2.3 area-area row breadth).

Reference: PerformArealRelatedChecks geomchecks.c:39633 (TwoArealsIntersect
:36379, AreaInsideArea :31105, TwoArealsShareEdge :38624, TwoArealsPartISF
:39451); one-line meanings errors.c:11279-11420:

``geo_area_cover_checks``:

* ACOVERA 79    — "area covers area" (errors.c:11279): every vertex of B
  inside A (even-odd parity; exact containment for convex triangles).
* ANOCOVERA 137 — "area not covered by second area" (errors.c:11364):
  negation over the candidate set — B with NO covering A.
* AWITHOUTA 69  — area without a corresponding (covered) area: the witness
  anti-join on the parent side.

``geo_area_share_checks``:

* FAILMERGEA 48 — "area feature that should be merged with area that shares
  edge" (errors.c:11281): a shared canonical edge between SAME-fcode areals.
* FSFAIL 143    — "face sharing failure" (errors.c:11338): the shared edge
  joins areals whose feature codes disagree.
* PSHAREFAIL — "an area feature fails to share any of its perimeter with a
  2d area feature" (errors.c:11339): no shared canonical edge at all.
* AMCOVAFAIL 148 — "area not covered by adjoining areas" (errors.c:11373):
  some but not all perimeter edges shared; magnitude = uncovered edge count.
* PART_ISF 147  — "two area features have intersecting edges and share part
  of their faces" (errors.c:11317): a properly-crossing edge pair AND a
  vertex of one areal inside the other.

Plants (integer-modulo -> exact-literal arithmetic, bit-identical in both
engines): every 8th area gets a centroid-shrunk child (every 16th displaced
out of its parent), every 9th a mirror twin across the bottom edge (exact
shared edge; same fcode on the %18 residue), every 21st an overlapping copy
shifted +w/4 east.  Organic co-located lattice triangles contribute
additional generic pairs.  Engine shapes: vertex-cell x area-bbox-cover
parity joins, quantized canonical-edge groupBy (the coverage2 edge-hash
pattern), and the cell crossing join
(``operators/intersections.crossing_pairs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.intersections import crossing_pairs, sql_proper_cross
from ..operators.pip import (
    explode_tri_cells,
    oracle_bbox_cells,
    oracle_point_cell,
    oracle_seg_cells,
    sql_ray3,
    with_point_cell,
)
from ..sources.synthetic import oracle_cte

CELL = 0.01

# --- geo_area_cover_checks ------------------------------------------------------

# Centroid-shrunk children (scale 1/4 about the centroid); every 16th is
# displaced +0.0005 east, out of its parent.
KIDS_SQL = """
SELECT
  area_id + 400000000 AS kid,
  (x1 + x2 + x3) / 3.0 + (x1 - (x1 + x2 + x3) / 3.0) / 4.0
    + CASE WHEN area_id % 16 = 0 THEN 0.0005 ELSE 0.0 END AS kx1,
  (y1 + y2 + y3) / 3.0 + (y1 - (y1 + y2 + y3) / 3.0) / 4.0 AS ky1,
  (x1 + x2 + x3) / 3.0 + (x2 - (x1 + x2 + x3) / 3.0) / 4.0
    + CASE WHEN area_id % 16 = 0 THEN 0.0005 ELSE 0.0 END AS kx2,
  (y1 + y2 + y3) / 3.0 + (y2 - (y1 + y2 + y3) / 3.0) / 4.0 AS ky2,
  (x1 + x2 + x3) / 3.0 + (x3 - (x1 + x2 + x3) / 3.0) / 4.0
    + CASE WHEN area_id % 16 = 0 THEN 0.0005 ELSE 0.0 END AS kx3,
  (y1 + y2 + y3) / 3.0 + (y3 - (y1 + y2 + y3) / 3.0) / 4.0 AS ky3
FROM geo_areas WHERE area_id % 8 = 0
"""


_INSIDE_K = sql_ray3("vx", "vy")
#: the geo_areas / aug triangle bbox (minx, maxx, miny, maxy) expressions
_TRI_BBOX = ("LEAST(x1, x2, x3)", "GREATEST(x1, x2, x3)",
             "LEAST(y1, y2, y3)", "GREATEST(y1, y2, y3)")


def q_area_cover_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    areas = spark.table("geo_areas")
    kids = spark.sql(KIDS_SQL).localCheckpoint()

    verts = kids.selectExpr(
        "kid", "stack(3, kx1, ky1, kx2, ky2, kx3, ky3) AS (vx, vy)"
    )
    acov = explode_tri_cells(
        areas.selectExpr("area_id AS aid", "x1", "y1", "x2", "y2", "x3", "y3"), CELL
    )
    covered = (
        with_point_cell(verts, "vx", "vy", CELL)
        .join(acov, "cell")
        .filter(
            (F.col("vx") >= F.col("_mnx")) & (F.col("vx") <= F.col("_mxx"))
            & (F.col("vy") >= F.col("_mny")) & (F.col("vy") <= F.col("_mxy"))
        )
        .withColumn("inside", F.expr(_INSIDE_K).cast("int"))
        .groupBy("kid", "aid")
        .agg(F.sum("inside").alias("n_in"))
        .filter("n_in = 3")
        .select("kid", "aid")
    )
    acovera = covered.select(
        F.col("aid").alias("id1"), F.col("kid").alias("id2"),
        F.lit("ACOVERA").alias("errtype"),
    )
    anocovera = kids.join(covered, "kid", "left_anti").select(
        F.col("kid").alias("id1"), F.lit(-1).cast("bigint").alias("id2"),
        F.lit("ANOCOVERA").alias("errtype"),
    )
    awithouta = (
        areas.selectExpr("area_id AS aid")
        .join(covered, "aid", "left_anti")
        .select(F.col("aid").alias("id1"), F.lit(-1).cast("bigint").alias("id2"),
                F.lit("AWITHOUTA").alias("errtype"))
    )
    return acovera.unionByName(anocovera).unionByName(awithouta)


ORACLE_AREA_COVER = f"""
{oracle_cte('geo_areas')},
kids AS MATERIALIZED ({KIDS_SQL}),
verts AS (
  SELECT kid, kx1 AS vx, ky1 AS vy FROM kids
  UNION ALL SELECT kid, kx2, ky2 FROM kids
  UNION ALL SELECT kid, kx3, ky3 FROM kids
),
vertc AS (SELECT *, {oracle_point_cell('vx', 'vy', CELL)} FROM verts),
{oracle_bbox_cells('geo_areas', 'areac', *_TRI_BBOX, CELL)},
covered AS MATERIALIZED (
  SELECT kid, aid FROM (
    SELECT DISTINCT v.kid, a.area_id AS aid, v.vx, v.vy,
           a.x1, a.y1, a.x2, a.y2, a.x3, a.y3
    FROM vertc v
    JOIN areac a ON v.cellx = a.cellx AND v.celly = a.celly
    WHERE v.vx >= LEAST(a.x1, a.x2, a.x3) AND v.vx <= GREATEST(a.x1, a.x2, a.x3)
      AND v.vy >= LEAST(a.y1, a.y2, a.y3) AND v.vy <= GREATEST(a.y1, a.y2, a.y3)
  )
  GROUP BY kid, aid
  HAVING SUM(CASE WHEN {_INSIDE_K} THEN 1 ELSE 0 END) = 3
)
SELECT aid AS id1, kid AS id2, 'ACOVERA' AS errtype FROM covered
UNION ALL
SELECT kid, CAST(-1 AS BIGINT), 'ANOCOVERA'
FROM kids k WHERE NOT EXISTS (SELECT 1 FROM covered c WHERE c.kid = k.kid)
UNION ALL
SELECT area_id, CAST(-1 AS BIGINT), 'AWITHOUTA'
FROM geo_areas a
WHERE NOT EXISTS (SELECT 1 FROM covered c WHERE c.aid = a.area_id)
"""


# --- geo_area_share_checks ------------------------------------------------------

# Augmented areal set: originals + exact mirror twins across the bottom edge
# (same fcode on the %18 residue) + overlapping +w/4-east copies.
AUG_SHARE_SQL = """
SELECT area_id AS aid, fcode AS fc, x1, y1, x2, y2, x3, y3 FROM geo_areas
UNION ALL
SELECT area_id + 700000000,
       CASE WHEN area_id % 18 = 0 THEN fcode ELSE 'ZZ999' END,
       x1, y1, x2, y2, x3, y1 + y1 - y3
FROM geo_areas WHERE area_id % 9 = 0
UNION ALL
SELECT area_id + 800000000, 'BH140',
       x1 + CAST(1 + area_id % 5 AS DOUBLE) / 4000.0, y1,
       x2 + CAST(1 + area_id % 5 AS DOUBLE) / 4000.0, y2,
       x3 + CAST(1 + area_id % 5 AS DOUBLE) / 4000.0, y3
FROM geo_areas WHERE area_id % 21 = 0
"""

_U = "CAST(floor({v} * 1000000.0) AS BIGINT)"

#: canonical quantized edge key: endpoints sorted so direction is irrelevant
#: (AddEdgeSegment canonicalization, geomchecks.c:37932).
_EKEY = (
    "CASE WHEN (ux1 < ux2) OR (ux1 = ux2 AND uy1 <= uy2)"
    " THEN concat(ux1, ':', uy1, ':', ux2, ':', uy2)"
    " ELSE concat(ux2, ':', uy2, ':', ux1, ':', uy1) END"
)

AUG_EDGES_SQL = f"""
SELECT aid, fc, 0 AS eidx, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM aug
UNION ALL SELECT aid, fc, 1, x2, y2, x3, y3 FROM aug
UNION ALL SELECT aid, fc, 2, x3, y3, x1, y1 FROM aug
"""


def q_area_share_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = spark.sql(AUG_SHARE_SQL).localCheckpoint()
    aug.createOrReplaceTempView("aug")
    edges = (
        spark.sql(AUG_EDGES_SQL)
        .withColumn("ux1", F.expr(_U.format(v="ax")))
        .withColumn("uy1", F.expr(_U.format(v="ay")))
        .withColumn("ux2", F.expr(_U.format(v="bx")))
        .withColumn("uy2", F.expr(_U.format(v="by")))
        .withColumn("ekey", F.expr(_EKEY))
        .localCheckpoint()
    )

    # shared canonical edges -> area pairs (edge-hash join, no geometry)
    e1 = edges.select("ekey", F.col("aid").alias("id1"), F.col("fc").alias("fc1"))
    e2 = edges.select("ekey", F.col("aid").alias("id2"), F.col("fc").alias("fc2"))
    shared = (
        e1.join(e2, "ekey")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "fc1", "fc2")
        .distinct()
    )
    failmerge = shared.filter("fc1 = fc2").select(
        "id1", "id2", F.lit("FAILMERGEA").alias("errtype"),
        F.lit(0).cast("bigint").alias("ann"),
    )
    fsfail = shared.filter("fc1 <> fc2").select(
        "id1", "id2", F.lit("FSFAIL").alias("errtype"),
        F.lit(0).cast("bigint").alias("ann"),
    )
    share_ids = (
        shared.selectExpr("id1 AS aid").unionByName(shared.selectExpr("id2 AS aid"))
        .distinct()
    )
    psharefail = aug.join(share_ids, "aid", "left_anti").select(
        F.col("aid").alias("id1"), F.lit(-1).cast("bigint").alias("id2"),
        F.lit("PSHAREFAIL").alias("errtype"), F.lit(0).cast("bigint").alias("ann"),
    )
    # AMCOVAFAIL: shared-edge count per area in [1, 2]; ann = uncovered edges
    nshared = (
        edges.select("aid", "ekey")
        .join(edges.selectExpr("ekey", "aid AS oid"), "ekey")
        .filter("aid <> oid")
        .select("aid", "ekey").distinct()
        .groupBy("aid").agg(F.countDistinct("ekey").alias("ns"))
        .filter("ns >= 1 AND ns <= 2")
    )
    amcova = nshared.select(
        F.col("aid").alias("id1"), F.lit(-1).cast("bigint").alias("id2"),
        F.lit("AMCOVAFAIL").alias("errtype"),
        (F.lit(3) - F.col("ns")).cast("bigint").alias("ann"),
    )

    # PART_ISF: properly-crossing edge pair AND a vertex of one inside the other
    segs = edges.select("aid", "ax", "ay", "bx", "by")
    xpairs = (
        crossing_pairs(
            segs.withColumnRenamed("aid", "id1"),
            segs.withColumnRenamed("aid", "id2"),
            CELL,
        )
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    # vertex-of-one-inside-the-other pairs over the aug set
    avert = aug.selectExpr("aid AS vid", "stack(3, x1, y1, x2, y2, x3, y3) AS (vx, vy)")
    acov = explode_tri_cells(
        aug.selectExpr("aid", "x1", "y1", "x2", "y2", "x3", "y3"), CELL
    )
    vin = (
        with_point_cell(avert, "vx", "vy", CELL)
        .join(acov, "cell")
        .filter(F.col("vid") != F.col("aid"))
        .filter(
            (F.col("vx") >= F.col("_mnx")) & (F.col("vx") <= F.col("_mxx"))
            & (F.col("vy") >= F.col("_mny")) & (F.col("vy") <= F.col("_mxy"))
        )
        .filter(F.expr(_INSIDE_K))
        .selectExpr("LEAST(vid, aid) AS id1", "GREATEST(vid, aid) AS id2")
        .distinct()
    )
    part_isf = (
        xpairs.join(vin, ["id1", "id2"], "left_semi")
        .select("id1", "id2", F.lit("PART_ISF").alias("errtype"),
                F.lit(0).cast("bigint").alias("ann"))
    )
    return (
        failmerge.unionByName(fsfail).unionByName(psharefail)
        .unionByName(amcova).unionByName(part_isf)
    )


ORACLE_AREA_SHARE = f"""
{oracle_cte('geo_areas')},
aug AS MATERIALIZED ({AUG_SHARE_SQL}),
edges AS MATERIALIZED (
  SELECT e.*, {_EKEY} AS ekey FROM (
    SELECT x.*, {_U.format(v='ax')} AS ux1, {_U.format(v='ay')} AS uy1,
           {_U.format(v='bx')} AS ux2, {_U.format(v='by')} AS uy2
    FROM ({AUG_EDGES_SQL}) x
  ) e
),
shared AS MATERIALIZED (
  SELECT DISTINCT a.aid AS id1, b.aid AS id2, a.fc AS fc1, b.fc AS fc2
  FROM edges a JOIN edges b ON a.ekey = b.ekey AND a.aid < b.aid
),
nshared AS (
  SELECT aid, COUNT(DISTINCT ekey) AS ns FROM (
    SELECT DISTINCT a.aid, a.ekey
    FROM edges a JOIN edges b ON a.ekey = b.ekey AND a.aid <> b.aid
  ) GROUP BY aid
),
esegs AS (SELECT aid, ax, ay, bx, by FROM edges),
{oracle_seg_cells('esegs', 'edgec', CELL)},
xpairs AS MATERIALIZED (
  SELECT DISTINCT id1, id2 FROM (
    SELECT l.aid AS id1, r.aid AS id2,
           l.ax AS _ax, l.ay AS _ay, l.bx AS _bx, l.by AS _by,
           r.ax AS _cx, r.ay AS _cy, r.bx AS _dx, r.by AS _dy
    FROM edgec l JOIN edgec r
      ON l.cellx = r.cellx AND l.celly = r.celly AND l.aid < r.aid
  ) WHERE {sql_proper_cross()}
),
{oracle_bbox_cells('aug', 'augc', *_TRI_BBOX, CELL)},
vin AS MATERIALIZED (
  SELECT DISTINCT LEAST(v.vid, a.aid) AS id1, GREATEST(v.vid, a.aid) AS id2
  FROM (
    SELECT aid AS vid, x1 AS vx, y1 AS vy, {oracle_point_cell('x1', 'y1', CELL)} FROM aug
    UNION ALL SELECT aid, x2, y2, {oracle_point_cell('x2', 'y2', CELL)} FROM aug
    UNION ALL SELECT aid, x3, y3, {oracle_point_cell('x3', 'y3', CELL)} FROM aug
  ) v
  JOIN augc a
    ON v.cellx = a.cellx AND v.celly = a.celly AND v.vid <> a.aid
   AND v.vx >= LEAST(a.x1, a.x2, a.x3) AND v.vx <= GREATEST(a.x1, a.x2, a.x3)
   AND v.vy >= LEAST(a.y1, a.y2, a.y3) AND v.vy <= GREATEST(a.y1, a.y2, a.y3)
  WHERE {_INSIDE_K}
)
SELECT id1, id2, 'FAILMERGEA' AS errtype, CAST(0 AS BIGINT) AS ann
FROM shared WHERE fc1 = fc2
UNION ALL
SELECT id1, id2, 'FSFAIL', CAST(0 AS BIGINT) FROM shared WHERE fc1 <> fc2
UNION ALL
SELECT aid, CAST(-1 AS BIGINT), 'PSHAREFAIL', CAST(0 AS BIGINT)
FROM aug g
WHERE NOT EXISTS (SELECT 1 FROM shared s WHERE s.id1 = g.aid OR s.id2 = g.aid)
UNION ALL
SELECT aid, CAST(-1 AS BIGINT), 'AMCOVAFAIL', CAST(3 - ns AS BIGINT)
FROM nshared WHERE ns BETWEEN 1 AND 2
UNION ALL
SELECT x.id1, x.id2, 'PART_ISF', CAST(0 AS BIGINT)
FROM xpairs x
WHERE EXISTS (SELECT 1 FROM vin v WHERE v.id1 = x.id1 AND v.id2 = x.id2)
"""

QUERIES = {
    "geo_area_cover_checks": q_area_cover_checks,
    "geo_area_share_checks": q_area_share_checks,
}

ORACLES = {
    "geo_area_cover_checks": ORACLE_AREA_COVER,
    "geo_area_share_checks": ORACLE_AREA_SHARE,
}
