"""Composition / structure checks: multipart, face-size, 3-D poly, T-vertex,
over-covered edge.

Reference semantics:

* ``geo_multipart_checks`` — MULTIPARTP 10 / MULTIPARTL 11 / MULTIPARTA 12
  (errors.c:11460-11462 "multi-part point/line/area").  GAIT counts the
  parts recorded at import for a feature id (MultiLineRoot scan
  TT.c:50972-50996, ``SensitivityCheck(GT, MULTIPARTL, ..., kkk)``) —
  magnitude = part count.  Lines here are detected ORGANICALLY: a "pen-up"
  jump > 0.15 deg between consecutive vertices starts a new part (the
  %101 giant-segment plant in geo_vlines), mirroring how shape_import
  splits multipart records (ShapeWriteArealLinear shape_import.c:4484).
  Points/areas use declared part counts (the IsMulti flag analog,
  share_linux.h:766 ``IsMulti``).
* ``geo_facesize_checks`` — FACESIZE 18 (errors.c:11446 "small area on face
  of area feature"): net face area = outer ring minus cut-outs, in GAIT's
  local equirectangular meters (CalculateGeodeticCoordArea TT.c:4200);
  INCLSLIVER 17 (errors.c:11427 "areal with included sliver"): a cut-out
  whose area/perimeter^2 shape ratio is below the sliver threshold.
* ``geo_smallobj_checks`` — SMALLOBJ 244 (errors.c:11450 "small 3d area
  poly", ``SensitivityCheck(LT, SMALLOBJ, ..., surfacearea3D)``
  TT.c:46131): 3-D surface area below threshold, over an in-module 3-D
  triangle layer; VERTSLOPE 240 (errors.c:11327 "vertical poly", plane
  angle >= pi/2, TT.c:46246-46251): degenerate 2-D footprint with z relief.
* ``geo_tvert`` — TVERT 247 (errors.c:11420 "'T' vertex", emission
  TT.c:32189): a vertex of one feature lying on the INTERIOR of another
  feature's segment (on the segment, away from both segment end nodes).
* ``geo_overc`` — OVERC 246 (errors.c:11453 "over-covered edge"): in a
  landcover mosaic an interior edge must be shared by exactly two areals;
  canonical-edge multiplicity > 2 is over-coverage (same edge machinery as
  COVERFAIL, AddEdgeSegment geomchecks.c:37932).

Fixtures: the %101 pen-up plant in geo_vlines; declared part counts on
every 127th point / 113th area; an in-module 3-D triangle layer (every
13th shrunk 50x -> SMALLOBJ, every 19th xy-collinear with z relief ->
VERTSLOPE); T-points planted at exact segment midpoints of every 29th
line (every 58th lands on a vertex instead -> excluded by the end-node
rule); every 131st mosaic triangle duplicated -> count-3 edges.

Engine shapes: lead() windows for pen-up jumps and ring perimeters, the
shared ring-winding relation for face areas, a corridor point->segment
cell join for T-vertices, canonical-edge hash groupBy for over-coverage —
all codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geodesy import sql_coslat_poly, sql_dist_m, sql_trunc3_mm
from ..operators.proximity import point_seg_candidates
from ..sources.synthetic import GEO_VIEWS, oracle_cte

JUMP_DEG = 0.15              # pen-up jump starting a new line part
FACESIZE_MM2 = 100_000_000   # net face below 100,000 m^2 (milli-m^2)
INCLSLIVER_PPM = 40_000      # cut-out area/perim^2 below 0.04
SMALLOBJ_MM2 = 1_000_000     # 3-D surface below 1,000 m^2 (milli-m^2)
VERT_EPS = 1e-15             # deg^2 cross below this = degenerate footprint
T_TOL_M = 0.001              # vertex-on-segment band (1 mm)
T_END_M = 0.5                # min distance from segment end nodes


# --- geo_multipart_checks (MULTIPARTP 10 / MULTIPARTL 11 / MULTIPARTA 12) --------

# declared part counts (IsMulti analog set at import)
MP_POINTS_SQL = """
SELECT point_id AS feature_id,
       CASE WHEN point_id % 127 = 0 THEN 2 + CAST(point_id % 3 AS INT)
            ELSE 1 END AS npart
FROM geo_points
"""

MP_AREAS_SQL = """
SELECT area_id AS feature_id,
       CASE WHEN area_id % 113 = 0 THEN 2 ELSE 1 END AS npart
FROM geo_areas
"""


def q_multipart_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.table("geo_vlines").select("line_id", "vidx", "x", "y")
    wnd = Window.partitionBy("line_id").orderBy("vidx")
    jumps = (
        v.withColumn("nx", F.lead("x").over(wnd))
        .withColumn("ny", F.lead("y").over(wnd))
        .filter(
            F.col("nx").isNotNull()
            & (
                (F.abs(F.col("nx") - F.col("x")) > JUMP_DEG)
                | (F.abs(F.col("ny") - F.col("y")) > JUMP_DEG)
            )
        )
        .groupBy("line_id")
        .agg((F.count("*") + F.lit(1)).alias("npart"))
    )
    lines = jumps.selectExpr(
        "line_id AS feature_id", "'MULTIPARTL' AS errtype",
        "CAST(npart AS BIGINT) AS npart",
    )
    pts = (
        spark.sql(MP_POINTS_SQL)
        .filter("npart > 1")
        .selectExpr("feature_id", "'MULTIPARTP' AS errtype",
                    "CAST(npart AS BIGINT) AS npart")
    )
    areas = (
        spark.sql(MP_AREAS_SQL)
        .filter("npart > 1")
        .selectExpr("feature_id", "'MULTIPARTA' AS errtype",
                    "CAST(npart AS BIGINT) AS npart")
    )
    return lines.unionByName(pts).unionByName(areas)


ORACLE_MULTIPART = f"""
{oracle_cte('geo_vlines', 'geo_points', 'geo_areas')},
nxt AS (
  SELECT line_id, x, y,
         LEAD(x) OVER (PARTITION BY line_id ORDER BY vidx) AS nx,
         LEAD(y) OVER (PARTITION BY line_id ORDER BY vidx) AS ny
  FROM geo_vlines
)
SELECT line_id AS feature_id, 'MULTIPARTL' AS errtype,
       CAST(COUNT(*) + 1 AS BIGINT) AS npart
FROM nxt
WHERE nx IS NOT NULL
  AND (abs(nx - x) > {JUMP_DEG} OR abs(ny - y) > {JUMP_DEG})
GROUP BY line_id
UNION ALL
SELECT feature_id, 'MULTIPARTP', CAST(npart AS BIGINT)
FROM ({MP_POINTS_SQL}) WHERE npart > 1
UNION ALL
SELECT feature_id, 'MULTIPARTA', CAST(npart AS BIGINT)
FROM ({MP_AREAS_SQL}) WHERE npart > 1
"""


# --- geo_facesize_checks (FACESIZE 18 / INCLSLIVER 17) ---------------------------

_AVG_LAT0 = (
    "CAST(SUM(CAST(floor(y * 1000000.0) AS BIGINT)) AS DOUBLE)"
    " / (COUNT(*) * 1000000.0)"
)

_FACE_M2 = (
    "CAST(face2_udeg2 AS DOUBLE)"
    f" * (111319.5 * {sql_coslat_poly('avg_lat')})"
    " * 111319.5 * 0.0000000000005"
)

_HOLE_M2 = (
    "CAST(hole2_udeg2 AS DOUBLE)"
    f" * (111319.5 * {sql_coslat_poly('avg_lat')})"
    " * 111319.5 * 0.0000000000005"
)


def q_facesize_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sensq import q_ring_winding

    winding = q_ring_winding(spark, sf_dir)
    per_area = winding.groupBy("area_id").agg(
        F.expr(
            "SUM(CASE WHEN ring = 0 THEN abs(area2_udeg2) ELSE 0 END)"
            " - SUM(CASE WHEN ring > 0 THEN abs(area2_udeg2) ELSE 0 END)"
        ).alias("face2_udeg2"),
        F.expr(
            "SUM(CASE WHEN ring > 0 THEN abs(area2_udeg2) ELSE 0 END)"
        ).alias("hole2_udeg2"),
    )
    lat = (
        spark.table("geo_vareas")
        .filter("ring = 0")
        .groupBy("area_id")
        .agg(F.expr(_AVG_LAT0).alias("avg_lat"))
    )
    faces = (
        per_area.join(lat, "area_id")
        .withColumn("face_mm2", F.expr(sql_trunc3_mm(_FACE_M2)))
        .filter(f"face_mm2 < {FACESIZE_MM2}")
        .selectExpr("area_id", "'FACESIZE' AS errtype", "face_mm2 AS mag")
    )

    # cut-out shape ratio: hole area / hole perimeter^2 (meter frame)
    hv = spark.table("geo_vareas").filter("ring = 1").select(
        "area_id", "vidx", "x", "y"
    )
    wnd = Window.partitionBy("area_id").orderBy("vidx")
    hv = hv.withColumn(
        "nx2", F.coalesce(F.lead("x").over(wnd), F.first("x").over(wnd))
    ).withColumn(
        "ny2", F.coalesce(F.lead("y").over(wnd), F.first("y").over(wnd))
    )
    perim = hv.groupBy("area_id").agg(
        F.expr(f"SUM({sql_dist_m('x', 'y', 'nx2', 'ny2')})").alias("perim_m")
    )
    slivers = (
        per_area.join(lat, "area_id").join(perim, "area_id")
        .withColumn(
            "ratio_ppm",
            F.expr(
                f"CAST(floor({_HOLE_M2} / (perim_m * perim_m) * 1000000.0)"
                " AS BIGINT)"
            ),
        )
        .filter(f"hole2_udeg2 > 0 AND ratio_ppm < {INCLSLIVER_PPM}")
        .selectExpr("area_id", "'INCLSLIVER' AS errtype", "ratio_ppm AS mag")
    )
    return faces.unionByName(slivers)


def _facesize_oracle() -> str:
    from .sensq import ORACLE_RING_WINDING

    return f"""
WITH winding AS ({ORACLE_RING_WINDING.strip()}),
geo_vareas2 AS ({GEO_VIEWS['geo_vareas']}),
per_area AS (
  SELECT area_id,
         SUM(CASE WHEN ring = 0 THEN abs(area2_udeg2) ELSE 0 END)
           - SUM(CASE WHEN ring > 0 THEN abs(area2_udeg2) ELSE 0 END)
           AS face2_udeg2,
         SUM(CASE WHEN ring > 0 THEN abs(area2_udeg2) ELSE 0 END)
           AS hole2_udeg2
  FROM winding GROUP BY 1
),
lat AS (
  SELECT area_id, {_AVG_LAT0} AS avg_lat
  FROM geo_vareas2 WHERE ring = 0 GROUP BY 1
),
hv AS (
  SELECT area_id, vidx, x, y,
         COALESCE(LEAD(x) OVER w, FIRST_VALUE(x) OVER w) AS nx2,
         COALESCE(LEAD(y) OVER w, FIRST_VALUE(y) OVER w) AS ny2
  FROM geo_vareas2 WHERE ring = 1
  WINDOW w AS (PARTITION BY area_id ORDER BY vidx)
),
perim AS (
  SELECT area_id, SUM({sql_dist_m('x', 'y', 'nx2', 'ny2')}) AS perim_m
  FROM hv GROUP BY 1
)
SELECT area_id, 'FACESIZE' AS errtype,
       {sql_trunc3_mm(_FACE_M2)} AS mag
FROM per_area JOIN lat USING (area_id)
WHERE {sql_trunc3_mm(_FACE_M2)} < {FACESIZE_MM2}
UNION ALL
SELECT area_id, 'INCLSLIVER',
       CAST(floor({_HOLE_M2} / (perim_m * perim_m) * 1000000.0) AS BIGINT)
FROM per_area JOIN lat USING (area_id) JOIN perim USING (area_id)
WHERE hole2_udeg2 > 0
  AND CAST(floor({_HOLE_M2} / (perim_m * perim_m) * 1000000.0) AS BIGINT)
      < {INCLSLIVER_PPM}
"""


# --- geo_smallobj_checks (SMALLOBJ 244 / VERTSLOPE 240) --------------------------

# In-module 3-D triangle layer (ThePolys analog, share_linux.h:824): every
# 13th poly shrunk 50x (SMALLOBJ plant); every 19th has xy-collinear corners
# with z relief (vertical plane; takes precedence over the shrink).
POLYS_SQL = """
SELECT
  o_orderkey AS poly_id,
  CAST((o_orderkey * 863) % 4000 AS DOUBLE) / 1000.0 + 10.0 AS x1,
  CAST((o_orderkey * 431) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS y1,
  CAST((o_orderkey * 863) % 4000 AS DOUBLE) / 1000.0 + 10.0
    + CASE WHEN o_orderkey % 19 = 0
           THEN CAST(1 + o_orderkey % 5 AS DOUBLE) / 1000.0
           WHEN o_orderkey % 13 = 0
           THEN CAST(1 + o_orderkey % 5 AS DOUBLE) / 50000.0
           ELSE CAST(1 + o_orderkey % 5 AS DOUBLE) / 1000.0 END AS x2,
  CAST((o_orderkey * 431) % 4000 AS DOUBLE) / 1000.0 + 40.0
    + CASE WHEN o_orderkey % 19 = 0
           THEN CAST(1 + o_orderkey % 5 AS DOUBLE) / 1000.0
           ELSE 0.0 END AS y2,
  CAST((o_orderkey * 863) % 4000 AS DOUBLE) / 1000.0 + 10.0
    + CASE WHEN o_orderkey % 19 = 0
           THEN CAST(1 + o_orderkey % 5 AS DOUBLE) / 500.0
           WHEN o_orderkey % 13 = 0
           THEN CAST(1 + o_orderkey % 5 AS DOUBLE) / 100000.0
           ELSE CAST(1 + o_orderkey % 5 AS DOUBLE) / 2000.0 END AS x3,
  CAST((o_orderkey * 431) % 4000 AS DOUBLE) / 1000.0 + 40.0
    + CASE WHEN o_orderkey % 19 = 0
           THEN CAST(1 + o_orderkey % 5 AS DOUBLE) / 500.0
           WHEN o_orderkey % 13 = 0
           THEN CAST(2 + o_orderkey % 7 AS DOUBLE) / 50000.0
           ELSE CAST(2 + o_orderkey % 7 AS DOUBLE) / 1000.0 END AS y3,
  CAST((o_orderkey * 7) % 30 AS DOUBLE)       AS z1,
  CAST((o_orderkey * 7 + 11) % 30 AS DOUBLE)
    + CASE WHEN o_orderkey % 19 = 0
           THEN CAST(3 * (1 + o_orderkey % 7) AS DOUBLE) ELSE 0.0 END AS z2,
  CAST((o_orderkey * 7 + 22) % 30 AS DOUBLE)
    + CASE WHEN o_orderkey % 19 = 0
           THEN CAST(6 * (1 + o_orderkey % 7) AS DOUBLE) ELSE 0.0 END AS z3
FROM orders
"""

_MLON_P = f"(111319.5 * {sql_coslat_poly('((y1 + y2 + y3) / 3.0)')})"

# 3-D surface area: 0.5 * |e1 x e2| with edges in the local meter frame
_CXX = (
    f"((y2 - y1) * 111319.5 * (z3 - z1) - (z2 - z1) * (y3 - y1) * 111319.5)"
)
_CXY = (
    f"((z2 - z1) * (x3 - x1) * {_MLON_P} - (x2 - x1) * {_MLON_P} * (z3 - z1))"
)
_CXZ = (
    f"((x2 - x1) * {_MLON_P} * (y3 - y1) * 111319.5"
    f" - (y2 - y1) * 111319.5 * (x3 - x1) * {_MLON_P})"
)
_AREA3D_M2 = f"0.5 * sqrt({_CXX} * {_CXX} + {_CXY} * {_CXY} + {_CXZ} * {_CXZ})"

_FOOT_CROSS = "((x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1))"
_IS_VERT = (
    f"abs({_FOOT_CROSS}) < {VERT_EPS}"
    " AND (z1 <> z2 OR z2 <> z3 OR z1 <> z3)"
)


def q_smallobj_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # POLYS_SQL's corner columns are multi-branch CASE expressions; when
    # CollapseProject inlines them into _AREA3D_M2 (which already repeats the
    # cos-lat polynomial ~12x) the generated method overflows janino's 64 KB
    # limit and the stage drops to interpreted mode.  A Generate barrier
    # materializes the nine corner scalars once so the area expression only
    # references plain attributes — identical double sequence, oracle hash
    # unchanged.
    corners = ("x1", "y1", "z1", "x2", "y2", "z2", "x3", "y3", "z3")
    p = (
        spark.sql(POLYS_SQL)
        .select(
            "poly_id",
            F.explode(F.array(F.struct(*corners))).alias("t"),
        )
        .select("poly_id", "t.*")
    )
    vert = p.filter(F.expr(_IS_VERT)).selectExpr(
        "poly_id", "'VERTSLOPE' AS errtype", "CAST(0 AS BIGINT) AS mag"
    )
    small = (
        p.filter(F.expr(f"NOT ({_IS_VERT})"))
        .withColumn("area3d_mm2", F.expr(sql_trunc3_mm(_AREA3D_M2)))
        .filter(f"area3d_mm2 < {SMALLOBJ_MM2}")
        .selectExpr("poly_id", "'SMALLOBJ' AS errtype", "area3d_mm2 AS mag")
    )
    return vert.unionByName(small)


ORACLE_SMALLOBJ = f"""
WITH p AS ({POLYS_SQL})
SELECT poly_id, 'VERTSLOPE' AS errtype, CAST(0 AS BIGINT) AS mag
FROM p WHERE {_IS_VERT}
UNION ALL
SELECT poly_id, 'SMALLOBJ', {sql_trunc3_mm(_AREA3D_M2)}
FROM p
WHERE NOT ({_IS_VERT})
  AND {sql_trunc3_mm(_AREA3D_M2)} < {SMALLOBJ_MM2}
"""


# --- geo_tvert (TVERT 247) --------------------------------------------------------

# Planted T-points: the exact midpoint of segment 1 of every 29th line,
# owned by a different feature; every 58th line's point lands ON a vertex
# instead (a node connection, not a T -> excluded by the end-node rule).
TPOINTS_SQL = """
SELECT line_id + 1 AS pt_owner,
  CASE WHEN line_id % 58 = 0 THEN x2 ELSE (x1 + x2) / 2.0 END AS px,
  CASE WHEN line_id % 58 = 0 THEN y2 ELSE (y1 + y2) / 2.0 END AS py
FROM geo_lines WHERE line_id % 29 = 0
"""

TSEGS_SQL = """
SELECT line_id AS seg_line, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_lines
UNION ALL
SELECT line_id, x2, y2, x3, y3 FROM geo_lines
"""


def q_tvert(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = spark.sql(TPOINTS_SQL)
    segs = spark.sql(TSEGS_SQL).withColumns(
        {"eax": F.col("ax"), "eay": F.col("ay"),
         "ebx": F.col("bx"), "eby": F.col("by")}
    )
    cand = point_seg_candidates(
        pts.selectExpr("pt_owner AS src_id", "px", "py"),
        segs.selectExpr("seg_line AS tgt_id", "ax", "ay", "bx", "by",
                        "eax", "eay", "ebx", "eby"),
        T_TOL_M,
        cell_deg=0.001,
        open_interval=False,
        keep_seg_cols=("eax", "eay", "ebx", "eby"),
    )
    # candidates drop the point coords; join the (tiny) point layer back to
    # evaluate the end-node exclusion (broadcast — 1/29th of lines)
    cand = cand.join(
        F.broadcast(pts.selectExpr("pt_owner AS src_id", "px", "py")),
        "src_id",
    )
    da = F.expr(sql_dist_m("px", "py", "eax", "eay"))
    db = F.expr(sql_dist_m("px", "py", "ebx", "eby"))
    return (
        cand.filter((da > T_END_M) & (db > T_END_M))
        .select(
            F.col("src_id").alias("pt_owner"),
            F.col("tgt_id").alias("host_line"),
            F.lit("TVERT").alias("errtype"),
        )
        .distinct()
    )


from ..functions.geodesy import sql_point_seg_dist_m  # noqa: E402

_PSD_T = sql_point_seg_dist_m("p.px", "p.py", "s.ax", "s.ay", "s.bx", "s.by")
_DA_T = sql_dist_m("p.px", "p.py", "s.ax", "s.ay")
_DB_T = sql_dist_m("p.px", "p.py", "s.bx", "s.by")

ORACLE_TVERT = f"""
{oracle_cte('geo_lines')},
pts AS ({TPOINTS_SQL}),
segs AS ({TSEGS_SQL})
SELECT DISTINCT p.pt_owner, s.seg_line AS host_line, 'TVERT' AS errtype
FROM pts p
JOIN segs s
  ON p.px >= LEAST(s.ax, s.bx) - 0.0001
 AND p.px <= GREATEST(s.ax, s.bx) + 0.0001
 AND p.py >= LEAST(s.ay, s.by) - 0.0001
 AND p.py <= GREATEST(s.ay, s.by) + 0.0001
WHERE {_PSD_T} >= 0.0 AND {_PSD_T} < {T_TOL_M}
  AND {_DA_T} > {T_END_M} AND {_DB_T} > {T_END_M}
"""


# --- geo_overc (OVERC 246) ---------------------------------------------------------

OVERC_GRID_N = 60
OVERC_DUP_MOD = 131

# the COVERFAIL mosaic (queries/coverage2.py) with every 131st triangle
# DUPLICATED under a shifted id -> its three edges exceed multiplicity 2
OVERC_TRIS_SQL = f"""
SELECT o_orderkey AS tri_id,
       CAST(floor(o_orderkey / 2.0) AS BIGINT) % {OVERC_GRID_N} AS i,
       CAST(floor(floor(o_orderkey / 2.0) / {OVERC_GRID_N}) AS BIGINT) AS j,
       CAST(o_orderkey % 2 AS INT) AS upper
FROM orders
WHERE o_orderkey < {2 * OVERC_GRID_N * OVERC_GRID_N}
UNION ALL
SELECT o_orderkey + {2 * OVERC_GRID_N * OVERC_GRID_N},
       CAST(floor(o_orderkey / 2.0) AS BIGINT) % {OVERC_GRID_N},
       CAST(floor(floor(o_orderkey / 2.0) / {OVERC_GRID_N}) AS BIGINT),
       CAST(o_orderkey % 2 AS INT)
FROM orders
WHERE o_orderkey < {2 * OVERC_GRID_N * OVERC_GRID_N}
  AND o_orderkey % {OVERC_DUP_MOD} = 0
"""

OVERC_EDGES_SQL = f"""
tris AS ({OVERC_TRIS_SQL}),
corners AS (
  SELECT tri_id, upper,
         i * 100000 + j            AS sw,
         (i + 1) * 100000 + j      AS se,
         (i + 1) * 100000 + j + 1  AS ne,
         i * 100000 + j + 1        AS nw
  FROM tris
),
edges AS (
  SELECT LEAST(sw, se) AS a, GREATEST(sw, se) AS b FROM corners WHERE upper = 0
  UNION ALL
  SELECT LEAST(se, ne), GREATEST(se, ne) FROM corners WHERE upper = 0
  UNION ALL
  SELECT LEAST(ne, sw), GREATEST(ne, sw) FROM corners WHERE upper = 0
  UNION ALL
  SELECT LEAST(sw, ne), GREATEST(sw, ne) FROM corners WHERE upper = 1
  UNION ALL
  SELECT LEAST(ne, nw), GREATEST(ne, nw) FROM corners WHERE upper = 1
  UNION ALL
  SELECT LEAST(nw, sw), GREATEST(nw, sw) FROM corners WHERE upper = 1
)
"""


def q_overc(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = spark.sql(f"WITH {OVERC_EDGES_SQL} SELECT a, b FROM edges")
    return (
        edges.groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
        .filter("cnt > 2")
        .selectExpr("a", "b", "'OVERC' AS errtype", "CAST(cnt AS BIGINT) AS cnt")
    )


ORACLE_OVERC = f"""
WITH {OVERC_EDGES_SQL}
SELECT a, b, 'OVERC' AS errtype, CAST(COUNT(*) AS BIGINT) AS cnt
FROM edges GROUP BY a, b HAVING COUNT(*) > 2
"""


QUERIES = {
    "geo_multipart_checks": q_multipart_checks,
    "geo_facesize_checks": q_facesize_checks,
    "geo_smallobj_checks": q_smallobj_checks,
    "geo_tvert": q_tvert,
    "geo_overc": q_overc,
}

ORACLES = {
    "geo_multipart_checks": ORACLE_MULTIPART,
    "geo_facesize_checks": _facesize_oracle(),
    "geo_smallobj_checks": ORACLE_SMALLOBJ,
    "geo_tvert": ORACLE_TVERT,
    "geo_overc": ORACLE_OVERC,
}
