"""Line x line and proximity VARIANT checks (round-2 "missing #4/#5") —
predicate variations over the existing crossing / k-ring joins.

Reference (driver PerformLinearRelatedChecks geomchecks.c:12715; proximity
block :5266-10630; comments errors.c:11283-11531):

* LLIEX 117      — line-line intersection EXCEPT compatible features: a
  crossing is a condition only when the two lines carry different fcodes
  (errors.c:11310);
* LLINTAWAY 123  — two lines intersect and cross OVER each other: the
  intersection point is at least tolerance away from all four segment
  endpoints (errors.c:11307);
* LLNOENDINT 128 — lines intersect, but not at an end point: the crossing
  does not coincide (exact micro-degree) with any vertex (errors.c:11306);
* LLI_ANGLE 130  — two lines intersect at a severe (shallow) angle:
  sin(angle) < 1/2 in the local meter frame (errors.c:11531);
* FEATNOTCUT 45  — feature not cut at the end node of a second feature: a
  T-junction without a node (errors.c:11283);
* BADFEATCUT 51  — feature cut when no need: exactly two same-fcode line
  ends meet at a node with nothing else incident (errors.c:11303);
* LAPROX 97      — line-to-area proximity (errors.c:11518);
* LVPROX 101     — interior line vertex near another line (errors.c:11493);
* EN_EN_PROX 102 — undershoot end nodes already connected through another
  feature (errors.c:11514);
* PLPROXEX 98    — point-to-line proximity with an exception for line end
  nodes (errors.c:11496);
* PSHOOTL 34     — point over/undershoots a line: the perpendicular foot
  clamps to a segment end (errors.c:11495);
* BNDRYUNDERSHT 39 — feature end node undershoots the whole-degree project
  boundary (errors.c:11472);
* LUSHTL_DF 31   — line-line undershoot restricted to DIFFERENT feature
  types (errors.c:11509).

All decisions are shared SQL texts (poly-cos meter frame, integer
micro-degree coincidence), candidates come from the same cell machinery as
the core joins, so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import (
    sql_coslat_poly,
    sql_dist_m,
    sql_point_seg_dist_m,
)
from ..operators.intersections import (
    segment_crossings,
    segment_intersections,
    sql_intersection_xy,
    sql_proper_cross,
)
from ..operators.networks import endpoint_nodes, line_adjacency
from ..operators.pip import (
    oracle_kring_cells,
    oracle_seg_cells,
    with_kring_cells,
    with_point_cell,
)
from ..operators.proximity import (
    point_proximity_pairs,
    point_to_segment_proximity,
)
from ..sources.synthetic import oracle_cte
from .coverageq import _line_ends, _line_segs

LLINTAWAY_TOL_M = 40.0
FEATNOTCUT_TOL_M = 30.0
FEATNOTCUT_VERTEX_M = 10.0
LAPROX_TOL_M = 100.0
LVPROX_TOL_M = 80.0
ENEN_TOL_M = 200.0
PLPROXEX_TOL_M = 100.0
PLPROXEX_END_M = 50.0
PSHOOTL_TOL_M = 100.0
BNDRY_TOL_M = 200.0
LUSHTL_DF_TOL_M = 100.0
_PRE = 0.003

_IX, _IY = sql_intersection_xy()

# oracle-side crossing pairs of geo_lines segments (bbox-prefiltered IEJoin)
_ORACLE_XINGS = f"""
segs AS MATERIALIZED (
  SELECT line_id, fcode, 1 AS seg_which,
         x1 AS sax, y1 AS say, x2 AS sbx, y2 AS sby
  FROM geo_lines
  UNION ALL
  SELECT line_id, fcode, 2, x2, y2, x3, y3 FROM geo_lines
),
xings AS MATERIALIZED (
  SELECT a.line_id AS id_a, b.line_id AS id_b,
         a.fcode AS fcode_a, b.fcode AS fcode_b,
         a.seg_which AS seg_a, b.seg_which AS seg_b,
         a.sax AS _ax, a.say AS _ay, a.sbx AS _bx, a.sby AS _by,
         b.sax AS _cx, b.say AS _cy, b.sbx AS _dx, b.sby AS _dy
  FROM segs a JOIN segs b
    ON a.line_id < b.line_id
   AND LEAST(a.sax, a.sbx) <= GREATEST(b.sax, b.sbx)
   AND GREATEST(a.sax, a.sbx) >= LEAST(b.sax, b.sbx)
   AND LEAST(a.say, a.sby) <= GREATEST(b.say, b.sby)
   AND GREATEST(a.say, a.sby) >= LEAST(b.say, b.sby)
  WHERE {sql_proper_cross()}
)
"""


def _xings(spark: SparkSession) -> DataFrame:
    """Engine-side crossings of geo_lines segments with coords + fcodes."""
    segs = _line_segs(spark.table("geo_lines"), carry=("fcode",)).selectExpr(
        "line_id", "seg_which AS seg_idx", "fcode",
        "ax AS sax", "ay AS say", "bx AS sbx", "by AS sby",
    )
    return segment_crossings(segs, cell_deg=0.005)


# --- geo_lliex (LLIEX 117) ------------------------------------------------------


def q_lliex(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _xings(spark)
        .filter(F.col("fcode_a") != F.col("fcode_b"))
        .select("id_a", "id_b", "seg_a", "seg_b")
        .dropDuplicates(["id_a", "id_b", "seg_a", "seg_b"])
    )


ORACLE_LLIEX = f"""
{oracle_cte('geo_lines', materialized=True)},
{_ORACLE_XINGS.strip()}
SELECT DISTINCT id_a, id_b, seg_a, seg_b
FROM xings WHERE fcode_a <> fcode_b
"""


# --- geo_llintaway (LLINTAWAY 123) ----------------------------------------------

_AWAY_PRED = " AND ".join(
    f"{sql_dist_m(_IX, _IY, ex, ey)} >= {LLINTAWAY_TOL_M}"
    for ex, ey in (("_ax", "_ay"), ("_bx", "_by"), ("_cx", "_cy"), ("_dx", "_dy"))
)


def q_llintaway(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _AWAY_PRED inlines the parametric intersection point (_IX, _IY) into
    # each of the four endpoint distances; after CollapseProject the expanded
    # expression overflows janino's 64 KB method limit and drops the stage to
    # interpreted mode.  Stage (ix, iy) behind a Generate barrier and express
    # the distances over the staged scalars — identical double sequence, so
    # the oracle hash is unchanged.
    staged = _xings(spark).select(
        "id_a", "id_b", "seg_a", "seg_b",
        "_ax", "_ay", "_bx", "_by", "_cx", "_cy", "_dx", "_dy",
        F.explode(
            F.array(
                F.struct(F.expr(_IX).alias("ix"), F.expr(_IY).alias("iy"))
            )
        ).alias("t"),
    )
    pred = " AND ".join(
        f"{sql_dist_m('t.ix', 't.iy', ex, ey)} >= {LLINTAWAY_TOL_M}"
        for ex, ey in (
            ("_ax", "_ay"), ("_bx", "_by"), ("_cx", "_cy"), ("_dx", "_dy")
        )
    )
    return (
        staged.filter(F.expr(pred))
        .select("id_a", "id_b", "seg_a", "seg_b")
        .dropDuplicates(["id_a", "id_b", "seg_a", "seg_b"])
    )


ORACLE_LLINTAWAY = f"""
{oracle_cte('geo_lines', materialized=True)},
{_ORACLE_XINGS.strip()}
SELECT DISTINCT id_a, id_b, seg_a, seg_b
FROM xings WHERE {_AWAY_PRED}
"""


# --- geo_llnoendint (LLNOENDINT 128) --------------------------------------------

_IXU = f"CAST(floor({_IX} * 1000000.0) AS BIGINT)"
_IYU = f"CAST(floor({_IY} * 1000000.0) AS BIGINT)"
_NOEND_PRED = " AND ".join(
    f"NOT ({_IXU} = CAST(floor({ex} * 1000000.0) AS BIGINT)"
    f" AND {_IYU} = CAST(floor({ey} * 1000000.0) AS BIGINT))"
    for ex, ey in (("_ax", "_ay"), ("_bx", "_by"), ("_cx", "_cy"), ("_dx", "_dy"))
)


def q_llnoendint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _xings(spark)
        .filter(F.expr(_NOEND_PRED))
        .select("id_a", "id_b", "seg_a", "seg_b")
        .dropDuplicates(["id_a", "id_b", "seg_a", "seg_b"])
    )


ORACLE_LLNOENDINT = f"""
{oracle_cte('geo_lines', materialized=True)},
{_ORACLE_XINGS.strip()}
SELECT DISTINCT id_a, id_b, seg_a, seg_b
FROM xings WHERE {_NOEND_PRED}
"""


# --- geo_lli_angle (LLI_ANGLE 130) ----------------------------------------------

_MLON = f"(111319.5 * {sql_coslat_poly(_IY)})"
_UXM = f"((_bx - _ax) * {_MLON})"
_UYM = "((_by - _ay) * 111319.5)"
_VXM = f"((_dx - _cx) * {_MLON})"
_VYM = "((_dy - _cy) * 111319.5)"
_CRS = f"({_UXM} * {_VYM} - {_UYM} * {_VXM})"
_ANGLE_PRED = (
    f"({_CRS} * {_CRS} < 0.25 * ({_UXM} * {_UXM} + {_UYM} * {_UYM})"
    f" * ({_VXM} * {_VXM} + {_VYM} * {_VYM}))"
)


def q_lli_angle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _xings(spark)
        .filter(F.expr(_ANGLE_PRED))
        .select("id_a", "id_b", "seg_a", "seg_b")
        .dropDuplicates(["id_a", "id_b", "seg_a", "seg_b"])
    )


ORACLE_LLI_ANGLE = f"""
{oracle_cte('geo_lines', materialized=True)},
{_ORACLE_XINGS.strip()}
SELECT DISTINCT id_a, id_b, seg_a, seg_b
FROM xings WHERE {_ANGLE_PRED}
"""


# --- geo_featnotcut (FEATNOTCUT 45) ---------------------------------------------


def q_featnotcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B's end node within tolerance of A's segment INTERIOR (not near A's
    own vertices): a T-junction where A should have been cut but was not."""
    lines = spark.table("geo_lines")
    ends = _line_ends(lines)
    segs = _line_segs(lines).selectExpr(
        "line_id * 10 + seg_which AS tgt_id", "ax", "ay", "bx", "by"
    )
    near = point_to_segment_proximity(
        ends.selectExpr("pid AS src_id", "px", "py"),
        segs,
        tol_m=FEATNOTCUT_TOL_M,
        open_interval=False,
    )
    coords = ends.selectExpr("pid AS src_id", "px", "py")
    sc = _line_segs(lines).selectExpr(
        "line_id * 10 + seg_which AS tgt_id", "ax", "ay", "bx", "by"
    )
    vx_pred = (
        f"{sql_dist_m('px', 'py', 'ax', 'ay')} >= {FEATNOTCUT_VERTEX_M}"
        f" AND {sql_dist_m('px', 'py', 'bx', 'by')} >= {FEATNOTCUT_VERTEX_M}"
    )
    return (
        near.join(coords, "src_id")
        .join(sc, "tgt_id")
        .filter(F.expr("src_id DIV 2 <> tgt_id DIV 10"))
        .filter(F.expr(vx_pred))
        .selectExpr(
            "tgt_id DIV 10 AS line_a",
            "src_id DIV 2 AS line_b",
            "CAST(src_id % 2 AS INT) AS end_which",
        )
        .dropDuplicates(["line_a", "line_b", "end_which"])
    )


ORACLE_FEATNOTCUT = f"""
{oracle_cte('geo_lines', materialized=True)},
ends AS MATERIALIZED (
  SELECT line_id * 2 AS pid, line_id, 0 AS end_which, x1 AS px, y1 AS py
  FROM geo_lines
  UNION ALL
  SELECT line_id * 2 + 1, line_id, 1, x3, y3 FROM geo_lines
),
segs AS MATERIALIZED (
  SELECT line_id, 1 AS seg_which, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by
  FROM geo_lines
  UNION ALL
  SELECT line_id, 2, x2, y2, x3, y3 FROM geo_lines
)
SELECT DISTINCT s.line_id AS line_a, e.line_id AS line_b,
       CAST(e.end_which AS INT) AS end_which
FROM ends e JOIN segs s
  ON e.px BETWEEN LEAST(s.ax, s.bx) - {_PRE} AND GREATEST(s.ax, s.bx) + {_PRE}
 AND e.py BETWEEN LEAST(s.ay, s.by) - {_PRE} AND GREATEST(s.ay, s.by) + {_PRE}
 AND e.line_id <> s.line_id
WHERE {sql_point_seg_dist_m('e.px', 'e.py', 's.ax', 's.ay', 's.bx', 's.by')}
      < {FEATNOTCUT_TOL_M}
  AND {sql_dist_m('e.px', 'e.py', 's.ax', 's.ay')} >= {FEATNOTCUT_VERTEX_M}
  AND {sql_dist_m('e.px', 'e.py', 's.bx', 's.by')} >= {FEATNOTCUT_VERTEX_M}
"""


# --- geo_badfeatcut (BADFEATCUT 51) ---------------------------------------------


_NODE_A = (
    "CAST(floor({x} * 1000000.0) AS BIGINT) * 1000000000"
    " + CAST(floor({y} * 1000000.0) AS BIGINT)"
)

#: arrival vectors into each endpoint node, scaled to meters at the node
#: latitude — end 0 arrives along the reversed first segment, end 1 along
#: the last segment
_ARRIVALS_SQL = f"""
SELECT line_id, fcode, {_NODE_A.format(x='x1', y='y1')} AS node_key,
       (x1 - x2) * (111319.5 * {sql_coslat_poly('y1')}) AS dxm,
       (y1 - y2) * 111319.5 AS dym
FROM geo_lines
UNION ALL
SELECT line_id, fcode, {_NODE_A.format(x='x3', y='y3')},
       (x3 - x2) * (111319.5 * {sql_coslat_poly('y3')}),
       (y3 - y2) * 111319.5
FROM geo_lines
"""

#: the two lines run collinear at the node (|sin| < 0.1 between arrival
#: vectors, either orientation): continuing straight through, or doubling
#: back along the same alignment — with matching fcodes the cut serves no
#: geometric or attribution purpose
_STRAIGHT_PRED = (
    "((a.dxm * b.dym - a.dym * b.dxm) * (a.dxm * b.dym - a.dym * b.dxm)"
    " < 0.01 * (a.dxm * a.dxm + a.dym * a.dym)"
    " * (b.dxm * b.dxm + b.dym * b.dym))"
)


def q_badfeatcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two same-fcode lines meet at a node and continue nearly straight
    through it — the cut has no geometric or attribution purpose."""
    arr = spark.sql(_ARRIVALS_SQL)
    a = arr.alias("a")
    b = arr.alias("b")
    return (
        a.join(
            b,
            (F.expr("a.node_key = b.node_key"))
            & (F.expr("a.line_id < b.line_id")),
        )
        .filter(F.expr("a.fcode = b.fcode"))
        .filter(F.expr(_STRAIGHT_PRED))
        .selectExpr("a.line_id AS line_a", "b.line_id AS line_b")
        .dropDuplicates(["line_a", "line_b"])
    )


ORACLE_BADFEATCUT = f"""
{oracle_cte('geo_lines', materialized=True)},
arrivals AS MATERIALIZED ({_ARRIVALS_SQL})
SELECT DISTINCT a.line_id AS line_a, b.line_id AS line_b
FROM arrivals a
JOIN arrivals b ON b.node_key = a.node_key AND a.line_id < b.line_id
WHERE a.fcode = b.fcode AND {_STRAIGHT_PRED}
"""


# --- geo_laprox (LAPROX 97) -----------------------------------------------------


def q_laprox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smallest end-node-to-areal-edge distance per (line, area) in
    (0, tol): the line skims the area without touching it."""
    from .vgeomq import _area_edges

    lines = spark.table("geo_lines")
    ends = _line_ends(lines)
    aedges = _area_edges(spark).selectExpr(
        "area_id AS tgt_id", "ex1 AS ax", "ey1 AS ay", "ex2 AS bx", "ey2 AS by"
    )
    near = point_to_segment_proximity(
        ends.selectExpr("pid AS src_id", "px", "py"),
        aedges,
        tol_m=LAPROX_TOL_M,
        open_interval=True,
    )
    return (
        near.selectExpr("src_id DIV 2 AS line_id", "tgt_id AS area_id", "dist_mm")
        .groupBy("line_id", "area_id")
        .agg(F.min("dist_mm").alias("dist_mm"))
    )


ORACLE_LAPROX = f"""
{oracle_cte('geo_lines', 'geo_vareas', materialized=True)},
{{edges_cte}},
ends AS MATERIALIZED (
  SELECT line_id, x1 AS px, y1 AS py FROM geo_lines
  UNION ALL
  SELECT line_id, x3, y3 FROM geo_lines
),
{oracle_seg_cells('edges', 'edgec2', 0.01, ax='ex1', ay='ey1', bx='ex2', by='ey2')},
{oracle_kring_cells('ends', 'epk', 0.01)},
near AS (
  SELECT DISTINCT e.line_id, s.area_id,
         CAST(floor({sql_point_seg_dist_m('e.px', 'e.py', 's.ex1', 's.ey1', 's.ex2', 's.ey2')}
              * 1000.0) AS BIGINT) AS dist_mm
  FROM epk e JOIN edgec2 s ON s.cellx = e.cellx AND s.celly = e.celly
  WHERE {sql_point_seg_dist_m('e.px', 'e.py', 's.ex1', 's.ey1', 's.ex2', 's.ey2')} > 0.0
    AND {sql_point_seg_dist_m('e.px', 'e.py', 's.ex1', 's.ey1', 's.ex2', 's.ey2')}
        < {LAPROX_TOL_M}
)
SELECT line_id, area_id, MIN(dist_mm) AS dist_mm
FROM near GROUP BY 1, 2
"""


# --- geo_lvprox (LVPROX 101) ----------------------------------------------------


def q_lvprox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interior vertex (x2, y2) within (0, tol) of another line's segment."""
    lines = spark.table("geo_lines")
    verts = lines.selectExpr("line_id AS src_id", "x2 AS px", "y2 AS py")
    segs = _line_segs(lines).selectExpr(
        "line_id AS tgt_id", "ax", "ay", "bx", "by"
    )
    return (
        point_to_segment_proximity(verts, segs, tol_m=LVPROX_TOL_M)
        .filter(F.col("src_id") != F.col("tgt_id"))
        .groupBy("src_id", "tgt_id")
        .agg(F.min("dist_mm").alias("dist_mm"))
    )


ORACLE_LVPROX = f"""
{oracle_cte('geo_lines', materialized=True)},
segs AS MATERIALIZED (
  SELECT line_id, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_lines
  UNION ALL
  SELECT line_id, x2, y2, x3, y3 FROM geo_lines
),
near AS (
  SELECT v.line_id AS src_id, s.line_id AS tgt_id,
         CAST(floor({sql_point_seg_dist_m('v.x2', 'v.y2', 's.ax', 's.ay', 's.bx', 's.by')}
              * 1000.0) AS BIGINT) AS dist_mm
  FROM geo_lines v JOIN segs s
    ON v.x2 BETWEEN LEAST(s.ax, s.bx) - {_PRE} AND GREATEST(s.ax, s.bx) + {_PRE}
   AND v.y2 BETWEEN LEAST(s.ay, s.by) - {_PRE} AND GREATEST(s.ay, s.by) + {_PRE}
   AND v.line_id <> s.line_id
  WHERE {sql_point_seg_dist_m('v.x2', 'v.y2', 's.ax', 's.ay', 's.bx', 's.by')} > 0.0
    AND {sql_point_seg_dist_m('v.x2', 'v.y2', 's.ax', 's.ay', 's.bx', 's.by')}
        < {LVPROX_TOL_M}
)
SELECT src_id, tgt_id, MIN(dist_mm) AS dist_mm FROM near GROUP BY 1, 2
"""


# --- geo_en_en_prox (EN_EN_PROX 102) --------------------------------------------


def q_en_en_prox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-miss end-node pairs whose lines are ALREADY connected through a
    common third feature (sharing exact nodes with both)."""
    lines = spark.table("geo_lines")
    ends = _line_ends(lines)
    pairs = point_proximity_pairs(
        ends, id_col="pid", lon="px", lat="py", tol_m=ENEN_TOL_M
    ).selectExpr("id_a DIV 2 AS line_a", "id_b DIV 2 AS line_b")
    pairs = pairs.filter(F.col("line_a") != F.col("line_b")).dropDuplicates(
        ["line_a", "line_b"]
    )
    adj = line_adjacency(endpoint_nodes(lines))
    via_a = adj.selectExpr("a AS line_a", "b AS via")
    via_b = adj.selectExpr("a AS _lb", "b AS _via2")
    return (
        pairs.join(via_a, "line_a")
        .join(via_b, (F.col("line_b") == F.col("_lb")) & (F.col("via") == F.col("_via2")))
        .filter((F.col("via") != F.col("line_a")) & (F.col("via") != F.col("line_b")))
        .select("line_a", "line_b")
        .dropDuplicates(["line_a", "line_b"])
    )


ORACLE_EN_EN_PROX = f"""
{oracle_cte('geo_lines', materialized=True)},
ends AS MATERIALIZED (
  SELECT line_id, x1 AS px, y1 AS py FROM geo_lines
  UNION ALL
  SELECT line_id, x3, y3 FROM geo_lines
),
nodes AS MATERIALIZED (
  SELECT line_id, {_NODE_A.format(x='x1', y='y1')} AS node_key FROM geo_lines
  UNION ALL
  SELECT line_id, {_NODE_A.format(x='x3', y='y3')} FROM geo_lines
),
near AS (
  SELECT DISTINCT LEAST(a.line_id, b.line_id) AS line_a,
         GREATEST(a.line_id, b.line_id) AS line_b
  FROM ends a JOIN ends b
    ON a.line_id < b.line_id
   AND b.px BETWEEN a.px - {_PRE} AND a.px + {_PRE}
   AND b.py BETWEEN a.py - {_PRE} AND a.py + {_PRE}
  WHERE {sql_dist_m('a.px', 'a.py', 'b.px', 'b.py')} > 0.0
    AND {sql_dist_m('a.px', 'a.py', 'b.px', 'b.py')} < {ENEN_TOL_M}
)
,
adj AS MATERIALIZED (
  SELECT DISTINCT a.line_id AS a, b.line_id AS b
  FROM nodes a JOIN nodes b
    ON b.node_key = a.node_key AND a.line_id <> b.line_id
)
SELECT DISTINCT n.line_a, n.line_b
FROM near n
JOIN adj p ON p.a = n.line_a
JOIN adj q ON q.a = n.line_b AND q.b = p.b
WHERE p.b <> n.line_a AND p.b <> n.line_b
"""


# --- geo_plproxex (PLPROXEX 98) -------------------------------------------------


def q_plproxex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point near a line segment — EXCEPT points that sit near a line end
    node (those are legitimate junction features)."""
    lines = spark.table("geo_lines")
    sites = spark.table("geo_sites").selectExpr(
        "site_id AS src_id", "lon AS px", "lat AS py"
    )
    segs = _line_segs(lines).selectExpr(
        "line_id AS tgt_id", "ax", "ay", "bx", "by"
    )
    near = point_to_segment_proximity(sites, segs, tol_m=PLPROXEX_TOL_M)
    ends = _line_ends(lines)
    cell = 0.004
    s = with_point_cell(
        spark.table("geo_sites").select("site_id", "lon", "lat"), "lon", "lat", cell
    )
    e = with_kring_cells(ends, "px", "py", cell)
    near_end = (
        s.join(e, "cell")
        .filter(
            F.expr(f"{sql_dist_m('lon', 'lat', 'px', 'py')} < {PLPROXEX_END_M}")
        )
        .select("site_id")
        .distinct()
    )
    return (
        near.selectExpr("src_id AS site_id", "tgt_id AS line_id", "dist_mm")
        .join(near_end, "site_id", "left_anti")
        .groupBy("site_id", "line_id")
        .agg(F.min("dist_mm").alias("dist_mm"))
    )


ORACLE_PLPROXEX = f"""
{oracle_cte('geo_sites', 'geo_lines', materialized=True)},
segs AS MATERIALIZED (
  SELECT line_id, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_lines
  UNION ALL
  SELECT line_id, x2, y2, x3, y3 FROM geo_lines
),
ends AS MATERIALIZED (
  SELECT x1 AS px, y1 AS py FROM geo_lines
  UNION ALL
  SELECT x3, y3 FROM geo_lines
),
near_end AS (
  SELECT DISTINCT s.site_id
  FROM geo_sites s JOIN ends e
    ON e.px BETWEEN s.lon - {_PRE} AND s.lon + {_PRE}
   AND e.py BETWEEN s.lat - {_PRE} AND s.lat + {_PRE}
  WHERE {sql_dist_m('s.lon', 's.lat', 'e.px', 'e.py')} < {PLPROXEX_END_M}
),
near AS (
  SELECT s.site_id, g.line_id,
         CAST(floor({sql_point_seg_dist_m('s.lon', 's.lat', 'g.ax', 'g.ay', 'g.bx', 'g.by')}
              * 1000.0) AS BIGINT) AS dist_mm
  FROM geo_sites s JOIN segs g
    ON s.lon BETWEEN LEAST(g.ax, g.bx) - {_PRE} AND GREATEST(g.ax, g.bx) + {_PRE}
   AND s.lat BETWEEN LEAST(g.ay, g.by) - {_PRE} AND GREATEST(g.ay, g.by) + {_PRE}
  WHERE {sql_point_seg_dist_m('s.lon', 's.lat', 'g.ax', 'g.ay', 'g.bx', 'g.by')} > 0.0
    AND {sql_point_seg_dist_m('s.lon', 's.lat', 'g.ax', 'g.ay', 'g.bx', 'g.by')}
        < {PLPROXEX_TOL_M}
)
SELECT site_id, line_id, MIN(dist_mm) AS dist_mm
FROM near
WHERE site_id NOT IN (SELECT site_id FROM near_end)
GROUP BY 1, 2
"""


# --- geo_pshootl (PSHOOTL 34) ---------------------------------------------------

#: clamped-parameter test: the perpendicular foot falls OUTSIDE the segment
#: (c1 <= 0 -> undershoots the start; c1 >= c2 -> overshoots the end), in the
#: same meter projection as sql_point_seg_dist_m
def _foot_case(px, py, ax, ay, bx, by) -> str:
    avg_lat = f"((({ay}) + ({by})) * 0.5)"
    mlon = f"(111319.5 * {sql_coslat_poly(avg_lat)})"
    vx = f"((({bx}) - ({ax})) * {mlon})"
    vy = f"((({by}) - ({ay})) * 111319.5)"
    wx = f"((({px}) - ({ax})) * {mlon})"
    wy = f"((({py}) - ({ay})) * 111319.5)"
    c1 = f"({vx} * {wx} + {vy} * {wy})"
    c2 = f"({vx} * {vx} + {vy} * {vy})"
    return f"(CASE WHEN {c1} <= 0.0 THEN 0 WHEN {c1} >= {c2} THEN 1 ELSE -1 END)"


def q_pshootl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point within tolerance of a line segment whose perpendicular foot
    clamps to a segment END — the point over/undershoots the line."""
    lines = spark.table("geo_lines")
    sites = spark.table("geo_sites").selectExpr(
        "site_id AS src_id", "lon AS px", "lat AS py"
    )
    segs = _line_segs(lines).selectExpr(
        "line_id * 10 + seg_which AS tgt_id", "ax", "ay", "bx", "by"
    )
    near = point_to_segment_proximity(sites, segs, tol_m=PSHOOTL_TOL_M)
    coords = spark.table("geo_sites").selectExpr(
        "site_id AS src_id", "lon AS px", "lat AS py"
    )
    sc = _line_segs(lines).selectExpr(
        "line_id * 10 + seg_which AS tgt_id", "ax", "ay", "bx", "by"
    )
    foot = _foot_case("px", "py", "ax", "ay", "bx", "by")
    return (
        near.join(coords, "src_id")
        .join(sc, "tgt_id")
        .withColumn("_foot", F.expr(foot))
        .filter(F.col("_foot") >= 0)
        .selectExpr(
            "src_id AS site_id",
            "tgt_id DIV 10 AS line_id",
            "CAST(_foot AS INT) AS which_end",
            "dist_mm",
        )
        .groupBy("site_id", "line_id", "which_end")
        .agg(F.min("dist_mm").alias("dist_mm"))
    )


def _oracle_pshootl() -> str:
    foot = _foot_case("s.lon", "s.lat", "g.ax", "g.ay", "g.bx", "g.by")
    d = sql_point_seg_dist_m("s.lon", "s.lat", "g.ax", "g.ay", "g.bx", "g.by")
    return f"""
{oracle_cte('geo_sites', 'geo_lines', materialized=True)},
segs AS MATERIALIZED (
  SELECT line_id, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM geo_lines
  UNION ALL
  SELECT line_id, x2, y2, x3, y3 FROM geo_lines
)
SELECT s.site_id, g.line_id, CAST({foot} AS INT) AS which_end,
       MIN(CAST(floor({d} * 1000.0) AS BIGINT)) AS dist_mm
FROM geo_sites s JOIN segs g
  ON s.lon BETWEEN LEAST(g.ax, g.bx) - {_PRE} AND GREATEST(g.ax, g.bx) + {_PRE}
 AND s.lat BETWEEN LEAST(g.ay, g.by) - {_PRE} AND GREATEST(g.ay, g.by) + {_PRE}
WHERE {d} > 0.0 AND {d} < {PSHOOTL_TOL_M} AND {foot} >= 0
GROUP BY 1, 2, 3
"""


ORACLE_PSHOOTL = _oracle_pshootl()


# --- geo_bndryundersht (BNDRYUNDERSHT 39) ---------------------------------------

#: meter distance from an end node to the nearest whole-degree meridian /
#: parallel; fractional part of a positive coordinate is exact in both engines
_BX = "((px - floor(px)) * (111319.5 * " + sql_coslat_poly("py") + "))"
_BXD = f"(LEAST({_BX}, (111319.5 * {sql_coslat_poly('py')}) - {_BX}))"
_BY = "((py - floor(py)) * 111319.5)"
_BYD = f"(LEAST({_BY}, 111319.5 - {_BY}))"
_BMIN = f"LEAST({_BXD}, {_BYD})"


def q_bndryundersht(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line end node within (0, tol) meters of a whole-degree boundary but
    not exactly on it — the feature undershoots the project edge."""
    ends = _line_ends(spark.table("geo_lines"))
    return (
        ends.withColumn("_d", F.expr(_BMIN))
        .filter((F.col("_d") > 0.0) & (F.col("_d") < BNDRY_TOL_M))
        .selectExpr(
            "line_id",
            "CAST(end_which AS INT) AS end_which",
            "CAST(floor(_d * 1000.0) AS BIGINT) AS dist_mm",
        )
    )


ORACLE_BNDRYUNDERSHT = f"""
{oracle_cte('geo_lines', materialized=True)},
ends AS MATERIALIZED (
  SELECT line_id, 0 AS end_which, x1 AS px, y1 AS py FROM geo_lines
  UNION ALL
  SELECT line_id, 1, x3, y3 FROM geo_lines
)
SELECT line_id, CAST(end_which AS INT) AS end_which,
       CAST(floor({_BMIN} * 1000.0) AS BIGINT) AS dist_mm
FROM ends
WHERE {_BMIN} > 0.0 AND {_BMIN} < {BNDRY_TOL_M}
"""


# --- geo_lushtl_df (LUSHTL_DF 31) -----------------------------------------------


def q_lushtl_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-end-to-line undershoot restricted to DIFFERENT feature types."""
    lines = spark.table("geo_lines")
    ends = lines.selectExpr("line_id AS src_id", "x3 AS px", "y3 AS py")
    segs = lines.selectExpr(
        "line_id AS tgt_id", "x1 AS ax", "y1 AS ay", "x2 AS bx", "y2 AS by"
    )
    near = point_to_segment_proximity(
        ends, segs, tol_m=LUSHTL_DF_TOL_M
    ).filter(F.col("src_id") != F.col("tgt_id"))
    fc = lines.select("line_id", "fcode")
    return (
        near.join(fc.selectExpr("line_id AS src_id", "fcode AS fc_a"), "src_id")
        .join(fc.selectExpr("line_id AS tgt_id", "fcode AS fc_b"), "tgt_id")
        .filter(F.col("fc_a") != F.col("fc_b"))
        .select("src_id", "tgt_id", "dist_mm")
    )


_DFD = sql_point_seg_dist_m("a.x3", "a.y3", "b.x1", "b.y1", "b.x2", "b.y2")
ORACLE_LUSHTL_DF = f"""
{oracle_cte('geo_lines', materialized=True)}
SELECT a.line_id AS src_id, b.line_id AS tgt_id,
       CAST(floor({_DFD} * 1000.0) AS BIGINT) AS dist_mm
FROM geo_lines a JOIN geo_lines b
  ON a.line_id <> b.line_id
 AND a.x3 BETWEEN b.x1 - 0.012 AND b.x1 + 0.012
 AND a.y3 BETWEEN b.y1 - 0.012 AND b.y1 + 0.012
WHERE {_DFD} > 0.0 AND {_DFD} < {LUSHTL_DF_TOL_M}
  AND a.fcode <> b.fcode
"""


def _oracle_laprox() -> str:
    from .vgeomq import _edges_cte

    return ORACLE_LAPROX.format(edges_cte=_edges_cte(materialized=True))


QUERIES = {
    "geo_lliex": q_lliex,
    "geo_llintaway": q_llintaway,
    "geo_llnoendint": q_llnoendint,
    "geo_lli_angle": q_lli_angle,
    "geo_featnotcut": q_featnotcut,
    "geo_badfeatcut": q_badfeatcut,
    "geo_laprox": q_laprox,
    "geo_lvprox": q_lvprox,
    "geo_en_en_prox": q_en_en_prox,
    "geo_plproxex": q_plproxex,
    "geo_pshootl": q_pshootl,
    "geo_bndryundersht": q_bndryundersht,
    "geo_lushtl_df": q_lushtl_df,
}

ORACLES = {
    "geo_lliex": ORACLE_LLIEX,
    "geo_llintaway": ORACLE_LLINTAWAY,
    "geo_llnoendint": ORACLE_LLNOENDINT,
    "geo_lli_angle": ORACLE_LLI_ANGLE,
    "geo_featnotcut": ORACLE_FEATNOTCUT,
    "geo_badfeatcut": ORACLE_BADFEATCUT,
    "geo_laprox": _oracle_laprox(),
    "geo_lvprox": ORACLE_LVPROX,
    "geo_en_en_prox": ORACLE_EN_EN_PROX,
    "geo_plproxex": ORACLE_PLPROXEX,
    "geo_pshootl": ORACLE_PSHOOTL,
    "geo_bndryundersht": ORACLE_BNDRYUNDERSHT,
    "geo_lushtl_df": ORACLE_LUSHTL_DF,
}



# --- geo_loc_multint (LOC_MULTINT 127) ------------------------------------------
#
# "Lines with no or compatible LOC values intersect each other multiple
# times" (errors.c:11530) — the attribute-gated form of LLMULTINT over the
# variable-vertex lines: the repeated-crossing rollup fires only when both
# features carry the same LOC classification (derived deterministically as
# line_id % 5 in this schema).


def q_loc_multint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intersections import segments_of_vertices
    from .vgeomq import SEGCELL

    x = segment_intersections(
        segments_of_vertices(spark.table("geo_vlines")), cell_deg=SEGCELL
    )
    return (
        x.filter(F.expr("id_a % 5 = id_b % 5"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_crossings"))
        .filter(F.col("n_crossings") > 1)
    )


def _oracle_loc_multint() -> str:
    from .vgeomq import oracle_llint_v

    return f"""
WITH llint AS ({oracle_llint_v(materialized=True)})
SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_crossings
FROM llint WHERE id_a % 5 = id_b % 5
GROUP BY 1, 2 HAVING COUNT(*) > 1
"""


QUERIES["geo_loc_multint"] = q_loc_multint
ORACLES["geo_loc_multint"] = _oracle_loc_multint()
