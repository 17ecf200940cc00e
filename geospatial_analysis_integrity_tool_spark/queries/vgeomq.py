"""Variable-vertex pairwise geometry checks (SURVEY.md §2.3/§2.5, re-gated).

The reference data model is vertex arrays (RawLinear.x[]/y[]/z[] + numnodes,
share_linux.h:751-780; RawAreal rings share_linux.h:718-749 + AreaAndHoles
:310-330).  These queries run on the variable-length fixtures ``geo_vlines``
(2..50 vertices per line) and ``geo_vareas`` (4..10-vertex polygons, every
6th with a hole ring):

* ``geo_line_intersections`` — LLINT 118 (PerformLinearRelatedChecks
  geomchecks.c:12715): segment explode (posexplode over xs/ys) + cell join +
  codegen orientation tests, long/short skew split.
* ``geo_loops``             — LOOPS 108 (TT.c:43064): self-intersection;
  per-feature segment pairs, join key = feature id.
* ``geo_line_area``         — LAINT 124 / LINSIDEA 68 (geomchecks.c:3725):
  segment x ring-edge crossing + hole-aware even-odd containment.
* ``geo_area_overlap``      — AOVERLAPA 136 (TwoArealsIntersect
  geomchecks.c:36379): edge crossings or vertex containment either way.
* ``geo_kickback``          — KICKBACK 107 (TT.c:43064 group): consecutive
  segments folding back by > 170 deg.
* ``geo_zkink``             — Z_KINK 104: z second-difference spikes.
* ``geo_areakink``          — AREAKINK 109: sharp interior angle between
  consecutive ring edges (> 120 deg turn).

All exact predicates are shared SQL text evaluated by BOTH engines
(whole-stage codegen on Spark; same arithmetic in DuckDB), so decisions are
bit-identical; candidate generation (cell joins) may differ structurally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.intersections import (
    crossing_pairs,
    seg_cols,
    segment_intersections,
    segments_of_vertices,
    self_intersections_of_segments,
    sql_intersection_xy,
    sql_proper_cross,
    vertices_to_lines,
)
from ..operators.pip import (
    explode_bbox_cells,
    oracle_bbox_cells,
    sql_ray_edge,
)
from ..sources.synthetic import oracle_cte

CELL = 0.01

#: Finer grid for geometry x geometry cell joins (segment x segment, segment x
#: ring-edge).  The variable-vertex fixtures' segments/edges average ~0.0012
#: degrees, so at CELL=0.01 each cell packs ~8x more geometry per axis than
#: needed and the cell equi-join emits ~5x more candidate pairs than at 0.005
#: (measured sf0.1: LAINT 42.4M -> 15.6M pairs, LLINT wall 13.5 -> 7.8 s;
#: explode volume only grows 1.25 -> 1.4 cells/segment).  Candidate grids
#: never change results (exact predicate + DISTINCT after), so the oracle
#: just mirrors the same constant.  Point-probe and whole-area-bbox covers
#: keep the coarser CELL: an area bbox cover is quadratic in 1/cell.
SEGCELL = 0.005

#: Segment x ring-edge and edge x edge joins pack even denser (every 6th
#: area contributes a hole ring), and their predicate work per candidate is
#: cheaper than the seg x seg orientation battery, so the candidate-volume /
#: explode-volume trade tips one step finer.  A/B at sf0.1 (interleaved,
#: same session): LAINT 11.2 -> 6.9 s, AOVERLAPA 4.5 -> 4.0 s at 0.0025,
#: while LLINT is best left at 0.005 (7.7 vs 8.4 s).  Grids never change
#: results (exact predicate + DISTINCT after); the oracle mirrors the
#: constant.
EDGECELL = 0.0025

# --- shared predicate texts ----------------------------------------------------

#: fold-back > 170 deg: cos(angle) < -cos(10deg); sqrt-free via squared dot.
KICKBACK_PRED = (
    "((ux * wx + uy * wy) < 0"
    " AND (ux * wx + uy * wy) * (ux * wx + uy * wy)"
    " > 0.96984631039295421 * ((ux * ux + uy * uy) * (wx * wx + wy * wy)))"
)

#: turn > 120 deg: cos(angle) < -0.5 -> dot < 0 AND dot^2 > 0.25*|u|^2|w|^2.
AREAKINK_PRED = (
    "((ux * wx + uy * wy) < 0"
    " AND (ux * wx + uy * wy) * (ux * wx + uy * wy)"
    " > 0.25 * ((ux * ux + uy * uy) * (wx * wx + wy * wy)))"
)

Z_KINK_TOL = 50.0  # meters of |z[k-1] - 2 z[k] + z[k+1]|

# --- DuckDB structural helpers -------------------------------------------------

# segments of geo_vlines (long form; engine builds the same via posexplode)
_SEGS_CTE = """
segs AS (
  SELECT a.line_id, a.vidx + 1 AS seg_idx,
         a.x AS sax, a.y AS say, b.x AS sbx, b.y AS sby,
         LEAST(a.x, b.x) AS mnx, GREATEST(a.x, b.x) AS mxx,
         LEAST(a.y, b.y) AS mny, GREATEST(a.y, b.y) AS mxy
  FROM geo_vlines a
  JOIN geo_vlines b ON a.line_id = b.line_id AND b.vidx = a.vidx + 1
)
"""

#: the ring-edge columns (ex1, ey1)-(ex2, ey2) of _edges_cte, qualified by e
_E_EDGE = seg_cols("e", "ex1", "ey1", "ex2", "ey2")


def _edges_cte(view: str = "geo_vareas", materialized: bool = False) -> str:
    """The CTEs ``nv`` and ``edges``: ring edges of the areal vertex view
    ``view`` incl. the closing edge (vidx + 1 mod ring size)."""
    return f"""nv AS (
  SELECT area_id, ring, COUNT(*) AS n FROM {view} GROUP BY area_id, ring
),
edges AS {'MATERIALIZED ' if materialized else ''}(
  SELECT v.area_id, v.ring, v.vidx AS eidx,
         v.x AS ex1, v.y AS ey1, w.x AS ex2, w.y AS ey2,
         LEAST(v.x, w.x) AS mnx, GREATEST(v.x, w.x) AS mxx,
         LEAST(v.y, w.y) AS mny, GREATEST(v.y, w.y) AS mxy
  FROM {view} v
  JOIN nv ON nv.area_id = v.area_id AND nv.ring = v.ring
  JOIN {view} w ON w.area_id = v.area_id AND w.ring = v.ring
       AND w.vidx = (v.vidx + 1) % nv.n
)"""


# --- geo_line_intersections (LLINT 118, re-gated on geo_vlines) ----------------


def q_line_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = segments_of_vertices(spark.table("geo_vlines"))
    return segment_intersections(segs, cell_deg=SEGCELL)


_IX, _IY = sql_intersection_xy()

def oracle_llint_v(materialized: bool = False) -> str:
    """The geo_line_intersections oracle; ``materialized`` as for
    :func:`oracle_cte`."""
    return f"""
{oracle_cte('geo_vlines', materialized=materialized)},
{_SEGS_CTE.strip()},
{oracle_bbox_cells('segs', 'segc', 'mnx', 'mxx', 'mny', 'mxy', SEGCELL)},
pairs AS (
  SELECT a.line_id AS id_a, b.line_id AS id_b,
         a.seg_idx AS seg_a, b.seg_idx AS seg_b,
         a.sax AS _ax, a.say AS _ay, a.sbx AS _bx, a.sby AS _by,
         b.sax AS _cx, b.say AS _cy, b.sbx AS _dx, b.sby AS _dy
  FROM segc a JOIN segc b
    ON a.cellx = b.cellx AND a.celly = b.celly
   AND a.line_id < b.line_id
   AND a.mnx <= b.mxx AND a.mxx >= b.mnx
   AND a.mny <= b.mxy AND a.mxy >= b.mny
)
SELECT DISTINCT id_a, id_b, seg_a, seg_b,
       CAST(floor({_IX} * 1000000.0) AS BIGINT) AS ix_udeg,
       CAST(floor({_IY} * 1000000.0) AS BIGINT) AS iy_udeg
FROM pairs
WHERE {sql_proper_cross()}
"""


ORACLE_LLINT_V = oracle_llint_v()


# --- geo_loops (LOOPS 108) -----------------------------------------------------


def q_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = segments_of_vertices(spark.table("geo_vlines"))
    return self_intersections_of_segments(segs)


ORACLE_LOOPS = f"""
{oracle_cte('geo_vlines')},
{_SEGS_CTE.strip()},
pairs AS (
  SELECT a.line_id, a.seg_idx AS seg_a, b.seg_idx AS seg_b,
         a.sax AS _ax, a.say AS _ay, a.sbx AS _bx, a.sby AS _by,
         b.sax AS _cx, b.say AS _cy, b.sbx AS _dx, b.sby AS _dy
  FROM segs a JOIN segs b
    ON a.line_id = b.line_id AND b.seg_idx > a.seg_idx + 1
)
SELECT line_id, seg_a, seg_b,
       CAST(floor({_IX} * 1000000.0) AS BIGINT) AS ix_udeg,
       CAST(floor({_IY} * 1000000.0) AS BIGINT) AS iy_udeg
FROM pairs
WHERE {sql_proper_cross()}
"""


# --- geo_line_area (LAINT 124 / LINSIDEA 68, hole-aware) -----------------------


def _area_edges(spark: SparkSession, view: str = "geo_vareas") -> DataFrame:
    """Ring edges (incl. closing edge) of an areal vertex view.

    One window pass per ring: ``lead`` gives the successor vertex and the
    closing edge wraps to ``first`` — a single shuffle on (area_id, ring)
    with NO join.  (The round-2 version equi-joined the ring to itself and
    filtered on a modulo — an n-squared-per-ring fan-out the filter then
    threw away; at a 10k-vertex coastline ring that is 10^8 intermediate
    rows per ring.)
    """
    from pyspark.sql.window import Window

    v = spark.table(view)
    w = Window.partitionBy("area_id", "ring").orderBy("vidx")
    return v.select(
        "area_id",
        "ring",
        F.col("vidx").alias("eidx"),
        F.col("x").alias("ex1"),
        F.col("y").alias("ey1"),
        F.coalesce(F.lead("x").over(w), F.first("x").over(w)).alias("ex2"),
        F.coalesce(F.lead("y").over(w), F.first("y").over(w)).alias("ey2"),
    )


def _inside_pairs(spark: SparkSession, edges: DataFrame, probes: DataFrame,
                  probe_keys: list[str], view: str = "geo_vareas") -> DataFrame:
    """(probe, area) pairs where the probe point is inside the areal
    (even-odd parity over all ring edges, holes included).

    probes: DataFrame with probe_keys + px, py.  Candidates via the area-bbox
    cell cover (probe occupies one cell -> candidate pairs are unique);
    parity computed by an equi-join on area_id — fully distributed, no
    broadcast of vertex arrays.
    """
    v = spark.table(view)
    bbox = v.groupBy("area_id").agg(
        F.min("x").alias("_minx"),
        F.max("x").alias("_maxx"),
        F.min("y").alias("_miny"),
        F.max("y").alias("_maxy"),
    )
    bcells = explode_bbox_cells(bbox, "_minx", "_maxx", "_miny", "_maxy", CELL)
    from ..operators.pip import with_point_cell

    pcells = with_point_cell(probes, "px", "py", CELL)
    cand = (
        pcells.join(bcells, "cell")
        .filter(
            (F.col("px") >= F.col("_minx"))
            & (F.col("px") <= F.col("_maxx"))
            & (F.col("py") >= F.col("_miny"))
            & (F.col("py") <= F.col("_maxy"))
        )
        .select(*probe_keys, "px", "py", "area_id")
    )
    crossings = cand.join(edges, "area_id").withColumn(
        "_c", F.expr(sql_ray_edge("px", "py", "ex1", "ey1", "ex2", "ey2"))
    )
    parity = (
        crossings.groupBy(*probe_keys, "area_id")
        .agg(F.sum("_c").alias("_nc"))
        .filter(F.col("_nc") % 2 == 1)
    )
    return parity.select(*probe_keys, "area_id")


def q_line_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = segments_of_vertices(spark.table("geo_vlines"))
    edges = _area_edges(spark)
    laint = (
        crossing_pairs(
            segs.select("line_id", "sax", "say", "sbx", "sby"),
            edges.select("area_id", "ex1", "ey1", "ex2", "ey2"),
            EDGECELL,
            a_seg=("sax", "say", "sbx", "sby"),
            b_seg=("ex1", "ey1", "ex2", "ey2"),
        )
        .select("line_id", "area_id")
        .dropDuplicates(["line_id", "area_id"])
    )

    # LINSIDEA needs ALL vertices inside, which requires the whole LINE bbox
    # inside the AREA bbox — so candidate pairs are built per LINE, not per
    # vertex (a vertex of a line that sticks out of the bbox can never be
    # part of an all-inside pair; probing it is pure fan-out).  The line-bbox
    # min corner is a single probe cell: when containment holds it is always
    # covered by the area's bbox cell cover, and a single-cell probe cannot
    # duplicate pairs.  Output-identical to the per-vertex candidate route
    # (parity only ever fires for vertices inside the area bbox).
    v = spark.table("geo_vlines")
    line_bb = v.groupBy("line_id").agg(
        F.min("x").alias("_lminx"),
        F.max("x").alias("_lmaxx"),
        F.min("y").alias("_lminy"),
        F.max("y").alias("_lmaxy"),
        F.count("*").alias("_nv"),
    )
    area_bb = spark.table("geo_vareas").groupBy("area_id").agg(
        F.min("x").alias("_minx"),
        F.max("x").alias("_maxx"),
        F.min("y").alias("_miny"),
        F.max("y").alias("_maxy"),
    )
    bcells = explode_bbox_cells(area_bb, "_minx", "_maxx", "_miny", "_maxy", CELL)
    from ..operators.pip import with_point_cell

    pairs = (
        with_point_cell(line_bb, "_lminx", "_lminy", CELL)
        .join(bcells, "cell")
        .filter(
            (F.col("_lminx") >= F.col("_minx"))
            & (F.col("_lmaxx") <= F.col("_maxx"))
            & (F.col("_lminy") >= F.col("_miny"))
            & (F.col("_lmaxy") <= F.col("_maxy"))
        )
        .select("line_id", "area_id", "_nv")
    )
    parity = (
        v.select("line_id", "vidx", F.col("x").alias("px"), F.col("y").alias("py"))
        .join(pairs, "line_id")
        .join(edges, "area_id")
        .withColumn("_c", F.expr(sql_ray_edge("px", "py", "ex1", "ey1", "ex2", "ey2")))
        .groupBy("line_id", "area_id", "_nv", "vidx")
        .agg(F.sum("_c").alias("_ncross"))
        .filter(F.col("_ncross") % 2 == 1)
    )
    all_inside = (
        parity.groupBy("line_id", "area_id", "_nv")
        .agg(F.count("*").alias("_nin"))
        .filter(F.col("_nin") == F.col("_nv"))
        .select("line_id", "area_id")
    )
    linsidea = all_inside.join(laint, ["line_id", "area_id"], "left_anti")
    return laint.withColumn("errtype", F.lit("LAINT")).unionByName(
        linsidea.withColumn("errtype", F.lit("LINSIDEA"))
    )


ORACLE_LINE_AREA_V = f"""
{oracle_cte('geo_vlines', 'geo_vareas')},
{_SEGS_CTE.strip()},
{_edges_cte()},
{oracle_bbox_cells('segs', 'segc', 'mnx', 'mxx', 'mny', 'mxy', EDGECELL)},
{oracle_bbox_cells('edges', 'edgec', 'mnx', 'mxx', 'mny', 'mxy', EDGECELL)},
laint AS (
  SELECT DISTINCT s.line_id, e.area_id
  FROM segc s JOIN edgec e
    ON s.cellx = e.cellx AND s.celly = e.celly
  WHERE {sql_proper_cross(seg_cols('s', 'sax', 'say', 'sbx', 'sby'), _E_EDGE)}
),
abbox AS (
  SELECT area_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM geo_vareas GROUP BY area_id
),
{oracle_bbox_cells('abbox', 'abc', 'mnx', 'mxx', 'mny', 'mxy', CELL)},
cand AS (
  SELECT v.line_id, v.vidx, v.x AS px, v.y AS py, a.area_id
  FROM geo_vlines v JOIN abc a
    ON CAST(floor(v.x / {CELL}) AS BIGINT) = a.cellx
   AND CAST(floor(v.y / {CELL}) AS BIGINT) = a.celly
   AND v.x >= a.mnx AND v.x <= a.mxx AND v.y >= a.mny AND v.y <= a.mxy
),
parity AS (
  SELECT c.line_id, c.vidx, c.area_id,
         SUM({sql_ray_edge('c.px', 'c.py', *_E_EDGE)}) AS nc
  FROM cand c JOIN edges e ON e.area_id = c.area_id
  GROUP BY c.line_id, c.vidx, c.area_id
),
inside_v AS (
  SELECT line_id, vidx, area_id FROM parity WHERE nc % 2 = 1
),
nvl AS (
  SELECT line_id, COUNT(*) AS nv FROM geo_vlines GROUP BY line_id
),
all_inside AS (
  SELECT i.line_id, i.area_id
  FROM inside_v i JOIN nvl ON nvl.line_id = i.line_id
  GROUP BY i.line_id, i.area_id, nvl.nv
  HAVING COUNT(*) = nvl.nv
)
SELECT line_id, area_id, 'LAINT' AS errtype FROM laint
UNION ALL
SELECT a.line_id, a.area_id, 'LINSIDEA' AS errtype
FROM all_inside a
WHERE NOT EXISTS (
  SELECT 1 FROM laint l
  WHERE l.line_id = a.line_id AND l.area_id = a.area_id
)
"""


# --- geo_area_overlap (AOVERLAPA 136, variable polygons) -----------------------


# augmented areal set for the overlap check: every 11th area gets a copy
# shifted east by a quarter-width — guaranteed overlapping siblings (the
# decoupled prime lattice never overlaps organically; pair deltas are
# lattice-correlated).  Shared SQL text -> identical geometry in both engines.
_AREAS_OV_SQL = """
SELECT area_id, ring, vidx, x, y FROM geo_vareas
UNION ALL
SELECT area_id + 30000000, ring, vidx,
       x + CAST(1 + (area_id % 5) AS DOUBLE) / 4000.0, y
FROM geo_vareas WHERE area_id % 11 = 0
"""


def q_area_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(_AREAS_OV_SQL).createOrReplaceTempView("geo_vareas_ov")
    edges = _area_edges(spark, view="geo_vareas_ov")
    seg = ("ex1", "ey1", "ex2", "ey2")
    segs = edges.select("area_id", *seg)
    crossed = (
        crossing_pairs(
            segs.withColumnRenamed("area_id", "id_a"),
            segs.withColumnRenamed("area_id", "id_b"),
            EDGECELL, seg, seg,
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # representative-vertex containment (outer ring vertex 0) either way
    rep = spark.table("geo_vareas_ov").filter("ring = 0 AND vidx = 0").select(
        F.col("area_id").alias("probe_id"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
    )
    inside = _inside_pairs(
        spark, edges, rep, ["probe_id"], view="geo_vareas_ov"
    ).filter(F.col("probe_id") != F.col("area_id"))
    contain = inside.select(
        F.least("probe_id", "area_id").alias("id_a"),
        F.greatest("probe_id", "area_id").alias("id_b"),
    )
    return crossed.unionByName(contain).dropDuplicates(["id_a", "id_b"])


ORACLE_AREA_OVERLAP_V = f"""
{oracle_cte('geo_vareas')},
geo_vareas_ov AS MATERIALIZED ({_AREAS_OV_SQL}),
{_edges_cte('geo_vareas_ov')},
{oracle_bbox_cells('edges', 'edgec', 'mnx', 'mxx', 'mny', 'mxy', EDGECELL)},
crossed AS (
  SELECT DISTINCT a.area_id AS id_a, b.area_id AS id_b
  FROM edgec a JOIN edgec b
    ON a.cellx = b.cellx AND a.celly = b.celly
   AND a.area_id < b.area_id
  WHERE {sql_proper_cross(seg_cols('a', 'ex1', 'ey1', 'ex2', 'ey2'),
                          seg_cols('b', 'ex1', 'ey1', 'ex2', 'ey2'))}
),
abbox AS (
  SELECT area_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM geo_vareas_ov GROUP BY area_id
),
{oracle_bbox_cells('abbox', 'abc', 'mnx', 'mxx', 'mny', 'mxy', CELL)},
rep AS (
  SELECT area_id AS probe_id, x AS px, y AS py
  FROM geo_vareas_ov WHERE ring = 0 AND vidx = 0
),
cand AS (
  SELECT r.probe_id, r.px, r.py, a.area_id
  FROM rep r JOIN abc a
    ON CAST(floor(r.px / {CELL}) AS BIGINT) = a.cellx
   AND CAST(floor(r.py / {CELL}) AS BIGINT) = a.celly
   AND r.px >= a.mnx AND r.px <= a.mxx AND r.py >= a.mny AND r.py <= a.mxy
  WHERE r.probe_id <> a.area_id
),
parity AS (
  SELECT c.probe_id, c.area_id,
         SUM({sql_ray_edge('c.px', 'c.py', *_E_EDGE)}) AS nc
  FROM cand c JOIN edges e ON e.area_id = c.area_id
  GROUP BY c.probe_id, c.area_id
),
contain AS (
  SELECT LEAST(probe_id, area_id) AS id_a, GREATEST(probe_id, area_id) AS id_b
  FROM parity WHERE nc % 2 = 1
)
SELECT DISTINCT id_a, id_b FROM (
  SELECT id_a, id_b FROM crossed
  UNION ALL
  SELECT id_a, id_b FROM contain
) u
"""


# --- kink group (KICKBACK 107 / Z_KINK 104 / AREAKINK 109) ---------------------


def _line_triples(lines: DataFrame) -> DataFrame:
    """Consecutive vertex triples of array-form lines via slice+zip+posexplode.

    vidx = fixture index of the MIDDLE vertex (0-based), ux/uy = incoming
    direction, wx/wy = outgoing direction.
    """
    n = F.size(F.col("xs"))
    zipped = F.arrays_zip(
        F.slice(F.col("xs"), 1, n - 2).alias("x0"),
        F.slice(F.col("ys"), 1, n - 2).alias("y0"),
        F.slice(F.col("xs"), 2, n - 2).alias("x1"),
        F.slice(F.col("ys"), 2, n - 2).alias("y1"),
        F.slice(F.col("xs"), 3, n - 2).alias("x2"),
        F.slice(F.col("ys"), 3, n - 2).alias("y2"),
    )
    return (
        lines.filter(n >= 3)
        .select("line_id", zipped.alias("_t"))
        .select("line_id", F.posexplode("_t").alias("_i", "_v"))
        .select(
            "line_id",
            (F.col("_i") + 1).alias("vidx"),
            (F.col("_v.x1") - F.col("_v.x0")).alias("ux"),
            (F.col("_v.y1") - F.col("_v.y0")).alias("uy"),
            (F.col("_v.x2") - F.col("_v.x1")).alias("wx"),
            (F.col("_v.y2") - F.col("_v.y1")).alias("wy"),
        )
    )


def q_kickback(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = vertices_to_lines(spark.table("geo_vlines"))
    return _line_triples(lines).filter(F.expr(KICKBACK_PRED)).select(
        "line_id", "vidx"
    )


_TRIPLES_CTE = """
triples AS (
  SELECT a.line_id, b.vidx,
         b.x - a.x AS ux, b.y - a.y AS uy,
         c.x - b.x AS wx, c.y - b.y AS wy,
         c.z - 2.0 * b.z + a.z AS d2z
  FROM geo_vlines a
  JOIN geo_vlines b ON b.line_id = a.line_id AND b.vidx = a.vidx + 1
  JOIN geo_vlines c ON c.line_id = a.line_id AND c.vidx = a.vidx + 2
)
"""

ORACLE_KICKBACK = f"""
{oracle_cte('geo_vlines')},
{_TRIPLES_CTE.strip()}
SELECT line_id, vidx FROM triples WHERE {KICKBACK_PRED}
"""


def q_zkink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z_KINK 104: |second difference of z| over consecutive vertices.

    Magnitude reported in decimeters (floor), mirroring the reference's
    3-digit truncation discipline (TruncateToNdigits utilities.c:97).
    """
    lines = vertices_to_lines(spark.table("geo_vlines"), extra=("z",))
    n = F.size(F.col("z"))
    zipped = F.arrays_zip(
        F.slice(F.col("z"), 1, n - 2).alias("z0"),
        F.slice(F.col("z"), 2, n - 2).alias("z1"),
        F.slice(F.col("z"), 3, n - 2).alias("z2"),
    )
    return (
        lines.filter(n >= 3)
        .select("line_id", zipped.alias("_t"))
        .select("line_id", F.posexplode("_t").alias("_i", "_v"))
        .withColumn("_d2z", F.expr("_v.z2 - 2.0 * _v.z1 + _v.z0"))
        .filter(F.expr(f"abs(_d2z) > {Z_KINK_TOL}"))
        .selectExpr(
            "line_id",
            "_i + 1 AS vidx",
            "CAST(floor(abs(_d2z) * 10.0) AS BIGINT) AS d2z_dm",
        )
    )


ORACLE_ZKINK = f"""
{oracle_cte('geo_vlines')},
{_TRIPLES_CTE.strip()}
SELECT line_id, vidx,
       CAST(floor(abs(d2z) * 10.0) AS BIGINT) AS d2z_dm
FROM triples WHERE abs(d2z) > {Z_KINK_TOL}
"""


def q_areakink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AREAKINK 109: sharp turn between consecutive ring edges (wraparound).

    The successor edge comes from the same ``lead``/``first`` window as
    :func:`_area_edges` (next edge starts at this edge's end, so its vector
    is ``next_end - this_end``) — no edge-to-edge self-join.
    """
    from pyspark.sql.window import Window

    edges = _area_edges(spark)
    w = Window.partitionBy("area_id", "ring").orderBy("eidx")
    return (
        edges.select(
            "area_id",
            "ring",
            F.coalesce(F.lead("eidx").over(w), F.first("eidx").over(w)).alias("vidx"),
            (F.col("ex2") - F.col("ex1")).alias("ux"),
            (F.col("ey2") - F.col("ey1")).alias("uy"),
            (
                F.coalesce(F.lead("ex2").over(w), F.first("ex2").over(w))
                - F.col("ex2")
            ).alias("wx"),
            (
                F.coalesce(F.lead("ey2").over(w), F.first("ey2").over(w))
                - F.col("ey2")
            ).alias("wy"),
        )
        .filter(F.expr(AREAKINK_PRED))
        .select("area_id", "ring", "vidx")
    )


ORACLE_AREAKINK = f"""
{oracle_cte('geo_vareas')},
{_edges_cte()},
turns AS (
  SELECT a.area_id, a.ring, b.eidx AS vidx,
         a.ex2 - a.ex1 AS ux, a.ey2 - a.ey1 AS uy,
         b.ex2 - b.ex1 AS wx, b.ey2 - b.ey1 AS wy
  FROM edges a
  JOIN nv ON nv.area_id = a.area_id AND nv.ring = a.ring
  JOIN edges b ON b.area_id = a.area_id AND b.ring = a.ring
       AND b.eidx = (a.eidx + 1) % nv.n
)
SELECT area_id, ring, vidx FROM turns WHERE {AREAKINK_PRED}
"""


QUERIES = {
    "geo_line_intersections": q_line_intersections,
    "geo_loops": q_loops,
    "geo_line_area": q_line_area,
    "geo_area_overlap": q_area_overlap,
    "geo_kickback": q_kickback,
    "geo_zkink": q_zkink,
    "geo_areakink": q_areakink,
}

ORACLES = {
    "geo_line_intersections": ORACLE_LLINT_V,
    "geo_loops": ORACLE_LOOPS,
    "geo_line_area": ORACLE_LINE_AREA_V,
    "geo_area_overlap": ORACLE_AREA_OVERLAP_V,
    "geo_kickback": ORACLE_KICKBACK,
    "geo_zkink": ORACLE_ZKINK,
    "geo_areakink": ORACLE_AREAKINK,
}
