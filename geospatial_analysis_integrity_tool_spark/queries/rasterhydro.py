"""Raster hydro / edit-mask check family (SURVEY.md §2.3 raster row, the
round-2 "missing #2" block).

Reference: GAIT's wavefront grid checks (moregeomchecks.c:7150-7470): masked
"condition posts" flood-fill into connected components (AltRep iscond
wavefront, 4-neighbor), then per component —

* WATERMMU 207  — component area (spacing^2 * onwave) below the minimum
  mapping unit (moregeomchecks.c:7322-7331);
* RAISEDPC 208  — percent of raised posts (maxmag > 0) in a shoreline
  component, only components with onwave > 10 (:7274-7283);
* GSHELF 212    — shelf/PUE formation: component with onwave at or above the
  size sensitivity, magnitude = onwave (:7301-7306);
* FLOWSTEP 209  — magnitude = MaxMag - MinMag over a river run (:7308-7313);
* BREAKLINE 214 — same range magnitude over a run that interacts with a
  shoreline (:7316-7320, least-squares stage :7455);
* MASKCONFLICT 195 — two DEM masks claim the same post (errors.c:11560);
* MASKEDIT_0/1 194/206 — where the edit mask holds the primary value, the
  |TDR - TDF| surface difference exceeds the secondary tolerance
  (errors.c:11556-11557);
* MASKSHOREL 192 — water body not contained by shoreline (errors.c:11538);
* CLAMP_SDC 201 / CLAMP_JOINSDC 202 — slope direction change along (or at
  the join of) lines clamped to the DEM (errors.c:11443-11444);
* CLAMP_NFLAT 193 — area not constant elevation when clamped (errors.c:11431);
* CLAMP_SEG 204 — catenary segment sagging below the DEM (errors.c:11539).

Spark-first shape: masks are INTEGER predicates over the exploded post table
(same LCG tiles as rastermask.py); 2-D components run through the GENERIC
pointer-doubling min-label operator (operators/networks.min_label_components)
over 4-neighbor equi-join edges — the oracle never runs CC: the fixture's
water bodies / shelves are disjoint rectangles on a block lattice, so the
DuckDB twin derives each component's label (min post id = SW corner) in
closed form, which makes the gate a ground-truth check of the distributed CC
itself.  1-D river runs use the contiguous-run identity gx - (row_number - 1)
(sessionize-style, one window, no CC).  The clamp checks overlay the
geo_vlines / geo_vareas / geo_lines vector fixtures on the same DEM formula.
All decisions are exact integer comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.networks import min_label_components
from ..sources.synthetic import GEO_VIEWS, oracle_cte
from .overlay import NTILES, POSTS
from .rastermask import _ed, _ed2, _is_zone, _posts

G = NTILES * POSTS  # 400 posts per axis

# pond lattice (water mask): one rectangular pond per 20x16 block
SX, SY, OX, OY = 20, 16, 5, 4
_W = "((sx * 7 + sy * 13) % 5 + 2)"    # pond width  2..6
_H = "((sx * 11 + sy * 3) % 4 + 2)"    # pond height 2..5
WATER = f"(lx >= 0 AND lx < {_W} AND ly >= 0 AND ly < {_H})"

# shelf lattice: one rectangle per 25x25 block
SBX, OBX = 25, 10
_W2 = "((bx2 * 3 + by2 * 5) % 6 + 3)"  # 3..8
_H2 = "((bx2 * 5 + by2 * 7) % 5 + 3)"  # 3..7
SHELF = f"(kx >= 0 AND kx < {_W2} AND ky >= 0 AND ky < {_H2})"

DRAIN = "(gy % 16 = 8)"                   # drainage mask rows
RIVER = f"({DRAIN} AND gx % 20 <> 19)"    # broken into 19-post runs per block


def _missing_shore(nx: str, ny: str) -> str:
    return f"((({nx}) * 31 + ({ny}) * 37) % 41 = 0)"


MMU_POSTS = 8          # WATERMMU: pond smaller than 8 posts
RAISED_TOL_DECIM = 3000   # RAISEDPC: post counts as raised above 300 m
RAISED_PCT = 40           # RAISEDPC: flag when >= 40% raised (and n > 10)
GSHELF_MIN_POSTS = 25
FLOWSTEP_TOL_DECIM = 3500
BREAK_TOL_DECIM = 2000
EDIT_TOL_DECIM = 900      # MASKEDIT secondary tolerance
SLOPE_NOISE_DECIM = 100   # CLAMP_SDC legs must each move >= 10 m
CLAMP_SEG_TOL_DECIM = 3000


# --- shared post relations -----------------------------------------------------


def _hposts(spark: SparkSession) -> DataFrame:
    """Exploded posts + block-lattice coordinates (engine side: Spark DIV)."""
    return _posts(spark).selectExpr(
        "gx", "gy", "ed",
        f"{_ed2('gx', 'gy')} AS ed2",
        f"gx DIV {SX} AS sx", f"gx % {SX} - {OX} AS lx",
        f"gy DIV {SY} AS sy", f"gy % {SY} - {OY} AS ly",
        f"gx DIV {SBX} AS bx2", f"gx % {SBX} - {OBX} AS kx",
        f"gy DIV {SBX} AS by2", f"gy % {SBX} - {OBX} AS ky",
    )


_ORACLE_POSTS = f"""
posts AS (
  SELECT gx.gx, gy.gy,
         {_ed('gx.gx', 'gy.gy')} AS ed,
         {_ed2('gx.gx', 'gy.gy')} AS ed2,
         gx.gx // {SX} AS sx, gx.gx % {SX} - {OX} AS lx,
         gy.gy // {SY} AS sy, gy.gy % {SY} - {OY} AS ly,
         gx.gx // {SBX} AS bx2, gx.gx % {SBX} - {OBX} AS kx,
         gy.gy // {SBX} AS by2, gy.gy % {SBX} - {OBX} AS ky
  FROM (SELECT unnest(range(0, {G})) AS gx) gx,
       (SELECT unnest(range(0, {G})) AS gy) gy
)
"""

#: closed-form component label of a pond post = post id of the pond's SW
#: corner (= min post id, which is what min-label CC converges to)
_POND_LABEL = f"((sy * {SY} + {OY}) * {G} + sx * {SX} + {OX})"
_SHELF_LABEL = f"((by2 * {SBX} + {OBX}) * {G} + bx2 * {SBX} + {OBX})"


def _grid_components(posts: DataFrame) -> DataFrame:
    """(gx, gy, component_id) over the given posts via generic min-label CC
    on 4-neighbor adjacency (the distributed twin of the AltRep wavefront)."""
    p = posts.selectExpr("gx", "gy", f"gy * {G} + gx AS id")
    a = p.selectExpr("id AS a", "gx", "gy")
    b = p.selectExpr("id AS b", "gx AS nbx", "gy AS nby")
    right = a.join(
        b, (F.col("nbx") == F.col("gx") + 1) & (F.col("nby") == F.col("gy"))
    ).select("a", "b")
    up = a.join(
        b, (F.col("nbx") == F.col("gx")) & (F.col("nby") == F.col("gy") + 1)
    ).select("a", "b")
    fwd = right.unionByName(up)
    edges = fwd.unionByName(fwd.selectExpr("b AS a", "a AS b"))
    comps = min_label_components(p.select("id"), edges)
    return p.join(comps, "id").select("gx", "gy", "component_id")


# --- raster_water_mmu (WATERMMU 207) -------------------------------------------


def q_water_mmu(spark: SparkSession, sf_dir: str) -> DataFrame:
    water = _hposts(spark).filter(F.expr(WATER))
    comps = _grid_components(water)
    return (
        comps.groupBy("component_id")
        .agg(F.count("*").alias("n_posts"))
        .filter(F.col("n_posts") < MMU_POSTS)
        .selectExpr("component_id", "CAST(n_posts AS BIGINT) AS n_posts")
    )


ORACLE_WATER_MMU = f"""
WITH {_ORACLE_POSTS.strip()}
SELECT {_POND_LABEL} AS component_id, CAST(COUNT(*) AS BIGINT) AS n_posts
FROM posts WHERE {WATER}
GROUP BY 1 HAVING COUNT(*) < {MMU_POSTS}
"""


# --- raster_raised_pc (RAISEDPC 208) -------------------------------------------


def q_raised_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    water = _hposts(spark).filter(F.expr(WATER))
    comps = _grid_components(water).join(
        water.select("gx", "gy", "ed"), ["gx", "gy"]
    )
    return (
        comps.groupBy("component_id")
        .agg(
            F.count("*").alias("n_posts"),
            F.sum(
                F.expr(f"CASE WHEN ed > {RAISED_TOL_DECIM} THEN 1 ELSE 0 END")
            ).alias("n_raised"),
        )
        .filter(F.col("n_posts") > 10)
        .selectExpr(
            "component_id",
            "CAST(n_posts AS BIGINT) AS n_posts",
            "CAST(100 * n_raised AS BIGINT) DIV n_posts AS pct_raised",
        )
        .filter(F.col("pct_raised") >= RAISED_PCT)
    )


ORACLE_RAISED_PC = f"""
WITH {_ORACLE_POSTS.strip()},
ponds AS (
  SELECT {_POND_LABEL} AS component_id,
         CAST(COUNT(*) AS BIGINT) AS n_posts,
         CAST(SUM(CASE WHEN ed > {RAISED_TOL_DECIM} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_raised
  FROM posts WHERE {WATER}
  GROUP BY 1 HAVING COUNT(*) > 10
)
SELECT component_id, n_posts, (100 * n_raised) // n_posts AS pct_raised
FROM ponds
WHERE (100 * n_raised) // n_posts >= {RAISED_PCT}
"""


# --- raster_gshelf (GSHELF 212) ------------------------------------------------


def q_gshelf(spark: SparkSession, sf_dir: str) -> DataFrame:
    shelf = _hposts(spark).filter(F.expr(SHELF))
    comps = _grid_components(shelf)
    return (
        comps.groupBy("component_id")
        .agg(F.count("*").alias("n_posts"))
        .filter(F.col("n_posts") >= GSHELF_MIN_POSTS)
        .selectExpr("component_id", "CAST(n_posts AS BIGINT) AS n_posts")
    )


ORACLE_GSHELF = f"""
WITH {_ORACLE_POSTS.strip()}
SELECT {_SHELF_LABEL} AS component_id, CAST(COUNT(*) AS BIGINT) AS n_posts
FROM posts WHERE {SHELF}
GROUP BY 1 HAVING COUNT(*) >= {GSHELF_MIN_POSTS}
"""


# --- raster_flow_step (FLOWSTEP 209) -------------------------------------------


def _runs(spark: SparkSession) -> DataFrame:
    """River posts with run_id = gy*G + run start gx.

    Gaps-and-islands: within a contiguous run, gx - row_number is constant
    and it strictly increases across gaps, so (gy, gx - row_number) keys the
    run and min(gx) over that key is the run start — two windows, no CC."""
    river = _hposts(spark).filter(F.expr(RIVER)).select("gx", "gy", "ed")
    w = Window.partitionBy("gy").orderBy("gx")
    keyed = river.withColumn("_isl", F.col("gx") - F.row_number().over(w))
    w_run = Window.partitionBy("gy", "_isl")
    return keyed.withColumn(
        "run_id", F.expr(f"gy * {G}") + F.min("gx").over(w_run)
    ).drop("_isl")


def q_flow_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _runs(spark)
        .groupBy("run_id")
        .agg((F.max("ed") - F.min("ed")).alias("step_decim"))
        .filter(F.col("step_decim") >= FLOWSTEP_TOL_DECIM)
        .selectExpr("run_id", "CAST(step_decim AS BIGINT) AS step_decim")
    )


# oracle: runs are one-per-block by construction (gx % 20 <> 19 breaks at
# block seams), so run start = bx * 20 in closed form — but a run's
# row_number identity must reproduce it, which is what the gate checks
_ORACLE_RUNS = f"""
runs AS (
  SELECT gy * {G} + (gx // {SX}) * {SX} AS run_id, ed
  FROM posts WHERE {RIVER}
)
"""

ORACLE_FLOW_STEP = f"""
WITH {_ORACLE_POSTS.strip()},
{_ORACLE_RUNS.strip()}
SELECT run_id, CAST(MAX(ed) - MIN(ed) AS BIGINT) AS step_decim
FROM runs GROUP BY 1
HAVING MAX(ed) - MIN(ed) >= {FLOWSTEP_TOL_DECIM}
"""


# --- raster_breakline (BREAKLINE 214) ------------------------------------------


def q_breakline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """River runs whose elevation range exceeds tolerance AND that interact
    with a water body (some run post within one step of a pond post) —
    the engine finds the interaction by an adjacency join; the oracle knows
    it in closed form from the lattice (pond height >= 4 reaches the
    drainage row)."""
    runs = _runs(spark)
    water = _hposts(spark).filter(F.expr(WATER)).select(
        F.col("gx").alias("wx"), F.col("gy").alias("wy")
    )
    near = (
        runs.join(
            water,
            (F.abs(F.col("wx") - F.col("gx")) + F.abs(F.col("wy") - F.col("gy")))
            <= 1,
        )
        .select("run_id")
        .distinct()
    )
    return (
        runs.groupBy("run_id")
        .agg((F.max("ed") - F.min("ed")).alias("range_decim"))
        .filter(F.col("range_decim") >= BREAK_TOL_DECIM)
        .join(near, "run_id")
        .selectExpr("run_id", "CAST(range_decim AS BIGINT) AS range_decim")
    )


ORACLE_BREAKLINE = f"""
WITH {_ORACLE_POSTS.strip()},
{_ORACLE_RUNS.strip()}
SELECT run_id, CAST(MAX(ed) - MIN(ed) AS BIGINT) AS range_decim
FROM runs GROUP BY 1
HAVING MAX(ed) - MIN(ed) >= {BREAK_TOL_DECIM}
   AND ((((run_id % {G}) // {SX}) * 11 + ((run_id // {G}) // {SY}) * 3) % 4 + 2) >= 4
"""


# --- raster_mask_conflict (MASKCONFLICT 195) -----------------------------------


def q_mask_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posts claimed by BOTH the water-body mask and the drainage mask."""
    return (
        _hposts(spark)
        .filter(F.expr(WATER))
        .filter(F.expr(DRAIN))
        .select("gx", "gy")
    )


ORACLE_MASK_CONFLICT = f"""
WITH {_ORACLE_POSTS.strip()}
SELECT gx, gy FROM posts WHERE {WATER} AND {DRAIN}
"""


# --- raster_mask_edit (MASKEDIT_0 194 / MASKEDIT_1 206) ------------------------


def q_mask_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the edit mask holds the primary value, |TDR - TDF| (the two
    surfaces) must stay within the secondary tolerance; the mask value (0/1)
    picks the reported errtype."""
    return (
        _hposts(spark)
        .filter(F.expr(_is_zone("gx", "gy")))
        .filter(F.expr(f"abs(ed - ed2) > {EDIT_TOL_DECIM}"))
        .selectExpr(
            "gx", "gy",
            "CASE WHEN (gx + gy) % 2 = 0 THEN 'MASKEDIT_0'"
            " ELSE 'MASKEDIT_1' END AS errtype",
            "CAST(ed - ed2 AS BIGINT) AS dif_decim",
        )
    )


ORACLE_MASK_EDIT = f"""
WITH {_ORACLE_POSTS.strip()}
SELECT gx, gy,
       CASE WHEN (gx + gy) % 2 = 0 THEN 'MASKEDIT_0'
            ELSE 'MASKEDIT_1' END AS errtype,
       CAST(ed - ed2 AS BIGINT) AS dif_decim
FROM posts
WHERE {_is_zone('gx', 'gy')} AND abs(ed - ed2) > {EDIT_TOL_DECIM}
"""


# --- raster_mask_shorel (MASKSHOREL 192) ---------------------------------------


def q_mask_shorel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water posts NOT contained by shoreline: a pond-boundary neighbor where
    the shoreline mask has a (planted) gap."""
    p = _hposts(spark)
    water = p.filter(F.expr(WATER)).select("gx", "gy")
    flags = p.selectExpr("gx AS nx", "gy AS ny", f"{WATER} AS nwater")
    nbrs = water.selectExpr(
        "gx", "gy",
        "explode(array(struct(gx + 1 AS nx, gy AS ny),"
        " struct(gx - 1 AS nx, gy AS ny), struct(gx AS nx, gy + 1 AS ny),"
        " struct(gx AS nx, gy - 1 AS ny))) AS n",
    ).selectExpr("gx", "gy", "n.nx AS nx", "n.ny AS ny")
    return (
        nbrs.join(flags, ["nx", "ny"])
        .filter(~F.col("nwater"))
        .filter(F.expr(_missing_shore("nx", "ny")))
        .select("gx", "gy")
        .distinct()
    )


ORACLE_MASK_SHOREL = f"""
WITH {_ORACLE_POSTS.strip()},
water AS (SELECT gx, gy, sx, sy, lx, ly FROM posts WHERE {WATER}),
nbrs AS (
  SELECT w.gx, w.gy, w.gx + d.dx AS nx, w.gy + d.dy AS ny
  FROM water w,
       (SELECT * FROM (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) t(dx, dy)) d
)
SELECT DISTINCT n.gx, n.gy
FROM nbrs n JOIN posts p ON p.gx = n.nx AND p.gy = n.ny
WHERE NOT (p.lx >= 0 AND p.lx < ((p.sx * 7 + p.sy * 13) % 5 + 2)
           AND p.ly >= 0 AND p.ly < ((p.sx * 11 + p.sy * 3) % 4 + 2))
  AND {_missing_shore('n.nx', 'n.ny')}
"""


# --- clamp family over vector fixtures -----------------------------------------
#
# The DEM surface for clamping is the same LCG formula (extended beyond the
# tile window by its own arithmetic); a vertex clamps to the post at
# floor((x - 10) / 0.01), floor((y - 40) / 0.01).

def _clamp_ed(x: str, y: str) -> str:
    gx = f"CAST(floor((({x}) - 10.0) * 100.0) AS BIGINT)"
    gy = f"CAST(floor((({y}) - 40.0) * 100.0) AS BIGINT)"
    return _ed(gx, gy)


# --- clamp_sdc (CLAMP_SDC 201) --------------------------------------------------


def q_clamp_sdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope direction change along a DEM-clamped line: consecutive clamped
    segments climb then descend (or vice versa), both legs above noise."""
    v = spark.table("geo_vlines").selectExpr(
        "line_id", "vidx", f"{_clamp_ed('x', 'y')} AS zc"
    )
    w = Window.partitionBy("line_id").orderBy("vidx")
    return (
        v.withColumn("_zp", F.lag("zc").over(w))
        .withColumn("_zn", F.lead("zc").over(w))
        .filter(F.col("_zp").isNotNull() & F.col("_zn").isNotNull())
        .withColumn("d1", F.col("zc") - F.col("_zp"))
        .withColumn("d2", F.col("_zn") - F.col("zc"))
        .filter(
            F.expr(
                f"abs(d1) >= {SLOPE_NOISE_DECIM} AND abs(d2) >= {SLOPE_NOISE_DECIM}"
                " AND ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))"
            )
        )
        .select("line_id", "vidx")
    )


ORACLE_CLAMP_SDC = f"""
{oracle_cte('geo_vlines')},
clamped AS (
  SELECT line_id, vidx, {_clamp_ed('x', 'y')} AS zc FROM geo_vlines
),
triples AS (
  SELECT b.line_id, b.vidx, b.zc - a.zc AS d1, c.zc - b.zc AS d2
  FROM clamped a
  JOIN clamped b ON b.line_id = a.line_id AND b.vidx = a.vidx + 1
  JOIN clamped c ON c.line_id = a.line_id AND c.vidx = a.vidx + 2
)
SELECT line_id, vidx FROM triples
WHERE abs(d1) >= {SLOPE_NOISE_DECIM} AND abs(d2) >= {SLOPE_NOISE_DECIM}
  AND ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
"""


# --- clamp_join_sdc (CLAMP_JOINSDC 202) -----------------------------------------


#: per-line arrival slopes at each endpoint node: at the start node the line
#: "arrives" traversed backwards (z1 - z2); at the end node forwards
#: (z3 - z2).  Continuing A -> node -> B, A's arrival slope is d_in_a and
#: B's departure slope is -d_in_b, so a slope DIRECTION CHANGE at the join
#: is d_in_a * d_in_b > 0 (both legs above noise); a < b orders the pair.
_JOIN_ENDS = [
    (
        "CAST(floor(x1 * 1000000.0) AS BIGINT) * 1000000000"
        " + CAST(floor(y1 * 1000000.0) AS BIGINT)",
        "{e1} - {e2}",  # z1 - z2
    ),
    (
        "CAST(floor(x3 * 1000000.0) AS BIGINT) * 1000000000"
        " + CAST(floor(y3 * 1000000.0) AS BIGINT)",
        "{e3} - {e2}",  # z3 - z2
    ),
]


def _join_ends_sql() -> str:
    e1 = _clamp_ed("x1", "y1")
    e2 = _clamp_ed("x2", "y2")
    e3 = _clamp_ed("x3", "y3")
    parts = [
        f"SELECT line_id, {key} AS node_key,"
        f" {din.format(e1=e1, e2=e2, e3=e3)} AS d_in FROM geo_lines"
        for key, din in _JOIN_ENDS
    ]
    return " UNION ALL ".join(parts)


def q_clamp_join_sdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope direction change where two clamped lines meet at a node
    (exact quantized-endpoint join on the geo_lines fixture)."""
    ends = spark.sql(_join_ends_sql())
    a = ends.selectExpr("line_id AS line_a", "node_key", "d_in AS d_a")
    b = ends.selectExpr("line_id AS line_b", "node_key", "d_in AS d_b")
    return (
        a.join(b, "node_key")
        .filter(F.col("line_a") < F.col("line_b"))
        .filter(
            F.expr(
                f"abs(d_a) >= {SLOPE_NOISE_DECIM}"
                f" AND abs(d_b) >= {SLOPE_NOISE_DECIM}"
                " AND d_a * d_b > 0"
            )
        )
        .select("line_a", "line_b")
        .distinct()
    )


def _oracle_clamp_join_sdc() -> str:
    return f"""
WITH geo_lines AS ({GEO_VIEWS['geo_lines']}),
ends AS ({_join_ends_sql()})
SELECT DISTINCT a.line_id AS line_a, b.line_id AS line_b
FROM ends a JOIN ends b ON a.node_key = b.node_key AND a.line_id < b.line_id
WHERE abs(a.d_in) >= {SLOPE_NOISE_DECIM}
  AND abs(b.d_in) >= {SLOPE_NOISE_DECIM}
  AND a.d_in * b.d_in > 0
"""


ORACLE_CLAMP_JOIN_SDC = _oracle_clamp_join_sdc()


# --- clamp_nflat (CLAMP_NFLAT 193) ----------------------------------------------


def q_clamp_nflat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area whose outer ring does not clamp to one constant DEM elevation."""
    v = spark.table("geo_vareas").filter("ring = 0").selectExpr(
        "area_id", f"{_clamp_ed('x', 'y')} AS zc"
    )
    return (
        v.groupBy("area_id")
        .agg(F.countDistinct("zc").alias("n_distinct"))
        .filter(F.col("n_distinct") > 1)
        .selectExpr("area_id", "CAST(n_distinct AS BIGINT) AS n_distinct")
    )


ORACLE_CLAMP_NFLAT = f"""
{oracle_cte('geo_vareas')}
SELECT area_id, CAST(COUNT(DISTINCT {_clamp_ed('x', 'y')}) AS BIGINT) AS n_distinct
FROM geo_vareas WHERE ring = 0
GROUP BY 1 HAVING COUNT(DISTINCT {_clamp_ed('x', 'y')}) > 1
"""


# --- clamp_seg (CLAMP_SEG 204) --------------------------------------------------


def q_clamp_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catenary segment below the DEM: the segment's interpolated midpoint
    elevation sits more than tolerance below the DEM post at the midpoint."""
    v = spark.table("geo_vlines")
    w = Window.partitionBy("line_id").orderBy("vidx")
    segs = (
        v.select(
            "line_id",
            (F.col("vidx") + 1).alias("seg_idx"),
            F.col("x").alias("sax"), F.col("y").alias("say"), F.col("z").alias("saz"),
            F.lead("x").over(w).alias("sbx"),
            F.lead("y").over(w).alias("sby"),
            F.lead("z").over(w).alias("sbz"),
        )
        .filter(F.col("sbx").isNotNull())
    )
    mid_feat = "CAST(floor((saz + sbz) * 5.0) AS BIGINT)"  # decim at midpoint
    dem_mid = _clamp_ed("(sax + sbx) * 0.5", "(say + sby) * 0.5")
    return (
        segs.selectExpr(
            "line_id", "seg_idx",
            f"{dem_mid} - {mid_feat} AS sag_decim",
        )
        .filter(F.col("sag_decim") > CLAMP_SEG_TOL_DECIM)
        .selectExpr("line_id", "seg_idx", "CAST(sag_decim AS BIGINT) AS sag_decim")
    )


ORACLE_CLAMP_SEG = f"""
{oracle_cte('geo_vlines')},
segs AS (
  SELECT a.line_id, a.vidx + 1 AS seg_idx,
         a.x AS sax, a.y AS say, a.z AS saz,
         b.x AS sbx, b.y AS sby, b.z AS sbz
  FROM geo_vlines a
  JOIN geo_vlines b ON b.line_id = a.line_id AND b.vidx = a.vidx + 1
)
SELECT line_id, seg_idx,
       CAST({_clamp_ed('(sax + sbx) * 0.5', '(say + sby) * 0.5')}
            - CAST(floor((saz + sbz) * 5.0) AS BIGINT) AS BIGINT) AS sag_decim
FROM segs
WHERE {_clamp_ed('(sax + sbx) * 0.5', '(say + sby) * 0.5')}
      - CAST(floor((saz + sbz) * 5.0) AS BIGINT) > {CLAMP_SEG_TOL_DECIM}
"""


QUERIES = {
    "raster_water_mmu": q_water_mmu,
    "raster_raised_pc": q_raised_pc,
    "raster_gshelf": q_gshelf,
    "raster_flow_step": q_flow_step,
    "raster_breakline": q_breakline,
    "raster_mask_conflict": q_mask_conflict,
    "raster_mask_edit": q_mask_edit,
    "raster_mask_shorel": q_mask_shorel,
    "geo_clamp_sdc": q_clamp_sdc,
    "geo_clamp_join_sdc": q_clamp_join_sdc,
    "geo_clamp_nflat": q_clamp_nflat,
    "geo_clamp_seg": q_clamp_seg,
}

ORACLES = {
    "raster_water_mmu": ORACLE_WATER_MMU,
    "raster_raised_pc": ORACLE_RAISED_PC,
    "raster_gshelf": ORACLE_GSHELF,
    "raster_flow_step": ORACLE_FLOW_STEP,
    "raster_breakline": ORACLE_BREAKLINE,
    "raster_mask_conflict": ORACLE_MASK_CONFLICT,
    "raster_mask_edit": ORACLE_MASK_EDIT,
    "raster_mask_shorel": ORACLE_MASK_SHOREL,
    "geo_clamp_sdc": ORACLE_CLAMP_SDC,
    "geo_clamp_join_sdc": ORACLE_CLAMP_JOIN_SDC,
    "geo_clamp_nflat": ORACLE_CLAMP_NFLAT,
    "geo_clamp_seg": ORACLE_CLAMP_SEG,
}


# --- geo_anetisoa (ANETISOA 122) ------------------------------------------------
#
# "Area not transitively connected to another area by shared edges"
# (errors.c:11349; transitive propagation moregeomchecks.c:2749).  Features:
# one unit-square areal per water post; adjacency comes from CANONICAL EDGE
# KEY matching (two squares are neighbors iff a quantized edge key appears
# twice — MatchAreaEdge semantics, geomchecks.c:38163), components from the
# generic pointer-doubling operator, and the condition is membership in a
# component smaller than the threshold.  The oracle knows the transitive
# closure in closed form (components ARE the lattice ponds), so the gate
# ground-truths edge-key adjacency + CC together.

ANETISOA_MIN_AREAS = 6


def q_anetisoa(spark: SparkSession, sf_dir: str) -> DataFrame:
    water = _hposts(spark).filter(F.expr(WATER)).selectExpr(
        f"gy * {G} + gx AS area_gid", "gx", "gy"
    )
    # canonical corner ids on the (G+1)^2 corner lattice; edge key packs the
    # sorted corner pair
    corners = {
        "c00": f"gy * {G + 1} + gx",
        "c10": f"gy * {G + 1} + gx + 1",
        "c01": f"(gy + 1) * {G + 1} + gx",
        "c11": f"(gy + 1) * {G + 1} + gx + 1",
    }
    edge_exprs = [
        f"least({corners['c00']}, {corners['c10']}) * 1000000000"
        f" + greatest({corners['c00']}, {corners['c10']})",
        f"least({corners['c01']}, {corners['c11']}) * 1000000000"
        f" + greatest({corners['c01']}, {corners['c11']})",
        f"least({corners['c00']}, {corners['c01']}) * 1000000000"
        f" + greatest({corners['c00']}, {corners['c01']})",
        f"least({corners['c10']}, {corners['c11']}) * 1000000000"
        f" + greatest({corners['c10']}, {corners['c11']})",
    ]
    edges = water.selectExpr(
        "area_gid", f"explode(array({', '.join(edge_exprs)})) AS ekey"
    )
    adj = (
        edges.selectExpr("area_gid AS a", "ekey")
        .join(edges.selectExpr("area_gid AS b", "ekey"), "ekey")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    comps = min_label_components(water.selectExpr("area_gid AS id"), adj)
    sizes = comps.groupBy("component_id").agg(F.count("*").alias("n_areas"))
    return (
        comps.join(sizes, "component_id")
        .filter(F.col("n_areas") < ANETISOA_MIN_AREAS)
        .selectExpr("id AS area_gid", "CAST(n_areas AS BIGINT) AS n_areas")
    )


ORACLE_ANETISOA = f"""
WITH {_ORACLE_POSTS.strip()},
ponds AS MATERIALIZED (
  SELECT gy * {G} + gx AS area_gid, {_POND_LABEL} AS pond,
         ((sx * 7 + sy * 13) % 5 + 2) * ((sx * 11 + sy * 3) % 4 + 2) AS n_areas
  FROM posts WHERE {WATER}
)
SELECT area_gid, CAST(n_areas AS BIGINT) AS n_areas
FROM ponds WHERE n_areas < {ANETISOA_MIN_AREAS}
"""

QUERIES["geo_anetisoa"] = q_anetisoa
ORACLES["geo_anetisoa"] = ORACLE_ANETISOA
