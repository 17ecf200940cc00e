"""DEM statistics rollups, mask-conflict variant, and line-of-sight check.

Reference semantics:

* ``raster_mask_conf2``  — MASKCONF2 196 (errors.c:11559 "variation of
  Grids with conflicting values"): where TWO region masks both claim a
  post (water-body lattice x shelf lattice), the two elevation surfaces
  must agree; |TDR - TDF| above tolerance is a conflict.  The sibling of
  MASKCONFLICT 195 (same-post two-mask claim, queries/rasterhydro.py).
* ``raster_kernel_stats`` — KERNELSTATS 210 ("no conditions produced";
  GenerateKernelStats moregeomchecks.c:7692): per-tile accumulators of
  the 3x3 kernel residual 8*post - sum(8 neighbors), exact integers in
  deci-meters (count / sum / sum-of-squares), interior posts only.
* ``raster_bilin_stats`` — BILINSTATS 211 ("no conditions produced";
  GenerateNearestNeighborStats moregeomchecks.c:8675): per-tile
  accumulators of the half-post bilinear residual
  4*bilinear(center) - 4*nearest = e10 + e01 + e11 - 3*e00.
* ``raster_losminhgt``   — LOSMINHGT 213 (TT.c:16855-16930 gather,
  17120-17178 profile emission): for each gated post within the capture
  window of the target (both |dx| and |dy| > 1, mirroring the
  tempx>1 AND tempy>1 gate at TT.c:17133), build the terrain profile
  along the straight sightline target->post (CreateDrawProfile) and
  report the post when terrain rises ABOVE the line of sight; magnitude
  = the worst clearance deficit (x8, exact integer deci-meters — the
  sample parameter t = k/8 keeps everything integral).

Engine shapes: the kernel/bilinear/LOS queries JOIN the exploded tile
posts (operators/raster.py fixture) to their neighbor/sample posts — the
oracle derives every elevation from the closed-form LCG instead, so the
gate verifies the neighbor/sample joins themselves.  All accumulators are
exact integers; no UDFs, no doubles in the aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .overlay import POSTS
from .rasterhydro import _ORACLE_POSTS, G, SHELF, WATER, _hposts
from .rastermask import _ed, _posts

CONF2_TOL_DECIM = 900
LOS_T = 200               # target post (LOS_T, LOS_T)
LOS_WIN = 150             # capture half-window in posts
LOS_TOWER_DECIM = 500     # observation height above the target post


# --- raster_mask_conf2 (MASKCONF2 196) ----------------------------------------------


def q_mask_conf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _hposts(spark)
        .filter(F.expr(WATER))
        .filter(F.expr(SHELF))
        .filter(F.expr(f"abs(ed - ed2) > {CONF2_TOL_DECIM}"))
        .selectExpr("gx", "gy", "CAST(ed - ed2 AS BIGINT) AS dif_decim")
    )


ORACLE_MASK_CONF2 = f"""
WITH {_ORACLE_POSTS.strip()}
SELECT gx, gy, CAST(ed - ed2 AS BIGINT) AS dif_decim
FROM posts
WHERE {WATER} AND {SHELF} AND abs(ed - ed2) > {CONF2_TOL_DECIM}
"""


# --- raster_kernel_stats (KERNELSTATS 210) ------------------------------------------

_NBR8 = (
    "explode(array("
    "struct(gx - 1 AS nx, gy - 1 AS ny), struct(gx AS nx, gy - 1 AS ny),"
    " struct(gx + 1 AS nx, gy - 1 AS ny), struct(gx - 1 AS nx, gy AS ny),"
    " struct(gx + 1 AS nx, gy AS ny), struct(gx - 1 AS nx, gy + 1 AS ny),"
    " struct(gx AS nx, gy + 1 AS ny), struct(gx + 1 AS nx, gy + 1 AS ny))) AS n"
)


def q_kernel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _posts(spark)
    probes = p.filter(
        f"gx >= 1 AND gx <= {G - 2} AND gy >= 1 AND gy <= {G - 2}"
    )
    nbrs = probes.selectExpr("gx", "gy", "ed", _NBR8).selectExpr(
        "gx", "gy", "ed", "n.nx AS nx", "n.ny AS ny"
    )
    per_post = (
        nbrs.join(p.selectExpr("gx AS nx", "gy AS ny", "ed AS ned"), ["nx", "ny"])
        .groupBy("gx", "gy", "ed")
        .agg(F.sum("ned").alias("s8"), F.count("*").alias("nn"))
        .filter("nn = 8")
        .selectExpr("gx", "gy", "8 * ed - s8 AS sdif")
    )
    return (
        per_post.selectExpr(
            f"gx DIV {POSTS} AS tx", f"gy DIV {POSTS} AS ty", "sdif"
        )
        .groupBy("tx", "ty")
        .agg(
            F.count("*").alias("n"),
            F.sum("sdif").alias("s1"),
            F.sum(F.expr("sdif * sdif")).alias("s2"),
        )
        .selectExpr("tx", "ty", "CAST(n AS BIGINT) AS n",
                    "CAST(s1 AS BIGINT) AS s1", "CAST(s2 AS BIGINT) AS s2")
    )


_S8 = " + ".join(
    _ed(f"(gx + {dx})", f"(gy + {dy})")
    for dx, dy in ((-1, -1), (0, -1), (1, -1), (-1, 0),
                   (1, 0), (-1, 1), (0, 1), (1, 1))
)

ORACLE_KERNEL_STATS = f"""
WITH posts AS (
  SELECT gx.gx, gy.gy, {_ed('gx.gx', 'gy.gy')} AS ed
  FROM (SELECT unnest(range(1, {G - 1})) AS gx) gx,
       (SELECT unnest(range(1, {G - 1})) AS gy) gy
),
per_post AS (
  SELECT gx, gy, 8 * ed - ({_S8}) AS sdif FROM posts
)
SELECT gx // {POSTS} AS tx, gy // {POSTS} AS ty,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(sdif) AS BIGINT) AS s1,
       CAST(SUM(sdif * sdif) AS BIGINT) AS s2
FROM per_post GROUP BY 1, 2
"""


# --- raster_bilin_stats (BILINSTATS 211) --------------------------------------------

_NBRW = (
    "explode(array("
    "struct(gx + 1 AS nx, gy AS ny, 1 AS w),"
    " struct(gx AS nx, gy + 1 AS ny, 1 AS w),"
    " struct(gx + 1 AS nx, gy + 1 AS ny, 1 AS w))) AS n"
)


def q_bilin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _posts(spark)
    cells = p.filter(f"gx <= {G - 2} AND gy <= {G - 2}")
    nbrs = cells.selectExpr("gx", "gy", "ed", _NBRW).selectExpr(
        "gx", "gy", "ed", "n.nx AS nx", "n.ny AS ny", "n.w AS w"
    )
    per_cell = (
        nbrs.join(p.selectExpr("gx AS nx", "gy AS ny", "ed AS ned"), ["nx", "ny"])
        .groupBy("gx", "gy", "ed")
        .agg(F.sum(F.expr("w * ned")).alias("s3"), F.count("*").alias("nn"))
        .filter("nn = 3")
        .selectExpr("gx", "gy", "s3 - 3 * ed AS b4")
    )
    return (
        per_cell.selectExpr(
            f"gx DIV {POSTS} AS tx", f"gy DIV {POSTS} AS ty", "b4"
        )
        .groupBy("tx", "ty")
        .agg(
            F.count("*").alias("n"),
            F.sum("b4").alias("s1"),
            F.sum(F.expr("b4 * b4")).alias("s2"),
        )
        .selectExpr("tx", "ty", "CAST(n AS BIGINT) AS n",
                    "CAST(s1 AS BIGINT) AS s1", "CAST(s2 AS BIGINT) AS s2")
    )


_B4 = (
    f"{_ed('(gx + 1)', 'gy')} + {_ed('gx', '(gy + 1)')}"
    f" + {_ed('(gx + 1)', '(gy + 1)')} - 3 * {_ed('gx', 'gy')}"
)

ORACLE_BILIN_STATS = f"""
WITH cells AS (
  SELECT gx.gx, gy.gy, {_B4} AS b4
  FROM (SELECT unnest(range(0, {G - 1})) AS gx) gx,
       (SELECT unnest(range(0, {G - 1})) AS gy) gy
)
SELECT gx // {POSTS} AS tx, gy // {POSTS} AS ty,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(b4) AS BIGINT) AS s1,
       CAST(SUM(b4 * b4) AS BIGINT) AS s2
FROM cells GROUP BY 1, 2
"""


# --- raster_losminhgt (LOSMINHGT 213) -------------------------------------------------

# gated posts: periodic hash inside the capture window, both axes > 1 post
# from the target (the TT.c:17128-17133 tempx/tempy gate)
_LOS_GATED = (
    f"(gx * 31 + gy * 17) % 97 = 0"
    f" AND abs(gx - {LOS_T}) <= {LOS_WIN} AND abs(gy - {LOS_T}) <= {LOS_WIN}"
    f" AND abs(gx - {LOS_T}) > 1 AND abs(gy - {LOS_T}) > 1"
)

# profile sample index at parameter k/8 (floor of an integer-valued double
# -> exact and identical across engines, incl. negative directions)
_SIX = f"CAST(floor((8 * {LOS_T} + k * (gx - {LOS_T})) / 8.0) AS BIGINT)"
_SIY = f"CAST(floor((8 * {LOS_T} + k * (gy - {LOS_T})) / 8.0) AS BIGINT)"

_ZT = f"({_ed(str(LOS_T), str(LOS_T))} + {LOS_TOWER_DECIM})"


def q_losminhgt(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _posts(spark)
    gated = p.filter(_LOS_GATED)
    samples = gated.selectExpr(
        "gx", "gy", "ed",
        "explode(sequence(1, 7)) AS k",
    ).selectExpr(
        "gx", "gy", "ed", "k", f"{_SIX} AS six", f"{_SIY} AS siy"
    )
    joined = samples.join(
        p.selectExpr("gx AS six", "gy AS siy", "ed AS sed"), ["six", "siy"]
    )
    # sightline z (x8) at k/8 between the tower and the post top;
    # deficit8 > 0 means the terrain sample blocks the view
    return (
        joined.selectExpr(
            "gx", "gy",
            f"8 * sed - (8 * {_ZT} + k * (ed - {_ZT})) AS def8",
        )
        .groupBy("gx", "gy")
        .agg(F.max("def8").alias("max_def8"))
        .filter("max_def8 > 0")
        .selectExpr("gx", "gy", "CAST(max_def8 AS BIGINT) AS max_def8")
    )


ORACLE_LOSMINHGT = f"""
WITH gated AS (
  SELECT gx.gx, gy.gy, {_ed('gx.gx', 'gy.gy')} AS ed
  FROM (SELECT unnest(range(0, {G})) AS gx) gx,
       (SELECT unnest(range(0, {G})) AS gy) gy
  WHERE {_LOS_GATED}
),
samples AS (
  SELECT gx, gy, ed, k.k, {_SIX} AS six, {_SIY} AS siy
  FROM gated, (SELECT unnest(range(1, 8)) AS k) k
),
prof AS (
  SELECT gx, gy,
         8 * {_ed('six', 'siy')} - (8 * {_ZT} + k * (ed - {_ZT})) AS def8
  FROM samples
)
SELECT gx, gy, CAST(MAX(def8) AS BIGINT) AS max_def8
FROM prof GROUP BY 1, 2
HAVING MAX(def8) > 0
"""


QUERIES = {
    "raster_mask_conf2": q_mask_conf2,
    "raster_kernel_stats": q_kernel_stats,
    "raster_bilin_stats": q_bilin_stats,
    "raster_losminhgt": q_losminhgt,
}

ORACLES = {
    "raster_mask_conf2": ORACLE_MASK_CONF2,
    "raster_kernel_stats": ORACLE_KERNEL_STATS,
    "raster_bilin_stats": ORACLE_BILIN_STATS,
    "raster_losminhgt": ORACLE_LOSMINHGT,
}
