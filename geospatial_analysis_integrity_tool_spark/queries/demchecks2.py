"""Second DEM check wave + z-profile and duplicate-id checks:

* ``raster_avg_spike``   — AVGSPIKE 193: post differing from the mean of its
  EIGHT neighbors beyond tolerance (the 4-neighbor variant is
  raster_grid_spikes); integer arithmetic, |8*c - sum(nb8)| > 8*tol.
* ``raster_lod_dif``     — LODELEVDIF 199: full-resolution surface vs its
  2x-downsampled reconstruction (every other post); coarse posts must agree,
  intermediate posts flag when they differ from the linear midpoint of their
  coarse neighbors beyond tolerance.
* ``geo_slope_dir_change`` — SLOPEDIRCH 81 (TT.c elevation sections): the
  z-profile of a line reverses direction (climb -> descend or vice versa)
  with both leg magnitudes above a noise floor.
* ``geo_sameid``         — ANY_SAMEID 22 / SAMEID_GDUP 24 / SAMEID_CDUP 25
  (TT.c:45157 duplicate sections): features sharing an object id, split by
  whether their geometry (and attribution) also matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.synthetic import oracle_cte
from .overlay import NTILES, POSTS
from .rastermask import _ed, _posts

AVG_SPIKE_TOL_DECIM = 1100   # 110 m vs 8-neighbor mean
LOD_TOL_DECIM = 1500         # 150 m vs linear midpoint
SLOPE_NOISE_DECIM = 100      # both legs must move >= 10 m vertically

# --- raster_avg_spike (AVGSPIKE 193) -------------------------------------------


def q_avg_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _posts(spark)
    nb = p.selectExpr("gx AS nx", "gy AS ny", "ed AS ned")
    center = p.selectExpr(
        "gx", "gy", "ed",
        "explode(array("
        "struct(gx - 1 AS nx, gy - 1 AS ny), struct(gx AS nx, gy - 1 AS ny),"
        "struct(gx + 1 AS nx, gy - 1 AS ny), struct(gx - 1 AS nx, gy AS ny),"
        "struct(gx + 1 AS nx, gy AS ny), struct(gx - 1 AS nx, gy + 1 AS ny),"
        "struct(gx AS nx, gy + 1 AS ny), struct(gx + 1 AS nx, gy + 1 AS ny)"
        ")) AS n",
    ).selectExpr("gx", "gy", "ed", "n.nx AS nx", "n.ny AS ny")
    return (
        center.join(nb, ["nx", "ny"])
        .groupBy("gx", "gy", "ed")
        .agg(F.count("*").alias("_n"), F.sum("ned").alias("_ns"))
        .filter(F.col("_n") == 8)
        .selectExpr("gx", "gy", "8 * ed - _ns AS dif8_decim")
        .filter(F.expr(f"abs(dif8_decim) > {8 * AVG_SPIKE_TOL_DECIM}"))
    )


_NB8 = (
    "({e_mm} + {e_0m} + {e_pm} + {e_m0} + {e_p0} + {e_mp} + {e_0p} + {e_pp})"
).format(
    e_mm=_ed("gx - 1", "gy - 1"), e_0m=_ed("gx", "gy - 1"), e_pm=_ed("gx + 1", "gy - 1"),
    e_m0=_ed("gx - 1", "gy"), e_p0=_ed("gx + 1", "gy"),
    e_mp=_ed("gx - 1", "gy + 1"), e_0p=_ed("gx", "gy + 1"), e_pp=_ed("gx + 1", "gy + 1"),
)

ORACLE_AVG_SPIKE = f"""
WITH posts AS (
  SELECT gx.gx, gy.gy
  FROM (SELECT unnest(range(1, {NTILES * POSTS - 1})) AS gx) gx,
       (SELECT unnest(range(1, {NTILES * POSTS - 1})) AS gy) gy
)
SELECT gx, gy, 8 * {_ed('gx', 'gy')} - {_NB8} AS dif8_decim
FROM posts
WHERE abs(8 * {_ed('gx', 'gy')} - {_NB8}) > {8 * AVG_SPIKE_TOL_DECIM}
"""


# --- raster_lod_dif (LODELEVDIF 199) -------------------------------------------
# coarse grid = every other post (even gx, gy); intermediate posts on even
# rows compare against the linear midpoint of their east/west coarse
# neighbors: |2*e - (e_west + e_east)| > 2*tol.


def q_lod_dif(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _posts(spark)
    mid = p.filter((F.col("gx") % 2 == 1) & (F.col("gy") % 2 == 0))
    coarse = p.filter((F.col("gx") % 2 == 0) & (F.col("gy") % 2 == 0)).selectExpr(
        "gx AS cx", "gy AS cy", "ed AS ced"
    )
    west = coarse.selectExpr("cx + 1 AS gx", "cy AS gy", "ced AS wed")
    east = coarse.selectExpr("cx - 1 AS gx", "cy AS gy", "ced AS eed")
    return (
        mid.join(west, ["gx", "gy"])
        .join(east, ["gx", "gy"])
        .selectExpr("gx", "gy", "2 * ed - (wed + eed) AS lod_dif_decim")
        .filter(F.expr(f"abs(lod_dif_decim) > {2 * LOD_TOL_DECIM}"))
    )


ORACLE_LOD_DIF = f"""
WITH posts AS (
  SELECT gx.gx, gy.gy
  FROM (SELECT unnest(range(0, {NTILES * POSTS})) AS gx) gx,
       (SELECT unnest(range(0, {NTILES * POSTS})) AS gy) gy
  WHERE gx.gx % 2 = 1 AND gy.gy % 2 = 0
    AND gx.gx + 1 < {NTILES * POSTS}
)
SELECT gx, gy,
       2 * {_ed('gx', 'gy')} - ({_ed('gx - 1', 'gy')} + {_ed('gx + 1', 'gy')})
       AS lod_dif_decim
FROM posts
WHERE abs(2 * {_ed('gx', 'gy')} - ({_ed('gx - 1', 'gy')} + {_ed('gx + 1', 'gy')}))
      > {2 * LOD_TOL_DECIM}
"""


# --- geo_slope_dir_change (SLOPEDIRCH 81) --------------------------------------


def q_slope_dir_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intersections import vertices_to_lines

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
        .withColumn("d1", F.expr("CAST(floor((_v.z1 - _v.z0) * 10.0) AS BIGINT)"))
        .withColumn("d2", F.expr("CAST(floor((_v.z2 - _v.z1) * 10.0) AS BIGINT)"))
        .filter(
            F.expr(
                f"((d1 > {SLOPE_NOISE_DECIM} AND d2 < -{SLOPE_NOISE_DECIM})"
                f" OR (d1 < -{SLOPE_NOISE_DECIM} AND d2 > {SLOPE_NOISE_DECIM}))"
            )
        )
        .selectExpr("line_id", "_i + 1 AS vidx", "d1 AS climb_decim", "d2 AS descend_decim")
    )


ORACLE_SLOPE_DIR = f"""
{oracle_cte('geo_vlines')},
triples AS (
  SELECT a.line_id, b.vidx,
         CAST(floor((b.z - a.z) * 10.0) AS BIGINT) AS d1,
         CAST(floor((c.z - b.z) * 10.0) AS BIGINT) AS d2
  FROM geo_vlines a
  JOIN geo_vlines b ON b.line_id = a.line_id AND b.vidx = a.vidx + 1
  JOIN geo_vlines c ON c.line_id = a.line_id AND c.vidx = a.vidx + 2
)
SELECT line_id, vidx, d1 AS climb_decim, d2 AS descend_decim
FROM triples
WHERE (d1 > {SLOPE_NOISE_DECIM} AND d2 < -{SLOPE_NOISE_DECIM})
   OR (d1 < -{SLOPE_NOISE_DECIM} AND d2 > {SLOPE_NOISE_DECIM})
"""


# --- geo_sameid (ANY_SAMEID 22 / SAMEID_GDUP 24) -------------------------------
# object ids planted with collisions: localID = line_id % 1200; geometry is a
# function of line_id % 997 (geo_lines_dup), so some id-collision groups also
# share geometry (GDUP) and some do not (ANY_SAMEID only).

_SAMEID_KEY = "CAST(line_id % 1200 AS BIGINT)"
_GEOM_KEY = (
    "md5(concat(CAST(CAST(floor(x1 * 1000000.0) AS BIGINT) AS STRING), ':',"
    " CAST(CAST(floor(y1 * 1000000.0) AS BIGINT) AS STRING), ':',"
    " CAST(CAST(floor(x2 * 1000000.0) AS BIGINT) AS STRING), ':',"
    " CAST(CAST(floor(y2 * 1000000.0) AS BIGINT) AS STRING)))"
)


def q_sameid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.table("geo_lines_dup").selectExpr(
        "line_id",
        f"{_SAMEID_KEY} AS local_id",
        f"{_GEOM_KEY} AS geom_key",
    )
    return (
        d.groupBy("local_id")
        .agg(
            F.count("*").alias("n_features"),
            F.countDistinct("geom_key").alias("n_geoms"),
        )
        .filter(F.col("n_features") > 1)
        .selectExpr(
            "local_id",
            "CAST(n_features AS BIGINT) AS n_features",
            "CASE WHEN n_geoms = 1 THEN 'SAMEID_GDUP' ELSE 'ANY_SAMEID' END AS errtype",
        )
    )


ORACLE_SAMEID = f"""
{oracle_cte('geo_lines_dup')},
keyed AS (
  SELECT line_id, {_SAMEID_KEY} AS local_id, {_GEOM_KEY} AS geom_key
  FROM geo_lines_dup
)
SELECT local_id,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CASE WHEN COUNT(DISTINCT geom_key) = 1 THEN 'SAMEID_GDUP'
            ELSE 'ANY_SAMEID' END AS errtype
FROM keyed
GROUP BY local_id
HAVING COUNT(*) > 1
"""

QUERIES = {
    "raster_avg_spike": q_avg_spike,
    "raster_lod_dif": q_lod_dif,
    "geo_slope_dir_change": q_slope_dir_change,
    "geo_sameid": q_sameid,
}

ORACLES = {
    "raster_avg_spike": ORACLE_AVG_SPIKE,
    "raster_lod_dif": ORACLE_LOD_DIF,
    "geo_slope_dir_change": ORACLE_SLOPE_DIR,
    "geo_sameid": ORACLE_SAMEID,
}
