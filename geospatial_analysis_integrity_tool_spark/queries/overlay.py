"""Raster<->vector overlay queries (named in the north star) with independent
DuckDB oracles.

* raster_point_grid_dif — engine: tiles table (elevs arrays) + overlay equi-
  join + element_at post sampling (operators/raster.py).  Oracle: closed-form
  elevation formula, no arrays — an independent derivation of the same posts,
  so the overlay join itself is what gets verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.raster import overlay_sample_exact
from ..sources.synthetic import oracle_cte

# --- raster_point_grid_dif (PT_GRID_DIF 198) ----------------------------------

POSTS = 50          # posts per tile edge
POST_DEG = 0.01
NTILES = 8          # 8x8 tiles over the [10,14) x [40,44) window
DIF_TOL_M = 10.0

_GX = "CAST(floor((lon - 10.0) / 0.01) AS BIGINT)"
_GY = "CAST(floor((lat - 40.0) / 0.01) AS BIGINT)"


def _elev(gx: str = "gx", gy: str = "gy") -> str:
    """The DEM post elevation at grid indexes (gx, gy)."""
    return f"(CAST((({gx} * 7919 + {gy} * 104729) % 4000) AS DOUBLE) / 10.0)"


def _z(gx: str = "gx", gy: str = "gy") -> str:
    """A site's z: a function of its own post indexes (shared text)."""
    return (
        f"({_elev(gx, gy)} + CASE WHEN site_id % 17 = 0 THEN 25.5 ELSE 0.0 END"
        f" + CAST(site_id % 7 AS DOUBLE) / 10.0)"
    )

_TILES_EXPR = (
    "transform(sequence(0, {nn}), k -> "
    "CAST(((CAST(tx AS BIGINT) * {p} + k % {p}) * 7919"
    " + (CAST(ty AS BIGINT) * {p} + k DIV {p}) * 104729) % 4000 AS DOUBLE) / 10.0)"
).format(nn=POSTS * POSTS - 1, p=POSTS)


def build_raster_tiles(spark: SparkSession) -> DataFrame:
    """Deterministic DEM fixture: 64 tiles x 50x50 posts (FIXTURES.md §4)."""
    return spark.range(NTILES * NTILES).selectExpr(
        f"CAST(id % {NTILES} AS INT) AS tx",
        f"CAST(id DIV {NTILES} AS INT) AS ty",
        f"10.0 + CAST(id % {NTILES} AS DOUBLE) * 0.5 AS x0",
        f"40.0 + CAST(id DIV {NTILES} AS DOUBLE) * 0.5 AS y0",
        f"{_TILES_EXPR} AS elevs",
    )


def q_raster_point_grid_dif(spark: SparkSession, sf_dir: str) -> DataFrame:
    sites = (
        spark.table("geo_sites")
        .selectExpr("site_id", "lon", "lat", f"{_GX} AS gx0", f"{_GY} AS gy0")
        .selectExpr(
            "site_id",
            "lon",
            "lat",
            f"{_z('gx0', 'gy0')} AS z",
        )
    )
    tiles = build_raster_tiles(spark)
    sampled = overlay_sample_exact(
        sites, tiles, x_origin=10.0, y_origin=40.0, post_deg=POST_DEG, posts_per_tile=POSTS
    )
    return (
        sampled.withColumn("dif", F.expr("z - elev"))
        .filter(F.expr(f"abs(dif) > {DIF_TOL_M}"))
        .selectExpr(
            "site_id",
            "gx",
            "gy",
            "CAST(floor(dif * 1000.0) AS BIGINT) AS dif_mm",
        )
    )


ORACLE_PT_GRID_DIF = f"""
{oracle_cte('geo_sites')},
pts AS (
  SELECT site_id, {_GX} AS gx, {_GY} AS gy FROM geo_sites
),
zz AS (
  SELECT site_id, gx, gy, {_z()} AS z, {_elev()} AS elev FROM pts
)
SELECT site_id, gx, gy, CAST(floor((z - elev) * 1000.0) AS BIGINT) AS dif_mm
FROM zz WHERE abs(z - elev) > {DIF_TOL_M}
"""


QUERIES = {
    "raster_point_grid_dif": q_raster_point_grid_dif,
}

ORACLES = {
    "raster_point_grid_dif": ORACLE_PT_GRID_DIF,
}
