"""Landcover coverage holes, DEM RMSE accumulators, pseudo-node counts.

* geo_coverage_holes — COVERFAIL 139 (landcover hole detection): GAIT builds
  per-area edge lists and matches them pairwise (AddEdgeSegment
  geomchecks.c:37932, MergeEdgeSegmentLists :38082, MatchAreaEdge :38163).
  Spark-native: a triangulated mosaic tiles the window, every interior edge
  must appear exactly twice; explode canonical edges, groupBy parity, and the
  count-1 survivors (minus the mosaic boundary) are hole borders.  The
  fixture removes every 97th triangle, so its three edges surface as holes.
* raster_rmse_accumulators — DEM accuracy rollup (RMSE/StdDev accumulators in
  CheckRegion, TT.c:43935): exact-integer global sums of |dif| and dif^2
  between the point z and the grid post.
* geo_pseudo_node_counts — AddPseudoNodesAtIntersections
  (moregeomchecks.c:4354) prep for CREATENET 63: per line, how many pseudo
  nodes its crossings would insert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .overlay import _GX, _GY, _elev, _z

GRID_N = 60          # 60x60 squares -> 7200 triangles
HOLE_MOD = 97        # every 97th triangle removed -> a hole

# Triangulated mosaic over [10, 10.6) x [40, 40.6): square (i, j) at
# (10 + i/100, 40 + j/100), split into lower (k%2=0: sw, se, ne) and upper
# (k%2=1: sw, ne, nw) triangles.  Pure integer arithmetic, shared text.
_TRIS_SQL = f"""
SELECT o_orderkey AS tri_id,
       CAST(floor(o_orderkey / 2.0) AS BIGINT) % {GRID_N} AS i,
       CAST(floor(floor(o_orderkey / 2.0) / {GRID_N}) AS BIGINT) AS j,
       CAST(o_orderkey % 2 AS INT) AS upper
FROM orders
WHERE o_orderkey < {2 * GRID_N * GRID_N} AND o_orderkey % {HOLE_MOD} <> 0
"""

# integer corner keys (centi-degree lattice): sw=(i,j), se=(i+1,j),
# ne=(i+1,j+1), nw=(i,j+1); edge key = LEAST/GREATEST of packed corners
_EDGES_SQL = f"""
tris AS ({_TRIS_SQL}),
corners AS (
  SELECT tri_id, i, j, upper,
         i * 100000 + j            AS sw,
         (i + 1) * 100000 + j      AS se,
         (i + 1) * 100000 + j + 1  AS ne,
         i * 100000 + j + 1        AS nw
  FROM tris
),
edges AS (
  SELECT tri_id, LEAST(sw, se) AS a, GREATEST(sw, se) AS b FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, LEAST(se, ne), GREATEST(se, ne) FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, LEAST(ne, sw), GREATEST(ne, sw) FROM corners WHERE upper = 0
  UNION ALL
  SELECT tri_id, LEAST(sw, ne), GREATEST(sw, ne) FROM corners WHERE upper = 1
  UNION ALL
  SELECT tri_id, LEAST(ne, nw), GREATEST(ne, nw) FROM corners WHERE upper = 1
  UNION ALL
  SELECT tri_id, LEAST(nw, sw), GREATEST(nw, sw) FROM corners WHERE upper = 1
)
"""

# mosaic boundary edges are legitimately single-sided: exclude edges lying on
# i=0, i=GRID_N, j=0, j=GRID_N lattice lines
_BOUNDARY_PRED = (
    " NOT ("
    "   (CAST(floor(a / 100000.0) AS BIGINT) = 0 AND CAST(floor(b / 100000.0) AS BIGINT) = 0)"
    f"   OR (CAST(floor(a / 100000.0) AS BIGINT) = {GRID_N}"
    f" AND CAST(floor(b / 100000.0) AS BIGINT) = {GRID_N})"
    "   OR (a % 100000 = 0 AND b % 100000 = 0)"
    f"   OR (a % 100000 = {GRID_N} AND b % 100000 = {GRID_N})"
    " ) "
)


def q_coverage_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = spark.sql(f"WITH {_EDGES_SQL} SELECT * FROM edges")
    uncovered = (
        edges.groupBy("a", "b")
        .agg(F.count("*").alias("n_sides"), F.min("tri_id").alias("border_tri"))
        .filter(F.col("n_sides") == 1)
        .filter(F.expr(_BOUNDARY_PRED))
    )
    return uncovered.select("a", "b", "border_tri")


ORACLE_COVERAGE_HOLES = f"""
WITH {_EDGES_SQL}
SELECT a, b, MIN(tri_id) AS border_tri
FROM edges
GROUP BY a, b
HAVING COUNT(*) = 1 AND {_BOUNDARY_PRED}
"""


def q_raster_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = (
        spark.table("geo_sites")
        .selectExpr("site_id", f"{_GX} AS gx", f"{_GY} AS gy")
        .selectExpr(
            "site_id",
            # dif in exact deci-meters: z and elev are multiples of 0.1 (+0.05
            # for the 25.5 plant, still exact in deci-m)
            f"CAST(round(({_z()} - {_elev()}) * 10.0) AS BIGINT) AS dif_decim",
        )
    )
    return pts.agg(
        F.count("*").alias("n_points"),
        F.expr("CAST(SUM(abs(dif_decim)) AS BIGINT)").alias("sum_absdif_decim"),
        F.expr("CAST(SUM(dif_decim * dif_decim) AS BIGINT)").alias("sum_sqdif_decim2"),
        F.expr("CAST(MAX(abs(dif_decim)) AS BIGINT)").alias("max_absdif_decim"),
    )


ORACLE_RASTER_RMSE = f"""
WITH geo_sites AS (
  SELECT s_suppkey AS site_id,
         CAST((s_suppkey * 641) % 4000 AS DOUBLE) / 1000.0 + 10.0 AS lon,
         CAST((s_suppkey * 331) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS lat
  FROM supplier
),
pts AS (
  SELECT site_id, {_GX} AS gx, {_GY} AS gy FROM geo_sites
),
difs AS (
  SELECT site_id, CAST(round(({_z()} - {_elev()}) * 10.0) AS BIGINT) AS dif_decim
  FROM pts
)
SELECT COUNT(*) AS n_points,
       CAST(SUM(abs(dif_decim)) AS BIGINT) AS sum_absdif_decim,
       CAST(SUM(dif_decim * dif_decim) AS BIGINT) AS sum_sqdif_decim2,
       CAST(MAX(abs(dif_decim)) AS BIGINT) AS max_absdif_decim
FROM difs
"""


def q_pseudo_node_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-node candidates (AddPseudoNodesAtIntersections
    moregeomchecks.c:4354): per-line count of proper crossings — runs on the
    variable-vertex fixture via the array-native intersection operator."""
    from ..operators.intersections import segment_intersections, segments_of_vertices

    from .vgeomq import SEGCELL

    x = segment_intersections(
        segments_of_vertices(spark.table("geo_vlines")), cell_deg=SEGCELL
    )
    both = x.select(F.col("id_a").alias("line_id")).unionAll(
        x.select(F.col("id_b").alias("line_id"))
    )
    return both.groupBy("line_id").agg(F.count("*").alias("n_pseudo_nodes"))


from .vgeomq import ORACLE_LLINT_V  # noqa: E402

ORACLE_PSEUDO_NODES = f"""
WITH llint AS ({ORACLE_LLINT_V}),
both_sides AS (
  SELECT id_a AS line_id FROM llint
  UNION ALL
  SELECT id_b FROM llint
)
SELECT line_id, COUNT(*) AS n_pseudo_nodes FROM both_sides GROUP BY 1
"""

QUERIES = {
    "geo_coverage_holes": q_coverage_holes,
    "raster_rmse_accumulators": q_raster_rmse,
    "geo_pseudo_node_counts": q_pseudo_node_counts,
}

ORACLES = {
    "geo_coverage_holes": ORACLE_COVERAGE_HOLES,
    "raster_rmse_accumulators": ORACLE_RASTER_RMSE,
    "geo_pseudo_node_counts": ORACLE_PSEUDO_NODES,
}
