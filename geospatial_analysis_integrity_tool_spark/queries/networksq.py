"""Network/graph queries: connected components over endpoint-coincidence.

Oracle: DuckDB recursive CTE computing the transitive closure over the same
line-adjacency edges (clusters here are small endpoint stars, so the closure
is tiny), then component = min reachable line id — an independent formulation
of the engine's label-propagation loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geodesy import sql_dist_m
from ..operators.networks import component_stats, connected_components
from ..operators.pip import cell_deg_for_tolerance, with_kring_cells, with_point_cell
from ..sources.synthetic import GEO_VIEWS


def q_network_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = connected_components(spark.table("geo_lines"))
    sizes = component_stats(comp)
    return comp.join(sizes, "component_id").select(
        "line_id", "component_id", "n_lines"
    )


# The connected-components oracle: line adjacency over coincident endpoints
# (node_key), its transitive closure, component = min reachable line id.
# Spliced after a ``geo_lines`` CTE inside ``WITH RECURSIVE``.
_CC_CTES = """nodes AS (
  SELECT line_id,
         CAST(floor(x1 * 1000000.0) AS BIGINT) * 1000000000
         + CAST(floor(y1 * 1000000.0) AS BIGINT) AS node_key
  FROM geo_lines
  UNION ALL
  SELECT line_id,
         CAST(floor(x3 * 1000000.0) AS BIGINT) * 1000000000
         + CAST(floor(y3 * 1000000.0) AS BIGINT)
  FROM geo_lines
),
edges AS (
  SELECT DISTINCT l.line_id AS a, r.line_id AS b
  FROM nodes l JOIN nodes r ON l.node_key = r.node_key AND l.line_id <> r.line_id
),
reach AS (
  SELECT line_id AS a, line_id AS b FROM geo_lines
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS line_id, MIN(b) AS component_id FROM reach GROUP BY a
)"""

# every line endpoint tagged with its component (follows _CC_CTES)
_ENDPOINTS_CTE = """endpoints AS (
  SELECT g.line_id, g.x1 AS ex, g.y1 AS ey, c.component_id
  FROM geo_lines g JOIN comp c USING (line_id)
  UNION ALL
  SELECT g.line_id, g.x3, g.y3, c.component_id
  FROM geo_lines g JOIN comp c USING (line_id)
)"""

ORACLE_NETWORK_COMPONENTS = f"""
WITH RECURSIVE geo_lines AS ({GEO_VIEWS['geo_lines']}),
{_CC_CTES},
sizes AS (
  SELECT component_id, COUNT(*) AS n_lines FROM comp GROUP BY 1
)
SELECT c.line_id, c.component_id, s.n_lines
FROM comp c JOIN sizes s USING (component_id)
"""


# --- geo_network_near_miss (EXTRA_NET 50) -------------------------------------
# endpoints of DIFFERENT connected components within tolerance: the two
# networks nearly touch but don't — GAIT's inter-network proximity check
# (PerformTransitiveChecks moregeomchecks.c:2854 family).
NEAR_MISS_TOL_M = 5.0


def _endpoint_cell_pairs(spark: SparkSession) -> DataFrame:
    """Candidate endpoint pairs for the near-miss checks: every line endpoint
    tagged with its component, the left side in its cell, the right side in
    its 3x3 k-ring, equi-joined on cell.

    Columns: (cell, line_a, _xa, _ya, comp_a, line_b, _xb, _yb, comp_b).
    The cell width comes from the worst-case latitude in the data: one cell
    of longitude must span >= the tolerance, or qualifying pairs can land 2+
    cells apart above ~63 deg latitude and be silently missed by the k-ring.
    """
    lines = spark.table("geo_lines")
    comp = connected_components(lines).withColumnRenamed("line_id", "cid_line")
    starts = lines.selectExpr("line_id", "x1 AS ex", "y1 AS ey")
    ends = lines.selectExpr("line_id", "x3 AS ex", "y3 AS ey")
    endpoints = starts.unionByName(ends).join(
        comp, F.col("line_id") == F.col("cid_line")
    ).select("line_id", "ex", "ey", "component_id")

    max_abs_lat = (
        lines.agg(
            F.max(F.greatest(F.abs(F.col("y1")), F.abs(F.col("y3"))))
        ).first()[0]
        or 0.0
    )
    cell_deg = cell_deg_for_tolerance(NEAR_MISS_TOL_M, max_abs_lat)
    left = with_point_cell(endpoints, "ex", "ey", cell_deg).select(
        F.col("line_id").alias("line_a"),
        F.col("ex").alias("_xa"),
        F.col("ey").alias("_ya"),
        F.col("component_id").alias("comp_a"),
        "cell",
    )
    right = with_kring_cells(
        endpoints.select(
            F.col("line_id").alias("line_b"),
            F.col("ex").alias("_xb"),
            F.col("ey").alias("_yb"),
            F.col("component_id").alias("comp_b"),
        ),
        "_xb",
        "_yb",
        cell_deg,
    )
    return left.join(right, "cell")


def q_network_near_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.expr(sql_dist_m("_xa", "_ya", "_xb", "_yb"))
    return (
        _endpoint_cell_pairs(spark)
        .filter(F.col("comp_a") < F.col("comp_b"))
        .withColumn("_d", d)
        .filter(F.col("_d") < F.lit(NEAR_MISS_TOL_M))
        .select("comp_a", "comp_b", "line_a", "line_b")
        .dropDuplicates(["comp_a", "comp_b", "line_a", "line_b"])
    )


_NM_D = sql_dist_m("a.ex", "a.ey", "b.ex", "b.ey")
ORACLE_NETWORK_NEAR_MISS = f"""
WITH RECURSIVE geo_lines AS ({GEO_VIEWS['geo_lines']}),
{_CC_CTES},
{_ENDPOINTS_CTE}
SELECT DISTINCT a.component_id AS comp_a, b.component_id AS comp_b,
       a.line_id AS line_a, b.line_id AS line_b
FROM endpoints a JOIN endpoints b
  ON a.component_id < b.component_id
 AND b.ex BETWEEN a.ex - 0.001 AND a.ex + 0.001
 AND b.ey BETWEEN a.ey - 0.001 AND a.ey + 0.001
WHERE {_NM_D} < {NEAR_MISS_TOL_M}
"""

# --- geo_netisofeat (NETISOFEAT 120) ------------------------------------------
# isolated feature: a network of exactly one line (moregeomchecks.c:2854
# PerformTransitiveChecks isolation family).


def q_netisofeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs on a sparsified layer (every 7th residue class 0-2) — the full
    fixture's endpoint lattice leaves no singleton networks to find."""
    lines = spark.table("geo_lines").filter(F.col("line_id") % 7 < 3)
    comp = connected_components(lines)
    sizes = component_stats(comp)
    return (
        comp.join(sizes.filter(F.col("n_lines") == 1), "component_id")
        .select("line_id", "component_id")
    )


ORACLE_NETISOFEAT = f"""
WITH RECURSIVE geo_lines0 AS ({GEO_VIEWS['geo_lines']}),
geo_lines AS (SELECT * FROM geo_lines0 WHERE line_id % 7 < 3),
{_CC_CTES},
sizes AS (
  SELECT component_id, COUNT(*) AS n_lines FROM comp GROUP BY 1
)
SELECT c.line_id, c.component_id
FROM comp c JOIN sizes s USING (component_id)
WHERE s.n_lines = 1
"""


# --- geo_network_intra_miss (INTRA_NET 56) ------------------------------------
# near-miss WITHIN one network: two endpoints of the SAME component closer
# than tolerance but not coincident — the line should probably connect there
# (moregeomchecks.c:2854 family; intra counterpart of EXTRA_NET 50).


def q_network_intra_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.expr(sql_dist_m("_xa", "_ya", "_xb", "_yb"))
    return (
        _endpoint_cell_pairs(spark)
        .filter(
            (F.col("comp_a") == F.col("comp_b"))
            & (F.col("line_a") < F.col("line_b"))
        )
        .withColumn("_d", d)
        .filter((F.col("_d") > 0) & (F.col("_d") < F.lit(NEAR_MISS_TOL_M)))
        .select(
            F.col("comp_a").alias("component_id"), "line_a", "line_b"
        )
        .dropDuplicates(["component_id", "line_a", "line_b"])
    )


ORACLE_NETWORK_INTRA_MISS = f"""
WITH RECURSIVE geo_lines AS ({GEO_VIEWS['geo_lines']}),
{_CC_CTES},
{_ENDPOINTS_CTE}
SELECT DISTINCT a.component_id, a.line_id AS line_a, b.line_id AS line_b
FROM endpoints a JOIN endpoints b
  ON a.component_id = b.component_id
 AND a.line_id < b.line_id
 AND b.ex BETWEEN a.ex - 0.001 AND a.ex + 0.001
 AND b.ey BETWEEN a.ey - 0.001 AND a.ey + 0.001
WHERE {_NM_D} > 0 AND {_NM_D} < {NEAR_MISS_TOL_M}
"""

QUERIES = {
    "geo_network_components": q_network_components,
    "geo_network_near_miss": q_network_near_miss,
    "geo_netisofeat": q_netisofeat,
    "geo_network_intra_miss": q_network_intra_miss,
}
ORACLES = {
    "geo_network_components": ORACLE_NETWORK_COMPONENTS,
    "geo_network_near_miss": ORACLE_NETWORK_NEAR_MISS,
    "geo_netisofeat": ORACLE_NETISOFEAT,
    "geo_network_intra_miss": ORACLE_NETWORK_INTRA_MISS,
}
