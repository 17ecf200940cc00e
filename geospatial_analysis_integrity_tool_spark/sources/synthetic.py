"""Deterministic geometry synthesis from the driver's TPC-H-ish test tables.

The driver-provided parquet (`region nation customer supplier part orders
lineitem events documents embeddings`) carries no geometry, so the engine's
spatial fixtures are *derived* from integer keys with arithmetic that is
bit-identical in Spark SQL and DuckDB: integer modulo -> division by an exact
power-of-ten literal.  Each view below is a single SQL text used verbatim by
BOTH engines (registered as a Spark temp view / inlined as a DuckDB CTE), so
coordinates agree to the last bit and the correctness gate compares only the
*operators*, not the fixtures.

Layers (mirroring GAIT's Lindex layer concept, share_linux.h:782 `Lindex`):

* ``geo_points``  — customer -> world-wide point features on a 0.05 deg lattice
  with an fcode from a small MGCP-style vocabulary (mgcp3_class.c:21 pattern).
* ``geo_zones``   — nation -> 25 large triangle areal features (vertices offset
  by non-round constants so lattice points never sit on an edge).
* ``geo_sites``   — supplier -> points clustered in a 4x4 deg window (dense
  enough for proximity/kNN checks at every sf).
* ``geo_lines``   — orders -> short 3-vertex polylines near the site window,
  with planted undershoots/kinks keyed off o_orderkey residues.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver parquet tables as temp views (idempotent)."""
    for t in TESTDATA_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


# --- geo_points: customer -> global points -------------------------------------
# lon in [-180, 180) step 0.05; lat in [-60, 60) step 0.05.  Pure int arithmetic
# then division by exact literals => bit-identical doubles in both engines.
GEO_POINTS_SQL = """
SELECT
  c_custkey                                          AS point_id,
  CAST((c_custkey * 9973) % 7200 AS DOUBLE) / 20.0 - 180.0 AS lon,
  CAST((c_custkey * 7919) % 2400 AS DOUBLE) / 20.0 - 60.0  AS lat,
  CASE CAST(c_custkey % 4 AS INT)
    WHEN 0 THEN 'AL015' WHEN 1 THEN 'GB005' WHEN 2 THEN 'BH140' ELSE 'AP030'
  END                                                AS fcode,
  c_nationkey                                        AS nation_ref
FROM customer
"""

# --- geo_zones: nation -> 25 triangles -----------------------------------------
# Centers spread over the globe; vertex offsets are non-round so no lattice
# point of geo_points can lie exactly on an edge.
GEO_ZONES_SQL = """
SELECT
  n_nationkey                                         AS zone_id,
  'FA000'                                             AS zone_fcode,
  CAST((n_nationkey * 2641) % 6400 AS DOUBLE) / 20.0 - 160.0 AS cx,
  CAST((n_nationkey * 1871) % 1800 AS DOUBLE) / 20.0 - 45.0  AS cy,
  CAST((n_nationkey * 2641) % 6400 AS DOUBLE) / 20.0 - 160.0 + 0.0012345 AS x1,
  CAST((n_nationkey * 1871) % 1800 AS DOUBLE) / 20.0 - 45.0  + 9.5067891 AS y1,
  CAST((n_nationkey * 2641) % 6400 AS DOUBLE) / 20.0 - 160.0 - 8.2034567 AS x2,
  CAST((n_nationkey * 1871) % 1800 AS DOUBLE) / 20.0 - 45.0  - 6.1045678 AS y2,
  CAST((n_nationkey * 2641) % 6400 AS DOUBLE) / 20.0 - 160.0 + 8.3056789 AS x3,
  CAST((n_nationkey * 1871) % 1800 AS DOUBLE) / 20.0 - 45.0  - 6.2023456 AS y3
FROM nation
"""

# --- geo_sites: supplier -> clustered points (proximity fixture) ---------------
# All sites inside lon [10, 14), lat [40, 44): a ~440 km x ~330 km window.
GEO_SITES_SQL = """
SELECT
  s_suppkey                                           AS site_id,
  CAST((s_suppkey * 641) % 4000 AS DOUBLE) / 1000.0 + 10.0 AS lon,
  CAST((s_suppkey * 331) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS lat,
  CASE CAST(s_suppkey % 3 AS INT)
    WHEN 0 THEN 'AD010' WHEN 1 THEN 'AM010' ELSE 'AT010'
  END                                                 AS fcode
FROM supplier
"""

# --- geo_lines: orders -> 3-vertex polylines -----------------------------------
# Start point in the same window as geo_sites; second vertex heads roughly east;
# third vertex bends by a key-dependent amount.  Planted defects:
#   * o_orderkey % 37 == 0 -> hard kink (direction reversal) at vertex 2
#   * o_orderkey % 41 == 0 -> end node (x3, y3) lands ~1.5-2.5 m from the first
#     vertex of line (o_orderkey + 1): an undershoot (LUNDERSHTL fixture)
# The %41 branch wins when both apply (CASE order), mirroring one-defect-per-
# feature fixtures in FIXTURES.md §6.
GEO_LINES_SQL = """
SELECT
  o_orderkey                                          AS line_id,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030' WHEN 2 THEN 'BH140'
    WHEN 3 THEN 'AN010' ELSE 'AQ040'
  END                                                 AS fcode,
  CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0 AS x1,
  CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS y1,
  CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0
    + CAST(1 + (o_orderkey % 7) AS DOUBLE) / 1000.0           AS x2,
  CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0
    + CAST((o_orderkey * 11) % 5 AS DOUBLE) / 10000.0         AS y2,
  CASE WHEN o_orderkey % 41 = 0
       THEN CAST(((o_orderkey + 1) * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0
            + 0.0000191
       WHEN o_orderkey % 37 = 0
       THEN CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0
            + CAST(1 + (o_orderkey % 7) AS DOUBLE) / 1000.0
            - CAST(1 + (o_orderkey % 7) AS DOUBLE) / 1050.0
       ELSE CAST((o_orderkey * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0
            + CAST(1 + (o_orderkey % 7) AS DOUBLE) / 1000.0
            + CAST(1 + (o_orderkey % 9) AS DOUBLE) / 1000.0 END AS x3,
  CASE WHEN o_orderkey % 41 = 0
       THEN CAST(((o_orderkey + 1) * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0
            + 0.0000077
       ELSE CAST((o_orderkey * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0
            + CAST((o_orderkey * 11) % 5 AS DOUBLE) / 10000.0
            + CAST((o_orderkey * 13) % 7 AS DOUBLE) / 10000.0 END AS y3
FROM orders
"""

# --- geo_areas: orders -> triangle areal features ------------------------------
# Width 1..5 mdeg; every 13th order is a planted sliver (height = width/400,
# area/perimeter^2 ~ 0.001 << the 0.01 sliver threshold; FIXTURES.md §6
# sliver_tri_01, reference default sensitivity errors.c:21801).
GEO_AREAS_SQL = """
SELECT
  o_orderkey                                          AS area_id,
  CASE CAST(o_orderkey % 3 AS INT)
    WHEN 0 THEN 'FA000' WHEN 1 THEN 'AL015' ELSE 'BH140'
  END                                                 AS fcode,
  CAST((o_orderkey * 719) % 4000 AS DOUBLE) / 1000.0 + 10.0 AS x1,
  CAST((o_orderkey * 523) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS y1,
  CAST((o_orderkey * 719) % 4000 AS DOUBLE) / 1000.0 + 10.0
    + CAST(1 + o_orderkey % 5 AS DOUBLE) / 1000.0           AS x2,
  CAST((o_orderkey * 523) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS y2,
  CAST((o_orderkey * 719) % 4000 AS DOUBLE) / 1000.0 + 10.0
    + CAST(1 + o_orderkey % 5 AS DOUBLE) / 2000.0           AS x3,
  CAST((o_orderkey * 523) % 4000 AS DOUBLE) / 1000.0 + 40.0
    + CASE WHEN o_orderkey % 13 = 0
           THEN CAST(1 + o_orderkey % 5 AS DOUBLE) / 400000.0
           ELSE CAST(1 + o_orderkey % 5 AS DOUBLE) / 1000.0
                * CAST(4 + o_orderkey % 7 AS DOUBLE) / 10.0 END AS y3
FROM orders
"""

# --- geo_edges: orders -> boundary edge-match fixture --------------------------
# Line ends approaching the 12E meridian from the west (xa, ya); counterpart
# start across the meridian (xb, yb) is absent for every 3rd order and
# displaced out of tolerance for every 5th -> LGEOM_UNM_LON unmatched rows
# (reference edge matching: PerformEdgeMatchChecks geomchecks.c:2958).
GEO_EDGES_SQL = """
SELECT
  o_orderkey                                          AS eid,
  12.0 - CAST(1 + o_orderkey % 9 AS DOUBLE) / 1000000.0 AS xa,
  40.0 + CAST((o_orderkey * 37) % 4000 AS DOUBLE) / 1000.0 AS ya,
  CASE WHEN o_orderkey % 3 = 0 THEN NULL
       ELSE 12.0 + CAST(1 + o_orderkey % 7 AS DOUBLE) / 1000000.0 END AS xb,
  CASE WHEN o_orderkey % 3 = 0 THEN NULL
       WHEN o_orderkey % 5 = 0
       THEN 40.0 + CAST((o_orderkey * 37) % 4000 AS DOUBLE) / 1000.0 + 0.00045
       ELSE 40.0 + CAST((o_orderkey * 37) % 4000 AS DOUBLE) / 1000.0
            + CAST(o_orderkey % 4 AS DOUBLE) / 1000000.0 END AS yb
FROM orders
"""

# --- geo_lines_dup: orders -> lines keyed mod 997 (duplicate-geometry fixture) --
# Geometry is a pure function of o_orderkey % 997, so at >=1500 orders every
# residue class yields byte-identical vertex sequences -> G_DUPS groups
# (reference duplicate checks: TT.c CheckRegion duplicate sections, errors.c:11267).
GEO_LINES_DUP_SQL = """
SELECT
  o_orderkey                                          AS line_id,
  CAST(o_orderkey % 997 AS BIGINT)                    AS geom_seed,
  CAST(((o_orderkey % 997) * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0 AS x1,
  CAST(((o_orderkey % 997) * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0 AS y1,
  CAST(((o_orderkey % 997) * 487) % 4000 AS DOUBLE) / 1000.0 + 10.0
    + CAST(1 + ((o_orderkey % 997) % 7) AS DOUBLE) / 1000.0  AS x2,
  CAST(((o_orderkey % 997) * 257) % 4000 AS DOUBLE) / 1000.0 + 40.0
    + CAST(((o_orderkey % 997) * 11) % 5 AS DOUBLE) / 10000.0 AS y2
FROM orders
"""

# --- geo_vlines: orders -> VARIABLE-length polylines (long form) ---------------
# The reference data model is vertex arrays (RawLinear.x[]/y[]/z[] + numnodes,
# share_linux.h:751-780); this fixture exercises the general case: 2..50
# vertices per line.  One row per (line_id, vidx); the engine folds rows into
# array columns (collect_list) mirroring RawLinear, the oracle keeps long form.
#
# Geometry: a zigzag walk (closed-form triangle waves in x and y with
# different periods -> self-intersecting "Lissajous" polylines) plus a small
# monotone drift.  Planted defects:
#   * every line with key % 101 == 0 gets a 0.3-deg jump on its LAST segment
#     (the giant-segment skew path of operators/intersections.py);
#   * key % 61 == 0 plants a z spike at one mid vertex (Z_KINK fixture);
# All arithmetic is integer modulo -> CAST -> division by exact literals, so
# Spark and DuckDB agree to the last bit.
GEO_VLINES_SQL = """
SELECT
  o_orderkey                                          AS line_id,
  k                                                   AS vidx,
  CAST((o_orderkey * 487) % 3989 AS DOUBLE) / 1000.0 + 10.0
    + CAST((1 + (o_orderkey % 7))
           * abs((k % (2 * (3 + (o_orderkey % 5)))) - (3 + (o_orderkey % 5)))
           AS DOUBLE) / 4000.0
    + CAST(k AS DOUBLE) / 50000.0
    + CASE WHEN (o_orderkey % 101) = 0 AND k = 1 + (o_orderkey % 49)
           THEN 0.3 ELSE 0.0 END                      AS x,
  CAST((o_orderkey * 257) % 3997 AS DOUBLE) / 1000.0 + 40.0
    + CAST((1 + (o_orderkey % 9))
           * abs(((k + 2) % (2 * (4 + (o_orderkey % 7)))) - (4 + (o_orderkey % 7)))
           AS DOUBLE) / 4000.0
    + CAST(k AS DOUBLE) / 40000.0                     AS y,
  CAST(((o_orderkey * 89) + (k * 37)) % 300 AS DOUBLE) / 10.0
    + CASE WHEN (o_orderkey % 61) = 0
                AND (2 * k) = (2 + (o_orderkey % 49) - ((o_orderkey % 49) % 2))
           THEN 80.0 ELSE 0.0 END                     AS z
FROM orders
CROSS JOIN (SELECT CAST(c_custkey AS BIGINT) AS k
            FROM customer WHERE c_custkey < 50) nums
WHERE k < 2 + (o_orderkey % 49)
"""

# --- geo_vareas: orders -> variable-vertex polygons with optional hole ring ----
# Outer ring (ring=0): an x-monotone "band" polygon — a bottom chain of nb
# vertices left->right with y-jitter, then a top chain of nt vertices
# right->left at y0+h (simple by construction; 4..10 vertices).  Every 6th
# area carries a rectangular hole ring (ring=1, 4 vertices) — the ">= 1 ring"
# case of RawAreal/AreaAndHoles (share_linux.h:310-330).  Even-odd ray-cast
# parity over ALL ring edges gives hole-aware containment in plain SQL.
GEO_VAREAS_SQL = """
SELECT
  o_orderkey                                          AS area_id,
  0                                                   AS ring,
  k                                                   AS vidx,
  CASE WHEN k < 2 + (o_orderkey % 4)
       THEN CAST((o_orderkey * 719) % 3989 AS DOUBLE) / 1000.0 + 10.0
            + CAST(2 + (o_orderkey % 6) AS DOUBLE) / 1000.0
              * CAST(k AS DOUBLE) / CAST(1 + (o_orderkey % 4) AS DOUBLE)
       ELSE CAST((o_orderkey * 719) % 3989 AS DOUBLE) / 1000.0 + 10.0
            + CAST(2 + (o_orderkey % 6) AS DOUBLE) / 1000.0
              * CAST(1 + ((o_orderkey * 3) % 4) - (k - (2 + (o_orderkey % 4))) AS DOUBLE)
              / CAST(1 + ((o_orderkey * 3) % 4) AS DOUBLE)
       END                                            AS x,
  CASE WHEN k < 2 + (o_orderkey % 4)
       THEN CAST((o_orderkey * 523) % 3997 AS DOUBLE) / 1000.0 + 40.0
            + CAST(((o_orderkey * 13) + (k * 29)) % 9 AS DOUBLE) / 10000.0
       ELSE CAST((o_orderkey * 523) % 3997 AS DOUBLE) / 1000.0 + 40.0
            + CAST(2 + ((o_orderkey * 5) % 7) AS DOUBLE) / 1000.0
            + CAST(((o_orderkey * 17) + ((k - (2 + (o_orderkey % 4))) * 31)) % 9 AS DOUBLE) / 10000.0
       END                                            AS y
FROM orders
CROSS JOIN (SELECT CAST(c_custkey AS BIGINT) AS k
            FROM customer WHERE c_custkey < 50) nums
WHERE k < (2 + (o_orderkey % 4)) + (2 + ((o_orderkey * 3) % 4))
UNION ALL
SELECT
  o_orderkey                                          AS area_id,
  1                                                   AS ring,
  k                                                   AS vidx,
  CAST((o_orderkey * 719) % 3989 AS DOUBLE) / 1000.0 + 10.0
    + CAST(2 + (o_orderkey % 6) AS DOUBLE) / 1000.0
      * CASE WHEN k = 0 OR k = 3 THEN 0.25 ELSE 0.75 END AS x,
  CAST((o_orderkey * 523) % 3997 AS DOUBLE) / 1000.0 + 40.0
    + CAST(2 + ((o_orderkey * 5) % 7) AS DOUBLE) / 1000.0
      * CASE WHEN k < 2 THEN 0.55 ELSE 0.8 END           AS y
FROM orders
CROSS JOIN (SELECT CAST(c_custkey AS BIGINT) AS k
            FROM customer WHERE c_custkey < 4) nums
WHERE (o_orderkey % 6) = 0
"""

GEO_VIEWS: dict[str, str] = {
    "geo_points": GEO_POINTS_SQL,
    "geo_zones": GEO_ZONES_SQL,
    "geo_sites": GEO_SITES_SQL,
    "geo_lines": GEO_LINES_SQL,
    "geo_lines_dup": GEO_LINES_DUP_SQL,
    "geo_areas": GEO_AREAS_SQL,
    "geo_edges": GEO_EDGES_SQL,
    "geo_vlines": GEO_VLINES_SQL,
    "geo_vareas": GEO_VAREAS_SQL,
}


def register_geo_views(spark: SparkSession, sf_dir: str) -> None:
    """Register testdata + derived geometry views in one call.

    The geometry views are synthesis SQL over the parquet tables (hundreds of
    expression ops per row), so a query that scans one several times should
    persist a NARROW projection of it once (see e.g. coverageq._lines_narrow)
    rather than re-deriving the fixture per scan.  Blanket cacheTable here
    was tried and rejected: it materializes every column of every view and
    penalizes the majority of queries that scan a view exactly once.
    """
    register_testdata_views(spark, sf_dir)
    for name, sql in GEO_VIEWS.items():
        spark.sql(sql).createOrReplaceTempView(name)


def oracle_cte(*names: str) -> str:
    """DuckDB CTE prefix defining the requested geometry views."""
    parts = [f"{n} AS ({GEO_VIEWS[n]})" for n in names]
    return "WITH " + ",\n".join(parts)


def oracle_materialized(sql: str) -> str:
    """Mark the heavy geometry-view CTEs of an oracle MATERIALIZED, so DuckDB
    synthesizes each once instead of inlining it per reference."""
    for v in ("geo_lines", "geo_vlines", "geo_vareas", "geo_sites",
              "geo_lines_dup", "geo_points"):
        sql = sql.replace(f"{v} AS (", f"{v} AS MATERIALIZED (")
    return sql
