"""Scalar-construction-backed checks: COLINEAR 19, convex-hull stats
(GrahamScan family), least-squares fit accumulators, and CONF_STATS 162.

* ``geo_colinear``          — COLINEAR 19 (RemoveColinearVertices
  moregeomchecks.c:6425): interior vertices whose turn cross-product is
  below tolerance add no shape information.
* ``geo_convex_hull_stats`` — hull membership per outer ring (GrahamScan
  moregeomchecks.c:5585): a vertex is ON the hull iff it is not strictly
  inside any triangle of the ring's other vertices — a relational rule both
  engines evaluate with shared orientation-predicate text.  The numpy
  graham_scan kernel (functions/constructions.py) is the imperative twin,
  property-tested against this rule.
* ``geo_line_lsq_fit``      — LeastSquaresFit (moregeomchecks.c:6304)
  accumulators per line in EXACT integer micro-degrees: slope numerator
  n*Sxy - Sx*Sy and denominator n*Sxx - Sx^2 (order-free integer sums, so
  both engines agree to the last bit; the float slope is numerator/denominator
  downstream).
* ``conf_stats``            — CONF_STATS 162 (InitConflateStatsCapture /
  CaptureInformativeValueStats moregeomchecks.c:959-1171): rollup of the
  conflation best-match output per (site fcode, line fcode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.synthetic import oracle_cte
from .vgeomq import _TRIPLES_CTE, _line_triples
from ..operators.intersections import vertices_to_lines

COLINEAR_PRED = "abs(ux * wy - uy * wx) < 1e-12"


# --- geo_colinear (COLINEAR 19) ------------------------------------------------


def q_colinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = vertices_to_lines(spark.table("geo_vlines"))
    return _line_triples(lines).filter(F.expr(COLINEAR_PRED)).select(
        "line_id", "vidx"
    )


ORACLE_COLINEAR = f"""
{oracle_cte('geo_vlines')},
{_TRIPLES_CTE.strip()}
SELECT line_id, vidx FROM triples WHERE {COLINEAR_PRED}
"""


# --- geo_convex_hull_stats -----------------------------------------------------


def _orient(ax, ay, bx, by, px, py) -> str:
    return f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))"


def _strict_inside(px, py, x1, y1, x2, y2, x3, y3) -> str:
    d1 = _orient(x1, y1, x2, y2, px, py)
    d2 = _orient(x2, y2, x3, y3, px, py)
    d3 = _orient(x3, y3, x1, y1, px, py)
    return (
        f"(({d1} > 0 AND {d2} > 0 AND {d3} > 0)"
        f" OR ({d1} < 0 AND {d2} < 0 AND {d3} < 0))"
    )


def q_convex_hull_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.table("geo_vareas").filter("ring = 0").select("area_id", "vidx", "x", "y")

    def side(n):
        return v.select(
            "area_id",
            F.col("vidx").alias(f"i{n}"),
            F.col("x").alias(f"x{n}"),
            F.col("y").alias(f"y{n}"),
        )

    triples = (
        side(1)
        .join(side(2), "area_id")
        .filter(F.col("i2") > F.col("i1"))
        .join(side(3), "area_id")
        .filter(F.col("i3") > F.col("i2"))
    )
    probe = v.select(
        "area_id", F.col("vidx").alias("pv"), F.col("x").alias("px"), F.col("y").alias("py")
    )
    inside = (
        probe.join(triples, "area_id")
        .filter(
            (F.col("pv") != F.col("i1"))
            & (F.col("pv") != F.col("i2"))
            & (F.col("pv") != F.col("i3"))
        )
        .filter(F.expr(_strict_inside("px", "py", "x1", "y1", "x2", "y2", "x3", "y3")))
        .select("area_id", "pv")
        .distinct()
    )
    nv = v.groupBy("area_id").agg(F.count("*").alias("n_vertices"))
    nin = inside.groupBy("area_id").agg(F.count("*").alias("_nin"))
    return (
        nv.join(nin, "area_id", "left")
        .selectExpr(
            "area_id",
            "CAST(n_vertices AS BIGINT) AS n_vertices",
            "CAST(n_vertices - coalesce(_nin, 0) AS BIGINT) AS n_hull",
        )
    )


ORACLE_HULL_STATS = f"""
{oracle_cte('geo_vareas')},
v AS MATERIALIZED (SELECT area_id, vidx, x, y FROM geo_vareas WHERE ring = 0),
triples AS MATERIALIZED (
  SELECT a.area_id,
         a.vidx AS i1, a.x AS x1, a.y AS y1,
         b.vidx AS i2, b.x AS x2, b.y AS y2,
         c.vidx AS i3, c.x AS x3, c.y AS y3
  FROM v a
  JOIN v b ON b.area_id = a.area_id AND b.vidx > a.vidx
  JOIN v c ON c.area_id = a.area_id AND c.vidx > b.vidx
),
inside AS (
  SELECT DISTINCT p.area_id, p.vidx AS pv
  FROM v p JOIN triples t ON t.area_id = p.area_id
  WHERE p.vidx NOT IN (t.i1, t.i2, t.i3)
    AND {_strict_inside('p.x', 'p.y', 't.x1', 't.y1', 't.x2', 't.y2', 't.x3', 't.y3')}
),
nv AS (SELECT area_id, COUNT(*) AS n_vertices FROM v GROUP BY 1),
nin AS (SELECT area_id, COUNT(*) AS nin FROM inside GROUP BY 1)
SELECT nv.area_id,
       CAST(nv.n_vertices AS BIGINT) AS n_vertices,
       CAST(nv.n_vertices - COALESCE(nin.nin, 0) AS BIGINT) AS n_hull
FROM nv LEFT JOIN nin USING (area_id)
"""


# --- geo_line_lsq_fit ----------------------------------------------------------


def q_line_lsq_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.table("geo_vlines").selectExpr(
        "line_id",
        "CAST(floor(x * 1000000.0) AS BIGINT) AS xi",
        "CAST(floor(y * 1000000.0) AS BIGINT) AS yi",
    )
    return v.groupBy("line_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xi").alias("_sx"),
        F.sum("yi").alias("_sy"),
        F.sum(F.col("xi") * F.col("xi")).alias("_sxx"),
        F.sum(F.col("xi") * F.col("yi")).alias("_sxy"),
    ).selectExpr(
        "line_id",
        "n",
        "CAST(n * _sxy - _sx * _sy AS BIGINT) AS slope_num",
        "CAST(n * _sxx - _sx * _sx AS BIGINT) AS slope_den",
    )


ORACLE_LSQ_FIT = f"""
{oracle_cte('geo_vlines')},
v AS (
  SELECT line_id,
         CAST(floor(x * 1000000.0) AS BIGINT) AS xi,
         CAST(floor(y * 1000000.0) AS BIGINT) AS yi
  FROM geo_vlines
),
acc AS (
  SELECT line_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xi) AS BIGINT) AS sx, CAST(SUM(yi) AS BIGINT) AS sy,
         CAST(SUM(xi * xi) AS BIGINT) AS sxx, CAST(SUM(xi * yi) AS BIGINT) AS sxy
  FROM v GROUP BY 1
)
SELECT line_id, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
FROM acc
"""


# --- conf_stats (CONF_STATS 162) -----------------------------------------------


def q_conf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .checks2 import q_conflation_best_match

    best = q_conflation_best_match(spark, sf_dir)
    site_fc = spark.table("geo_sites").select("site_id", F.col("fcode").alias("site_fcode"))
    line_fc = spark.table("geo_lines").select(
        F.col("line_id").alias("best_line_id"), F.col("fcode").alias("line_fcode")
    )
    return (
        best.join(F.broadcast(site_fc), "site_id")
        .join(line_fc, "best_line_id")
        .groupBy("site_fcode", "line_fcode")
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.sum("dist_mm").cast("bigint").alias("sum_dist_mm"),
            F.max("dist_mm").cast("bigint").alias("max_dist_mm"),
        )
    )


def _conf_stats_oracle() -> str:
    from .checks2 import ORACLE_CONFLATION

    return f"""
WITH best AS ({ORACLE_CONFLATION}),
sfc AS ({oracle_cte('geo_sites')} SELECT site_id, fcode AS site_fcode FROM geo_sites),
lfc AS ({oracle_cte('geo_lines')} SELECT line_id AS best_line_id, fcode AS line_fcode FROM geo_lines)
SELECT s.site_fcode, l.line_fcode,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(b.dist_mm) AS BIGINT) AS sum_dist_mm,
       CAST(MAX(b.dist_mm) AS BIGINT) AS max_dist_mm
FROM best b
JOIN sfc s USING (site_id)
JOIN lfc l USING (best_line_id)
GROUP BY 1, 2
"""


QUERIES = {
    "geo_colinear": q_colinear,
    "geo_convex_hull_stats": q_convex_hull_stats,
    "geo_line_lsq_fit": q_line_lsq_fit,
    "conf_stats": q_conf_stats,
}

ORACLES = {
    "geo_colinear": ORACLE_COLINEAR,
    "geo_convex_hull_stats": ORACLE_HULL_STATS,
    "geo_line_lsq_fit": ORACLE_LSQ_FIT,
    "conf_stats": _conf_stats_oracle(),
}
