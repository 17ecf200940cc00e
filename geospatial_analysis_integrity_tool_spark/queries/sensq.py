"""Sensitivity-engine unit + ring winding / hole assignment (filling the
§2.2 "SensitivityCheck 9 ops" and §2.1 "winding/hole assignment" partials).

* ``sensitivity_ops`` — the nine comparison operators of SensitivityCheck
  (TT.c:13798-13865) exercised as ONE parameterized unit: a broadcast spec
  table carries (check, op, t1, t2); the dispatch is a CASE over the op name
  with shared predicate text per op.
* ``check_tolerance_resolution`` — clone-max tolerance resolution
  (FindRelevantSensitivity TT.c:2266, max across clones :2291) applied to
  the parsed inspection spec: per (check, role) the governing tolerance.
* ``geo_ring_winding`` — ring winding via the shoelace signed area
  (TestCounterClockwise shape_import.c:3834) in EXACT integer micro-degree
  arithmetic (order-free sums — bit-identical across engines).
* ``geo_hole_assignment`` — hole-in-ring assignment (MakeInnerPtrs
  shape_import.c:4268): each hole ring's representative vertex located in
  its containing OUTER ring by even-odd parity; candidates via bbox cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkspec import SENSITIVITY_OPS
from ..operators.pip import sql_ray_edge
from ..sources.synthetic import oracle_cte

# --- sensitivity_ops -----------------------------------------------------------

#: (check name, op, t1, t2) — one clone per operator over the same magnitude
SENS_SPEC = [
    ("SEGLEN", "LT", 20.0, None),
    ("PERIMLEN", "LTEQ", 20.0, None),
    ("CALC_AREA", "EQEQ", 55.5, None),
    ("BIGAREA", "GTEQ", 80.0, None),
    ("LONGFEAT", "GT", 80.0, None),
    ("LUNDERSHTL", "OPENINT", 30.0, 40.0),
    ("LOVERSHTL", "GTCLOSED", 30.0, 40.0),
    ("PLPROX", "CLOSEDINT", 30.0, 40.0),
    ("PTPTPROX", "LTCLOSED", 30.0, 40.0),
]

#: CASE dispatch over the op column — built once from the same per-op texts
#: the engine exposes (operators/checkspec.SENSITIVITY_OPS)
_DISPATCH = "CASE op " + " ".join(
    f"WHEN '{op}' THEN CASE WHEN {tmpl.format(v='v', t1='t1', t2='t2')} THEN 1 ELSE 0 END"
    for op, tmpl in SENSITIVITY_OPS.items()
) + " ELSE 0 END"

#: deterministic magnitude per feature: 0.0 .. 99.9 step 0.1
_MAGS_SQL = """
SELECT o_orderkey AS feature_id,
       CAST((o_orderkey * 37) % 1000 AS DOUBLE) / 10.0 AS v
FROM orders
"""


def q_sensitivity_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    mags = spark.sql(_MAGS_SQL)
    spec = spark.createDataFrame(
        SENS_SPEC, "chk string, op string, t1 double, t2 double"
    )
    return (
        mags.crossJoin(F.broadcast(spec))
        .filter(F.expr(_DISPATCH) == 1)
        .selectExpr(
            "chk",
            "op",
            "feature_id",
            "CAST(floor(v * 10.0) AS BIGINT) AS v_decim",
        )
    )


def _values(rows, cols) -> str:
    def lit(v):
        if v is None:
            return "CAST(NULL AS DOUBLE)"
        if isinstance(v, float):
            return repr(v)
        return f"'{v}'"

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS t({', '.join(cols)})"


ORACLE_SENSITIVITY_OPS = f"""
WITH mags AS ({_MAGS_SQL}),
spec AS (SELECT * FROM {_values(SENS_SPEC, ['chk', 'op', 't1', 't2'])})
SELECT chk, op, feature_id, CAST(floor(v * 10.0) AS BIGINT) AS v_decim
FROM mags CROSS JOIN spec
WHERE ({_DISPATCH}) = 1
"""


# --- check_tolerance_resolution ------------------------------------------------


def q_tolerance_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.checkspec import resolve_tolerances
    from ..sources.inspection_spec import load_inspection_spec
    from .specq import SPEC_TEXT

    spec = load_inspection_spec(spark, SPEC_TEXT)
    return resolve_tolerances(spec).selectExpr(
        '`check`',
        "role",
        "CAST(floor(tol1_resolved * 1000.0) AS BIGINT) AS tol_mm",
    )


# hand transcription of SPEC_TEXT's active (check, role, tol) rows after
# clone-max resolution — SEGLEN has clones 1 (50.0) and 2 (75.0) -> 75.0
ORACLE_TOLERANCE_RESOLUTION = """
SELECT * FROM (VALUES
  ('SEGLEN', 1, CAST(75000 AS BIGINT)),
  ('PTINREGION', 1, CAST(0 AS BIGINT)),
  ('ATTR_PICK', 1, CAST(0 AS BIGINT)),
  ('ATTR_PICK', 2, CAST(0 AS BIGINT))
) AS t("check", role, tol_mm)
"""


# --- geo_ring_winding ----------------------------------------------------------


def q_ring_winding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace 2*area per ring in udeg^2 (exact ints); winding from sign."""
    from pyspark.sql.window import Window

    v = spark.table("geo_vareas").selectExpr(
        "area_id", "ring", "vidx",
        "CAST(floor(x * 1000000.0) AS BIGINT) AS xi",
        "CAST(floor(y * 1000000.0) AS BIGINT) AS yi",
    )
    # successor vertex via lead/first window (wraparound) — one shuffle, no
    # n^2-per-ring self-join
    wnd = Window.partitionBy("area_id", "ring").orderBy("vidx")
    terms = v.select(
        "area_id",
        "ring",
        (
            F.col("xi") * F.coalesce(F.lead("yi").over(wnd), F.first("yi").over(wnd))
            - F.coalesce(F.lead("xi").over(wnd), F.first("xi").over(wnd))
            * F.col("yi")
        ).alias("cross_term"),
    )
    return (
        terms.groupBy("area_id", "ring")
        .agg(F.sum("cross_term").alias("area2_udeg2"))
        .selectExpr(
            "area_id", "ring", "CAST(area2_udeg2 AS BIGINT) AS area2_udeg2",
            "CASE WHEN area2_udeg2 > 0 THEN 'CCW'"
            " WHEN area2_udeg2 < 0 THEN 'CW' ELSE 'DEGENERATE' END AS winding",
        )
    )


ORACLE_RING_WINDING = f"""
{oracle_cte('geo_vareas')},
v AS MATERIALIZED (
  SELECT area_id, ring, vidx,
         CAST(floor(x * 1000000.0) AS BIGINT) AS xi,
         CAST(floor(y * 1000000.0) AS BIGINT) AS yi
  FROM geo_vareas
),
nv AS (SELECT area_id, ring, COUNT(*) AS n FROM v GROUP BY 1, 2),
terms AS (
  SELECT a.area_id, a.ring, a.xi * b.yi - b.xi * a.yi AS cross_term
  FROM v a
  JOIN nv ON nv.area_id = a.area_id AND nv.ring = a.ring
  JOIN v b ON b.area_id = a.area_id AND b.ring = a.ring
       AND b.vidx = (a.vidx + 1) % nv.n
)
SELECT area_id, ring, CAST(SUM(cross_term) AS BIGINT) AS area2_udeg2,
       CASE WHEN SUM(cross_term) > 0 THEN 'CCW'
            WHEN SUM(cross_term) < 0 THEN 'CW' ELSE 'DEGENERATE' END AS winding
FROM terms GROUP BY 1, 2
"""


# --- geo_hole_assignment -------------------------------------------------------


def q_hole_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each hole ring assigned to the outer ring containing its vertex 0
    (even-odd parity over OUTER-ring edges only, candidates by bbox cell)."""
    from .vgeomq import _area_edges, _inside_pairs

    spark.table("geo_vareas").filter("ring = 0").createOrReplaceTempView(
        "geo_vareas_outer"
    )
    edges = _area_edges(spark, view="geo_vareas_outer")
    holes = spark.table("geo_vareas").filter("ring = 1 AND vidx = 0").select(
        F.col("area_id").alias("hole_area_id"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
    )
    inside = _inside_pairs(
        spark, edges, holes, ["hole_area_id"], view="geo_vareas_outer"
    )
    return inside.select(
        "hole_area_id", F.col("area_id").alias("assigned_outer_id")
    )


ORACLE_HOLE_ASSIGNMENT = f"""
{oracle_cte('geo_vareas')},
outerv AS MATERIALIZED (SELECT * FROM geo_vareas WHERE ring = 0),
nv AS (SELECT area_id, COUNT(*) AS n FROM outerv GROUP BY 1),
edges AS (
  SELECT a.area_id, a.x AS ex1, a.y AS ey1, b.x AS ex2, b.y AS ey2
  FROM outerv a
  JOIN nv ON nv.area_id = a.area_id
  JOIN outerv b ON b.area_id = a.area_id AND b.vidx = (a.vidx + 1) % nv.n
),
abbox AS (
  SELECT area_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM outerv GROUP BY 1
),
holes AS (
  SELECT area_id AS hole_area_id, x AS px, y AS py
  FROM geo_vareas WHERE ring = 1 AND vidx = 0
),
cand AS (
  SELECT h.hole_area_id, h.px, h.py, a.area_id
  FROM holes h JOIN abbox a
    ON h.px >= a.mnx AND h.px <= a.mxx AND h.py >= a.mny AND h.py <= a.mxy
),
parity AS (
  SELECT c.hole_area_id, c.area_id,
         SUM({sql_ray_edge('c.px', 'c.py', 'e.ex1', 'e.ey1', 'e.ex2', 'e.ey2')}) AS nc
  FROM cand c JOIN edges e ON e.area_id = c.area_id
  GROUP BY 1, 2
)
SELECT hole_area_id, area_id AS assigned_outer_id
FROM parity WHERE nc % 2 = 1
"""

QUERIES = {
    "sensitivity_ops": q_sensitivity_ops,
    "check_tolerance_resolution": q_tolerance_resolution,
    "geo_ring_winding": q_ring_winding,
    "geo_hole_assignment": q_hole_assignment,
}

ORACLES = {
    "sensitivity_ops": ORACLE_SENSITIVITY_OPS,
    "check_tolerance_resolution": ORACLE_TOLERANCE_RESOLUTION,
    "geo_ring_winding": ORACLE_RING_WINDING,
    "geo_hole_assignment": ORACLE_HOLE_ASSIGNMENT,
}
