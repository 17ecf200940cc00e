"""End-to-end GAIT condition lifecycle query: features -> single-feature check
kernels -> consolidation (dedup + deterministic ordinal) -> conditions table.

This is the engine's stage-4/5 chain (SURVEY.md §3.1 stages 7-8) over the
line + area fixtures, oracle-gated: the DuckDB twin recomputes every
measurement with the *same* left-associated poly-cos arithmetic, then applies
the same dedup + row_number contract.  V_DUPS/LOOPS are structurally absent
from these 3-vertex fixtures (both engines would emit them identically; the
kernels are exercised in tests/test_checks_single.py instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conditions import consolidate
from ..functions.geodesy import sql_dist_m
from ..operators.checks_single import SingleFeatureTolerances, single_feature_checks
from ..sources.synthetic import oracle_cte

TOL = SingleFeatureTolerances()

_CELL = "(CAST(floor(x1 * 10.0) AS BIGINT) + 2000) * 10000 + CAST(floor(y1 * 10.0) AS BIGINT) + 2000"


def feature_frame(spark: SparkSession, view: str, id_col: str, geom_type: int) -> DataFrame:
    """The 3-vertex features of ``view`` as single-feature check input:
    (feature_id = id * 10 + geom_type, fcode, geom_type, xs, ys, cell)."""
    return spark.table(view).selectExpr(
        f"{id_col} * 10 + {geom_type} AS feature_id",
        "fcode",
        f"CAST({geom_type} AS INT) AS geom_type",
        "array(x1, x2, x3) AS xs",
        "array(y1, y2, y3) AS ys",
        f"{_CELL} AS cell",
    )


def q_conditions_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    features = feature_frame(spark, "geo_lines", "line_id", 2).unionByName(
        feature_frame(spark, "geo_areas", "area_id", 3)
    )
    conds = single_feature_checks(features, TOL)
    cells = features.select("feature_id", "cell")
    conds = (
        conds.join(cells, "feature_id")
        .select(
            "errtype",
            F.lit(1).alias("instance"),
            F.lit(0).cast("bigint").alias("cond_num"),
            "magnitude_mm",
            F.col("fcode").alias("code1"),
            F.expr("CAST(feature_id AS STRING)").alias("sedrisid"),
            "geom_kind",
            "cell",
        )
    )
    return consolidate(conds)


def _line_stats() -> str:
    d01 = sql_dist_m("x1", "y1", "x2", "y2")
    d12 = sql_dist_m("x2", "y2", "x3", "y3")
    return f"""
  SELECT line_id * 10 + 2 AS feature_id, fcode, {_CELL} AS cell,
         LEAST({d01}, {d12}) AS min_edge,
         ({d01} + {d12}) AS total_len
  FROM geo_lines
"""


def _area_stats() -> str:
    d01 = sql_dist_m("x1", "y1", "x2", "y2")
    d12 = sql_dist_m("x2", "y2", "x3", "y3")
    d20 = sql_dist_m("x3", "y3", "x1", "y1")
    from ..functions.geodesy import sql_coslat_poly

    mean_lat = "(((y1 + y2) + y3) / 3.0)"
    mlon = f"(111319.5 * {sql_coslat_poly(mean_lat)})"
    t01 = f"((x1 * {mlon}) * (y2 * 111319.5) - (x2 * {mlon}) * (y1 * 111319.5))"
    t12 = f"((x2 * {mlon}) * (y3 * 111319.5) - (x3 * {mlon}) * (y2 * 111319.5))"
    t20 = f"((x3 * {mlon}) * (y1 * 111319.5) - (x1 * {mlon}) * (y3 * 111319.5))"
    area = f"(abs(({t01} + {t12}) + {t20}) * 0.5)"
    perim = f"(({d01} + {d12}) + {d20})"
    return f"""
  SELECT area_id * 10 + 3 AS feature_id, fcode, {_CELL} AS cell,
         {area} AS area_m2,
         {perim} AS perim_m
  FROM geo_areas
"""


ORACLE_CONDITIONS_PIPELINE = f"""
{oracle_cte('geo_lines', 'geo_areas')},
line_stats AS ({_line_stats()}),
area_stats AS ({_area_stats()}),
raw AS (
  SELECT 'SEGLEN' AS errtype, CAST(floor(min_edge * 1000.0) AS BIGINT) AS magnitude_mm,
         fcode AS code1, CAST(feature_id AS STRING) AS sedrisid, 'LN' AS geom_kind, cell
  FROM line_stats WHERE min_edge < {TOL.seglen_m} AND min_edge > 0
  UNION ALL
  SELECT 'SHORTFEAT', CAST(floor(total_len * 1000.0) AS BIGINT),
         fcode, CAST(feature_id AS STRING), 'LN', cell
  FROM line_stats WHERE total_len < {TOL.shortfeat_m}
  UNION ALL
  SELECT 'LONGFEAT', CAST(floor(total_len * 1000.0) AS BIGINT),
         fcode, CAST(feature_id AS STRING), 'LN', cell
  FROM line_stats WHERE total_len > {TOL.longfeat_m}
  UNION ALL
  SELECT 'SMALLAREA', CAST(floor(area_m2 * 1000.0) AS BIGINT),
         fcode, CAST(feature_id AS STRING), 'PT', cell
  FROM area_stats WHERE area_m2 < {TOL.smallarea_m2}
  UNION ALL
  SELECT 'PERIMLEN', CAST(floor(perim_m * 1000.0) AS BIGINT),
         fcode, CAST(feature_id AS STRING), 'PT', cell
  FROM area_stats WHERE perim_m < {TOL.perimlen_m}
  UNION ALL
  SELECT 'SLIVER', CAST(floor(((area_m2 / (perim_m * perim_m)) * 1000.0) * 1000.0) AS BIGINT),
         fcode, CAST(feature_id AS STRING), 'PT', cell
  FROM area_stats WHERE (area_m2 / (perim_m * perim_m)) < {TOL.sliver_ratio}
),
dedup AS (SELECT DISTINCT * FROM raw)
SELECT errtype, 1 AS instance,
       CAST(row_number() OVER (PARTITION BY errtype ORDER BY magnitude_mm, sedrisid) AS BIGINT) AS cond_num,
       magnitude_mm, code1, sedrisid, geom_kind, cell
FROM dedup
"""

def q_conditions_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition report with populated LABEL1 — the GetECCLabel lookup
    (share_linux.h:1066) over the transcribed MGCP3 class-name table
    (functions/schema_labels.py), broadcast-joined onto the pipeline output.
    """
    from ..conditions import with_labels

    conds = q_conditions_pipeline(spark, sf_dir)
    return with_labels(conds, model="MGCP3").select(
        "errtype", "cond_num", "code1", "label1"
    )


def _label_values() -> str:
    from ..functions.schema_labels import LABELS

    rows = ", ".join(
        "('{}', '{}')".format(c, n.replace("'", "''"))
        for c, n in sorted(LABELS["MGCP3"]["class"].items())
    )
    return f"(VALUES {rows}) AS lab(code, label)"


ORACLE_CONDITIONS_LABELS = f"""
WITH pipeline AS ({ORACLE_CONDITIONS_PIPELINE}),
labels AS (SELECT * FROM {_label_values()})
SELECT p.errtype, p.cond_num, p.code1,
       CASE WHEN p.code1 IS NULL THEN ''
            ELSE COALESCE(l.label, 'Error') END AS label1
FROM pipeline p
LEFT JOIN labels l ON l.code = p.code1
"""

QUERIES = {
    "conditions_pipeline": q_conditions_pipeline,
    "conditions_labels": q_conditions_labels,
}
ORACLES = {
    "conditions_pipeline": ORACLE_CONDITIONS_PIPELINE,
    "conditions_labels": ORACLE_CONDITIONS_LABELS,
}
