"""UOM (unit-of-measure) conformance — TTformat.c:26395-26412 family.

Attributes carry a unit code; the schema prescribes one per (fcode, attr).
Mismatch -> UOM_MISMATCH condition.  Fixture: part-derived attributes where
every 9th feature reports SIZ in 'cm' instead of the prescribed 'm', and
every 21st reports WGT in 'lb' instead of 'kg'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ATTR_UOM_SQL = """
SELECT p_partkey AS feature_id,
       CASE CAST(p_partkey % 4 AS INT)
         WHEN 0 THEN 'AL015' WHEN 1 THEN 'GB005' WHEN 2 THEN 'BH140'
         ELSE 'AP030' END AS fcode,
       'SIZ' AS attr,
       CASE WHEN p_partkey % 9 = 0 THEN 'cm' ELSE 'm' END AS unit
FROM part
UNION ALL
SELECT p_partkey,
       CASE CAST(p_partkey % 4 AS INT)
         WHEN 0 THEN 'AL015' WHEN 1 THEN 'GB005' WHEN 2 THEN 'BH140'
         ELSE 'AP030' END,
       'WGT',
       CASE WHEN p_partkey % 21 = 0 THEN 'lb' ELSE 'kg' END
FROM part
"""

SPEC_UOM = [("SIZ", "m"), ("WGT", "kg")]


def q_uom_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    attrs = spark.sql(_ATTR_UOM_SQL)
    spec = spark.createDataFrame(SPEC_UOM, "attr string, unit_expected string")
    return (
        attrs.join(F.broadcast(spec), "attr")
        .filter(F.col("unit") != F.col("unit_expected"))
        .select(
            "feature_id",
            F.lit("UOM_MISMATCH").alias("errtype"),
            "attr",
            "unit",
            "unit_expected",
        )
    )


ORACLE_UOM = f"""
WITH attrs AS ({_ATTR_UOM_SQL}),
spec AS (SELECT * FROM (VALUES ('SIZ', 'm'), ('WGT', 'kg')) AS t(attr, unit_expected))
SELECT feature_id, 'UOM_MISMATCH' AS errtype, attrs.attr, unit, unit_expected
FROM attrs JOIN spec ON attrs.attr = spec.attr
WHERE unit <> unit_expected
"""

QUERIES = {"attr_uom_checks": q_uom_checks}
ORACLES = {"attr_uom_checks": ORACLE_UOM}
