"""Metadata XML validation query (engine kernel vs regexp-SQL oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.metadata_xml import (
    EDITION_RANGE,
    METADATA_XML_SQL,
    VALID_SECURITY,
    VALID_TRIGRAPHS,
    validate_metadata_xml,
)


def q_metadata_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    xml = spark.sql(METADATA_XML_SQL)
    return validate_metadata_xml(xml)


def _in_list(vals) -> str:
    return ", ".join(f"'{v}'" for v in sorted(vals))


ORACLE_METADATA_XML = f"""
WITH xmls AS ({METADATA_XML_SQL}),
fields AS (
  SELECT cell_key,
         regexp_extract(xml, '<country>([^<]*)</country>', 1) AS country,
         regexp_extract(xml, '<edition>([^<]*)</edition>', 1) AS edition,
         regexp_extract(xml, '<date>([^<]*)</date>', 1) AS date,
         regexp_extract(xml, '<security>([^<]*)</security>', 1) AS security
  FROM xmls
)
SELECT cell_key, 'META_TRIGRAPH' AS errtype, country AS value
FROM fields WHERE country NOT IN ({_in_list(VALID_TRIGRAPHS)})
UNION ALL
SELECT cell_key, 'META_EDITION_RNG', edition
FROM fields
WHERE TRY_CAST(edition AS BIGINT) IS NULL
   OR TRY_CAST(edition AS BIGINT) < {EDITION_RANGE[0]}
   OR TRY_CAST(edition AS BIGINT) > {EDITION_RANGE[1]}
UNION ALL
SELECT cell_key, 'META_DATE', date
FROM fields
WHERE NOT regexp_matches(date, '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
   OR TRY_CAST(substr(date, 6, 2) AS BIGINT) < 1
   OR TRY_CAST(substr(date, 6, 2) AS BIGINT) > 12
   OR TRY_CAST(substr(date, 9, 2) AS BIGINT) < 1
   OR TRY_CAST(substr(date, 9, 2) AS BIGINT) > 28
UNION ALL
SELECT cell_key, 'META_SECURITY', security
FROM fields WHERE security NOT IN ({_in_list(VALID_SECURITY)})
"""

QUERIES = {"metadata_xml_checks": q_metadata_xml}
ORACLES = {"metadata_xml_checks": ORACLE_METADATA_XML}
