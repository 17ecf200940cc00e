"""Attribute-conformance query: the ATTR_* family over part-derived features.

Features and planted defects are derived deterministically from `part`
(discrete string/int ops — exact in both engines):

* fcode   = f(p_partkey % 4), geometry class = 1 + p_partkey % 3
* TYP     = p_type      (enum-checked; LARGE/MEDIUM are outside the domain)
* SIZ     = p_size      (range 1..40 checked; every 11th gets a non-numeric
                         'x'-prefixed value -> ATTR_DT)
* NAM     = p_name      (omitted for every 5th part -> ATTR_MISSING where
                         required)
* BRD     = p_brand     (only every 7th part; schema allows it on AL015 only
                         -> ATTR_UNEXP elsewhere)

Mini-spec tables play the role of GAIT's compiled {model}_class/_attr/_enum.c
dimension tables (broadcast side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.checks_attr import attr_conformance

_ATTRS_LONG_SQL = """
WITH base AS (
  SELECT p_partkey AS feature_id,
         CASE CAST(p_partkey % 4 AS INT)
           WHEN 0 THEN 'AL015' WHEN 1 THEN 'GB005' WHEN 2 THEN 'BH140'
           ELSE 'AP030' END AS fcode,
         CAST(1 + p_partkey % 3 AS INT) AS geom,
         p_type, p_size, p_name, p_brand
  FROM part
)
SELECT feature_id, fcode, geom, 'TYP' AS attr, p_type AS value FROM base
UNION ALL
SELECT feature_id, fcode, geom, 'SIZ',
       CASE WHEN feature_id % 11 = 0 THEN 'x' || CAST(p_size AS STRING)
            ELSE CAST(p_size AS STRING) END
FROM base
UNION ALL
SELECT feature_id, fcode, geom, 'NAM', p_name FROM base WHERE feature_id % 5 <> 0
UNION ALL
SELECT feature_id, fcode, geom, 'BRD', p_brand FROM base WHERE feature_id % 7 = 0
"""

SPEC_PAIRS = [
    ("AL015", 1), ("AL015", 2),
    ("GB005", 1), ("GB005", 2), ("GB005", 3),
    ("BH140", 2), ("BH140", 3),
    ("AP030", 1), ("AP030", 3),
]
# (fcode, attr, required, datatype, low, high)
SPEC_ATTRS = [
    (f, "TYP", True, "enum", None, None) for f in ("AL015", "GB005", "BH140", "AP030")
] + [
    (f, "SIZ", False, "int", 1, 40) for f in ("AL015", "GB005", "BH140", "AP030")
] + [
    ("AL015", "NAM", True, "str", None, None),
    ("GB005", "NAM", True, "str", None, None),
    ("BH140", "NAM", False, "str", None, None),
    ("AP030", "NAM", False, "str", None, None),
    ("AL015", "BRD", False, "str", None, None),
]
SPEC_ENUMS = [("TYP", v) for v in ("ECONOMY", "STANDARD", "PROMO", "SMALL")]


def q_attr_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    attrs_long = spark.sql(_ATTRS_LONG_SQL)
    spec_pairs = spark.createDataFrame(SPEC_PAIRS, "fcode string, geom int")
    spec_attrs = spark.createDataFrame(
        SPEC_ATTRS,
        "fcode string, attr string, required boolean, datatype string, low int, high int",
    )
    spec_enums = spark.createDataFrame(SPEC_ENUMS, "attr string, value string")
    return attr_conformance(attrs_long, spec_pairs, spec_attrs, spec_enums)


def _values(rows, cols) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        return f"'{v}'"

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS t({', '.join(cols)})"


_SPEC_PAIRS_SQL = _values(SPEC_PAIRS, ["fcode", "geom"])
_SPEC_ATTRS_SQL = _values(
    SPEC_ATTRS, ["fcode", "attr", "required", "datatype", "low", "high"]
)
_SPEC_ENUMS_SQL = _values(SPEC_ENUMS, ["attr", "value"])

ORACLE_ATTR_CONFORMANCE = f"""
WITH attrs_long AS ({_ATTRS_LONG_SQL}),
spec_pairs AS (SELECT * FROM {_SPEC_PAIRS_SQL}),
spec_attrs AS (SELECT * FROM {_SPEC_ATTRS_SQL}),
spec_enums AS (SELECT * FROM {_SPEC_ENUMS_SQL}),
feats AS (SELECT DISTINCT feature_id, fcode, geom FROM attrs_long),
present AS (SELECT * FROM attrs_long WHERE attr IS NOT NULL)
SELECT feature_id, 'ATTR_PAIR' AS errtype, CAST(NULL AS STRING) AS attr,
       fcode AS value
FROM feats f
WHERE NOT EXISTS (SELECT 1 FROM spec_pairs s
                  WHERE s.fcode = f.fcode AND s.geom = f.geom)
UNION ALL
SELECT feature_id, 'ATTR_UNEXP', p.attr, p.value
FROM present p
WHERE NOT EXISTS (SELECT 1 FROM spec_attrs s
                  WHERE s.fcode = p.fcode AND s.attr = p.attr)
UNION ALL
SELECT f.feature_id, 'ATTR_MISSING', r.attr, CAST(NULL AS STRING)
FROM feats f JOIN (SELECT fcode, attr FROM spec_attrs WHERE required) r
  ON r.fcode = f.fcode
WHERE NOT EXISTS (SELECT 1 FROM present p
                  WHERE p.feature_id = f.feature_id AND p.attr = r.attr)
UNION ALL
SELECT p.feature_id, 'ATTR_PICK', p.attr, p.value
FROM present p
WHERE p.attr IN (SELECT DISTINCT attr FROM spec_enums)
  AND NOT EXISTS (SELECT 1 FROM spec_enums e
                  WHERE e.attr = p.attr AND e.value = p.value)
UNION ALL
SELECT p.feature_id, 'ATTR_DT', p.attr, p.value
FROM present p JOIN (SELECT fcode, attr FROM spec_attrs WHERE datatype = 'int') n
  ON n.fcode = p.fcode AND n.attr = p.attr
WHERE TRY_CAST(p.value AS BIGINT) IS NULL
UNION ALL
SELECT p.feature_id, 'ATTR_RNG', p.attr, p.value
FROM present p
JOIN (SELECT fcode, attr, low, high FROM spec_attrs WHERE low IS NOT NULL) r
  ON r.fcode = p.fcode AND r.attr = p.attr
WHERE TRY_CAST(p.value AS BIGINT) IS NOT NULL
  AND (TRY_CAST(p.value AS BIGINT) < r.low OR TRY_CAST(p.value AS BIGINT) > r.high)
"""

# --- attr_extended_checks: ATTR_RNULL 229 / ATTR_META 228 / PORTRAYF 219 /
# --- RPTD_ATTR 218 (the rest of §2.9) -----------------------------------------
#
# Extended fixture: the same part-derived long form plus
#   * NAM sentinel rows for feature_id % 10 = 5 (these features' NAM is
#     otherwise absent) -> ATTR_RNULL where NAM is required,
#   * UID identifier (md5 prefix; every 19th is malformed) -> ATTR_META len,
#   * ACC accuracy code 1..7 (rule range 1..5)              -> ATTR_META range,
#   * portrayal rules keyed on (fcode, ACC value)           -> PORTRAYF,
#   * an extract-phase reported-error side table            -> RPTD_ATTR.

_ATTRS2_SQL = f"""
{_ATTRS_LONG_SQL}
UNION ALL
SELECT feature_id, fcode, geom, 'NAM',
       CASE CAST(feature_id % 4 AS INT)
         WHEN 0 THEN 'UNK' WHEN 1 THEN 'N_P' WHEN 2 THEN 'Null'
         ELSE '-32767' END
FROM base WHERE feature_id % 10 = 5
UNION ALL
SELECT feature_id, fcode, geom, 'UID',
       CASE WHEN feature_id % 19 = 0 THEN 'baduid'
            ELSE substr(md5(CAST(feature_id AS STRING)), 1, 16) END
FROM base
UNION ALL
SELECT feature_id, fcode, geom, 'ACC', CAST(1 + feature_id % 7 AS STRING)
FROM base
"""

NUNANPO = [("UNK",), ("N_P",), ("N_A",), ("Null",), ("-32767",), ("noInformation",)]
META_RULES = [
    ("ACC", "range", 1, 5, None),
    ("UID", "len", None, None, 16),
]
PORTRAY_RULES = (
    [("AL015", "ACC", str(v)) for v in (1, 2, 3)]
    + [("GB005", "ACC", str(v)) for v in (2, 4)]
    + [("BH140", "ACC", str(v)) for v in (1, 5, 6)]
    + [("AP030", "ACC", str(v)) for v in (3, 7)]
)

_REPORTED_SQL = """
SELECT p_partkey AS feature_id, 'TYP' AS attr,
       'import: unreadable attribute record' AS message
FROM part WHERE p_partkey % 23 = 0
"""


def q_attr_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.checks_attr import attr_extended

    attrs_long = spark.sql(_ATTRS2_SQL)
    spec_attrs = spark.createDataFrame(
        SPEC_ATTRS,
        "fcode string, attr string, required boolean, datatype string, low int, high int",
    )
    nunanpo = spark.createDataFrame(NUNANPO, "value string")
    meta_rules = spark.createDataFrame(
        META_RULES, "attr string, kind string, low int, high int, exact_len int"
    )
    portray = spark.createDataFrame(PORTRAY_RULES, "fcode string, attr string, value string")
    reported = spark.sql(_REPORTED_SQL)
    return attr_extended(attrs_long, spec_attrs, nunanpo, meta_rules, portray, reported)


_NUNANPO_SQL = _values(NUNANPO, ["value"])
_META_RULES_SQL = _values(META_RULES, ["attr", "kind", "low", "high", "exact_len"])
_PORTRAY_SQL = _values(PORTRAY_RULES, ["fcode", "attr", "value"])

ORACLE_ATTR_EXTENDED = f"""
WITH attrs_long AS ({_ATTRS2_SQL}),
spec_attrs AS (SELECT * FROM {_SPEC_ATTRS_SQL}),
nunanpo AS (SELECT * FROM {_NUNANPO_SQL}),
meta_rules AS (SELECT * FROM {_META_RULES_SQL}),
portray AS (SELECT * FROM {_PORTRAY_SQL}),
reported AS ({_REPORTED_SQL}),
feats AS (SELECT DISTINCT feature_id, fcode, geom FROM attrs_long),
present AS (SELECT * FROM attrs_long WHERE attr IS NOT NULL)
SELECT p.feature_id, 'ATTR_RNULL' AS errtype, p.attr, p.value
FROM present p
JOIN (SELECT fcode, attr FROM spec_attrs WHERE required) r
  ON r.fcode = p.fcode AND r.attr = p.attr
JOIN nunanpo n ON n.value = p.value
UNION ALL
SELECT p.feature_id, 'ATTR_META', p.attr, p.value
FROM present p JOIN meta_rules m ON m.attr = p.attr
WHERE (m.kind = 'range' AND (TRY_CAST(p.value AS BIGINT) IS NULL
       OR TRY_CAST(p.value AS BIGINT) < m.low
       OR TRY_CAST(p.value AS BIGINT) > m.high))
   OR (m.kind = 'len' AND length(p.value) <> m.exact_len)
UNION ALL
SELECT f.feature_id, 'PORTRAYF', CAST(NULL AS STRING), f.fcode
FROM feats f
WHERE NOT EXISTS (
  SELECT 1 FROM present p JOIN portray r
    ON r.fcode = p.fcode AND r.attr = p.attr AND r.value = p.value
  WHERE p.feature_id = f.feature_id
)
UNION ALL
SELECT feature_id, 'RPTD_ATTR', attr, message FROM reported
"""

QUERIES = {
    "attr_conformance": q_attr_conformance,
    "attr_extended_checks": q_attr_extended,
}
ORACLES = {
    "attr_conformance": ORACLE_ATTR_CONFORMANCE,
    "attr_extended_checks": ORACLE_ATTR_EXTENDED,
}
