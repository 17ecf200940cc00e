"""Per-model attribute-domain conformance at REAL schema size — ALL models.

This factory stamps one oracle-gated query per model over the full
transcribed tables (functions/schema_models.json — D4, DFDD, FLDB, GGDM21,
GGDM22_U, GGDM3, GIFD, MGCP4, NFDD, SAC, TDS4, TDS6, UFD1, UFD2, UFD3; e.g.
NFDD: 775 classes / 2,126 attrs / 28,190 enum rows, nfdd_class.c:21 /
nfdd_attr.c:20 / nfdd_enum.c:20).  MGCP TRD3 keeps its own query
(queries/mgcpq.py): it adds the per-geometry NOTAPPL check on a different
planted-violation fixture.

Checks per feature (one planted-violation fixture for every model):

* {M}_BADCLASS — class not in the roster;
* {M}_BADATTR  — attribute not in the roster;
* {M}_BADENUM  — enumerated attribute outside its domain slice (ATTR_PICK);
* {M}_BADTYPE  — numeric-typed non-enum attribute that does not parse
  (ATTR_DT; TRY_CAST is identical in Spark and DuckDB).

Spark shape: broadcast equi-join membership tests (the largest broadcast,
NFDD's enum table, is ~600 KB) + a scalar TRY_CAST — the feature scan
never shuffles; the oracle renders the SAME tables as VALUES lists from
the single JSON source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.schema_models import NUMERIC_TYPES, all_models, model_names
from ..sources.synthetic import register_testdata_views

N_FEATURES = 4000

#: models with dedicated full-size queries elsewhere
_EXCLUDED = {"MGCP3"}


def _q(s: str) -> str:
    return s.replace("'", "''")


def _fixture_exprs(o: str, n_class: int, n_attr: int) -> dict[str, str]:
    return {
        "cidx": f"(({o}) * 13) % {n_class}",
        "aidx": f"(({o}) * 7) % {n_attr}",
        "bad_class": f"(({o}) % 41 = 0)",
        "bad_attr": f"(({o}) % 37 = 1)",
        "bad_enum": f"(({o}) % 31 = 2)",
        "bad_type": f"(({o}) % 29 = 3)",
        "eidx_seed": f"(({o}) * 11)",
    }


def _tables(model: str):
    m = all_models()[model]
    classes = m["classes"]
    attrs = m["attrs"]
    types = m["attr_types"]
    enums = m["enums"]
    n_enums = {a: len(v) for a, v in enums.items()}
    attr_rows = [
        (
            i,
            a,
            n_enums.get(a, 0),
            1 if (t in NUMERIC_TYPES and a not in enums) else 0,
        )
        for i, (a, t) in enumerate(zip(attrs, types))
    ]
    enum_rows = [
        (a, i, v) for a, vals in sorted(enums.items()) for i, v in enumerate(vals)
    ]
    return classes, attr_rows, enum_rows


def _make_query(model: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_testdata_views(spark, sf_dir)
        classes, attr_rows, enum_rows = _tables(model)
        e = _fixture_exprs("o_orderkey", len(classes), len(attr_rows))
        feats = (
            spark.table("orders")
            .filter(f"o_orderkey < {N_FEATURES}")
            .selectExpr(
                "o_orderkey AS feature_id",
                f"{e['cidx']} AS cidx",
                f"{e['aidx']} AS aidx",
                f"{e['bad_class']} AS bad_class",
                f"{e['bad_attr']} AS bad_attr",
                f"{e['bad_enum']} AS bad_enum",
                f"{e['bad_type']} AS bad_type",
                f"{e['eidx_seed']} AS eidx_seed",
            )
        )
        cls = spark.createDataFrame(
            [(i, c) for i, c in enumerate(classes)], "cidx long, fcode0 string"
        )
        att = spark.createDataFrame(
            attr_rows, "aidx long, attr0 string, n_enums long, is_num long"
        )
        enu = spark.createDataFrame(
            enum_rows, "attr string, eidx long, evalue string"
        )
        resolved = (
            feats.join(F.broadcast(cls), "cidx")
            .join(F.broadcast(att), "aidx")
            .selectExpr(
                "feature_id", "n_enums", "is_num", "eidx_seed",
                "CASE WHEN bad_class THEN 'XX999' ELSE fcode0 END AS fcode",
                "CASE WHEN bad_attr THEN 'ZZZ9' ELSE attr0 END AS attr",
                "bad_enum", "bad_type",
            )
            .withColumn(
                "evalue_key",
                F.expr("CASE WHEN n_enums > 0 THEN eidx_seed % n_enums END"),
            )
        )
        with_val = (
            resolved.join(
                F.broadcast(enu),
                (resolved["attr"] == enu["attr"])
                & (resolved["evalue_key"] == enu["eidx"]),
                "left",
            )
            .drop(enu["attr"])
            .selectExpr(
                "feature_id", "fcode", "attr", "n_enums", "is_num",
                "CASE WHEN n_enums > 0 AND bad_enum THEN '999999999'"
                " WHEN n_enums > 0 THEN evalue"
                " WHEN is_num = 1 AND bad_type THEN 'abc' ELSE '1' END AS value",
            )
        )
        cls_ok = F.broadcast(cls.select(F.col("fcode0").alias("fcode")))
        attr_ok = F.broadcast(att.select(F.col("attr0").alias("attr")))
        enum_ok = F.broadcast(
            enu.select("attr", F.col("evalue").alias("value")).withColumn(
                "_ev", F.lit(1)
            )
        )
        return (
            with_val.join(cls_ok.withColumn("_c", F.lit(1)), "fcode", "left")
            .join(attr_ok.withColumn("_a", F.lit(1)), "attr", "left")
            .join(enum_ok, ["attr", "value"], "left")
            .withColumn(
                "errtype",
                F.expr(
                    f"CASE WHEN _c IS NULL THEN '{model}_BADCLASS'"
                    f" WHEN _a IS NULL THEN '{model}_BADATTR'"
                    f" WHEN n_enums > 0 AND _ev IS NULL THEN '{model}_BADENUM'"
                    " WHEN is_num = 1 AND TRY_CAST(value AS DOUBLE) IS NULL"
                    f" THEN '{model}_BADTYPE' END"
                ),
            )
            .filter(F.col("errtype").isNotNull())
            .select("feature_id", "errtype", "fcode", "attr")
        )

    q.__name__ = f"q_attr_{model.lower()}_domains"
    return q


def _make_oracle(model: str) -> str:
    classes, attr_rows, enum_rows = _tables(model)
    e = _fixture_exprs("o_orderkey", len(classes), len(attr_rows))
    cls_v = ", ".join(
        f"({i}, '{_q(c)}')" for i, c in enumerate(classes)
    )
    att_v = ", ".join(
        f"({r[0]}, '{_q(r[1])}', {r[2]}, {r[3]})" for r in attr_rows
    )
    enu_v = ", ".join(
        f"('{_q(r[0])}', {r[1]}, '{_q(r[2])}')" for r in enum_rows
    )
    return f"""
WITH classes AS (SELECT * FROM (VALUES {cls_v}) t(cidx, fcode0)),
attrs AS (SELECT * FROM (VALUES {att_v}) t(aidx, attr0, n_enums, is_num)),
enums AS (SELECT * FROM (VALUES {enu_v}) t(attr, eidx, evalue)),
feats AS (
  SELECT o_orderkey AS feature_id,
         {e['cidx']} AS cidx,
         {e['aidx']} AS aidx,
         {e['bad_class']} AS bad_class,
         {e['bad_attr']} AS bad_attr,
         {e['bad_enum']} AS bad_enum,
         {e['bad_type']} AS bad_type,
         {e['eidx_seed']} AS eidx_seed
  FROM orders WHERE o_orderkey < {N_FEATURES}
),
resolved AS (
  SELECT f.feature_id, a.n_enums, a.is_num, f.eidx_seed,
         CASE WHEN f.bad_class THEN 'XX999' ELSE c.fcode0 END AS fcode,
         CASE WHEN f.bad_attr THEN 'ZZZ9' ELSE a.attr0 END AS attr,
         f.bad_enum, f.bad_type,
         CASE WHEN a.n_enums > 0 THEN f.eidx_seed % a.n_enums END AS evalue_key
  FROM feats f
  JOIN classes c ON c.cidx = f.cidx
  JOIN attrs a ON a.aidx = f.aidx
),
with_val AS (
  SELECT r.feature_id, r.fcode, r.attr, r.n_enums, r.is_num,
         CASE WHEN r.n_enums > 0 AND r.bad_enum THEN '999999999'
              WHEN r.n_enums > 0 THEN en.evalue
              WHEN r.is_num = 1 AND r.bad_type THEN 'abc' ELSE '1' END AS value
  FROM resolved r
  LEFT JOIN enums en ON en.attr = r.attr AND en.eidx = r.evalue_key
)
SELECT w.feature_id,
       CASE WHEN c2.fcode0 IS NULL THEN '{model}_BADCLASS'
            WHEN a2.attr0 IS NULL THEN '{model}_BADATTR'
            WHEN w.n_enums > 0 AND e2.attr IS NULL THEN '{model}_BADENUM'
            WHEN w.is_num = 1 AND TRY_CAST(w.value AS DOUBLE) IS NULL
            THEN '{model}_BADTYPE' END AS errtype,
       w.fcode, w.attr
FROM with_val w
LEFT JOIN classes c2 ON c2.fcode0 = w.fcode
LEFT JOIN attrs a2 ON a2.attr0 = w.attr
LEFT JOIN enums e2 ON e2.attr = w.attr AND e2.evalue = w.value
WHERE (CASE WHEN c2.fcode0 IS NULL THEN '{model}_BADCLASS'
            WHEN a2.attr0 IS NULL THEN '{model}_BADATTR'
            WHEN w.n_enums > 0 AND e2.attr IS NULL THEN '{model}_BADENUM'
            WHEN w.is_num = 1 AND TRY_CAST(w.value AS DOUBLE) IS NULL
            THEN '{model}_BADTYPE' END) IS NOT NULL
"""


QUERIES = {}
ORACLES = {}
for _m in model_names():
    if _m in _EXCLUDED:
        continue
    _name = f"attr_{_m.lower()}_domains"
    QUERIES[_name] = _make_query(_m)
    ORACLES[_name] = _make_oracle(_m)
