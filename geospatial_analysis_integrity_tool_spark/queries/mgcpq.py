"""MGCP TRD3 conformance at REAL schema size (round-2 "missing #8").

The ATTR_* family elsewhere runs against fixture-sized mini-specs; this
query exercises the FULL transcribed MGCP3 domain volume
(functions/schema_models.json and functions/mgcp3_tables.py: 185 feature
classes, 169 attributes, 1257 enumerants, 1154 per-geometry
optional-attribute pairs — the reference's
MIT-licensed public data tables mgcp3_class.c:21 / mgcp3_attr.c:20 /
mgcp3_enum.c:20).

``attr_mgcp3_domains`` synthesizes a long-form attribute log with planted
violations and validates it against the real tables:

* MGCP_BADCLASS — feature class not in the 185-code roster;
* MGCP_BADATTR  — attribute code not in the 169-code roster;
* MGCP_NOTAPPL  — class/attribute pair not in that geometry's optional
  list (interface.c MGCP checks; ATTR_UNEXP 226 semantics);
* MGCP_BADENUM  — enum-typed attribute carrying a value outside its
  enumerant domain (ATTR_PICK 222 semantics).

Spark shape: the schema tables broadcast (a few KB) and every decision is
an equi-join membership test; the oracle carries the SAME tables as VALUES
lists rendered from the same Python data, so both engines validate
against identical domains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.mgcp3_tables import OPTIONAL_A, OPTIONAL_L, OPTIONAL_P
from ..functions.schema_models import model
from ..sources.synthetic import register_testdata_views

CLASS_CODES = model("MGCP3")["classes"]
ATTR_CODES = model("MGCP3")["attrs"]
ATTR_ENUMS = model("MGCP3")["enums"]

N_FEATURES = 3000
N_CLASS = len(CLASS_CODES)
N_ATTR = len(ATTR_CODES)

_OPT = (
    [("P",) + tuple(s.split()) for s in OPTIONAL_P]
    + [("L",) + tuple(s.split()) for s in OPTIONAL_L]
    + [("A",) + tuple(s.split()) for s in OPTIONAL_A]
)
_ENUM_ROWS = [
    (attr, i, v) for attr, vals in sorted(ATTR_ENUMS.items())
    for i, v in enumerate(vals)
]
_N_ENUMS = {attr: len(vals) for attr, vals in ATTR_ENUMS.items()}


def _fixture_exprs(o: str) -> dict[str, str]:
    """Shared closed-form fixture texts over an integer feature id column."""
    return {
        "geom": f"CASE ({o}) % 3 WHEN 0 THEN 'P' WHEN 1 THEN 'L' ELSE 'A' END",
        "cidx": f"(({o}) * 13) % {N_CLASS}",
        "aidx": f"(({o}) * 7) % {N_ATTR}",
        "bad_class": f"(({o}) % 401 = 0)",
        "bad_attr": f"(({o}) % 397 = 0)",
        "bad_enum": f"(({o}) % 389 = 0)",
        "eidx_seed": f"(({o}) * 11)",
    }


def q_attr_mgcp3_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata_views(spark, sf_dir)
    e = _fixture_exprs("o_orderkey")
    feats = (
        spark.table("orders")
        .filter(f"o_orderkey < {N_FEATURES}")
        .selectExpr(
            "o_orderkey AS feature_id",
            f"{e['geom']} AS geom",
            f"{e['cidx']} AS cidx",
            f"{e['aidx']} AS aidx",
            f"{e['bad_class']} AS bad_class",
            f"{e['bad_attr']} AS bad_attr",
            f"{e['bad_enum']} AS bad_enum",
            f"{e['eidx_seed']} AS eidx_seed",
        )
    )
    classes = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CLASS_CODES)], "cidx long, fcode0 string"
    )
    attrs = spark.createDataFrame(
        [
            (i, a, _N_ENUMS.get(a, 0))
            for i, a in enumerate(ATTR_CODES)
        ],
        "aidx long, attr0 string, n_enums long",
    )
    enums = spark.createDataFrame(
        _ENUM_ROWS, "attr string, eidx long, evalue string"
    )
    optional = spark.createDataFrame(_OPT, "geom string, fcode string, attr string")

    resolved = (
        feats.join(F.broadcast(classes), "cidx")
        .join(F.broadcast(attrs), "aidx")
        .selectExpr(
            "feature_id", "geom", "n_enums", "eidx_seed",
            "CASE WHEN bad_class THEN 'XX999' ELSE fcode0 END AS fcode",
            "CASE WHEN bad_attr THEN 'ZZZ' ELSE attr0 END AS attr",
            "bad_enum",
        )
        .withColumn(
            "evalue_key",
            F.expr("CASE WHEN n_enums > 0 THEN eidx_seed % n_enums END"),
        )
    )
    with_val = (
        resolved.join(
            F.broadcast(enums),
            (resolved["attr"] == enums["attr"])
            & (resolved["evalue_key"] == enums["eidx"]),
            "left",
        )
        .drop(enums["attr"])
        .selectExpr(
            "feature_id", "geom", "fcode", "attr", "n_enums",
            "CASE WHEN bad_enum THEN '999999'"
            " WHEN n_enums > 0 THEN evalue ELSE '1' END AS value",
        )
    )
    cls_ok = F.broadcast(classes.select(F.col("fcode0").alias("fcode")))
    attr_ok = F.broadcast(attrs.select(F.col("attr0").alias("attr")))
    pair_ok = F.broadcast(optional.withColumn("_opt", F.lit(1)))
    enum_ok = F.broadcast(
        enums.select("attr", F.col("evalue").alias("value")).withColumn(
            "_ev", F.lit(1)
        )
    )
    checked = (
        with_val.join(cls_ok.withColumn("_c", F.lit(1)), "fcode", "left")
        .join(attr_ok.withColumn("_a", F.lit(1)), "attr", "left")
        .join(pair_ok, ["geom", "fcode", "attr"], "left")
        .join(enum_ok, ["attr", "value"], "left")
        .withColumn(
            "errtype",
            F.expr(
                "CASE WHEN _c IS NULL THEN 'MGCP_BADCLASS'"
                " WHEN _a IS NULL THEN 'MGCP_BADATTR'"
                " WHEN _opt IS NULL THEN 'MGCP_NOTAPPL'"
                " WHEN n_enums > 0 AND _ev IS NULL THEN 'MGCP_BADENUM'"
                " END"
            ),
        )
        .filter(F.col("errtype").isNotNull())
        .select("feature_id", "errtype", "fcode", "attr")
    )
    return checked


def _vals(rows, render) -> str:
    return ", ".join(render(r) for r in rows)


def _oracle() -> str:
    e = _fixture_exprs("o_orderkey")
    classes = _vals(
        list(enumerate(CLASS_CODES)), lambda r: f"({r[0]}, '{r[1]}')"
    )
    attrs = _vals(
        [(i, a, _N_ENUMS.get(a, 0)) for i, a in enumerate(ATTR_CODES)],
        lambda r: f"({r[0]}, '{r[1]}', {r[2]})",
    )
    enums = _vals(_ENUM_ROWS, lambda r: f"('{r[0]}', {r[1]}, '{r[2]}')")
    optional = _vals(_OPT, lambda r: f"('{r[0]}', '{r[1]}', '{r[2]}')")
    return f"""
WITH classes AS (SELECT * FROM (VALUES {classes}) t(cidx, fcode0)),
attrs AS (SELECT * FROM (VALUES {attrs}) t(aidx, attr0, n_enums)),
enums AS (SELECT * FROM (VALUES {enums}) t(attr, eidx, evalue)),
optional AS (SELECT * FROM (VALUES {optional}) t(geom, fcode, attr)),
feats AS (
  SELECT o_orderkey AS feature_id,
         {e['geom']} AS geom,
         {e['cidx']} AS cidx,
         {e['aidx']} AS aidx,
         {e['bad_class']} AS bad_class,
         {e['bad_attr']} AS bad_attr,
         {e['bad_enum']} AS bad_enum,
         {e['eidx_seed']} AS eidx_seed
  FROM orders WHERE o_orderkey < {N_FEATURES}
),
resolved AS (
  SELECT f.feature_id, f.geom, a.n_enums, f.eidx_seed, f.bad_enum,
         CASE WHEN f.bad_class THEN 'XX999' ELSE c.fcode0 END AS fcode,
         CASE WHEN f.bad_attr THEN 'ZZZ' ELSE a.attr0 END AS attr
  FROM feats f JOIN classes c ON c.cidx = f.cidx
  JOIN attrs a ON a.aidx = f.aidx
),
with_val AS (
  SELECT r.feature_id, r.geom, r.fcode, r.attr, r.n_enums,
         CASE WHEN r.bad_enum THEN '999999'
              WHEN r.n_enums > 0 THEN ev.evalue ELSE '1' END AS value
  FROM resolved r
  LEFT JOIN enums ev
    ON ev.attr = r.attr AND ev.eidx = r.eidx_seed % NULLIF(r.n_enums, 0)
)
SELECT feature_id,
       CASE WHEN fcode NOT IN (SELECT fcode0 FROM classes) THEN 'MGCP_BADCLASS'
            WHEN attr NOT IN (SELECT attr0 FROM attrs) THEN 'MGCP_BADATTR'
            WHEN NOT EXISTS (SELECT 1 FROM optional o
                             WHERE o.geom = w.geom AND o.fcode = w.fcode
                               AND o.attr = w.attr) THEN 'MGCP_NOTAPPL'
            WHEN n_enums > 0 AND NOT EXISTS (SELECT 1 FROM enums ev2
                             WHERE ev2.attr = w.attr AND ev2.evalue = w.value)
                 THEN 'MGCP_BADENUM'
       END AS errtype,
       fcode, attr
FROM with_val w
WHERE CASE WHEN fcode NOT IN (SELECT fcode0 FROM classes) THEN 'MGCP_BADCLASS'
           WHEN attr NOT IN (SELECT attr0 FROM attrs) THEN 'MGCP_BADATTR'
           WHEN NOT EXISTS (SELECT 1 FROM optional o
                            WHERE o.geom = w.geom AND o.fcode = w.fcode
                              AND o.attr = w.attr) THEN 'MGCP_NOTAPPL'
           WHEN n_enums > 0 AND NOT EXISTS (SELECT 1 FROM enums ev2
                            WHERE ev2.attr = w.attr AND ev2.evalue = w.value)
                THEN 'MGCP_BADENUM'
      END IS NOT NULL
"""


QUERIES = {"attr_mgcp3_domains": q_attr_mgcp3_domains}
ORACLES = {"attr_mgcp3_domains": _oracle()}


# --- attr_enum_labels: GetEELabel value resolution (share_linux.h:1080) --------
#
# The condition report's human-readable VALUE column: (attr, enum code) ->
# enum NAME via the transcribed per-attribute name slices
# (functions/schema_models.json enum_labels; gifd_functionality.c:121
# indexes the names array at the code's slice position).  Unknown values
# resolve to 'Error' (the reference's out-of-range convention).

def q_attr_enum_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.schema_models import enum_value_labels

    register_testdata_views(spark, sf_dir)
    rows = [
        (a, v, n) for (a, v), n in sorted(enum_value_labels("MGCP3").items())
    ]
    lab = F.broadcast(
        spark.createDataFrame(rows, "attr string, value string, label string")
    )
    e = _fixture_exprs("o_orderkey")
    feats = (
        spark.table("orders")
        .filter("o_orderkey < 3000")
        .selectExpr(
            "o_orderkey AS feature_id",
            f"{e['aidx']} AS aidx",
            f"{e['eidx_seed']} AS eidx_seed",
            f"{e['bad_enum']} AS bad_enum",
        )
    )
    attrs = spark.createDataFrame(
        [(i, a, _N_ENUMS.get(a, 0)) for i, a in enumerate(ATTR_CODES)],
        "aidx long, attr string, n_enums long",
    )
    enums = spark.createDataFrame(
        _ENUM_ROWS, "e_attr string, eidx long, evalue string"
    )
    resolved = (
        feats.join(F.broadcast(attrs), "aidx")
        .filter("n_enums > 0")
        .withColumn("ekey", F.expr("eidx_seed % n_enums"))
        .join(
            F.broadcast(enums),
            (F.col("attr") == F.col("e_attr")) & (F.col("ekey") == F.col("eidx")),
        )
        .selectExpr(
            "feature_id", "attr",
            "CASE WHEN bad_enum THEN '999999' ELSE evalue END AS value",
        )
    )
    return (
        resolved.join(lab, ["attr", "value"], "left")
        .selectExpr(
            "feature_id", "attr", "value",
            "COALESCE(label, 'Error') AS label",
        )
    )


def _enum_label_oracle() -> str:
    from ..functions.schema_models import enum_value_labels

    e = _fixture_exprs("o_orderkey")
    lab_rows = ", ".join(
        "('{}', '{}', '{}')".format(
            a.replace("'", "''"), v.replace("'", "''"), n.replace("'", "''")
        )
        for (a, v), n in sorted(enum_value_labels("MGCP3").items())
    )
    attr_rows = ", ".join(
        f"({i}, '{a}', {_N_ENUMS.get(a, 0)})" for i, a in enumerate(ATTR_CODES)
    )
    enum_rows = ", ".join(
        f"('{r[0]}', {r[1]}, '{r[2]}')" for r in _ENUM_ROWS
    )
    return f"""
WITH labels AS (SELECT * FROM (VALUES {lab_rows}) t(attr, value, label)),
attrs AS (SELECT * FROM (VALUES {attr_rows}) t(aidx, attr, n_enums)),
enums AS (SELECT * FROM (VALUES {enum_rows}) t(e_attr, eidx, evalue)),
feats AS (
  SELECT o_orderkey AS feature_id,
         {e['aidx']} AS aidx,
         {e['eidx_seed']} AS eidx_seed,
         {e['bad_enum']} AS bad_enum
  FROM orders WHERE o_orderkey < 3000
),
resolved AS (
  SELECT f.feature_id, a.attr,
         CASE WHEN f.bad_enum THEN '999999' ELSE en.evalue END AS value
  FROM feats f
  JOIN attrs a ON a.aidx = f.aidx AND a.n_enums > 0
  JOIN enums en ON en.e_attr = a.attr AND en.eidx = f.eidx_seed % a.n_enums
)
SELECT r.feature_id, r.attr, r.value, COALESCE(l.label, 'Error') AS label
FROM resolved r
LEFT JOIN labels l ON l.attr = r.attr AND l.value = r.value
"""


QUERIES["attr_enum_labels"] = q_attr_enum_labels
ORACLES["attr_enum_labels"] = _enum_label_oracle()
