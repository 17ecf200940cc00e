"""NUNANPO attribution-mode domain validation (NFDD, the largest model).

The reference swaps the active enum tables to the per-attribute NUNANPO
domain when that attribution mode is selected (interface3.c:4047-4059;
allow_nunanpo modes TT.c:23278): values carrying the No-Unknown / Null /
Populated-Only sentinels are legal under nunanpo but violations under the
strict domain.  ``attr_nfdd_nunanpo`` drives BOTH transcribed domains
(functions/schema_models.json strict + functions/schema_nunanpo.json wide)
over a planted fixture and classifies each value:

* NUNANPO_ONLY — legal in the nunanpo domain, NOT in the strict one (the
  delta the mode exists for: flagged under strict attribution, accepted
  under nunanpo);
* BADVALUE     — in neither domain (violation under every mode).

Spark shape: two broadcast membership joins (the NFDD nunanpo table is
~500 KB); zero extra shuffle on the feature stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.schema_models import all_models
from ..functions.schema_nunanpo import nunanpo_enums

MODEL = "NFDD"
N_FEATURES = 6000


def _q(s: str) -> str:
    return s.replace("'", "''")


def _tables():
    strict = all_models()[MODEL]["enums"]
    wide = nunanpo_enums(MODEL)
    attrs = sorted(set(strict) & set(wide))
    strict_rows = [
        (a, v) for a in attrs for v in strict[a]
    ]
    wide_rows = [(a, i, v) for a in attrs for i, v in enumerate(wide[a])]
    n_wide = {a: len(wide[a]) for a in attrs}
    attr_rows = [(i, a, n_wide[a]) for i, a in enumerate(attrs)]
    return attr_rows, strict_rows, wide_rows


_FIX = {
    "aidx": "(o_orderkey * 7)",
    "mode": "(o_orderkey % 17)",  # 0 -> plant a bad value
    "eidx_seed": "(o_orderkey * 11)",
}


def q_attr_nfdd_nunanpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    attr_rows, strict_rows, wide_rows = _tables()
    n_attr = len(attr_rows)
    feats = (
        spark.table("orders")
        .filter(f"o_orderkey < {N_FEATURES}")
        .selectExpr(
            "o_orderkey AS feature_id",
            f"{_FIX['aidx']} % {n_attr} AS aidx",
            f"{_FIX['mode']} AS mode",
            f"{_FIX['eidx_seed']} AS eidx_seed",
        )
    )
    attrs = spark.createDataFrame(attr_rows, "aidx long, attr string, n_wide long")
    wide = spark.createDataFrame(wide_rows, "attr string, eidx long, evalue string")
    strict = spark.createDataFrame(strict_rows, "attr string, value string").withColumn(
        "_s", F.lit(1)
    )
    wide_ok = wide.select("attr", F.col("evalue").alias("value")).withColumn(
        "_w", F.lit(1)
    )
    wide_k = wide.selectExpr(
        "attr AS w_attr", "eidx AS w_eidx", "evalue"
    )
    resolved = (
        feats.join(F.broadcast(attrs), "aidx")
        .withColumn("evalue_key", F.expr("eidx_seed % n_wide"))
        .join(
            F.broadcast(wide_k),
            (F.col("attr") == F.col("w_attr"))
            & (F.col("evalue_key") == F.col("w_eidx")),
            "left",
        )
        .selectExpr(
            "feature_id", "attr",
            "CASE WHEN mode = 0 THEN '999999999' ELSE evalue END AS value",
        )
    )
    return (
        resolved.join(F.broadcast(strict), ["attr", "value"], "left")
        .join(F.broadcast(wide_ok), ["attr", "value"], "left")
        .withColumn(
            "verdict",
            F.expr(
                "CASE WHEN _w = 1 AND _s IS NULL THEN 'NUNANPO_ONLY'"
                " WHEN _w IS NULL AND _s IS NULL THEN 'BADVALUE' END"
            ),
        )
        .filter(F.col("verdict").isNotNull())
        .select("feature_id", "attr", "value", "verdict")
    )


def _oracle() -> str:
    attr_rows, strict_rows, wide_rows = _tables()
    n_attr = len(attr_rows)
    a_v = ", ".join(f"({r[0]}, '{_q(r[1])}', {r[2]})" for r in attr_rows)
    s_v = ", ".join(f"('{_q(a)}', '{_q(v)}')" for a, v in strict_rows)
    w_v = ", ".join(f"('{_q(r[0])}', {r[1]}, '{_q(r[2])}')" for r in wide_rows)
    return f"""
WITH attrs AS (SELECT * FROM (VALUES {a_v}) t(aidx, attr, n_wide)),
strict AS (SELECT * FROM (VALUES {s_v}) t(attr, value)),
wide AS (SELECT * FROM (VALUES {w_v}) t(attr, eidx, evalue)),
feats AS (
  SELECT o_orderkey AS feature_id,
         {_FIX['aidx']} % {n_attr} AS aidx,
         {_FIX['mode']} AS mode,
         {_FIX['eidx_seed']} AS eidx_seed
  FROM orders WHERE o_orderkey < {N_FEATURES}
),
resolved AS (
  SELECT f.feature_id, a.attr,
         CASE WHEN f.mode = 0 THEN '999999999' ELSE w.evalue END AS value
  FROM feats f
  JOIN attrs a ON a.aidx = f.aidx
  LEFT JOIN wide w ON w.attr = a.attr AND w.eidx = f.eidx_seed % a.n_wide
)
SELECT r.feature_id, r.attr, r.value,
       CASE WHEN w2.attr IS NOT NULL AND s2.attr IS NULL THEN 'NUNANPO_ONLY'
            WHEN w2.attr IS NULL AND s2.attr IS NULL THEN 'BADVALUE' END AS verdict
FROM resolved r
LEFT JOIN strict s2 ON s2.attr = r.attr AND s2.value = r.value
LEFT JOIN (SELECT DISTINCT attr, evalue FROM wide) w2
       ON w2.attr = r.attr AND w2.evalue = r.value
WHERE (w2.attr IS NOT NULL AND s2.attr IS NULL)
   OR (w2.attr IS NULL AND s2.attr IS NULL)
"""


# --- edgematch_nunanpo_modes (allow_nunanpo 2 vs 3, TT.c:23278-23281) ----------
#
# Boundary attribute comparison (AddToSameAttrAndVals TT.c:23370): when a
# matched feature pair's attribute values differ, the mismatch is FORGIVEN if
# the check's howtocheck >= 2 and either side carries a "flakey" NUNANPO
# sentinel (IsFlakeyNUNANPOvalue TT.c:1625).  The mode distinction this query
# gates:
#
# * howtocheck 2 ("allow all nunanpo", spec line prefix '2'): the base
#   sentinels AND the Unknown family (-32767 / 0 / Unknown / UNK) forgive;
# * howtocheck 3 ("all less 'Unknown'", spec line prefix '3'): ONLY the base
#   sentinels forgive — Unknown-family values mismatch like any other value;
# * howtocheck 1 (strict): nothing forgives.
#
# String path strips '"' before the table lookup (TT.c:1632-1644); numeric
# path (strval == NULL) uses NearlyEqual's |d| < 0.0001 window against
# -32768/-32766/-32765/-32764 and, at mode 2 only, -32767 (TT.c:1706-1718 —
# note numeric 0 is NOT flakey, unlike string "0").  Equality is tested on
# the RAW value (strcmp before any stripping, TT.c:23399).
#
# Shape: one derived relation from `orders`, pure CASE/IN expressions — the
# identical SQL text runs on Spark and DuckDB; zero joins, zero UDFs.

_NP_N = 6000

_NP_BASE = (
    "'-32768','-32768.0','-32766','-32766.0','-32765','-32765.0',"
    "'-32764','-32764.0','996','997','998','999','Not Applicable',"
    "'Unpopulated','Other','Multiple','N_A','OTH','N/A','Null','Null (Reserved)'"
)
_NP_UNK = "'-32767','-32767.0','0','Unknown','UNK'"

# 15-entry string-value pool: plain enum values, base sentinels (incl. a
# quoted one that only strips flakey), Unknown-family sentinels.
_NP_POOL = (
    "CASE {i} WHEN 0 THEN '1' WHEN 1 THEN '2' WHEN 2 THEN '3' WHEN 3 THEN '4'"
    " WHEN 4 THEN '5' WHEN 5 THEN '998' WHEN 6 THEN 'Not Applicable'"
    " WHEN 7 THEN '-32768' WHEN 8 THEN '\"997\"' WHEN 9 THEN 'Unpopulated'"
    " WHEN 10 THEN 'Unknown' WHEN 11 THEN '-32767' WHEN 12 THEN '0'"
    " WHEN 13 THEN 'UNK' WHEN 14 THEN '\"-32767.0\"' END"
)

# 8-entry numeric pool: exact sentinels, epsilon-inside values, epsilon-
# outside values, plain values.  0.0 deliberately present (NOT flakey on the
# numeric path).
_NP_NPOOL = (
    "CASE {i} WHEN 0 THEN -32768.0 WHEN 1 THEN -32767.00003"
    " WHEN 2 THEN -32766.5 WHEN 3 THEN 42.0 WHEN 4 THEN 0.0"
    " WHEN 5 THEN -32764.00009 WHEN 6 THEN -32767.0 WHEN 7 THEN 17.5 END"
)


def _np_flakey_str(col: str) -> str:
    return (
        f"(replace({col}, '\"', '') IN ({_NP_BASE})"
        f" OR (mode = 2 AND replace({col}, '\"', '') IN ({_NP_UNK})))"
    )


def _np_flakey_num(col: str) -> str:
    base = " OR ".join(
        f"abs({col} - ({s})) < 0.0001" for s in (-32768.0, -32766.0, -32765.0, -32764.0)
    )
    return f"({base} OR (mode = 2 AND abs({col} - (-32767.0)) < 0.0001))"


def _np_sql() -> str:
    lpool = _NP_POOL.format(i="lidx")
    rpool = _NP_POOL.format(i="ridx")
    lnum = _NP_NPOOL.format(i="lidx % 8")
    rnum = _NP_NPOOL.format(i="ridx % 8")
    return f"""
WITH pairs AS (
  SELECT o_orderkey AS pair_id,
         1 + o_orderkey % 3 AS mode,
         (o_orderkey * 4) % 15 AS lidx,
         (o_orderkey * 7) % 15 AS ridx,
         o_orderkey % 2 AS is_num
  FROM orders WHERE o_orderkey < {_NP_N}
),
vals AS (
  SELECT pair_id, mode, lidx, ridx, is_num,
         CASE WHEN is_num = 0 THEN {lpool} END AS lval,
         CASE WHEN is_num = 0 THEN {rpool} END AS rval,
         CASE WHEN is_num = 1 THEN {lnum} END AS lnum,
         CASE WHEN is_num = 1 THEN {rnum} END AS rnum
  FROM pairs
),
verdicts AS (
  SELECT pair_id, mode, lidx, ridx,
         CASE WHEN is_num = 1 THEN 'NUM' ELSE 'STR' END AS path,
         lval, rval,
         CASE
           WHEN is_num = 0 AND lval = rval THEN 'MATCH'
           WHEN is_num = 1 AND lnum = rnum THEN 'MATCH'
           WHEN mode >= 2 AND is_num = 0
                AND ({_np_flakey_str('lval')} OR {_np_flakey_str('rval')})
             THEN 'FORGIVEN_NUNANPO'
           WHEN mode >= 2 AND is_num = 1
                AND ({_np_flakey_num('lnum')} OR {_np_flakey_num('rnum')})
             THEN 'FORGIVEN_NUNANPO'
           ELSE 'MISMATCH'
         END AS verdict
  FROM vals
)
SELECT pair_id, path, mode, lidx, ridx, lval, rval, verdict
FROM verdicts
WHERE verdict <> 'MATCH'
"""


def q_edgematch_nunanpo_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_np_sql())


QUERIES = {
    "attr_nfdd_nunanpo": q_attr_nfdd_nunanpo,
    "edgematch_nunanpo_modes": q_edgematch_nunanpo_modes,
}
ORACLES = {
    "attr_nfdd_nunanpo": _oracle(),
    "edgematch_nunanpo_modes": _np_sql(),
}
