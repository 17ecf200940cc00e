"""MGCP area-overlap combo gating at REAL size (AOVERLAPA-family pair rules).

GAIT gates which overlapping areal class pairs are ERRORS vs WARNINGS with
per-model pair lists (mgcp_illegals.c:25/:516 MGCP3, :4244/:4734 MGCP4 —
484 illegal + 3,719 warn pairs for MGCP3; consumed via Mgcp_*AreaCombos,
interface2.c:327-361).  ``mgcp_overlap_combos`` drives the transcribed
lists (functions/mgcp_combos.py) end-to-end: a closed-form overlap-pair
fixture is classified ILLEGAL / WARN / ALLOWED, keeping only gated pairs.

Pair rules are UNORDERED in the reference (the consumer scans both
orders): membership is tested on the canonical (least, greatest) ordering
of each feature pair's class codes, with the combo list normalized the
same way at build time.

Spark shape: two broadcast membership joins on a canonicalized pair key —
the combo tables are a few KB; at 100 TB the classification rides the
overlap-pair stream with zero extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.mgcp_combos import (
    MGCP3_ILLEGALAREACOMBOS,
    MGCP3_WARNAREACOMBOS,
)
from ..functions.schema_models import model

CLASS_CODES = model("MGCP3")["classes"]

N_PAIRS = 6000
N_CLASS = len(CLASS_CODES)


def _canon(pairs):
    return sorted({(a, b) if a <= b else (b, a) for a, b in pairs})


_ILLEGAL = _canon(MGCP3_ILLEGALAREACOMBOS)
_WARN = _canon(MGCP3_WARNAREACOMBOS)

#: overlap-pair fixture: two class indexes per synthetic overlap event
_PAIR_SQL = f"""
SELECT o_orderkey AS pair_id,
       CAST((o_orderkey * 13) % {N_CLASS} AS INT) AS ci_a,
       CAST((o_orderkey * 29 + 7) % {N_CLASS} AS INT) AS ci_b
FROM orders WHERE o_orderkey < {N_PAIRS}
"""


def q_mgcp_overlap_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = spark.sql(_PAIR_SQL)
    roster = spark.createDataFrame(
        list(enumerate(CLASS_CODES)), "idx int, fcode string"
    )
    ill = spark.createDataFrame(_ILLEGAL, "fa string, fb string").withColumn(
        "_ill", F.lit(1)
    )
    warn = spark.createDataFrame(_WARN, "fa string, fb string").withColumn(
        "_warn", F.lit(1)
    )
    resolved = (
        pairs.join(F.broadcast(roster.selectExpr("idx AS ci_a", "fcode AS fc_a")), "ci_a")
        .join(F.broadcast(roster.selectExpr("idx AS ci_b", "fcode AS fc_b")), "ci_b")
        .selectExpr(
            "pair_id",
            "LEAST(fc_a, fc_b) AS fa",
            "GREATEST(fc_a, fc_b) AS fb",
        )
    )
    return (
        resolved.join(F.broadcast(ill), ["fa", "fb"], "left")
        .join(F.broadcast(warn), ["fa", "fb"], "left")
        .withColumn(
            "verdict",
            F.expr(
                "CASE WHEN _ill = 1 THEN 'AOVERLAPA_ILLEGAL'"
                " WHEN _warn = 1 THEN 'AOVERLAPA_WARN' END"
            ),
        )
        .filter(F.col("verdict").isNotNull())
        .select("pair_id", "fa", "fb", "verdict")
    )


def _vals(pairs):
    return ", ".join(f"('{a}', '{b}')" for a, b in pairs)


ORACLE_MGCP_COMBOS = f"""
WITH roster AS (SELECT * FROM (VALUES {", ".join(f"({i}, '{c}')" for i, c in enumerate(CLASS_CODES))}) t(idx, fcode)),
ill AS (SELECT * FROM (VALUES {_vals(_ILLEGAL)}) t(fa, fb)),
warn AS (SELECT * FROM (VALUES {_vals(_WARN)}) t(fa, fb)),
pairs AS ({_PAIR_SQL}),
resolved AS (
  SELECT p.pair_id,
         LEAST(ra.fcode, rb.fcode) AS fa,
         GREATEST(ra.fcode, rb.fcode) AS fb
  FROM pairs p
  JOIN roster ra ON ra.idx = p.ci_a
  JOIN roster rb ON rb.idx = p.ci_b
)
SELECT r.pair_id, r.fa, r.fb,
       CASE WHEN i.fa IS NOT NULL THEN 'AOVERLAPA_ILLEGAL'
            WHEN w.fa IS NOT NULL THEN 'AOVERLAPA_WARN' END AS verdict
FROM resolved r
LEFT JOIN ill i ON i.fa = r.fa AND i.fb = r.fb
LEFT JOIN warn w ON w.fa = r.fa AND w.fb = r.fb
WHERE i.fa IS NOT NULL OR w.fa IS NOT NULL
"""

QUERIES = {"mgcp_overlap_combos": q_mgcp_overlap_combos}
ORACLES = {"mgcp_overlap_combos": ORACLE_MGCP_COMBOS}
