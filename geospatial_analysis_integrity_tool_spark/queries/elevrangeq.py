"""Elevation-range and sentinel-consistency checks (SURVEY.md §2.4/§2.5
breadth; round-2 verdict "missing #7" stragglers).

Reference semantics (linear-feature elevation block geomchecks.c:12890-13390;
sentinel definition IsSentinelZvalue TT.c:1589):

* ELEVGT 184 — vertex elevation above threshold (SensitivityCheck(GT, ...)
  geomchecks.c:12926).  The reference's ``gtwritten`` latch is commented out
  (geomchecks.c:12928), so EVERY offending vertex is reported.
* ELEVLT 185 — vertex elevation below threshold (geomchecks.c:12976); the
  ``ltwritten = 1`` latch keeps only the FIRST offending vertex per feature.
* ELEVEQ 187 — segment endpoint elevation inside a CLOSED interval
  (SensitivityCheck(CLOSEDINT, ELEVEQ, ..., z1) || ... z2,
  geomchecks.c:13045-13052); ``closedwritten`` latch -> first segment only;
  magnitude is z1 when z1 qualifies, else z2 (geomchecks.c:13063-13066).
* ELEVEQOPEN 186 — the open-interval twin ("elevation in range, open
  interval", errors.c:17764), ``openwritten`` latch.
* MULTISENTINEL 87 — "single line or area has more than one sentinel z
  value" (SEEIT_API.c case table): a feature carrying >= 2 DISTINCT sentinel
  elevations.  Sentinels per IsSentinelZvalue TT.c:1589: the NUNANPO
  integers -32768..-32764 and -50000.0.

Fixture: geo_vlines z (0..29.9 + planted %61 spikes ~80-110) with sentinel
plants derived in-query (shared SQL text, so Spark and DuckDB agree bitwise):
every 23rd line gets -32767 at vertex 0 and -50000 at vertex 3 (when it has
one: numnodes = 2 + line_id % 49), every 31st gets a single -32766 at
vertex 1.  Only the two-sentinel lines trigger MULTISENTINEL.

Spark-first shape: one scan of the long-form fixture; ELEVGT is a filter,
the latched checks are groupBy(min) / min_by rollups, MULTISENTINEL a
count-distinct — no joins at all, fully whole-stage-codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.synthetic import oracle_cte

ELEVGT_T = 75.0        # spikes only (natural profile tops out at 29.9)
ELEVLT_T = 0.8         # z steps are 0.1 -> catches 0.0 .. 0.7
ELEVEQ_LO, ELEVEQ_HI = 12.0, 12.4        # closed interval
ELEVOPEN_LO, ELEVOPEN_HI = 21.0, 21.5    # open interval

# sentinel plant + sentinel predicate (shared verbatim by both engines)
_ZL = """
SELECT line_id, vidx, x, y,
  CASE WHEN line_id % 23 = 0 AND vidx = 0 THEN -32767.0
       WHEN line_id % 23 = 0 AND vidx = 3 THEN -50000.0
       WHEN line_id % 31 = 0 AND vidx = 1 THEN -32766.0
       ELSE z END AS z
FROM geo_vlines
"""


def _is_sent(z: str = "z") -> str:
    """``z`` is a sentinel elevation (IsSentinelZvalue TT.c:1589)."""
    return (
        f"(({z} >= -32768.0 AND {z} <= -32764.0"
        f" AND {z} = CAST(CAST({z} AS BIGINT) AS DOUBLE))"
        f" OR {z} = -50000.0)"
    )


def q_elev_range_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    zl = spark.sql(_ZL)
    zl.createOrReplaceTempView("_elevr_zl")
    sent = F.expr(_is_sent())

    gt = (
        zl.filter(~sent & (F.col("z") > ELEVGT_T))
        .selectExpr(
            "line_id", "CAST(vidx AS INT) AS vidx",
            "'ELEVGT' AS errtype", "z AS magnitude",
        )
    )
    # ltwritten latch: first offending vertex per feature
    lt = (
        zl.filter(~sent & (F.col("z") < ELEVLT_T))
        .groupBy("line_id")
        .agg(F.min("vidx").alias("vidx"), F.min_by("z", "vidx").alias("magnitude"))
        .selectExpr(
            "line_id", "CAST(vidx AS INT) AS vidx",
            "'ELEVLT' AS errtype", "magnitude",
        )
    )
    # per-segment checks: pair each vertex with its successor via one window
    segs = spark.sql(
        """
        SELECT line_id, vidx, z,
               LEAD(z) OVER (PARTITION BY line_id ORDER BY vidx) AS z2
        FROM _elevr_zl
        """
    ).filter(F.col("z2").isNotNull())
    def _interval(lo, hi, op_lo, op_hi, name):
        in1 = f"(NOT {_is_sent()}) AND z {op_lo} {lo} AND z {op_hi} {hi}"
        in2 = f"(NOT {_is_sent('z2')}) AND z2 {op_lo} {lo} AND z2 {op_hi} {hi}"
        return (
            segs.filter(F.expr(f"({in1}) OR ({in2})"))
            .withColumn("mag", F.expr(f"CASE WHEN {in1} THEN z ELSE z2 END"))
            .groupBy("line_id")
            .agg(
                F.min("vidx").alias("segj"),
                F.min_by("mag", "vidx").alias("magnitude"),
            )
            .selectExpr(
                "line_id", "CAST(segj + 1 AS INT) AS vidx",
                f"'{name}' AS errtype", "magnitude",
            )
        )

    eq = _interval(ELEVEQ_LO, ELEVEQ_HI, ">=", "<=", "ELEVEQ")
    eqopen = _interval(ELEVOPEN_LO, ELEVOPEN_HI, ">", "<", "ELEVEQOPEN")

    multi = (
        zl.filter(sent)
        .groupBy("line_id")
        .agg(
            F.countDistinct("z").alias("nsent"),
            F.min("vidx").alias("vidx"),
        )
        .filter(F.col("nsent") >= 2)
        .selectExpr(
            "line_id", "CAST(vidx AS INT) AS vidx",
            "'MULTISENTINEL' AS errtype", "CAST(nsent AS DOUBLE) AS magnitude",
        )
    )
    return gt.unionByName(lt).unionByName(eq).unionByName(eqopen).unionByName(multi)


_NOT1 = f"(NOT {_is_sent()})"
_NOT2 = f"(NOT {_is_sent('z2')})"

ORACLE_ELEV_RANGE = f"""
{oracle_cte('geo_vlines')},
zl AS MATERIALIZED ({_ZL}),
segs AS (
  SELECT line_id, vidx, z,
         LEAD(z) OVER (PARTITION BY line_id ORDER BY vidx) AS z2
  FROM zl
)
SELECT line_id, CAST(vidx AS INT) AS vidx, 'ELEVGT' AS errtype, z AS magnitude
FROM zl WHERE {_NOT1} AND z > {ELEVGT_T}
UNION ALL
SELECT line_id, CAST(MIN(vidx) AS INT), 'ELEVLT', MIN_BY(z, vidx)
FROM zl WHERE {_NOT1} AND z < {ELEVLT_T} GROUP BY line_id
UNION ALL
SELECT line_id, CAST(MIN(vidx) + 1 AS INT), 'ELEVEQ',
       MIN_BY(CASE WHEN {_NOT1} AND z >= {ELEVEQ_LO} AND z <= {ELEVEQ_HI}
                   THEN z ELSE z2 END, vidx)
FROM segs
WHERE z2 IS NOT NULL
  AND (({_NOT1} AND z >= {ELEVEQ_LO} AND z <= {ELEVEQ_HI})
    OR ({_NOT2} AND z2 >= {ELEVEQ_LO} AND z2 <= {ELEVEQ_HI}))
GROUP BY line_id
UNION ALL
SELECT line_id, CAST(MIN(vidx) + 1 AS INT), 'ELEVEQOPEN',
       MIN_BY(CASE WHEN {_NOT1} AND z > {ELEVOPEN_LO} AND z < {ELEVOPEN_HI}
                   THEN z ELSE z2 END, vidx)
FROM segs
WHERE z2 IS NOT NULL
  AND (({_NOT1} AND z > {ELEVOPEN_LO} AND z < {ELEVOPEN_HI})
    OR ({_NOT2} AND z2 > {ELEVOPEN_LO} AND z2 < {ELEVOPEN_HI}))
GROUP BY line_id
UNION ALL
SELECT line_id, CAST(MIN(vidx) AS INT), 'MULTISENTINEL',
       CAST(COUNT(DISTINCT z) AS DOUBLE)
FROM zl WHERE {_is_sent()} GROUP BY line_id HAVING COUNT(DISTINCT z) >= 2
"""

QUERIES = {
    "geo_elev_range_checks": q_elev_range_checks,
}

ORACLES = {
    "geo_elev_range_checks": ORACLE_ELEV_RANGE,
}
