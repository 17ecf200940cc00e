"""ISF illegal-attribute-pair matrix at the reference's REAL size.

GAIT compiles per-model N x N compatibility matrices over feature-class
header codes — ``TDS4_ISF_Headers[225]`` with a 225x225 matrix of
'n'/'e'/'g'/'w' cells (not-applicable / error / allowed / warning),
tds_illegals.c:16-60, consumed row-major as ``TDS_ISF[k*N + j]`` in
interface2.c:8051-8075.  Rounds 1-3 ran a synthesized 12x12 stand-in;
this round carries the TRANSCRIBED production matrix
(functions/tds_isf_table.py).

Spark shape: the matrix is ONE 50,625-char string literal and each cell
lookup is ``substring(matrix, hi*225+hj+1, 1)`` — a pure scalar
projection, no join, no broadcast table, nothing to shuffle; at 100 TB
the lookup rides inside whole-stage codegen on the feature scan.  The
225-row header roster is the only (broadcast) join.  The DuckDB oracle
embeds the SAME string literal and the SAME substring arithmetic, so
both engines index the identical matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tds_isf_table import (
    ISF6_HEADERS,
    ISF6_MATRIX,
    ISF6_N,
    ISF_HEADERS,
    ISF_MATRIX,
    ISF_N,
)


def _feat_pair_sql(n: int) -> str:
    """feature -> (row header, col header) class-code indexes, from part."""
    return f"""
SELECT p_partkey AS feature_id,
       CAST(p_partkey % {n} AS INT) AS hi,
       CAST((p_partkey * 5) % {n} AS INT) AS hj
FROM part
"""


def _cell_expr(mat_ref: str, n: int) -> str:
    """1-char cell code at (hi, hj) — row-major, 1-based substring."""
    return f"substring({mat_ref}, hi * {n} + hj + 1, 1)"


def _make_isf_query(headers: list[str], matrix: str, n: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        feats = spark.sql(_feat_pair_sql(n))
        hdr = spark.createDataFrame(
            list(enumerate(headers)), "idx int, header string"
        )
        lit_mat = "'" + matrix + "'"
        return (
            feats.withColumn("code", F.expr(_cell_expr(lit_mat, n)))
            .filter(F.col("code") != "n")
            .join(
                F.broadcast(hdr.selectExpr("idx AS hi", "header AS header_a")),
                "hi",
            )
            .join(
                F.broadcast(hdr.selectExpr("idx AS hj", "header AS header_b")),
                "hj",
            )
            .select("feature_id", "header_a", "header_b", "code")
        )

    return q


def _make_isf_oracle(headers: list[str], matrix: str, n: int) -> str:
    rows = ", ".join(f"({i}, '{h}')" for i, h in enumerate(headers))
    return f"""
WITH feats AS ({_feat_pair_sql(n)}),
headers AS (SELECT * FROM (VALUES {rows}) AS h(idx, header)),
coded AS (
  SELECT feature_id, hi, hj, {_cell_expr("'" + matrix + "'", n)} AS code
  FROM feats
)
SELECT c.feature_id, ha.header AS header_a, hb.header AS header_b, c.code
FROM coded c
JOIN headers ha ON ha.idx = c.hi
JOIN headers hb ON hb.idx = c.hj
WHERE c.code <> 'n'
"""


QUERIES = {
    "isf_matrix_checks": _make_isf_query(ISF_HEADERS, ISF_MATRIX, ISF_N),
    "isf_matrix_tds6": _make_isf_query(ISF6_HEADERS, ISF6_MATRIX, ISF6_N),
}
ORACLES = {
    "isf_matrix_checks": _make_isf_oracle(ISF_HEADERS, ISF_MATRIX, ISF_N),
    "isf_matrix_tds6": _make_isf_oracle(ISF6_HEADERS, ISF6_MATRIX, ISF6_N),
}
