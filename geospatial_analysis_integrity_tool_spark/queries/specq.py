"""Gated end-to-end queries for the declarative plumbing kernels:

* ``inspection_spec_roles`` — the GAIT master-file grammar (interface.c:9020)
  parsed by sources/inspection_spec.py, then applied as role gating
  (CombinedCheckApplies TT.c:30625) over a part-derived feature table.  The
  oracle is a HAND-TRANSCRIBED relational rendering of the same spec text —
  if the parser mis-reads a directive, the two diverge.
* ``conditions_markignore`` — the -markignore replay (interface.c:43738-43749):
  conditions re-found in a prior export are flagged retainign=1 instead of
  re-reported.  New conditions = the Z_KINK output; prior = a deterministic
  subset simulating last week's export.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- inspection_spec_roles ----------------------------------------------------

SPEC_TEXT = """
# GAIT master-file subset exercised end-to-end
CHECK SEGLEN 1 on GEOM 2
SENSITIVITY SEGLEN 1 50.0
INCLUDE SEGLEN 1 1 AP030 AT030
CHECK SEGLEN 2 on GEOM 2
SENSITIVITY SEGLEN 2 75.0
CHECK PTINREGION 1 on GEOM 1
EXCLUDE PTINREGION 1 1 GB005
CHECK AOVERLAPA 2 off GEOM 3
CHECK ATTR_PICK 1 on GEOM 1
INCLUDE ATTR_PICK 1 2 AL015
"""

_FEATURES_SQL = """
SELECT p_partkey AS feature_id,
       CASE CAST(p_partkey % 4 AS INT)
         WHEN 0 THEN 'AL015' WHEN 1 THEN 'GB005' WHEN 2 THEN 'BH140'
         ELSE 'AP030' END AS fcode,
       CAST(1 + p_partkey % 3 AS INT) AS geom
FROM part
"""


def q_inspection_spec_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.checkspec import apply_roles
    from ..sources.inspection_spec import load_inspection_spec

    spec = load_inspection_spec(spark, SPEC_TEXT)
    features = spark.sql(_FEATURES_SQL)
    return apply_roles(features, spec)


# Hand-transcription of SPEC_TEXT (independent of the parser):
#   role rows (check, instance, role, geom, active) — role 2 inherits the
#   CHECK line's geom; AOVERLAPA is off and must not appear.
ORACLE_SPEC_ROLES = f"""
WITH features AS ({_FEATURES_SQL}),
spec_rows AS (
  SELECT * FROM (VALUES
    ('SEGLEN', 1, 1, 2),
    ('SEGLEN', 2, 1, 2),
    ('PTINREGION', 1, 1, 1),
    ('ATTR_PICK', 1, 1, 1),
    ('ATTR_PICK', 1, 2, 1)
  ) AS t(chk, instance, role, geom)
),
includes AS (
  SELECT * FROM (VALUES
    ('SEGLEN', 1, 1, 'AP030'),
    ('SEGLEN', 1, 1, 'AT030'),
    ('ATTR_PICK', 1, 2, 'AL015')
  ) AS t(chk, instance, role, fcode)
),
excludes AS (
  SELECT * FROM (VALUES
    ('PTINREGION', 1, 1, 'GB005')
  ) AS t(chk, instance, role, fcode)
)
SELECT s.chk AS "check", s.instance, s.role, f.feature_id, f.fcode
FROM spec_rows s JOIN features f ON f.geom = s.geom
WHERE (NOT EXISTS (SELECT 1 FROM includes i
                   WHERE i.chk = s.chk AND i.instance = s.instance
                     AND i.role = s.role)
       OR EXISTS (SELECT 1 FROM includes i
                  WHERE i.chk = s.chk AND i.instance = s.instance
                    AND i.role = s.role AND i.fcode = f.fcode))
  AND NOT EXISTS (SELECT 1 FROM excludes e
                  WHERE e.chk = s.chk AND e.instance = s.instance
                    AND e.role = s.role AND e.fcode = f.fcode)
"""


# --- conditions_markignore ----------------------------------------------------


def q_markignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..conditions import mark_ignored
    from .vgeomq import q_zkink

    new = q_zkink(spark, sf_dir)
    prior = new.filter(F.col("line_id") % 2 == 0)
    return mark_ignored(new, prior, ["line_id", "vidx"])


from .vgeomq import ORACLE_ZKINK  # noqa: E402

ORACLE_MARKIGNORE = f"""
WITH zk AS ({ORACLE_ZKINK}),
prior AS (SELECT DISTINCT line_id, vidx FROM zk WHERE line_id % 2 = 0)
SELECT z.line_id, z.vidx, z.d2z_dm,
       CASE WHEN p.line_id IS NOT NULL THEN 1 ELSE 0 END AS retainign
FROM zk z LEFT JOIN prior p ON p.line_id = z.line_id AND p.vidx = z.vidx
"""

QUERIES = {
    "inspection_spec_roles": q_inspection_spec_roles,
    "conditions_markignore": q_markignore,
}

ORACLES = {
    "inspection_spec_roles": ORACLE_SPEC_ROLES,
    "conditions_markignore": ORACLE_MARKIGNORE,
}
