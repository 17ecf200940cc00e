"""Check-spec role gating — GAIT's CombinedCheckApplies (TT.c:30625-30760).

A feature participates in a check's role iff its geometry class matches and
the per-role feature-code include/exclude sets admit it: GAIT stores 0/1/2 =
unset/include/exclude bitmaps per (check, instance, role) over the ECC
vocabulary (primaryEDCSstuff, consumed TT.c:30672-30725).  Declaratively:

* include list non-empty  -> fcode must be IN it;
* exclude list            -> fcode must NOT be in it (applies either way);
* geometry class must equal the role's geom.

The spec is a tiny broadcast table; the output (check, instance, role,
feature) participation set feeds every downstream check join as a cheap
semi-join — Catalyst pushes it into the feature scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKSPEC_SCHEMA = (
    "check string, instance int, role int, geom int, "
    "fcodes_include array<string>, fcodes_exclude array<string>, "
    "tol1 double, active boolean"
)


def apply_roles(features: DataFrame, spec: DataFrame) -> DataFrame:
    """features (feature_id, fcode, geom) x spec -> participation rows
    (check, instance, role, feature_id, fcode)."""
    s = F.broadcast(spec.filter(F.col("active")))
    joined = features.join(s, features["geom"] == s["geom"], "inner").drop(s["geom"])
    admitted = joined.filter(
        (
            (F.size("fcodes_include") == 0)
            | F.expr("array_contains(fcodes_include, fcode)")
        )
        & ~F.expr("array_contains(fcodes_exclude, fcode)")
    )
    return admitted.select("check", "instance", "role", "feature_id", "fcode")


#: SensitivityCheck's nine comparison operators (TT.c:13798-13865): value v
#: against thresholds t1 (and t2 for the interval forms).  Shared SQL text —
#: identical decisions on Spark and DuckDB.
SENSITIVITY_OPS: dict[str, str] = {
    "LT": "({v} < {t1})",
    "LTEQ": "({v} <= {t1})",
    "EQEQ": "({v} = {t1})",
    "GTEQ": "({v} >= {t1})",
    "GT": "({v} > {t1})",
    "OPENINT": "({v} > {t1} AND {v} < {t2})",
    "GTCLOSED": "({v} >= {t1} AND {v} < {t2})",
    "CLOSEDINT": "({v} >= {t1} AND {v} <= {t2})",
    "LTCLOSED": "({v} > {t1} AND {v} <= {t2})",
}


def resolve_tolerances(spec: DataFrame) -> DataFrame:
    """Clone-max tolerance resolution (FindRelevantSensitivity TT.c:2266,
    max across clones :2291): per (check, role) the governing tolerance is
    the MAX over all active instances/clones."""
    return (
        spec.filter(F.col("active"))
        .groupBy("check", "role")
        .agg(F.max("tol1").alias("tol1_resolved"))
    )
