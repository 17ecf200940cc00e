"""UPS / Polar Stereographic-sourced feature queries.

Reference: PS is coordinate system 6 of the reference's 13
(TTformat.c:28429-28441; ``COORD_SYSTEMS`` share_linux.h:421).  These
queries run the vectorized WGS84 UPS -> geodetic inverse
(functions/polar_stereo.py) at ingest, covering the polar latitudes the
round-4 UTM path cannot:

* ``ups_ingest_geodetic`` — the transform itself over BOTH hemispheres
  (north aspect on even keys, south on odd), oracle-gated bit-for-bit:
  Spark evaluates the stage chain as staged columns, DuckDB as the
  identical nested-subquery chain.

Spark shape: pure scalar projection (multiply/add/sqrt/CASE) inside
whole-stage codegen — zero shuffle, zero Python; at 100 TB it rides the
ingest scan for free, exactly like the UTM path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.polar_stereo import ps_stages
from ..functions.stages import oracle_stages, with_stages

N_FEATURES = 4000

#: closed-form UPS fixture over customer keys: offsets within +-1.4e6 m of
#: the pole (rho <= ~1.98e6 -> |lat| >= ~72 deg, inside the UPS domain)
_PS_FIXTURE_SQL = f"""
SELECT c_custkey AS feature_id,
       CAST(c_custkey % 2 AS INT) AS hemi,
       600000.0 + CAST((c_custkey * 7919) % 2800000 AS DOUBLE) AS easting,
       600000.0 + CAST((c_custkey * 104729) % 2800000 AS DOUBLE) AS northing
FROM customer
WHERE c_custkey < {N_FEATURES}
"""
_NORTH = ps_stages("easting", "northing")
_SOUTH = ps_stages("easting", "northing", south=True)


def q_ups_ingest_geodetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = spark.sql(_PS_FIXTURE_SQL)
    north = with_stages(feats.filter("hemi = 0"), _NORTH)
    south = with_stages(feats.filter("hemi = 1"), _SOUTH)
    out = north.unionByName(south)
    return out.select("feature_id", "hemi", "ps_lon", "ps_lat")


ORACLE_UPS_INGEST = f"""
SELECT feature_id, hemi, ps_lon, ps_lat
FROM {oracle_stages(f"SELECT * FROM ({_PS_FIXTURE_SQL}) f WHERE hemi = 0", _NORTH)} q
UNION ALL
SELECT feature_id, hemi, ps_lon, ps_lat
FROM {oracle_stages(f"SELECT * FROM ({_PS_FIXTURE_SQL}) f WHERE hemi = 1", _SOUTH)} q
"""

QUERIES = {"ups_ingest_geodetic": q_ups_ingest_geodetic}
ORACLES = {"ups_ingest_geodetic": ORACLE_UPS_INGEST}
