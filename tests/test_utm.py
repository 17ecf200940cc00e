"""UTM -> geodetic transform: fidelity + engine-parity tests.

The gated queries (utm_ingest_geodetic / utm_pip_join) prove Spark == DuckDB
bit-for-bit on the shared stage chain; these tests prove the chain is a
FAITHFUL inverse transverse Mercator: forward-transform with true trig
(Snyder 8-9..8-15), invert with the polynomial chain, and bound the error.
"""

from __future__ import annotations

import numpy as np

from geospatial_analysis_integrity_tool_spark.functions.utm import (
    geodetic_to_utm_np,
    utm_to_geodetic_np,
)


def test_utm_inverse_roundtrip_fidelity():
    rng = np.random.default_rng(9)
    lon = rng.uniform(-179.9, 179.9, 100000)
    lat = rng.uniform(-80.0, 84.0, 100000)
    e, n, z = geodetic_to_utm_np(lon, lat)
    south = lat < 0
    lon2 = np.empty_like(lon)
    lat2 = np.empty_like(lat)
    lon2[~south], lat2[~south] = utm_to_geodetic_np(
        e[~south], n[~south], z[~south], south=False
    )
    lon2[south], lat2[south] = utm_to_geodetic_np(
        e[south], n[south] + 10000000.0, z[south], south=True
    )
    # 1e-8 deg ~ 1.1 mm at the equator
    assert np.abs(lon2 - lon).max() < 2e-8
    assert np.abs(lat2 - lat).max() < 2e-8


def test_utm_numpy_twin_matches_sql_chain(spark):
    """The numpy twin performs the same polynomial + operation order as the
    SQL stage chain — spot-verify bit-identity through Spark."""
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.functions.stages import with_stages
    from geospatial_analysis_integrity_tool_spark.functions.utm import utm_stages

    rng = np.random.default_rng(3)
    e = 150000.0 + rng.uniform(0, 700000, 200)
    n = rng.uniform(0, 8000000, 200)
    z = rng.integers(29, 38, 200)
    df = spark.createDataFrame(
        list(zip(e.tolist(), n.tolist(), [int(v) for v in z])),
        "easting double, northing double, zone int",
    )
    rows = (
        with_stages(df, utm_stages("easting", "northing", "zone"))
        .orderBy(F.col("easting"))
        .collect()
    )
    order = np.argsort(e)
    lon_np, lat_np = utm_to_geodetic_np(e[order], n[order], z[order])
    got_lon = np.array([r.utm_lon for r in rows])
    got_lat = np.array([r.utm_lat for r in rows])
    assert (got_lon == lon_np).all()
    assert (got_lat == lat_np).all()


def test_tm_generalized_inverse_fidelity():
    """The generalized system-3 TM (custom lon0/k0/false origin) inverts the
    true-trig forward to < 2e-8 deg over a +-3 deg national-grid window."""
    from geospatial_analysis_integrity_tool_spark.functions.utm import (
        geodetic_to_tm_np,
        tm_to_geodetic_np,
    )

    rng = np.random.default_rng(17)
    lon0, k0, fe, fn = 21.0, 1.0, 200000.0, 1000000.0
    lon = lon0 + rng.uniform(-3.0, 3.0, 100000)
    lat = rng.uniform(-10.0, 60.0, 100000)
    e, n = geodetic_to_tm_np(lon, lat, lon0, k0, fe, fn)
    lon2, lat2 = tm_to_geodetic_np(e, n, lon0, k0, fe, fn)
    assert np.abs(lon2 - lon).max() < 2e-8
    assert np.abs(lat2 - lat).max() < 2e-8


def test_ec_inverse_fidelity():
    """Equidistant Cylindrical (system 5): true-trig forward (N = meridional
    arc, E = a*lam) inverted by the footpoint chain to < 2e-8 deg."""
    from geospatial_analysis_integrity_tool_spark.functions.utm import (
        ec_to_geodetic_np,
        geodetic_to_ec_np,
    )

    rng = np.random.default_rng(23)
    lon = rng.uniform(-179.0, 179.0, 100000)
    lat = rng.uniform(-85.0, 85.0, 100000)
    e, n = geodetic_to_ec_np(lon, lat)
    lon2, lat2 = ec_to_geodetic_np(e, n)
    assert np.abs(lon2 - lon).max() < 2e-8
    assert np.abs(lat2 - lat).max() < 2e-8
