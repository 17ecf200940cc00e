"""UPS / Polar Stereographic -> geodetic: fidelity + engine-parity tests.

The gated query (ups_ingest_geodetic) proves Spark == DuckDB bit-for-bit on
the shared stage chain; these tests prove the chain is a FAITHFUL inverse
polar stereographic: forward-transform with true trig (Snyder 15-9 / 21-33),
invert with the polynomial chain, and bound the error — plus the EPSG
Guidance Note 7-2 published test vector.
"""

from __future__ import annotations

import numpy as np

from geospatial_analysis_integrity_tool_spark.functions.polar_stereo import (
    geodetic_to_ps_np,
    ps_to_geodetic_np,
)


def test_ps_epsg_published_vector():
    """EPSG GN 7-2 Polar Stereographic Variant A example (UPS North):
    73N 44E -> E 3320416.75 m, N 632668.43 m."""
    x, y = geodetic_to_ps_np(np.array([44.0]), np.array([73.0]))
    assert abs(x[0] - 3320416.75) < 0.01
    assert abs(y[0] - 632668.43) < 0.01
    lon, lat = ps_to_geodetic_np(np.array([3320416.75]), np.array([632668.43]))
    assert abs(lon[0] - 44.0) < 1e-6
    assert abs(lat[0] - 73.0) < 1e-6


def test_ps_inverse_roundtrip_fidelity():
    rng = np.random.default_rng(11)
    for south in (False, True):
        lat = rng.uniform(66.0, 89.999, 100000) * (-1.0 if south else 1.0)
        lon = rng.uniform(-180.0, 180.0, 100000)
        x, y = geodetic_to_ps_np(lon, lat, south)
        lon2, lat2 = ps_to_geodetic_np(x, y, south)
        dlon = np.abs(((lon2 - lon + 180.0) % 360.0) - 180.0)
        # 1e-8 deg ~ 1.1 mm; lon error scaled by cos(lat) to meters-equivalent
        assert np.abs(lat2 - lat).max() < 2e-8
        assert (dlon * np.cos(np.deg2rad(lat))).max() < 2e-8


def test_ps_pole_and_axes_cases():
    """rho = 0 (exact pole) and the axis-aligned atan2 quadrant seams."""
    e = np.array([2e6, 2e6, 2e6, 2.5e6, 1.5e6, 2e6])
    n = np.array([2e6, 1.5e6, 2.5e6, 2e6, 2e6, 1.2e6])
    lon, lat = ps_to_geodetic_np(e, n)
    assert lat[0] > 89.999999  # pole
    assert abs(lon[1] - 0.0) < 1e-9       # grid north (y' < 0 -> lon 0)
    assert abs(abs(lon[2]) - 180.0) < 1e-9  # y' > 0 -> lon +-180
    assert abs(lon[3] - 90.0) < 1e-9      # x' > 0 -> lon 90E
    assert abs(lon[4] + 90.0) < 1e-9      # x' < 0 -> lon 90W
    lon_s, lat_s = ps_to_geodetic_np(e, n, south=True)
    assert lat_s[0] < -89.999999
    assert abs(abs(lon_s[1]) - 180.0) < 1e-9  # south aspect flips the seam
    assert abs(lon_s[2] - 0.0) < 1e-9


def test_ps_numpy_twin_matches_sql_chain(spark):
    """The numpy twin performs the same polynomial + operation order as the
    SQL stage chain — spot-verify bit-identity through Spark."""
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.functions.polar_stereo import ps_stages
    from geospatial_analysis_integrity_tool_spark.functions.stages import with_stages

    rng = np.random.default_rng(5)
    e = 600000.0 + rng.uniform(0, 2800000, 200)
    n = 600000.0 + rng.uniform(0, 2800000, 200)
    for south in (False, True):
        df = spark.createDataFrame(
            list(zip(e.tolist(), n.tolist())), "easting double, northing double"
        )
        rows = (
            with_stages(df, ps_stages("easting", "northing", south=south))
            .orderBy(F.col("easting"))
            .collect()
        )
        order = np.argsort(e)
        lon_np, lat_np = ps_to_geodetic_np(e[order], n[order], south=south)
        got_lon = np.array([r.ps_lon for r in rows])
        got_lat = np.array([r.ps_lat for r in rows])
        assert np.array_equal(got_lon, lon_np)
        assert np.array_equal(got_lat, lat_np)


def test_mercator_inverse_fidelity():
    """Ellipsoidal Mercator (system 13): true-trig forward (Snyder 7-7/7-8)
    inverted by the exp/atan/conformal-series chain to < 2e-8 deg."""
    from geospatial_analysis_integrity_tool_spark.functions.mercator import (
        geodetic_to_mercator_np,
        mercator_to_geodetic_np,
    )

    rng = np.random.default_rng(29)
    for params in [(0.0, 1.0, 0.0, 0.0), (12.0, 0.997, 300000.0, 900000.0)]:
        lon = rng.uniform(-179.0, 179.0, 100000)
        lat = rng.uniform(-86.0, 86.0, 100000)
        x, y = geodetic_to_mercator_np(lon, lat, *params)
        lon2, lat2 = mercator_to_geodetic_np(x, y, *params)
        assert np.abs(lon2 - lon).max() < 2e-8
        assert np.abs(lat2 - lat).max() < 2e-8


def test_mercator_numpy_twin_matches_sql_chain(spark):
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.functions.mercator import (
        mercator_stages,
        mercator_to_geodetic_np,
    )
    from geospatial_analysis_integrity_tool_spark.functions.stages import with_stages

    rng = np.random.default_rng(41)
    e = rng.uniform(-1.9e7, 1.9e7, 200)
    n = rng.uniform(-1.5e7, 1.5e7, 200)
    df = spark.createDataFrame(
        list(zip(e.tolist(), n.tolist())), "easting double, northing double"
    )
    rows = (
        with_stages(df, mercator_stages("easting", "northing", 12.0, 0.997, 3e5, 9e5))
        .orderBy(F.col("easting"))
        .collect()
    )
    order = np.argsort(e)
    lon_np, lat_np = mercator_to_geodetic_np(e[order], n[order], 12.0, 0.997, 3e5, 9e5)
    assert np.array_equal(np.array([r.merc_lon for r in rows]), lon_np)
    assert np.array_equal(np.array([r.merc_lat for r in rows]), lat_np)


def test_lcc_inverse_fidelity():
    """Lambert Conformal Conic (system 4): true-trig forward (Snyder
    14-1..14-4) inverted by the ln/exp/atan/conformal chain to <2e-8 deg
    over a CONUS-style window."""
    from geospatial_analysis_integrity_tool_spark.functions.lcc import (
        geodetic_to_lcc_np,
        lcc_to_geodetic_np,
    )

    rng = np.random.default_rng(37)
    params = (-96.0, 33.0, 45.0, 39.0)
    lon = rng.uniform(-130.0, -62.0, 100000)
    lat = rng.uniform(18.0, 64.0, 100000)
    x, y = geodetic_to_lcc_np(lon, lat, *params)
    lon2, lat2 = lcc_to_geodetic_np(x, y, *params)
    assert np.abs(lon2 - lon).max() < 2e-8
    assert np.abs(lat2 - lat).max() < 2e-8
    # a second cone (Europe-style, with false origin)
    params2 = (10.0, 43.0, 62.0, 52.0)
    lon = rng.uniform(-15.0, 35.0, 50000)
    lat = rng.uniform(32.0, 72.0, 50000)
    x, y = geodetic_to_lcc_np(lon, lat, *params2, 4000000.0, 2800000.0)
    lon2, lat2 = lcc_to_geodetic_np(x, y, *params2, 4000000.0, 2800000.0)
    assert np.abs(lon2 - lon).max() < 2e-8
    assert np.abs(lat2 - lat).max() < 2e-8


def test_lcc_numpy_twin_matches_sql_chain(spark):
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.functions.lcc import (
        lcc_stages,
        lcc_to_geodetic_np,
    )
    from geospatial_analysis_integrity_tool_spark.functions.stages import with_stages

    rng = np.random.default_rng(43)
    e = rng.uniform(-2.4e6, 2.4e6, 200)
    n = rng.uniform(-2.0e6, 2.6e6, 200)
    df = spark.createDataFrame(
        list(zip(e.tolist(), n.tolist())), "easting double, northing double"
    )
    params = (-96.0, 33.0, 45.0, 39.0)
    rows = (
        with_stages(df, lcc_stages("easting", "northing", *params))
        .orderBy(F.col("easting"))
        .collect()
    )
    order = np.argsort(e)
    lon_np, lat_np = lcc_to_geodetic_np(e[order], n[order], *params)
    assert np.array_equal(np.array([r.lcc_lon for r in rows]), lon_np)
    assert np.array_equal(np.array([r.lcc_lat for r in rows]), lat_np)


def test_ltp_inverse_fidelity():
    """Local Tangent Plane (system 12): true-trig geodetic->ECEF->ENU
    inverted by the constant-rotation + two-pass-Bowring chain to <2e-8 deg
    at three origins (mid-lat, southern, arctic) with |up| to 20 km."""
    from geospatial_analysis_integrity_tool_spark.functions.ltp import (
        geodetic_to_ltp_np,
        ltp_to_geodetic_np,
    )

    rng = np.random.default_rng(47)
    for lat0, lon0, h0 in [(47.3, 8.5, 400.0), (-33.9, 151.2, 0.0),
                           (71.0, -156.8, 10.0)]:
        lat = lat0 + rng.uniform(-2.0, 2.0, 50000)
        lon = lon0 + rng.uniform(-3.0, 3.0, 50000)
        h = rng.uniform(-100.0, 20000.0, 50000)
        e, n, u = geodetic_to_ltp_np(lon, lat, h, lat0, lon0, h0)
        lon2, lat2 = ltp_to_geodetic_np(e, n, u, lat0, lon0, h0)
        assert np.abs(lon2 - lon).max() < 2e-8
        assert np.abs(lat2 - lat).max() < 2e-8


def test_ltp_numpy_twin_matches_sql_chain(spark):
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.functions.ltp import (
        ltp_stages,
        ltp_to_geodetic_np,
    )
    from geospatial_analysis_integrity_tool_spark.functions.stages import with_stages

    rng = np.random.default_rng(53)
    e = rng.uniform(-1.5e5, 1.5e5, 200)
    n = rng.uniform(-1.5e5, 1.5e5, 200)
    u = rng.uniform(-100.0, 20000.0, 200)
    df = spark.createDataFrame(
        list(zip(e.tolist(), n.tolist(), u.tolist())),
        "le double, ln_ double, lu double",
    )
    rows = (
        with_stages(df, ltp_stages("le", "ln_", "lu", 47.3, 8.5, 400.0))
        .orderBy(F.col("le"))
        .collect()
    )
    order = np.argsort(e)
    lon_np, lat_np = ltp_to_geodetic_np(e[order], n[order], u[order], 47.3, 8.5, 400.0)
    assert np.array_equal(np.array([r.ltp_lon for r in rows]), lon_np)
    assert np.array_equal(np.array([r.ltp_lat for r in rows]), lat_np)


def test_om_inverse_fidelity():
    """Hotine Oblique Mercator (system 11): true-trig forward (Snyder
    9-30..9-39) inverted by the exp/atanh/atan polynomial chain to
    <2e-8 deg on two setups (Borneo RSO, Alaska zone-1 style)."""
    from geospatial_analysis_integrity_tool_spark.functions.om import (
        geodetic_to_om_np,
        om_to_geodetic_np,
    )

    rng = np.random.default_rng(61)
    for params, latr, lonr in [
        ((4.0, 115.0, 53.316, 0.99984), (-5.0, 12.0), (105.0, 125.0)),
        ((57.0, -133.667, -36.87, 0.9999), (50.0, 64.0), (-145.0, -125.0)),
    ]:
        lat = rng.uniform(*latr, 100000)
        lon = rng.uniform(*lonr, 100000)
        u, v = geodetic_to_om_np(lon, lat, *params)
        lon2, lat2 = om_to_geodetic_np(u, v, *params)
        assert np.abs(lon2 - lon).max() < 2e-8
        assert np.abs(lat2 - lat).max() < 2e-8


def test_om_numpy_twin_matches_sql_chain(spark):
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.functions.om import (
        om_stages,
        om_to_geodetic_np,
    )
    from geospatial_analysis_integrity_tool_spark.functions.stages import with_stages

    rng = np.random.default_rng(67)
    u = rng.uniform(-7e5, 2.1e6, 200)
    v = rng.uniform(-1.3e6, 1.4e6, 200)
    df = spark.createDataFrame(
        list(zip(u.tolist(), v.tolist())), "ucoord double, vcoord double"
    )
    params = (4.0, 115.0, 53.316, 0.99984)
    rows = (
        with_stages(df, om_stages("ucoord", "vcoord", *params))
        .orderBy(F.col("ucoord"))
        .collect()
    )
    order = np.argsort(u)
    lon_np, lat_np = om_to_geodetic_np(u[order], v[order], *params)
    assert np.array_equal(np.array([r.om_lon for r in rows]), lon_np)
    assert np.array_equal(np.array([r.om_lat for r in rows]), lat_np)
