"""Stage-chain renderers and Horner series (functions/stages.py).

The gated ingest queries prove Spark == DuckDB on each chain; these tests
pin the pieces underneath: every SQL series evaluates in DuckDB to exactly
its numpy twin, the chains without a Spark twin test match their numpy twins
bit-for-bit, ``with_stages`` leaves the frame shape alone apart from the
output columns, and no projection module grows its own renderer again.
"""

from __future__ import annotations

import os
import re

import duckdb
import numpy as np
import pandas as pd
import pytest

from geospatial_analysis_integrity_tool_spark.functions import stages
from geospatial_analysis_integrity_tool_spark.functions.stages import (
    atan_np,
    atanh_np,
    cos_np,
    exp_quarter_np,
    oracle_stages,
    sin_np,
    sql_atan_poly,
    sql_atanh_poly,
    sql_cos_poly,
    sql_exp_poly_quarter,
    sql_sin_poly,
)

_GRID = np.linspace(-1.6, 1.6, 20001)


def _duck_eval(x: np.ndarray, stage_list: list[tuple[str, str]], col: str):
    con = duckdb.connect()
    con.register("xs", pd.DataFrame({"i": np.arange(len(x)), "x": x}))
    sql = oracle_stages("SELECT i, x FROM xs", stage_list)
    return con.sql(f"SELECT {col} FROM {sql} q ORDER BY i").df()[col].to_numpy()


@pytest.mark.parametrize(
    "sql_fn, np_fn",
    [
        (sql_sin_poly, sin_np),
        (sql_cos_poly, cos_np),
        (sql_atan_poly, atan_np),
        (sql_atanh_poly, atanh_np),
    ],
)
def test_sql_series_equals_numpy_series(sql_fn, np_fn):
    got = _duck_eval(_GRID, [("y", sql_fn("x"))], "y")
    assert np.array_equal(got, np_fn(_GRID))


def test_sql_exp_quarter_equals_numpy():
    x = np.linspace(-3.3, 3.3, 20001)
    got = _duck_eval(x, sql_exp_poly_quarter("x", prefix="_e"), "_e_exp")
    assert np.array_equal(got, exp_quarter_np(x))


def _spark_chain(spark, cols, data, stage_list, order_col, out_cols):
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.functions.stages import with_stages

    df = spark.createDataFrame(
        list(zip(*[d.tolist() for d in data])),
        ", ".join(f"{c} double" for c in cols),
    )
    rows = with_stages(df, stage_list).orderBy(F.col(order_col)).collect()
    return [np.array([r[c] for r in rows]) for c in out_cols]


def test_tm_numpy_twin_matches_sql_chain(spark):
    from geospatial_analysis_integrity_tool_spark.functions.utm import (
        tm_stages,
        tm_to_geodetic_np,
    )

    rng = np.random.default_rng(71)
    e = -50000.0 + rng.uniform(0, 500000, 200)
    n = 500000.0 + rng.uniform(0, 7000000, 200)
    params = (21.0, 1.0, 200000.0, 1000000.0)
    lon, lat = _spark_chain(
        spark, ("easting", "northing"), (e, n),
        tm_stages("easting", "northing", stages.dlit(params[0]), *params[1:]),
        "easting", ("utm_lon", "utm_lat"),
    )
    order = np.argsort(e)
    lon_np, lat_np = tm_to_geodetic_np(e[order], n[order], *params)
    assert np.array_equal(lon, lon_np)
    assert np.array_equal(lat, lat_np)


def test_ec_numpy_twin_matches_sql_chain(spark):
    from geospatial_analysis_integrity_tool_spark.functions.utm import (
        ec_stages,
        ec_to_geodetic_np,
    )

    rng = np.random.default_rng(73)
    e = rng.uniform(-1.8e7, 1.8e7, 200)
    n = rng.uniform(-9.0e6, 9.0e6, 200)
    lon, lat = _spark_chain(
        spark, ("easting", "northing"), (e, n),
        ec_stages("easting", "northing"), "easting", ("ec_lon", "ec_lat"),
    )
    order = np.argsort(e)
    lon_np, lat_np = ec_to_geodetic_np(e[order], n[order])
    assert np.array_equal(lon, lon_np)
    assert np.array_equal(lat, lat_np)


def test_gse_numpy_twin_matches_sql_chain(spark):
    from geospatial_analysis_integrity_tool_spark.functions.spaceframes import (
        spaceframe_stages,
        spaceframe_to_geodetic_np,
    )

    rng = np.random.default_rng(79)
    u = rng.normal(size=(3, 200))
    x, y, z = u * (6.6e6 / np.sqrt((u * u).sum(axis=0)))
    lon, lat = _spark_chain(
        spark, ("fx", "fy", "fz"), (x, y, z),
        spaceframe_stages("GSE", "fx", "fy", "fz"), "fx", ("gse_lon", "gse_lat"),
    )
    order = np.argsort(x)
    lon_np, lat_np = spaceframe_to_geodetic_np("GSE", x[order], y[order], z[order])
    assert np.array_equal(lon, lon_np)
    assert np.array_equal(lat, lat_np)


def test_with_stages_shape_and_pin(spark):
    from geospatial_analysis_integrity_tool_spark.functions.stages import with_stages
    from geospatial_analysis_integrity_tool_spark.functions.utm import utm_stages

    df = spark.createDataFrame(
        [(1, 31, 450000.0, 5.0e6, "a"), (2, 33, 610000.0, 2.0e6, "b")],
        "id int, zone int, easting double, northing double, tag string",
    )
    chain = utm_stages("easting", "northing", "zone")
    plain = with_stages(df, chain)
    pinned = with_stages(df, chain, pin=True)
    assert plain.columns == df.columns + ["utm_lat", "utm_lon"]
    assert pinned.columns == plain.columns
    assert sorted(plain.collect()) == sorted(pinned.collect())


def test_only_stages_renders_chains():
    """No projection module carries its own chain renderer or Horner loop."""
    fdir = os.path.dirname(stages.__file__)
    wrapper = re.compile(r"def (with_\w+_geodetic|oracle_\w+_subquery)\(")
    for fname in sorted(os.listdir(fdir)):
        if not fname.endswith(".py") or fname == "stages.py":
            continue
        text = open(os.path.join(fdir, fname)).read()
        assert "AS _s_" not in text, fname
        assert "for c in reversed(" not in text, fname
        assert not wrapper.search(text), fname
