"""CheckRegion-style whole-suite composition (suite.py).

GAIT's production entry point runs EVERY enabled check in one invocation
(CheckRegion, SEEIT_API.c) and writes one consolidated condition report.
These tests exercise the composed DAG at sf0.001 — every family unions into
one conditions table and the two-phase consolidation numbers it densely.
The sf1 / two-parallelism evidence run lives in tools/run_suite.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geospatial_analysis_integrity_tool_spark import suite

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def conds(spark):
    """One cached suite build for the tests that only read its output."""
    df = suite.suite_conditions(spark, SF_SMALL).cache()
    yield df
    df.unpersist()


def test_suite_conditions_schema_and_families(conds):
    assert conds.columns == [
        "errtype",
        "instance",
        "cond_num",
        "magnitude_mm",
        "code1",
        "sedrisid",
        "geom_kind",
        "cell",
    ]
    n = conds.count()
    assert n > 0
    # every family that produced rows is labeled by its own mnemonic, and
    # no row carries a label outside the suite list
    errtypes = {r[0] for r in conds.select("errtype").distinct().collect()}
    allowed = {f.upper() for f in suite.SUITE_FAMILIES}
    assert errtypes <= allowed
    # the bulk of the families fire on the sf0.001 fixtures (some checks
    # legitimately find nothing at tiny scale)
    assert len(errtypes) >= len(suite.SUITE_FAMILIES) * 2 // 3


def test_suite_numbering_dense_and_unique(conds):
    n = conds.count()
    stats = conds.agg(
        F.countDistinct("cond_num").alias("d"),
        F.min("cond_num").alias("lo"),
        F.max("cond_num").alias("hi"),
    ).collect()[0]
    # dense 1..N with no gaps or collisions — the contract GAIT's report
    # numbering has, produced here without a single-partition window
    assert stats["d"] == n
    assert stats["lo"] == 1
    assert stats["hi"] == n


def test_conditionize_cell_and_magnitude_rules(spark):
    with_cell = spark.createDataFrame(
        [(1.2345, 7, "AP030", 42)], "dist double, k int, fcode string, cell long"
    )
    out = suite.conditionize(with_cell, "demo_family").collect()[0]
    # first double column drives the magnitude in GAIT's mm-ish contract
    assert out["magnitude_mm"] == 1234
    assert out["errtype"] == "DEMO_FAMILY"
    assert out["code1"] == "AP030"
    assert out["cell"] == 42  # explicit cell column used verbatim
    assert out["sedrisid"] == "1.2345|7|AP030|42"

    no_cell = spark.createDataFrame([(3, "x"), (5, None)], "k int, s string")
    rows = suite.conditionize(no_cell, "ints_only").collect()
    by_wit = {r["sedrisid"]: r for r in rows}
    # integral fallback for magnitude; null witness columns render as ~
    assert by_wit["3|x"]["magnitude_mm"] == 3
    assert by_wit["5|~"]["magnitude_mm"] == 5
    for r in rows:
        assert 0 <= r["cell"] < 4096  # hash bucket when no cell column
