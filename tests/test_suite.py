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


def _counted(spark, rows, schema):
    """(frame, accumulator): ``rows`` passed through a mapInPandas kernel that
    adds every row it emits to the accumulator — how many times the input
    plan runs, in rows."""
    acc = spark.sparkContext.accumulator(0)

    def kernel(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    return spark.createDataFrame(rows, schema).mapInPandas(kernel, schema), acc


_COND_SCHEMA = (
    "errtype string, instance int, cond_num bigint, magnitude_mm bigint, "
    "sedrisid string, cell bigint"
)


def _multi_family_rows():
    """Three families, two instances of one, several cells each, magnitude
    ties broken by sedrisid, and cells that do not sort like their families."""
    rows = []
    for fam, inst, n in (("BETA", 1, 23), ("ALPHA", 1, 17), ("ALPHA", 2, 9), ("GAMMA", 1, 11)):
        for i in range(n):
            rows.append((fam, inst, 0, (i * 7) % 5, f"{fam}{inst}-{i:03d}", (i * 5) % 4 - 1))
    return rows


def test_consolidate_scalable_evaluates_its_input_once(spark):
    from geospatial_analysis_integrity_tool_spark.conditions import consolidate_scalable

    rows = _multi_family_rows()
    conds, acc = _counted(spark, rows, _COND_SCHEMA)
    out = consolidate_scalable(conds).collect()
    assert len(out) == len(rows)
    # one evaluation of the input: the rank window and the per-cell counts
    # read one materialized frame
    assert acc.value == len(rows)


def test_suite_evaluates_each_family_once(spark, monkeypatch):
    import __spark_entry__ as entrymod

    n = 40
    fam, acc = _counted(
        spark, [(i, float(i) / 7.0, i % 3) for i in range(n)], "k long, dist double, cell long"
    )
    registry = {
        "counted_family": lambda s, sf: fam,
        "plain_family": lambda s, sf: s.range(12).selectExpr("id AS k", "id % 2 AS cell"),
    }
    monkeypatch.setattr(entrymod, "queries", lambda: registry)
    out = suite.suite_conditions(spark, SF_SMALL, families=tuple(registry))
    rows = out.collect()
    assert len(rows) == n + 12
    assert sorted(r["cond_num"] for r in rows) == list(range(1, n + 13))
    # the family kernel ran once for the whole suite, not once per consumer
    # of the union
    assert acc.value == n


@pytest.mark.parametrize("number_within", [("errtype", "instance"), ()])
def test_consolidate_scalable_matches_one_window(spark, number_within):
    from pyspark.sql import Window

    from geospatial_analysis_integrity_tool_spark.conditions import consolidate_scalable

    conds = spark.createDataFrame(_multi_family_rows(), _COND_SCHEMA)
    order = ["errtype", "instance", "cell", "magnitude_mm", "sedrisid"]
    # the reference: one row_number over the full numbering order
    w = Window.partitionBy(*number_within).orderBy(
        *[c for c in order if c not in number_within]
    )
    want = conds.withColumn("cond_num", F.row_number().over(w).cast("bigint"))
    got = consolidate_scalable(conds, number_within=number_within)
    assert sorted(got.columns) == sorted(conds.columns)
    got = got.select(*conds.columns)
    assert sorted(got.collect()) == sorted(want.collect())
