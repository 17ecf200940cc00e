"""Source-view registration contract (queries/__init__.py, sources/synthetic.py).

The registry registers each query's input views; the registration builds
the 19 source frames once per (session, sf_dir) and re-issues the views on
every call.
"""

from __future__ import annotations

import pathlib

from pyspark.sql.readwriter import DataFrameReader

from geospatial_analysis_integrity_tool_spark import queries
from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
    TESTDATA_TABLES,
    register_geo_views,
)
from tests.conftest import SF_GATE, SF_SMALL


def test_second_registration_reads_no_parquet(spark, monkeypatch):
    register_geo_views(spark, SF_SMALL)
    calls = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        calls.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    # a new session misses the cache even for an sf_dir another session holds
    fresh = spark.newSession()
    register_geo_views(fresh, SF_SMALL)
    assert len(calls) == len(TESTDATA_TABLES) == 10
    register_geo_views(fresh, SF_SMALL)
    assert len(calls) == 10
    assert fresh.table("geo_lines").count() == spark.table("geo_lines").count()


def test_registration_repoints_views_per_sf_dir(spark):
    register_geo_views(spark, SF_SMALL)
    small = spark.table("orders").count()
    register_geo_views(spark, SF_GATE)
    assert spark.table("orders").count() != small
    register_geo_views(spark, SF_SMALL)
    assert spark.table("orders").count() == small


def test_registry_restores_replaced_view(spark):
    import __spark_entry__ as m

    geo_pip = m.queries()["geo_pip"]
    before = sorted(geo_pip(spark, SF_SMALL).collect())
    assert before
    zones = spark.table("geo_zones")
    spark.createDataFrame([], zones.schema).createOrReplaceTempView("geo_zones")
    assert spark.table("geo_zones").count() == 0
    assert sorted(geo_pip(spark, SF_SMALL).collect()) == before


def test_only_the_registry_registers_views():
    names = ("register_testdata_views", "register_geo_views")
    offenders = [
        p.name
        for p in sorted(pathlib.Path(queries.__file__).parent.glob("*.py"))
        if p.name != "__init__.py" and any(n in p.read_text() for n in names)
    ]
    assert offenders == []
