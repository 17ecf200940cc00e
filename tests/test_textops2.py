"""Pipeline-ops part 2: repetition rules, decontamination, PII scrub —
edge-case semantics the sf0.01 oracle gate doesn't isolate."""

from __future__ import annotations

from pyspark.sql import functions as F

from geospatial_analysis_integrity_tool_spark.sources.synthetic import register_geo_views

SF = "/root/testdata/sf0.001"


def test_decontaminate_flags_planted_copies(spark):
    """Every EXACT copy (+2000000) of a benchmark doc long enough to carry an
    8-gram must be flagged, and its hit count must equal its shingle count."""
    from geospatial_analysis_integrity_tool_spark.queries.textops2 import (
        DECON_N,
        _BENCH_MOD,
        _BENCH_REM,
        q_docs_decontaminate,
    )

    register_geo_views(spark, SF)
    out = {
        r["doc_id"]: r["n_hit_8grams"]
        for r in q_docs_decontaminate(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench_long = (
        docs.filter(
            (F.col("doc_id") % _BENCH_MOD == _BENCH_REM) & (F.col("doc_id") % 7 == 0)
        )
        .filter(F.size(F.split("text", r"\s+")) >= DECON_N)
        .select("doc_id")
        .collect()
    )
    assert bench_long, "fixture must contain copied benchmark docs"
    for r in bench_long:
        assert r["doc_id"] + 2000000 in out


def test_repetition_short_docs_no_bigram_rows(spark):
    """Docs shorter than 2 tokens produce no 2-grams and never a DUP2GRAM row
    (the CASE guard, not a crash)."""
    from geospatial_analysis_integrity_tool_spark.queries.textops2 import (
        q_text_repetition,
    )

    register_geo_views(spark, SF)
    rows = q_text_repetition(spark, SF).collect()
    assert all(r["metric_total"] > 0 for r in rows)
    # integer thresholds: every flagged row actually crosses its rule
    for r in rows:
        if r["errtype"] == "TOPWORD":
            assert r["metric_n"] * 20 > r["metric_total"] * 3
        else:
            assert r["metric_n"] * 20 > r["metric_total"]


def test_pii_scrub_counts_and_redaction(spark):
    """Planted docs carry exactly one email + one phone; redaction removes
    every match (re-scan of redacted text finds zero)."""
    from geospatial_analysis_integrity_tool_spark.queries.textops2 import (
        _EMAIL_RE,
        _PHONE_RE,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    planted = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 11 = 5 THEN concat(text, ' contact u', doc_id,"
        " '@example.com or 555-', CAST(1000 + doc_id % 9000 AS STRING))"
        " ELSE text END AS text",
    ).filter("doc_id % 11 = 5")
    red = planted.selectExpr(
        f"regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>'),"
        f" '{_PHONE_RE}', '<PHONE>') AS red"
    )
    residue = red.filter(
        F.expr(
            f"regexp_count(red, '{_EMAIL_RE}') + regexp_count(red, '{_PHONE_RE}') > 0"
        )
    ).count()
    assert residue == 0
    from geospatial_analysis_integrity_tool_spark.queries.textops2 import (
        q_text_pii_scrub,
    )

    register_geo_views(spark, SF)
    out = q_text_pii_scrub(spark, SF)
    assert out.filter("n_emails <> 1 OR n_phones <> 1").count() == 0
