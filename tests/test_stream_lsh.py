"""Incremental LSH near-dup suppression (queries/streamdedup.py)."""

from __future__ import annotations


def test_streaming_lsh_matches_batch_rule_and_replays_identically(spark):
    """The stateful streaming verdict must equal the batch closed-form rule
    (dup iff a (batch_idx, doc_id)-earlier row occupies the same (band, sig)
    bucket) computed over the very same fixture, and a full restart-replay
    must emit the identical table."""
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.queries.streamdedup import (
        q_streaming_lsh_dedup,
        write_lsh_stream_fixture,
    )
    from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
        register_geo_views,
    )

    sf = "/root/testdata/sf0.01"
    register_geo_views(spark, sf)
    out = q_streaming_lsh_dedup(spark, sf)
    rows = {r["doc_id"]: (r["n_dup_bands"], r["is_dup"]) for r in out.collect()}

    fixture = spark.read.parquet(write_lsh_stream_fixture(sf))
    batch = (
        fixture.withColumn(
            "dup",
            F.expr("CAST(doc_id > min(doc_id) OVER (PARTITION BY band, sig) AS BIGINT)"),
        )
        .groupBy("doc_id")
        .agg(F.sum("dup").alias("n_dup_bands"), F.max("dup").alias("is_dup"))
    )
    expected = {
        r["doc_id"]: (r["n_dup_bands"], r["is_dup"]) for r in batch.collect()
    }
    assert rows == expected
    # near-dup pairs genuinely exist in the corpus at this scale
    assert any(v[1] == 1 for v in rows.values())
    assert any(v[1] == 0 for v in rows.values())

    # restart-and-replay determinism: a second full run emits the same table
    again = {
        r["doc_id"]: (r["n_dup_bands"], r["is_dup"])
        for r in q_streaming_lsh_dedup(spark, sf).collect()
    }
    assert rows == again


def test_lsh_fixture_key_covers_every_text(tmp_path, monkeypatch):
    """Two corpora with the same doc count, total text length and first text
    but a different later text must not share a cached fixture."""
    import pandas as pd

    from geospatial_analysis_integrity_tool_spark.queries.streamdedup import (
        write_lsh_stream_fixture,
    )

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    dirs = []
    for name, last in (("a", "delta epsilon zeta eta"), ("b", "DELTA EPSILON ZETA ETA")):
        sf = tmp_path / name
        sf.mkdir()
        pd.DataFrame(
            {"doc_id": [0, 1], "text": ["alpha beta gamma", last]}
        ).to_parquet(sf / "documents.parquet")
        dirs.append(write_lsh_stream_fixture(str(sf)))
    assert dirs[0] != dirs[1]
