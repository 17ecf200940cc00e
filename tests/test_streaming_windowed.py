"""Watermarked windowed-count replay: the late-data path must be REAL —
rows planted behind the watermark are actually dropped, not just absent."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_windowed_replay_drops_late_rows(spark):
    from geospatial_analysis_integrity_tool_spark.queries.streamq import (
        DELAY_S,
        WIN_S,
        WINDOWED_SCHEMA,
        write_windowed_fixture,
    )
    from geospatial_analysis_integrity_tool_spark.streaming.replay import (
        batch_stream,
        replay_to_memory,
    )

    src = batch_stream(spark, WINDOWED_SCHEMA, write_windowed_fixture())
    agg = (
        src.withWatermark("ts", f"{DELAY_S} seconds")
        .groupBy(F.window("ts", f"{WIN_S} seconds"), "key")
        .agg(F.count("*").alias("n"))
    )
    # a replay timeout raises instead of leaving a partial sink to assert on
    q = replay_to_memory(agg, "wmtest_sink")
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for o in p.get("stateOperators", [])
    )
    assert dropped > 0, "fixture must exercise the watermark drop path"
    out = spark.table("wmtest_sink")
    # append mode: each (window, key) emitted exactly once
    n_rows = out.count()
    n_keys = out.select("window", "key").distinct().count()
    assert n_rows == n_keys
    # sentinel windows (key -1) never finalize, so they must not be emitted
    assert out.filter("key < 0").count() == 0
