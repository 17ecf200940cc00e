"""Partitioning/salting determinism + resumable checkpoint semantics."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F


def test_salted_join_equals_plain_join(spark):
    from geospatial_analysis_integrity_tool_spark.plans.partitioning import (
        cell_histogram,
        salt_plan,
        salted_join,
    )

    # one hot cell (0) with 900 rows, cold cells with a few
    probe = spark.range(1000).select(
        F.col("id").alias("feature_id"),
        F.when(F.col("id") < 900, 0).otherwise(F.col("id") % 7 + 1).alias("cell"),
    )
    build = spark.range(40).select(
        (F.col("id") % 8).alias("cell"), F.col("id").alias("zone_id")
    )
    plan = salt_plan(cell_histogram(probe), target_rows_per_task=100)
    assert plan.count() == 1  # only the hot cell

    salted = salted_join(probe, build, plan).select("feature_id", "zone_id", "cell")
    plain = probe.join(build, "cell").select("feature_id", "zone_id", "cell")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    # determinism: same result twice (stable hash salt, no rand())
    again = salted_join(probe, build, plan).select("feature_id", "zone_id", "cell")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, again.collect()))


def test_checkpoint_resume_skips_done_partitions(spark):
    from geospatial_analysis_integrity_tool_spark.plans.checkpointing import (
        lineage,
        run_stage_checkpointed,
    )

    out = tempfile.mkdtemp(prefix="gait_ckpt_")
    try:
        df1 = spark.range(100).select(
            (F.col("id") % 4).alias("cell"), F.col("id").alias("v")
        )
        full1 = run_stage_checkpointed(spark, "s1", df1, "cell", out)
        assert full1.count() == 100
        lin = lineage(out)
        assert set(lin) == {"0", "1", "2", "3"}
        assert all(p["rows"] == 25 for p in lin.values())

        # resume: same input -> nothing recomputed, output unchanged
        full2 = run_stage_checkpointed(spark, "s1", df1, "cell", out)
        assert full2.count() == 100
        assert lineage(out) == lin

        # new partition appears -> only it is computed and appended
        df2 = df1.unionByName(
            spark.range(10).select(F.lit(9).alias("cell"), (F.col("id") + 1000).alias("v"))
        )
        full3 = run_stage_checkpointed(spark, "s1", df2, "cell", out)
        assert full3.count() == 110
        assert lineage(out)["9"]["rows"] == 10
        assert lineage(out)["0"] == lin["0"]  # untouched lineage
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_checkpoint_drops_orphan_partitions(spark):
    """A partition a crashed run left on disk (parquet committed, manifest
    never written) that the current input does not produce goes neither
    into the manifest nor into the returned frame."""
    from geospatial_analysis_integrity_tool_spark.plans.checkpointing import (
        lineage,
        run_stage_checkpointed,
    )

    def rows(frame):
        return sorted(map(tuple, frame.select("cell", "v").collect()))

    def plant_orphan(cell, out):
        (
            spark.range(5)
            .select(F.lit(cell).cast("bigint").alias("cell"), (F.col("id") + 500).alias("v"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(out)
        )

    out = tempfile.mkdtemp(prefix="gait_ckpt_")
    try:
        df = spark.range(40).select(
            (F.col("id") % 4).alias("cell"), F.col("id").alias("v")
        )
        # crashed run before any manifest: cell 7 on disk only
        plant_orphan(7, out)
        full = run_stage_checkpointed(spark, "s1", df, "cell", out)
        assert set(lineage(out)) == {"0", "1", "2", "3"}
        assert rows(full) == rows(df)

        # crashed run after a committed one; the resume has nothing to compute
        plant_orphan(8, out)
        assert rows(run_stage_checkpointed(spark, "s1", df, "cell", out)) == rows(df)
        assert set(lineage(out)) == {"0", "1", "2", "3"}

        # ... and a resume that computes a new partition
        plant_orphan(8, out)
        df9 = df.unionByName(
            spark.range(3).select(F.lit(9).cast("bigint").alias("cell"), F.col("id").alias("v"))
        )
        full9 = run_stage_checkpointed(spark, "s1", df9, "cell", out)
        assert set(lineage(out)) == {"0", "1", "2", "3", "9"}
        assert rows(full9) == rows(df9)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stream_extract_matches_batch(spark):
    import tempfile

    from geospatial_analysis_integrity_tool_spark.sources.pages import (
        extract_features,
        synth_pages,
    )

    # batch-parity check of the foreachBatch kernel: the streaming wrapper
    # reuses extract_features verbatim, so drive the kernel through a
    # memory-source micro-batch equivalent (rate-limited full pass).
    p = synth_pages(spark, 120)
    batch = extract_features(p).collect()
    # simulate two micro-batches
    b1 = extract_features(synth_pages(spark, 60)).collect()
    p2 = synth_pages(spark, 120).filter(F.split(F.col("url"), "/")[5].cast("long") >= 60)
    b2 = extract_features(p2).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, b1 + b2))


def test_streaming_dedup_first_seen(spark, tmp_path):
    """Stateful applyInPandasWithState dedup: a condition re-detected in a
    LATER micro-batch is suppressed; each identity emits exactly once."""
    import pandas as pd

    from geospatial_analysis_integrity_tool_spark.streaming.replay import (
        batch_stream,
        replay_to_memory,
    )
    from geospatial_analysis_integrity_tool_spark.streaming.stateful import (
        dedup_first_seen,
    )

    src = tmp_path / "conds_in"
    src.mkdir()
    # batch files processed one per trigger: B repeats across batches
    pd.DataFrame(
        {"errtype": ["KINK", "SEGLEN"], "feature_id": [1, 2], "magnitude_mm": [100, 200]}
    ).to_parquet(src / "b1.parquet")
    pd.DataFrame(
        {"errtype": ["SEGLEN", "LOOPS"], "feature_id": [2, 3], "magnitude_mm": [200, 300]}
    ).to_parquet(src / "b2.parquet")

    stream = batch_stream(
        spark, "errtype string, feature_id long, magnitude_mm long", str(src)
    )
    out = dedup_first_seen(
        stream, key_cols=["errtype", "feature_id"], payload_cols=["magnitude_mm"]
    )
    replay_to_memory(out, "dedup_out")
    rows = {
        (r.errtype, r.feature_id, r.magnitude_mm)
        for r in spark.sql("SELECT * FROM dedup_out").collect()
    }
    assert rows == {("KINK", 1, 100), ("SEGLEN", 2, 200), ("LOOPS", 3, 300)}


def test_condition_shapefile_export_roundtrip(spark, tmp_path):
    """SEEIT_ExportShapefile parity: PT + LN condition shapefiles with the
    reference DBF field roster, read back through the binary readers."""
    from geospatial_analysis_integrity_tool_spark.conditions import (
        export_condition_shapefiles,
    )
    from geospatial_analysis_integrity_tool_spark.sources.shapefile import (
        read_dbf,
        read_shp,
    )

    rows = [
        ("KINK", 1, 1, 12345, "AP030", None, "7", "PT", "apex", "MGCP3", 0,
         11, 10.5, 40.5, None, None),
        ("SLIVER", 1, 1, 999, "FA000", "AL015", "8", "PT", "", "MGCP3", 1,
         12, 10.6, 40.6, None, None),
        ("LLINT", 2, 1, 777, "AT030", "AN010", "9", "LN", "xing", "MGCP3", 0,
         13, None, None, [10.0, 10.1], [40.0, 40.05]),
    ]
    conds = spark.createDataFrame(
        rows,
        "errtype string, instance int, cond_num long, magnitude_mm long,"
        " code1 string, code2 string, sedrisid string, geom_kind string,"
        " annotation string, attrschema string, retainign int, cell long,"
        " px double, py double, xs array<double>, ys array<double>",
    )
    out = str(tmp_path / "export")
    counts = export_condition_shapefiles(conds, out, name="gait")
    assert counts == {"PT": 2, "LN": 1}

    pts = read_shp(spark, out + "/gaitPT.shp").collect()
    assert sorted((r.xs[0], r.ys[0]) for r in pts) == [(10.5, 40.5), (10.6, 40.6)]
    lns = read_shp(spark, out + "/gaitLN.shp").collect()
    assert list(zip(lns[0].xs, lns[0].ys)) == [(10.0, 40.0), (10.1, 40.05)]

    dbf = {(r.recno, r.attr): r.value for r in read_dbf(spark, out + "/gaitPT.dbf").collect()}
    assert dbf[(1, "ERRTYPE")] == "KINK"
    assert dbf[(1, "MAGNITUDE")] == "12.345"
    assert dbf[(2, "RETAINIGN")] == "1"
    assert dbf[(1, "CODE1")] == "AP030"
    # LABEL1/LABEL2 populated from the transcribed GetECCLabel table
    # (schema_labels.py): known code -> class name, NULL code -> blank
    assert dbf[(1, "LABEL1")] == "Road"
    assert dbf[(1, "LABEL2")] == ""
    assert dbf[(2, "LABEL1")] == "Error"  # FA000 not an MGCP3 class
    assert dbf[(2, "LABEL2")] == "Building"
    lndbf = {
        (r.recno, r.attr): r.value
        for r in read_dbf(spark, out + "/gaitLN.dbf").collect()
    }
    assert lndbf[(1, "LABEL1")] == "Power Line"
    assert lndbf[(1, "LABEL2")] == "Railway"


def test_cell_partitioned_scan_prunes_partitions(spark, tmp_path):
    """The 100-TB layout contract (SCALE.md): stage outputs written
    partitioned by the tile cell must serve spatially-scoped reads via
    PARTITION pruning — the scan's plan lists only the selected cell
    directories, never the full table."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "by_cell")
    df = spark.range(0, 4000).select(
        F.col("id").alias("feature_id"),
        (F.col("id") % 16).alias("cell"),
        (F.col("id") * 7 % 100).alias("payload"),
    )
    df.write.mode("overwrite").partitionBy("cell").parquet(out)

    scan = spark.read.parquet(out).filter(F.col("cell") == 3)
    assert scan.count() == 250
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the parquet scan must carry the cell filter as a PARTITION filter
    # (directory-level pruning), not merely a data filter after a full read
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
