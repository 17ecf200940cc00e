"""Whole-suite CheckRegion-style run: every gated check family -> ONE
consolidated conditions table.

GAIT's production entry point is CheckRegion (SEEIT_API.c): one invocation
runs EVERY check enabled by the inspection spec over the region and writes a
single condition report.  The per-family registry queries prove each check's
semantics against DuckDB; this module proves the *composition* — all
families as one Spark DAG, one consolidation, one sink — which is the shape
a 1000-executor production run has.

``suite_conditions(spark, sf_dir)`` unions a representative slice of every
SURVEY §2 check family (spatial joins, vertex/window checks, coverage,
edge-match, network, raster x vector, attribute conformance, metadata) into
the conditions schema via a generic adapter:

* errtype    = the family mnemonic (the registry name, upper-cased)
* magnitude  = the family's first measurement column (floor(x*1000), GAIT's
               millimeter-ish magnitude contract) or 0
* sedrisid   = the full witness row rendered canonically (every column,
               null-safe) — the participant identity GAIT writes per
               condition
* cell       = the family's cell column if it has one, else a hash bucket

then numbers everything with the scale-safe two-phase consolidation
(conditions.consolidate_scalable), which evaluates the family union once.
The one unpartitioned window is the running sum over its counts table (one
row per (errtype, instance, cell)); the conditions themselves are ranked
within (errtype, instance, cell).

tools/run_suite.py executes this at sf1 under local[8] and local[32] and
asserts the bit_xor content hash is identical (the parallelism-invariance
contract), publishing suite-level features/s in SCALE.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
)

from .conditions import consolidate_scalable

#: one representative per implemented check family (SURVEY §2.3-2.10) —
#: batch-shaped, feature-scaled queries only (streaming/media/WARC surfaces
#: have their own gates; dedup/embedding ops are LLM-pipeline, not
#: inspection-suite, families).
SUITE_FAMILIES = (
    # §2.3 join families
    "geo_pip",
    "geo_line_intersections",
    "geo_line_area",
    "geo_area_overlap",
    "geo_prox_pairs",
    "geo_knn",
    "geo_undershoot",
    "geo_overshoot",
    "geo_coverage_holes",
    "geo_points_without_zone",
    "geo_dangles",
    "geo_dup_geom",
    "geo_sameid",
    "geo_conflation_best_match",
    "geo_edge_match_unmatched",
    "geo_lhang",
    "geo_tvert",
    # §2.4-2.7 aggregate / window / vertex checks
    "geo_feat_length_checks",
    "geo_area_size_checks",
    "geo_facesize_checks",
    "geo_kink",
    "geo_internalkink",
    "geo_loops",
    "conditions_pipeline_scalable",
    # §2.10 graph
    "geo_network_components",
    "geo_pseudo_node_counts",
    # §2.3 raster x vector
    "raster_point_grid_dif",
    "raster_grid_spikes",
    "raster_tile_stats",
    # §2.9 attribute conformance + metadata
    "attr_conformance",
    "attr_extended_checks",
    "vvt_dependencies",
    "isf_matrix_checks",
    "attr_uom_checks",
    "metadata_xml_checks",
    "sensitivity_ops",
)

_NUMERIC = (DoubleType, FloatType)
_INTEGRAL = (LongType, IntegerType, ShortType, ByteType)


def conditionize(df: DataFrame, errtype: str) -> DataFrame:
    """Normalize any check-family output into the conditions schema."""
    double_cols = [f.name for f in df.schema.fields
                   if isinstance(f.dataType, _NUMERIC)]
    int_cols = [f.name for f in df.schema.fields
                if isinstance(f.dataType, _INTEGRAL)]
    str_cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() == "string"]

    if double_cols:
        mag = F.floor(F.col(double_cols[0]) * 1000.0).cast("bigint")
    elif int_cols:
        mag = F.col(int_cols[0]).cast("bigint")
    else:
        mag = F.lit(0).cast("bigint")

    witness = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in df.columns]
    )
    if "cell" in df.columns:
        cell = F.col("cell").cast("bigint")
    else:
        cell = F.pmod(F.xxhash64(witness), F.lit(4096)).cast("bigint")
    code1 = F.col("fcode") if "fcode" in df.columns else (
        F.col(str_cols[0]) if str_cols else F.lit("")
    )
    return df.select(
        F.lit(errtype.upper()).alias("errtype"),
        F.lit(1).alias("instance"),
        F.lit(0).cast("bigint").alias("cond_num"),
        mag.alias("magnitude_mm"),
        code1.cast("string").alias("code1"),
        witness.alias("sedrisid"),
        F.lit("XX").alias("geom_kind"),
        cell.alias("cell"),
    )


def suite_conditions(
    spark: SparkSession, sf_dir: str, families=SUITE_FAMILIES
) -> DataFrame:
    """The CheckRegion composition: all families -> one conditions table."""
    import __spark_entry__ as entrymod

    registry = entrymod.queries()
    parts = []
    for name in families:
        parts.append(conditionize(registry[name](spark, sf_dir), name))
    conds = parts[0]
    for p in parts[1:]:
        conds = conds.unionByName(p)
    # family outputs are distinct by construction (each errtype is one
    # family, witnesses unique within it) -> skip the dedup shuffle.  The
    # consolidated report is one global 1..N sequence in (errtype, instance,
    # cell, magnitude, sedrisid) order — report-major by family, region-major
    # within it — so the numbering never restarts.
    out = consolidate_scalable(
        conds, order_keys=["magnitude_mm", "sedrisid"], number_within=()
    )
    # pin the sink's canonical column order regardless of join-key placement
    return out.select(
        "errtype", "instance", "cond_num", "magnitude_mm",
        "code1", "sedrisid", "geom_kind", "cell",
    )
