"""Conditions (error) relation: schema, consolidation, export parity.

The output contract reproduces GAIT's exported condition shapefile DBF schema
(SEEIT_API.c:11108-11700 WriteDBHeader/WriteDBEntry fields: ERRTYPE :11184,
MAGNITUDE :11212, INSTANCE :11240, COND_NUM :11268, CODE1/2 :11300/:11328,
LABEL1/2, ANNOTATION, ORIG_GEOM, SEDRISID, ATTRSCHEMA, RETAINIGN) plus the
engine's lineage columns (tile cell id, geom_kind PT/LN like the separate
point/line shapefiles DOLines :11840 / DoPoints :12135).

Consolidation reproduces errors.c:12480-12620: re-read per-check results,
drop exact duplicates arising from tile overlap (DC_FreadFwrite* :1361-3433),
then assign a *deterministic* sequential ordinal per (errtype, instance) —
GAIT numbers conditions in region-scan order; the engine replaces scan order
with an explicit total order (order_keys), which is the documented parity
contract under parallelism (SURVEY.md §7.3 note 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: full export column set (DBF schema parity + engine lineage)
CONDITION_COLUMNS = [
    "errtype",        # condition name, e.g. 'SLIVER'
    "instance",       # check clone number
    "cond_num",       # deterministic ordinal within (errtype, instance)
    "magnitude_mm",   # measured value, floor(x*1000) (3-decimal truncation,
                      # TT.c:709 SignificantDecimals / utilities.c:97)
    "code1",          # participant fcode (ECC1, GAIT_API.h:763)
    "code2",
    "sedrisid",       # participant feature ident
    "geom_kind",      # 'PT' | 'LN' (separate point/line exports)
    "annotation",
    "attrschema",
    "retainign",
    "cell",           # tile assignment (parity target across parallelism)
]


def consolidate(conditions: DataFrame) -> DataFrame:
    """Dedup + deterministic ordinal numbering (errors.c:12480 semantics).

    The dedup key is the full condition identity minus cond_num — exact
    duplicate drop, like DC_FreadFwrite* over re-read per-check files; the
    numbering order within (errtype, instance) is (magnitude_mm, sedrisid).
    """
    deduped = conditions.dropDuplicates(
        [c for c in conditions.columns if c != "cond_num"]
    )
    w = Window.partitionBy("errtype", "instance").orderBy(
        F.col("magnitude_mm").asc(), F.col("sedrisid").asc()
    )
    return deduped.withColumn("cond_num", F.row_number().over(w).cast("bigint"))


def consolidate_scalable(
    conditions: DataFrame,
    order_keys: list[str] = ("magnitude_mm", "sedrisid"),
    number_within: tuple[str, ...] = ("errtype", "instance"),
) -> DataFrame:
    """Scale-safe ordinal numbering: two-phase (per-cell rank + cell offsets).

    ``consolidate`` windows over (errtype, instance) — a handful of partitions,
    so at 10^8 conditions the sort serializes on a few tasks.  This variant
    ranks within (errtype, instance, cell) — thousands of tasks — then adds
    per-cell offsets: one running sum over the counts table (one row per
    (errtype, instance, cell)) in (errtype, instance, cell) order.  The
    resulting total order is (errtype, instance, cell, *order_keys), which is
    exactly GAIT's region-major numbering contract (conditions numbered in
    region-scan order, errors.c:12480; SURVEY.md §7.3 note 2).

    ``number_within`` names the keys the numbering restarts at: the default
    numbers 1..n within each (errtype, instance); ``()`` numbers the whole
    report 1..N.  Only the running sum over the tiny counts table sees that
    partitioning, never the conditions themselves.

    The input carries a ``cell`` column and no duplicate conditions (every
    caller's families are distinct by construction, so no dedup shuffle
    runs).  It is materialized once (``localCheckpoint``, eager) and both
    the rank window and the counts read that one frame, so the input plan —
    a whole suite's union of check families — runs once, not once per
    consumer.
    """
    frame = conditions.localCheckpoint(eager=True)
    w_local = Window.partitionBy("errtype", "instance", "cell").orderBy(
        *[F.col(k).asc() for k in order_keys]
    )
    local = frame.withColumn("_rk", F.row_number().over(w_local))
    counts = frame.groupBy("errtype", "instance", "cell").agg(
        F.count("*").alias("_n")
    )
    w_off = (
        Window.partitionBy(*number_within)
        .orderBy("errtype", "instance", "cell")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).drop("_n")
    return (
        local.join(F.broadcast(offsets), ["errtype", "instance", "cell"])
        .withColumn("cond_num", (F.col("_off") + F.col("_rk")).cast("bigint"))
        .drop("_rk", "_off")
    )


def mark_ignored(new: DataFrame, prior: DataFrame, identity_keys: list[str]) -> DataFrame:
    """-markignore replay (interface.c:43738-43749 / CountIgnored :43743):
    conditions present in a prior run are flagged retainign=1 instead of
    re-reported — a broadcast left-semi membership flag."""
    prior_ids = prior.select(*identity_keys).dropDuplicates(identity_keys)
    flag = F.broadcast(prior_ids.withColumn("_seen", F.lit(1)))
    return (
        new.join(flag, identity_keys, "left")
        .withColumn("retainign", F.when(F.col("_seen").isNotNull(), 1).otherwise(0))
        .drop("_seen")
    )


def with_labels(conditions: DataFrame, model: str = "MGCP3") -> DataFrame:
    """Populate LABEL1/LABEL2 — the human-readable class names for
    code1/code2 (GetECCLabel, share_linux.h:1066 / gifd_functionality.c:83,
    indexing the active model's class-name table).

    Broadcast left-joins the transcribed label table
    (functions/schema_labels.py): known code -> its name, unknown code ->
    'Error' (the reference's out-of-range convention), NULL code -> ''
    (field left blank, as for one-participant conditions).
    """
    from .functions.schema_labels import LABELS

    spark = conditions.sparkSession
    rows = list(LABELS.get(model, {}).get("class", {}).items())
    lab = F.broadcast(
        spark.createDataFrame(rows, "code string, label string")
    )
    out = conditions
    for i in (1, 2):
        if f"code{i}" not in out.columns:
            continue
        out = (
            out.join(
                lab.selectExpr(f"code AS code{i}", f"label AS _l{i}"),
                f"code{i}",
                "left",
            )
            .withColumn(
                f"label{i}",
                F.when(F.col(f"code{i}").isNull(), F.lit("")).otherwise(
                    F.coalesce(F.col(f"_l{i}"), F.lit("Error"))
                ),
            )
            .drop(f"_l{i}")
        )
    return out


def summary_report(conditions: DataFrame) -> DataFrame:
    """WriteSummaryReport (interface.c:19527) rollup."""
    return (
        conditions.groupBy("errtype", "instance")
        .agg(
            F.count("*").alias("n_conditions"),
            F.min("magnitude_mm").alias("min_magnitude_mm"),
            F.max("magnitude_mm").alias("max_magnitude_mm"),
        )
    )


def export_condition_shapefiles(
    conditions: DataFrame,
    out_dir: str,
    name: str = "conditions",
    model: str = "MGCP3",
) -> dict[str, int]:
    """Write GAIT-style condition shapefiles: ``<name>PT.shp/.dbf`` for point
    conditions and ``<name>LN.shp/.dbf`` for line conditions
    (SEEIT_ExportShapefile SEEIT_API.c:13023; DOLines :11840, DoPoints
    :12135; DBF field roster :11108-11700).

    ``conditions`` needs CONDITION_COLUMNS plus geometry: ``px, py`` for PT
    rows; ``xs, ys`` arrays for LN rows.  A shapefile is a bounded
    single-file format (2 GB cap), so ONE driver-side file writer is
    inherent — but the condition set is NOT materialized: records stream
    through ``toLocalIterator()`` over the frame sorted by (errtype,
    instance, cond_num) — the deterministic record order that IS the
    reference's parity contract — and the .shp/.dbf headers are patched
    after the last record.  Peak driver memory is one partition's Arrow
    batch, so a 10^8-condition export cannot OOM the driver.
    Returns {kind: record count}.
    """
    import os

    from .sources.shapefile import (
        SHPT_POINT,
        SHPT_POLYLINE,
        DbfStreamWriter,
        ShpStreamWriter,
    )

    from .functions.schema_labels import LABELS

    os.makedirs(out_dir, exist_ok=True)
    if "label1" not in conditions.columns:
        conditions = with_labels(conditions, model=model)
    for i in (1, 2):
        if f"label{i}" not in conditions.columns:
            conditions = conditions.withColumn(f"label{i}", F.lit(""))
    # LABEL field width is dynamic in the reference (MaxNam2/3LenFound,
    # SEEIT_API.c:11357-11390) — size to the model's longest class name
    lab_w = max(
        (len(v) for v in LABELS.get(model, {}).get("class", {}).values()),
        default=5,
    )
    lab_w = max(lab_w, len("Error"))
    fields = [
        ("ERRTYPE", "C", 10, 0),
        ("MAGNITUDE", "N", 12, 3),
        ("INSTANCE", "N", 4, 0),
        ("COND_NUM", "N", 9, 0),
        ("CODE1", "C", 6, 0),
        ("CODE2", "C", 6, 0),
        ("LABEL1", "C", lab_w, 0),
        ("LABEL2", "C", lab_w, 0),
        ("SEDRISID", "C", 20, 0),
        ("ANNOTATION", "C", 24, 0),
        ("ATTRSCHEMA", "C", 10, 0),
        ("RETAINIGN", "N", 1, 0),
    ]

    def attrs(r) -> tuple:
        return (
            r["errtype"],
            float(r["magnitude_mm"]) / 1000.0,
            int(r["instance"]),
            int(r["cond_num"]),
            r["code1"] or "",
            r["code2"] or "",
            r["label1"] or "",
            r["label2"] or "",
            str(r["sedrisid"] or ""),
            str(r["annotation"] or ""),
            str(r["attrschema"] or ""),
            int(r["retainign"] or 0),
        )

    order = ["errtype", "instance", "cond_num"]
    counts: dict[str, int] = {}

    for kind, stype in (("PT", SHPT_POINT), ("LN", SHPT_POLYLINE)):
        # toLocalIterator on a sorted frame yields partitions in range order,
        # so record order matches orderBy without collecting the frame
        it = (
            conditions.filter(F.col("geom_kind") == kind)
            .orderBy(*order)
            .toLocalIterator()
        )
        shp = ShpStreamWriter(os.path.join(out_dir, f"{name}{kind}.shp"), stype)
        dbf = DbfStreamWriter(os.path.join(out_dir, f"{name}{kind}.dbf"), fields)
        for r in it:
            if kind == "PT":
                shp.add_point(r["px"], r["py"])
            else:
                shp.add_multipart([list(zip(r["xs"], r["ys"]))])
            dbf.add(attrs(r))
        shp.close()
        dbf.close()
        counts[kind] = shp.n
        if shp.n == 0:
            os.remove(os.path.join(out_dir, f"{name}{kind}.shp"))
            os.remove(os.path.join(out_dir, f"{name}{kind}.dbf"))
    return counts
