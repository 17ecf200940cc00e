"""Line x line intersection join — GAIT's LLINT family (SURVEY.md §2.3).

Reference: PerformLinearRelatedChecks (geomchecks.c:12715) tests segment pairs
of co-located lines; LLINT 118 reports proper crossings with the intersection
point as the condition annotation; LOOPS 108 (TT.c:43064) is the same segment
test within one feature.

The feature model is GAIT's RawLinear (share_linux.h:751-780): variable-length
vertex arrays.  Lines arrive as ``(id, xs: array<double>, ys: array<double>)``
rows; segments come from JVM-side ``slice`` + ``arrays_zip`` + ``posexplode``
— no UDF, no fixed vertex count.

Spark-native shape: explode lines into segments, cell-join on segment bbox
cover, then the orientation tests run as **pure column expressions**
(whole-stage codegen) — the same arithmetic text the DuckDB oracle evaluates,
so the crossing decision and the reported intersection point are bit-identical.
Pair memoization (CheckThisLinePair, geomchecks.c:10703) becomes the
declarative ``id_a < id_b`` predicate + dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pip import explode_bbox_cells


def _d(ax, ay, bx, by, px, py) -> str:
    """Orientation of p relative to segment a->b (shared SQL text)."""
    return f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))"


def sql_proper_cross() -> str:
    """Strict proper-crossing predicate over columns _ax.._dy (both engines)."""
    d1 = _d("_ax", "_ay", "_bx", "_by", "_cx", "_cy")
    d2 = _d("_ax", "_ay", "_bx", "_by", "_dx", "_dy")
    d3 = _d("_cx", "_cy", "_dx", "_dy", "_ax", "_ay")
    d4 = _d("_cx", "_cy", "_dx", "_dy", "_bx", "_by")
    return (
        f"((({d1} > 0) <> ({d2} > 0)) AND (({d3} > 0) <> ({d4} > 0))"
        f" AND {d1} <> 0 AND {d2} <> 0 AND {d3} <> 0 AND {d4} <> 0)"
    )


def sql_intersection_xy() -> tuple[str, str]:
    """Intersection point of the (properly crossing) segment pair."""
    rpx = "(_bx - _ax)"
    rpy = "(_by - _ay)"
    spx = "(_dx - _cx)"
    spy = "(_dy - _cy)"
    # CASE-guard the parallel-segments denominator: callers filter on
    # sql_proper_cross() first (denom != 0 on every surviving row, so the
    # branch never changes a value), but under ANSI mode the optimizer may
    # evaluate this projection before the filter when the plan is composed
    # into a larger DAG (observed in the whole-suite union) — an unguarded
    # division then throws DIVIDE_BY_ZERO on rows that were about to be
    # dropped.  Identical expression on the DuckDB side, so hashes agree.
    denom = f"({rpx} * {spy} - {rpy} * {spx})"
    safe_denom = f"(CASE WHEN {denom} = 0.0 THEN 1.0 ELSE {denom} END)"
    t = f"(((_cx - _ax) * {spy} - (_cy - _ay) * {spx}) / {safe_denom})"
    return f"(_ax + {t} * {rpx})", f"(_ay + {t} * {rpy})"


def vertices_to_lines(
    v: DataFrame,
    id_col: str = "line_id",
    vidx: str = "vidx",
    x: str = "x",
    y: str = "y",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Long-form (id, vidx, x, y[, z...]) -> (id, xs, ys[, ...]) array rows.

    The struct is sorted by vidx inside the array (array_sort on the leading
    struct field), so vertex order is deterministic regardless of shuffle.
    """
    fields = [F.col(vidx).alias("_i"), F.col(x).alias("_x"), F.col(y).alias("_y")]
    fields += [F.col(c).alias(f"_e{j}") for j, c in enumerate(extra)]
    g = v.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("_vs")
    )
    cols = [
        F.col(id_col),
        F.col("_vs._x").alias("xs"),
        F.col("_vs._y").alias("ys"),
    ]
    cols += [F.col(f"_vs._e{j}").alias(c) for j, c in enumerate(extra)]
    return g.select(*cols)


def segments_of_lines(
    lines: DataFrame, id_col: str = "line_id", xs: str = "xs", ys: str = "ys"
) -> DataFrame:
    """(id, xs: array, ys: array) -> one row per consecutive segment.

    JVM-only: ``arrays_zip`` of the head/tail slices + ``posexplode``.  seg_idx
    is 1-based (segment i joins vertex i to vertex i+1), matching the legacy
    wide-column numbering.
    """
    n = F.size(F.col(xs))
    zipped = F.arrays_zip(
        F.slice(F.col(xs), 1, n - 1).alias("sax"),
        F.slice(F.col(ys), 1, n - 1).alias("say"),
        F.slice(F.col(xs), 2, n - 1).alias("sbx"),
        F.slice(F.col(ys), 2, n - 1).alias("sby"),
    )
    return (
        lines.select(F.col(id_col).alias("line_id"), zipped.alias("_segs"))
        .select("line_id", F.posexplode("_segs").alias("_i", "_s"))
        .select(
            "line_id",
            (F.col("_i") + 1).alias("seg_idx"),
            F.col("_s.sax").alias("sax"),
            F.col("_s.say").alias("say"),
            F.col("_s.sbx").alias("sbx"),
            F.col("_s.sby").alias("sby"),
        )
    )


def segments_of_vertices(
    v: DataFrame,
    id_col: str = "line_id",
    vidx: str = "vidx",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Long-form vertex table (id, vidx, x, y) -> one row per segment.

    ``lead`` over (id ORDER BY vidx) — one shuffle, no array round-trip.
    Row-identical to ``segments_of_lines(vertices_to_lines(v))`` when vidx is
    0-based consecutive (seg_idx = vidx + 1), but skips the
    collect_list/array_sort/posexplode detour, which at sf0.1 costs ~2x the
    window pass.  Use this when the source is already long-form (the
    native vertex model); keep the array path for array-form inputs.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(vidx)
    return (
        v.select(
            F.col(id_col).alias("line_id"),
            (F.col(vidx) + 1).alias("seg_idx"),
            F.col(x).alias("sax"),
            F.col(y).alias("say"),
            F.lead(x).over(w).alias("sbx"),
            F.lead(y).over(w).alias("sby"),
        )
        .filter(F.col("sbx").isNotNull())
    )


def _left_side(df):
    # column names match sql_proper_cross: segment A = (_ax,_ay)-(_bx,_by)
    return df.select(
        F.col("line_id").alias("id_a"),
        F.col("seg_idx").alias("seg_a"),
        F.col("sax").alias("_ax"),
        F.col("say").alias("_ay"),
        F.col("sbx").alias("_bx"),
        F.col("sby").alias("_by"),
        F.least("sax", "sbx").alias("_minx"),
        F.greatest("sax", "sbx").alias("_maxx"),
        F.least("say", "sby").alias("_miny"),
        F.greatest("say", "sby").alias("_maxy"),
    )


def _right_side(df):
    # segment B = (_cx,_cy)-(_dx,_dy)
    return df.select(
        F.col("line_id").alias("id_b"),
        F.col("seg_idx").alias("seg_b"),
        F.col("sax").alias("_cx"),
        F.col("say").alias("_cy"),
        F.col("sbx").alias("_dx"),
        F.col("sby").alias("_dy"),
        F.least("sax", "sbx").alias("_minx2"),
        F.greatest("sax", "sbx").alias("_maxx2"),
        F.least("say", "sby").alias("_miny2"),
        F.greatest("say", "sby").alias("_maxy2"),
    )


def _bbox_overlap():
    return (
        (F.col("_minx") <= F.col("_maxx2"))
        & (F.col("_maxx") >= F.col("_minx2"))
        & (F.col("_miny") <= F.col("_maxy2"))
        & (F.col("_maxy") >= F.col("_miny2"))
    )


def segment_intersections(
    segs: DataFrame,
    cell_deg: float = 0.01,
    long_cells_cutoff: int = 4,
) -> DataFrame:
    """Proper crossings between segments of DIFFERENT lines.

    Input: segments from :func:`segments_of_lines`.  Returns (id_a, id_b,
    seg_a, seg_b, ix_udeg, iy_udeg): ids ordered, and the intersection point
    in integer micro-degrees (floor) as the annotation.

    Giant-feature skew handling (GAIT's AreaSizeCutoff special path,
    TT.c:44196, per SCALE.md): segments covering more than
    ``long_cells_cutoff`` cells would pair with everything along their path
    and blow the cell join up quadratically (measured 930M candidates at
    sf0.1).  They are split off: short x short runs the normal cell join;
    long x short joins the exploded long covers against short cells; and
    long x long — a tiny set by construction — runs as a broadcast
    bbox-predicate join.
    """
    segs = segs.withColumn(
        "_ncells",
        (
            (F.floor(F.greatest("sax", "sbx") / cell_deg)
             - F.floor(F.least("sax", "sbx") / cell_deg) + 1)
            * (F.floor(F.greatest("say", "sby") / cell_deg)
               - F.floor(F.least("say", "sby") / cell_deg) + 1)
        ),
    )
    # NOTE: the three join paths below reference the segment frame five times
    # (short twice, long three times).  A .persist() here was tried and
    # REJECTED: A/B at sf0.1 showed warm runs 8-9 s recomputing vs 9.5-12 s
    # persisted — the upstream is codegen arithmetic (cheaper than block
    # serialization + memory pressure).  Re-evaluate only if the input comes
    # from an expensive non-columnar source.
    short = segs.filter(F.col("_ncells") <= long_cells_cutoff)
    long = segs.filter(F.col("_ncells") > long_cells_cutoff)

    def lcells(df):
        return explode_bbox_cells(df, "_minx", "_maxx", "_miny", "_maxy", cell_deg)

    def rcells(df):
        return explode_bbox_cells(df, "_minx2", "_maxx2", "_miny2", "_maxy2", cell_deg)

    # short x short: plain cell join, ordered ids
    ss = (
        lcells(_left_side(short))
        .join(rcells(_right_side(short)), "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_bbox_overlap())
    )
    # long x short: long covers exploded against short cells; any id order
    ls = (
        lcells(_left_side(long))
        .join(rcells(_right_side(short)), "cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(_bbox_overlap())
    )
    # long x long: tiny side — broadcast bbox join, no cells
    ll = (
        _left_side(long)
        .join(F.broadcast(_right_side(long)), F.col("id_a") < F.col("id_b"))
        .filter(_bbox_overlap())
    )

    def finish(pairs, normalize_order: bool):
        crossed = pairs.filter(F.expr(sql_proper_cross()))
        ix, iy = sql_intersection_xy()
        out = crossed.select(
            "id_a",
            "id_b",
            "seg_a",
            "seg_b",
            F.expr(f"CAST(floor({ix} * 1000000.0) AS BIGINT)").alias("ix_udeg"),
            F.expr(f"CAST(floor({iy} * 1000000.0) AS BIGINT)").alias("iy_udeg"),
        )
        if normalize_order:
            swap = F.col("id_a") > F.col("id_b")
            out = out.select(
                F.when(swap, F.col("id_b")).otherwise(F.col("id_a")).alias("id_a"),
                F.when(swap, F.col("id_a")).otherwise(F.col("id_b")).alias("id_b"),
                F.when(swap, F.col("seg_b")).otherwise(F.col("seg_a")).alias("seg_a"),
                F.when(swap, F.col("seg_a")).otherwise(F.col("seg_b")).alias("seg_b"),
                "ix_udeg",
                "iy_udeg",
            )
        return out

    return (
        finish(ss, False)
        .unionByName(finish(ls, True))
        .unionByName(finish(ll, False))
        .dropDuplicates(["id_a", "id_b", "seg_a", "seg_b"])
    )


def line_intersections(
    lines: DataFrame,
    id_col: str = "line_id",
    cell_deg: float = 0.01,
    long_cells_cutoff: int = 4,
) -> DataFrame:
    """Proper crossings between segments of different array-form lines."""
    segs = segments_of_lines(lines, id_col)
    return segment_intersections(segs, cell_deg, long_cells_cutoff)


def self_intersections(lines: DataFrame, id_col: str = "line_id") -> DataFrame:
    """LOOPS 108 (TT.c:43064): a line properly crossing itself.

    Non-adjacent segment pairs of the SAME feature tested with the shared
    proper-cross predicate.  The join key is the feature id, so work is
    perfectly partitioned by feature — V^2 only within one feature, exactly
    GAIT's per-feature loop.  Adjacent segments share a vertex and cannot
    properly cross; they are excluded declaratively (seg_b > seg_a + 1).
    """
    segs = segments_of_lines(lines, id_col)
    return self_intersections_of_segments(segs)


def self_intersections_of_segments(segs: DataFrame) -> DataFrame:
    """LOOPS over a pre-built segment relation (see :func:`self_intersections`)."""
    a = segs.select(
        F.col("line_id"),
        F.col("seg_idx").alias("seg_a"),
        F.col("sax").alias("_ax"),
        F.col("say").alias("_ay"),
        F.col("sbx").alias("_bx"),
        F.col("sby").alias("_by"),
    )
    b = segs.select(
        F.col("line_id"),
        F.col("seg_idx").alias("seg_b"),
        F.col("sax").alias("_cx"),
        F.col("say").alias("_cy"),
        F.col("sbx").alias("_dx"),
        F.col("sby").alias("_dy"),
    )
    ix, iy = sql_intersection_xy()
    return (
        a.join(b, "line_id")
        .filter(F.col("seg_b") > F.col("seg_a") + 1)
        .filter(F.expr(sql_proper_cross()))
        .select(
            "line_id",
            "seg_a",
            "seg_b",
            F.expr(f"CAST(floor({ix} * 1000000.0) AS BIGINT)").alias("ix_udeg"),
            F.expr(f"CAST(floor({iy} * 1000000.0) AS BIGINT)").alias("iy_udeg"),
        )
    )
