"""Line x line intersection join — GAIT's LLINT family (SURVEY.md §2.3).

Reference: PerformLinearRelatedChecks (geomchecks.c:12715) tests segment pairs
of co-located lines; LLINT 118 reports proper crossings with the intersection
point as the condition annotation; LOOPS 108 (TT.c:43064) is the same segment
test within one feature.

The feature model is GAIT's RawLinear (share_linux.h:751-780): variable-length
vertex arrays.  Lines arrive as ``(id, xs: array<double>, ys: array<double>)``
rows; segments come from JVM-side ``slice`` + ``arrays_zip`` + ``posexplode``
— no UDF, no fixed vertex count.

Spark-native shape: explode lines into segments, then ``crossing_pairs`` —
the one segment-crossing join every cell crossing check uses — covers both
segment sets with ``explode_path_cells`` (the cells each segment's path
crosses, so a long segment costs its length, not its bbox area),
equi-joins on ``cell``, keeps the bbox-overlapping pairs and filters on the
orientation tests.  Those run as **pure column expressions** (whole-stage
codegen) — the same arithmetic text the DuckDB oracle evaluates, so the
crossing decision and the reported intersection point are bit-identical.
``segment_crossings`` (the crossing segment pairs) is its self-join over
lines' segments; ``segment_intersections`` projects its pairs onto the
crossing points.
That text is rendered once per call site as a function of the two segments'
columns: ``sql_proper_cross(s1, s2)`` / ``sql_intersection_xy(s1, s2)``
default to the join frames' ``SEG_A`` / ``SEG_B`` columns, and each oracle
passes its own aliased columns (``seg_cols``) — no SQL text is rewritten
after it is rendered.
Pair memoization (CheckThisLinePair, geomchecks.c:10703) becomes the
declarative ``id_a < id_b`` predicate + dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pip import explode_path_cells


def _d(ax, ay, bx, by, px, py) -> str:
    """Orientation of p relative to segment a->b (shared SQL text)."""
    return f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))"


#: column names of the two segments (_ax, _ay)-(_bx, _by) and
#: (_cx, _cy)-(_dx, _dy) that the Spark join frames carry
SEG_A = ("_ax", "_ay", "_bx", "_by")
SEG_B = ("_cx", "_cy", "_dx", "_dy")


def seg_cols(alias: str, ax="ax", ay="ay", bx="bx", by="by") -> tuple[str, ...]:
    """The (ax, ay, bx, by) columns of one segment, qualified by ``alias``."""
    return tuple(f"{alias}.{c}" for c in (ax, ay, bx, by))


def sql_proper_cross(s1=SEG_A, s2=SEG_B) -> str:
    """Strict proper-crossing predicate of segments s1 and s2, each given as
    its (ax, ay, bx, by) columns (both engines)."""
    ax, ay, bx, by = s1
    cx, cy, dx, dy = s2
    d1 = _d(ax, ay, bx, by, cx, cy)
    d2 = _d(ax, ay, bx, by, dx, dy)
    d3 = _d(cx, cy, dx, dy, ax, ay)
    d4 = _d(cx, cy, dx, dy, bx, by)
    return (
        f"((({d1} > 0) <> ({d2} > 0)) AND (({d3} > 0) <> ({d4} > 0))"
        f" AND {d1} <> 0 AND {d2} <> 0 AND {d3} <> 0 AND {d4} <> 0)"
    )


def sql_intersection_xy(s1=SEG_A, s2=SEG_B) -> tuple[str, str]:
    """Intersection point of the (properly crossing) segment pair s1, s2."""
    ax, ay, bx, by = s1
    cx, cy, dx, dy = s2
    rpx = f"({bx} - {ax})"
    rpy = f"({by} - {ay})"
    spx = f"({dx} - {cx})"
    spy = f"({dy} - {cy})"
    # CASE-guard the parallel-segments denominator: callers filter on
    # sql_proper_cross() first (denom != 0 on every surviving row, so the
    # branch never changes a value), but under ANSI mode the optimizer may
    # evaluate this projection before the filter when the plan is composed
    # into a larger DAG (observed in the whole-suite union) — an unguarded
    # division then throws DIVIDE_BY_ZERO on rows that were about to be
    # dropped.  Identical expression on the DuckDB side, so hashes agree.
    denom = f"({rpx} * {spy} - {rpy} * {spx})"
    safe_denom = f"(CASE WHEN {denom} = 0.0 THEN 1.0 ELSE {denom} END)"
    t = f"((({cx} - {ax}) * {spy} - ({cy} - {ay}) * {spx}) / {safe_denom})"
    return f"({ax} + {t} * {rpx})", f"({ay} + {t} * {rpy})"


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


def _renamed(df: DataFrame, seg, names) -> DataFrame:
    """``df`` with its segment columns ``seg`` renamed to ``names``."""
    keep = [c for c in df.columns if c not in seg]
    return df.select(*keep, *[F.col(c).alias(n) for c, n in zip(seg, names)])


def _bbox_overlap():
    """Bboxes of the segments SEG_A and SEG_B overlap (computed from the
    coordinates, so no bbox column travels through the join's shuffle)."""
    ax, ay, bx, by = SEG_A
    cx, cy, dx, dy = SEG_B
    return (
        (F.least(ax, bx) <= F.greatest(cx, dx))
        & (F.greatest(ax, bx) >= F.least(cx, dx))
        & (F.least(ay, by) <= F.greatest(cy, dy))
        & (F.greatest(ay, by) >= F.least(cy, dy))
    )


def crossing_pairs(
    a: DataFrame,
    b: DataFrame,
    cell_deg: float,
    a_seg=("ax", "ay", "bx", "by"),
    b_seg=("ax", "ay", "bx", "by"),
) -> DataFrame:
    """Properly crossing segment pairs of ``a`` x ``b`` — the one cell
    crossing join.

    ``a``'s segment columns ``a_seg`` become ``SEG_A`` and ``b``'s ``b_seg``
    become ``SEG_B``, so :func:`sql_proper_cross` and
    :func:`sql_intersection_xy` apply to the output with their defaults.
    Each side is covered by ``explode_path_cells`` (the cells its path
    crosses, linear in its length; two crossing segments share the cell of
    their crossing point) and the two are equi-joined on ``cell``; the
    bbox-overlapping pairs are kept, then the properly crossing ones.  Every
    other column of both sides is carried (callers rename clashing ids).
    One row per (pair, shared cell): callers deduplicate and add their own
    id-order filters, which Catalyst pushes into the join condition.
    """
    ac = explode_path_cells(_renamed(a, a_seg, SEG_A), cell_deg, *SEG_A)
    bc = explode_path_cells(_renamed(b, b_seg, SEG_B), cell_deg, *SEG_B)
    return (
        ac.join(bc, "cell")
        .filter(_bbox_overlap())
        .filter(F.expr(sql_proper_cross()))
        .drop("cell")
    )


#: the segment columns of :func:`segments_of_lines` / :func:`segments_of_vertices`
_SEG = ("sax", "say", "sbx", "sby")


def segment_crossings(segs: DataFrame, cell_deg: float) -> DataFrame:
    """Proper crossings between segments of DIFFERENT lines, with the
    segments themselves: the :func:`crossing_pairs` self-join of ``segs``.

    Input: segments from :func:`segments_of_lines`, plus any other columns.
    One row per crossing pair, id_a < id_b: line_id -> id_a / id_b, seg_idx
    -> seg_a / seg_b, the two segments as SEG_A / SEG_B and every other
    column c of ``segs`` as c_a / c_b.

    Giant features (GAIT's AreaSizeCutoff special path, TT.c:44196, per
    SCALE.md) need no path of their own: the path cover grows with a
    segment's length, not with its bbox area: about (|dx| + |dy|) /
    ``cell_deg`` cells, not (|dx| / ``cell_deg``) x (|dy| / ``cell_deg``).
    """
    renamed = {"line_id": "id", "seg_idx": "seg"}
    cols = [c for c in segs.columns if c not in _SEG]

    def side(s):
        return segs.select(*[F.col(c).alias(f"{renamed.get(c, c)}_{s}") for c in cols], *_SEG)

    return (
        crossing_pairs(side("a"), side("b"), cell_deg, _SEG, _SEG)
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b", "seg_a", "seg_b"])
    )


def segment_intersections(segs: DataFrame, cell_deg: float = 0.01) -> DataFrame:
    """Proper crossings between segments of DIFFERENT lines (see
    :func:`segment_crossings`).

    Input: segments from :func:`segments_of_lines`.  Returns (id_a, id_b,
    seg_a, seg_b, ix_udeg, iy_udeg): ids ordered, and the intersection point
    in integer micro-degrees (floor) as the annotation.
    """
    ix, iy = sql_intersection_xy()
    return segment_crossings(segs.select("line_id", "seg_idx", *_SEG), cell_deg).select(
        "id_a",
        "id_b",
        "seg_a",
        "seg_b",
        F.expr(f"CAST(floor({ix} * 1000000.0) AS BIGINT)").alias("ix_udeg"),
        F.expr(f"CAST(floor({iy} * 1000000.0) AS BIGINT)").alias("iy_udeg"),
    )


def line_intersections(
    lines: DataFrame,
    id_col: str = "line_id",
    cell_deg: float = 0.01,
) -> DataFrame:
    """Proper crossings between segments of different array-form lines."""
    segs = segments_of_lines(lines, id_col)
    return segment_intersections(segs, cell_deg)


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
