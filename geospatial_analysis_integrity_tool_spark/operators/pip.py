"""Cell-grid spatial hash joins: the point-in-polygon flagship and the
primitives every cell join in the package shares.

GAIT finds cross-tile pairs by also loading each region's neighbours
(CheckRegion TT.c:44027-44030, FindApplicableNeighborFeatures
geomchecks.c:4602).  The Spark analogue copies each feature into the cells
its bbox or 3x3 k-ring touches, equi-joins on the packed cell key, then
refines exactly.  This module owns one implementation of each step:

* ``cell_id`` packs (ix, iy) into one BIGINT key;
* ``with_point_cell`` puts a point in its single cell;
* ``with_kring_cells`` copies a point into its 3x3 k-ring;
* ``explode_bbox_cells`` copies a feature into every cell its bbox covers,
  and ``explode_seg_cells`` / ``explode_tri_cells`` do so for a segment /
  a triangle;
* ``explode_path_cells`` copies a segment into the cells its path crosses
  (the crossing join's cover: linear in the segment's length);
* ``band_join`` is the 1-D k-ring: a join on adjacent bands of one
  along-boundary coordinate (the edge-match checks);
* ``cell_deg_for_tolerance`` sizes the cell so a k=1 ring captures every
  pair within a metric tolerance.

The DuckDB oracles render the same cell keys as SQL text with
``oracle_point_cell`` (single cell), ``oracle_bbox_cells`` /
``oracle_seg_cells`` (bbox cover) and ``oracle_kring_cells`` (3x3 k-ring),
as (cellx, celly) column pairs.  The exact refines ``sql_ray_edge`` /
``sql_ray3`` (ray-cast parity) and ``sql_in_triangle`` are functions of the
columns they read, so every oracle passes its own (aliased) column names.

Point-in-polygon (replaces GAIT's per-region nested loop, CheckRegion
TT.c:43916 + PointInsidePoly TT.c:6920):

1. **Cell encode** both sides: points to their single cell, polygons to
   every cell their bbox covers.
2. **Equi-join on cell id.** The polygon side carries only (poly_id, bbox,
   cell) — never vertex arrays — so the join output stays narrow.  Catalyst
   broadcasts the cover when it is small; AQE splits skewed cells otherwise,
   and ``pip_join_salted`` splits hot cells explicitly.
3. **Exact refine** in a ``mapInPandas`` kernel: polygon vertex arrays travel
   once as a **Spark broadcast** (poly_id -> padded numpy rings), the kernel
   groups each Arrow batch by poly_id and runs the vectorized ray cast.
   ``pip_join`` and ``pip_join_salted`` share this refine and differ only in
   the join.  Shipping vertices per-candidate-row through Arrow was measured
   5-10x slower and anti-scaled (serialization bound) — see SCALE.md.

Because the probe side occupies exactly one cell, every (point, polygon) pair
can only meet in that cell — the join output is already duplicate-free and
the whole operator runs **without any shuffle** when the cover broadcasts.
For polygon sets too large to broadcast vertices (rare: continent mosaics),
``pip_join_shipped`` keeps the array-shipping variant.

The bbox prefilter before the kernel mirrors GAIT's minxvtx/maxxvtx prefilter
(share_linux.h:710) as a JVM-side predicate.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.geometry import pad_rings, pip_ray_cast, pip_ray_cast_ring

def sql_side(p: tuple[str, str], a: tuple[str, str], b: tuple[str, str]) -> str:
    """SQL text of (px-bx)*(ay-by) - (ax-bx)*(py-by): the side of edge a-b
    that point p lies on (the oracles' triangle sign test)."""
    px, py = p
    ax, ay = a
    bx, by = b
    return f"(({px} - {bx}) * ({ay} - {by}) - ({ax} - {bx}) * ({py} - {by}))"


def sql_in_triangle(px: str, py: str, tri: str = "z.") -> str:
    """SQL text of "(px, py) strictly inside the triangle {tri}x1..{tri}y3":
    the three sql_side signs agree and none is zero."""
    p = (px, py)
    v1, v2, v3 = ((f"{tri}x{i}", f"{tri}y{i}") for i in (1, 2, 3))
    d1, d2, d3 = sql_side(p, v1, v2), sql_side(p, v2, v3), sql_side(p, v3, v1)
    return (
        f"(({d1} > 0 AND {d2} > 0 AND {d3} > 0)"
        f" OR ({d1} < 0 AND {d2} < 0 AND {d3} < 0))"
    )


def sql_ray_edge(px: str, py: str, x1: str, y1: str, x2: str, y2: str) -> str:
    """SQL text of PointInsidePoly's per-edge test (TT.c:6920-6977): 1 when
    the eastward ray from (px, py) crosses the edge (x1, y1)-(x2, y2), else
    0.  The outer CASE guards the division (a straddle implies y1 <> y2) in
    both engines' ANSI modes; the parity of the sum over all ring edges is
    even-odd (hole-aware) containment."""
    return (
        f"CASE WHEN ({y1} > {py}) <> ({y2} > {py})"
        f" THEN CASE WHEN {px} < {x1} + ({py} - {y1}) * ({x2} - {x1})"
        f" / ({y2} - {y1}) THEN 1 ELSE 0 END ELSE 0 END"
    )


def sql_ray3(px: str, py: str, tri: str = "") -> str:
    """SQL text of the even-odd ray-cast parity of (px, py) against the
    triangle {tri}x1..{tri}y3 (PointInsidePoly, TT.c:6920): true inside."""

    def edge(i: int, j: int) -> str:
        return sql_ray_edge(
            px, py, f"{tri}x{i}", f"{tri}y{i}", f"{tri}x{j}", f"{tri}y{j}"
        )

    return f"(({edge(1, 2)} + {edge(2, 3)} + {edge(3, 1)}) % 2 = 1)"


#: default grid cell width in degrees for the PIP spatial hash; 1 deg ~ 111 km.
#: A fixed width: callers pass their own, and tolerance joins derive theirs
#: with cell_deg_for_tolerance.
DEFAULT_CELL_DEG = 4.0


def cell_id(ix: Column, iy: Column) -> Column:
    """Pack (ix, iy) grid indexes into one BIGINT shuffle key.

    Valid for |ix|, |iy| < 2^30 — i.e. any cell width >= ~1e-6 deg.
    """
    return (ix.cast("bigint") + F.lit(1073741824)) * F.lit(2147483648) + (
        iy.cast("bigint") + F.lit(1073741824)
    )


def with_point_cell(df: DataFrame, lon: str, lat: str, cell_deg: float) -> DataFrame:
    """One row per feature, keyed by the single cell its point falls in."""
    ix = F.floor(F.col(lon) / F.lit(cell_deg))
    iy = F.floor(F.col(lat) / F.lit(cell_deg))
    return df.withColumn("cell", cell_id(ix, iy))


def explode_bbox_cells(
    df: DataFrame,
    minx: str,
    maxx: str,
    miny: str,
    maxy: str,
    cell_deg: float,
) -> DataFrame:
    """One row per (feature, covered cell) — the duplicated build side."""
    ix0 = F.floor(F.col(minx) / F.lit(cell_deg))
    ix1 = F.floor(F.col(maxx) / F.lit(cell_deg))
    iy0 = F.floor(F.col(miny) / F.lit(cell_deg))
    iy1 = F.floor(F.col(maxy) / F.lit(cell_deg))
    return (
        df.withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .withColumn("cell", cell_id(F.col("_ix"), F.col("_iy")))
        .drop("_ix", "_iy")
    )


def explode_seg_cells(
    df: DataFrame, cell_deg: float, ax="ax", ay="ay", bx="bx", by="by", suffix=""
) -> DataFrame:
    """:func:`explode_bbox_cells` of the segments (ax, ay)-(bx, by) of
    ``df``, whose bbox is added as the columns _mnx, _mxx, _mny, _mxy (each
    name + ``suffix``) — the Spark twin of :func:`oracle_seg_cells`."""
    mnx, mxx, mny, mxy = (f"_{c}{suffix}" for c in ("mnx", "mxx", "mny", "mxy"))
    df = (
        df.withColumn(mnx, F.least(ax, bx))
        .withColumn(mxx, F.greatest(ax, bx))
        .withColumn(mny, F.least(ay, by))
        .withColumn(mxy, F.greatest(ay, by))
    )
    return explode_bbox_cells(df, mnx, mxx, mny, mxy, cell_deg)


#: slack (deg) of :func:`explode_path_cells`: far above double rounding at
#: |coord| <= 360, far below any cell width
PATH_SLACK_DEG = 1e-9


def explode_path_cells(
    df: DataFrame, cell_deg: float, ax="ax", ay="ay", bx="bx", by="by"
) -> DataFrame:
    """One row per (segment (ax, ay)-(bx, by) of ``df``, cell its path
    crosses): linear in the segment's length and a subset of
    :func:`explode_seg_cells`' bbox cover (GAIT clips a line to the regions
    it passes through, ClipLineToRegion geomchecks.c:201).

    In each column of the bbox, the segment's y-range between the column's
    x-edges is widened by ``PATH_SLACK_DEG`` (as are the edges), clipped to
    the bbox and exploded into rows; a vertical segment spans its bbox.  Two
    properly crossing segments share the cell of their crossing point.  The
    edges' y values are projected as their own columns, which keeps each
    generated method small enough for the JIT."""
    c, e, ix = F.lit(cell_deg), F.lit(PATH_SLACK_DEG), F.col("_ix")
    mnx, mxx = F.least(ax, bx), F.greatest(ax, bx)
    mny, mxy = F.least(ay, by), F.greatest(ay, by)

    def y_at(x: Column, vertical_y: Column) -> Column:
        # (x - ax) / dx is in [0, 1]: no overflow for a near-vertical segment
        t = (x - F.col(ax)) / (F.col(bx) - F.col(ax))
        y = F.col(ay) + t * (F.col(by) - F.col(ay))
        return F.when(F.col(ax) == F.col(bx), vertical_y).otherwise(y)

    lo = F.greatest(mny, F.least("_y0", "_y1") - e)
    hi = F.least(mxy, F.greatest("_y0", "_y1") + e)
    return (
        df.withColumn("_ix", F.explode(F.sequence(F.floor(mnx / c), F.floor(mxx / c))))
        .withColumns(
            {
                "_y0": y_at(F.greatest(mnx, ix * c - e), mny),
                "_y1": y_at(F.least(mxx, (ix + 1) * c + e), mxy),
            }
        )
        .withColumn("_iy", F.explode(F.sequence(F.floor(lo / c), F.floor(hi / c))))
        .select(*df.columns, cell_id(ix, F.col("_iy")).alias("cell"))
    )


def explode_tri_cells(df: DataFrame, cell_deg: float) -> DataFrame:
    """:func:`explode_bbox_cells` of the triangles (x1, y1)-(x2, y2)-(x3, y3)
    of ``df``, whose bbox is added as the columns _mnx, _mxx, _mny, _mxy."""
    df = df.withColumns(
        {
            "_mnx": F.least("x1", "x2", "x3"),
            "_mxx": F.greatest("x1", "x2", "x3"),
            "_mny": F.least("y1", "y2", "y3"),
            "_mxy": F.greatest("y1", "y2", "y3"),
        }
    )
    return explode_bbox_cells(df, "_mnx", "_mxx", "_mny", "_mxy", cell_deg)


def with_kring_cells(df: DataFrame, lon: str, lat: str, cell_deg: float) -> DataFrame:
    """One row per (feature, cell of its 3x3 k-ring): joined on ``cell``
    against :func:`with_point_cell`, every pair less than one cell width
    apart per axis meets exactly once."""
    ix = F.floor(F.col(lon) / F.lit(cell_deg))
    iy = F.floor(F.col(lat) / F.lit(cell_deg))
    one_ring = F.array(F.lit(-1), F.lit(0), F.lit(1))
    df = df.withColumn("_dx", F.explode(one_ring)).withColumn(
        "_dy", F.explode(one_ring)
    )
    return df.withColumn(
        "cell", cell_id(ix + F.col("_dx"), iy + F.col("_dy"))
    ).drop("_dx", "_dy")


#: band width (deg) of :func:`band_join`, ~11 m along a meridian
BAND_DEG = 0.0001


def band_join(left: DataFrame, right: DataFrame, left_u: str, right_u: str) -> DataFrame:
    """The 1-D case of :func:`with_kring_cells`: ``left`` x ``right`` pairs
    whose along-boundary coordinates ``left_u`` / ``right_u`` fall in the
    same or adjacent ``BAND_DEG`` bands.  Each left row keeps its single
    band and each right row is copied into its band and both neighbours, so
    every pair less than ``BAND_DEG`` apart in u meets exactly once."""
    band = F.floor(F.col(right_u) / F.lit(BAND_DEG))
    banded_left = left.withColumn("_band", F.floor(F.col(left_u) / F.lit(BAND_DEG)))
    banded_right = right.withColumn(
        "_band", F.explode(F.array(band - 1, band, band + 1))
    )
    return banded_left.join(banded_right, "_band").drop("_band")


def oracle_bbox_cells(
    src: str, out: str, minx: str, maxx: str, miny: str, maxy: str, cell_deg: float
) -> str:
    """DuckDB twin of :func:`explode_bbox_cells`: the CTEs ``{out}_x`` and
    ``{out}`` (materialized), one row of ``src`` per (cellx, celly) cell its
    bbox covers."""
    return f"""{out}_x AS (
  SELECT *, unnest(generate_series(CAST(floor({minx} / {cell_deg}) AS BIGINT),
                                   CAST(floor({maxx} / {cell_deg}) AS BIGINT))) AS cellx
  FROM {src}
),
{out} AS MATERIALIZED (
  SELECT *, unnest(generate_series(CAST(floor({miny} / {cell_deg}) AS BIGINT),
                                   CAST(floor({maxy} / {cell_deg}) AS BIGINT))) AS celly
  FROM {out}_x
)"""


def oracle_seg_cells(
    src: str, out: str, cell_deg: float, ax="ax", ay="ay", bx="bx", by="by"
) -> str:
    """:func:`oracle_bbox_cells` of the segments (ax, ay)-(bx, by) of
    ``src``: a ``{out}_pre`` CTE adds their bbox as _mnx, _mxx, _mny, _mxy."""
    pre = f"""{out}_pre AS (
  SELECT *, LEAST({ax}, {bx}) AS _mnx, GREATEST({ax}, {bx}) AS _mxx,
         LEAST({ay}, {by}) AS _mny, GREATEST({ay}, {by}) AS _mxy
  FROM {src}
),
"""
    return pre + oracle_bbox_cells(
        f"{out}_pre", out, "_mnx", "_mxx", "_mny", "_mxy", cell_deg
    )


def oracle_point_cell(px: str, py: str, cell_deg: float) -> str:
    """DuckDB twin of :func:`with_point_cell`: the select items ``cellx`` and
    ``celly`` of the single cell the point (px, py) falls in."""
    return (
        f"CAST(floor({px} / {cell_deg}) AS BIGINT) AS cellx,"
        f" CAST(floor({py} / {cell_deg}) AS BIGINT) AS celly"
    )


def oracle_kring_cells(src: str, out: str, cell_deg: float, px="px", py="py") -> str:
    """DuckDB twin of :func:`with_kring_cells`: the CTE ``{out}``
    (materialized), one row of ``src`` per (cellx, celly) of its 3x3 k-ring."""
    return f"""{out} AS MATERIALIZED (
  SELECT p.*, CAST(floor(p.{px} / {cell_deg}) AS BIGINT) + d.dx AS cellx,
         CAST(floor(p.{py} / {cell_deg}) AS BIGINT) + d.dy AS celly
  FROM {src} p,
       (SELECT dx.dx, dy.dy FROM (SELECT unnest([-1, 0, 1]) AS dx) dx,
                                 (SELECT unnest([-1, 0, 1]) AS dy) dy) d
)"""


def cell_deg_for_tolerance(tol_m: float, max_abs_lat_deg: float) -> float:
    """Cell width (deg) at which a k=1 ring captures every pair within tol_m.

    A pair within tol_m spans at most tol_m / (111319.5 * cos(lat)) degrees
    of longitude, which exceeds its latitude span, so the width is taken at
    the worst-case |latitude| of the data (clamped to 89 deg), widened by
    0.1% and floored at the 1e-6 deg that :func:`cell_id` can pack.
    """
    m_per_deg_lon = 111319.5 * math.cos(math.radians(min(abs(max_abs_lat_deg), 89.0)))
    return max(tol_m / m_per_deg_lon * 1.001, 1e-6)


def _poly_cells(
    polys: DataFrame, poly_id: str, xs: str, ys: str, cell_deg: float, *extra: Column
) -> DataFrame:
    """(poly_id, *extra, _minx, _maxx, _miny, _maxy, cell): each polygon's
    bbox copied into every cell it covers — never the vertex arrays unless
    ``extra`` carries them."""
    return explode_bbox_cells(
        polys.select(
            F.col(poly_id),
            *extra,
            F.array_min(xs).alias("_minx"),
            F.array_max(xs).alias("_maxx"),
            F.array_min(ys).alias("_miny"),
            F.array_max(ys).alias("_maxy"),
        ),
        "_minx",
        "_maxx",
        "_miny",
        "_maxy",
        cell_deg,
    )


def _in_bbox(joined: DataFrame, lon: str, lat: str) -> DataFrame:
    """bbox prefilter on the cell-join output, then drop the join columns."""
    return joined.filter(
        (F.col(lon) >= F.col("_minx"))
        & (F.col(lon) <= F.col("_maxx"))
        & (F.col(lat) >= F.col("_miny"))
        & (F.col(lat) <= F.col("_maxy"))
    ).drop("cell", "_minx", "_maxx", "_miny", "_maxy")


#: build sides whose padded vertex matrices would exceed this are not
#: collected/broadcast — the array-shipping variant runs instead
BROADCAST_MAX_VERTEX_BYTES = 256 * 1024 * 1024


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    cell_deg: float = DEFAULT_CELL_DEG,
    kernel: str = "fast",
) -> DataFrame:
    """points (id, lon, lat, ...) x polys (id, xs: array, ys: array) -> matches.

    Auto-routed build side: the polygon vertex size is estimated with one
    cheap aggregate; codebook-sized sets broadcast (fastest, zero shuffle),
    while landcover-mosaic-sized sets (millions of rings) take the
    array-shipping variant instead of dying on a driver collect.

    kernel="gait" swaps the refine predicate for the REFERENCE-EXACT
    PointInsidePoly transcription (functions/gait_parity.py, fuzzed
    bit-for-bit against the compiled C — TT.c:6920): identical answers off
    the boundary-degenerate set, reference tie-breaks ON it (vertex-on-ray
    collinear runs).  The shipped variant always runs the fast kernel.
    """
    est = polys.select(
        F.max(F.size(F.col(xs))).alias("mv"), F.count("*").alias("np")
    ).first()
    max_verts, npoly = (est["mv"] or 0), (est["np"] or 0)
    # pad_rings builds dense (n_polys x max_verts) float64 matrices for x and
    # y, so the broadcast is n_polys * max_verts * 16 bytes REGARDLESS of the
    # total vertex count — one 10k-vertex coastline among a million small
    # rings makes the padded matrix 10k wide for every row.  Route on the
    # true padded size, not the vertex sum.
    if npoly * max_verts * 16 > BROADCAST_MAX_VERTEX_BYTES:
        return pip_join_shipped(
            points, polys, point_id, lon, lat, poly_id, xs, ys, cell_deg
        )
    return _pip_refine_broadcast(
        points,
        polys,
        lambda pts_cells, poly_cells: pts_cells.join(poly_cells, "cell"),
        lon, lat, poly_id, xs, ys, cell_deg, kernel,
    )


def _pip_refine_broadcast(
    points: DataFrame,
    polys: DataFrame,
    join: Callable[[DataFrame, DataFrame], DataFrame],
    lon: str,
    lat: str,
    poly_id: str,
    xs: str,
    ys: str,
    cell_deg: float,
    kernel: str,
) -> DataFrame:
    """Broadcast-build refine shared by :func:`pip_join` and
    :func:`pip_join_salted`: polygon vertices are collected once and
    broadcast to the kernel workers (row-identical to the shipped variant);
    ``join(point_cells, poly_cells)`` pairs the two cell-encoded sides."""
    spark = points.sparkSession
    ppd = polys.select(poly_id, xs, ys).toPandas()
    ids = ppd[poly_id].to_numpy()
    X, Y, _ = pad_rings(ppd[xs].tolist(), ppd[ys].tolist())
    index = {int(p): i for i, p in enumerate(ids)}
    bpolys = spark.sparkContext.broadcast((index, X, Y))

    cands = _in_bbox(
        join(
            with_point_cell(points, lon, lat, cell_deg),
            _poly_cells(polys, poly_id, xs, ys, cell_deg),
        ),
        lon,
        lat,
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in cands.schema.fields
    )

    if kernel == "gait":
        from ..functions.gait_parity import point_inside_poly_gait_ring

        ring_test = lambda px, py, rx, ry: point_inside_poly_gait_ring(
            px, py, rx, ry
        ).astype(bool)
    else:
        ring_test = pip_ray_cast_ring

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index_, X_, Y_ = bpolys.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            keep = np.zeros(len(pdf), dtype=bool)
            for pid, grp in pdf.groupby(poly_id, sort=False):
                i = index_[int(pid)]
                ring_x = X_[i][~np.isnan(X_[i])]
                ring_y = Y_[i][~np.isnan(Y_[i])]
                pos = grp.index.to_numpy()
                keep[pos] = ring_test(
                    grp[lon].to_numpy(), grp[lat].to_numpy(), ring_x, ring_y
                )
            if keep.any():
                yield pdf.loc[keep]

    return cands.mapInPandas(refine, schema=out_schema)


def pip_join_salted(
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    cell_deg: float = DEFAULT_CELL_DEG,
    target_rows_per_task: int = 100_000,
) -> DataFrame:
    """pip_join with the hot-cell salt plan applied (north rule: "skew
    detected per-cell-histogram and hot cells split before shuffle").

    Row-identical to :func:`pip_join` — salting only reshapes the physical
    plan (probe rows scatter by stable hash over k salts; build rows
    replicate) — which is exactly what the shared oracle verifies.
    """
    from ..plans.partitioning import cell_histogram, salt_plan, salted_join

    def join(pts_cells: DataFrame, poly_cells: DataFrame) -> DataFrame:
        plan = salt_plan(
            cell_histogram(pts_cells), target_rows_per_task=target_rows_per_task
        )
        return salted_join(pts_cells, poly_cells, plan, probe_id=point_id)

    return _pip_refine_broadcast(
        points, polys, join, lon, lat, poly_id, xs, ys, cell_deg, "fast"
    )


@F.pandas_udf(BooleanType())
def _pip_udf(px: pd.Series, py: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
    if len(px) == 0:
        return pd.Series([], dtype=bool)
    return pd.Series(
        pip_ray_cast(px.to_numpy(), py.to_numpy(), xs.tolist(), ys.tolist()),
        index=px.index,
    )


def pip_join_shipped(
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    cell_deg: float = DEFAULT_CELL_DEG,
) -> DataFrame:
    """Array-shipping variant for polygon sets too large to broadcast: vertex
    arrays ride the join (heavier Arrow transfer) instead of a broadcast."""
    vertices = (F.col(xs).alias("_pxs"), F.col(ys).alias("_pys"))
    poly_cells = _poly_cells(polys, poly_id, xs, ys, cell_deg, *vertices)
    cands = _in_bbox(
        with_point_cell(points, lon, lat, cell_deg).join(poly_cells, "cell"), lon, lat
    )
    inside = _pip_udf(F.col(lon), F.col(lat), F.col("_pxs"), F.col("_pys"))
    return cands.filter(inside).drop("_pxs", "_pys")
