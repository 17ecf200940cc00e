"""Point-in-polygon spatial hash join (the north rule's flagship operator).

Strategy (replaces GAIT's per-region nested loop, CheckRegion TT.c:43916 +
PointInsidePoly TT.c:6920):

1. **Cell encode** both sides onto an integer lon/lat grid: points to their
   single cell, polygons to every cell their bbox covers (the Spark analogue of
   GAIT's neighbor-region duplication, TT.c:44027-44030 /
   FindApplicableNeighborFeatures geomchecks.c:4602).
2. **Equi-join on cell id.** The polygon side carries only (poly_id, bbox,
   cell) — never vertex arrays — so the join output stays narrow.  Catalyst
   broadcasts the cover when it is small; AQE splits skewed cells otherwise.
3. **Exact refine** in a ``mapInPandas`` kernel: polygon vertex arrays travel
   once as a **Spark broadcast** (poly_id -> padded numpy rings), the kernel
   groups each Arrow batch by poly_id and runs the vectorized ray cast.
   Shipping vertices per-candidate-row through Arrow was measured 5-10x
   slower and anti-scaled (serialization bound) — see SCALE.md.

Because the probe side occupies exactly one cell, every (point, polygon) pair
can only meet in that cell — the join output is already duplicate-free and
the whole operator runs **without any shuffle** when the cover broadcasts.
For polygon sets too large to broadcast vertices (rare: continent mosaics),
``pip_join_shipped`` keeps the array-shipping variant.

The bbox prefilter before the kernel mirrors GAIT's minxvtx/maxxvtx prefilter
(share_linux.h:710) as a JVM-side predicate.
"""

from __future__ import annotations

from collections.abc import Iterator

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


def sql_ray3(px: str, py: str, tri: str = "") -> str:
    """SQL text of the even-odd ray-cast parity of (px, py) against the
    triangle {tri}x1..{tri}y3 (PointInsidePoly, TT.c:6920): true inside."""

    def edge(i: int, j: int) -> str:
        x1, y1, x2, y2 = f"{tri}x{i}", f"{tri}y{i}", f"{tri}x{j}", f"{tri}y{j}"
        return (
            f"CASE WHEN ({y1} > {py}) <> ({y2} > {py})"
            f" THEN CASE WHEN {px} < {x1} + ({py} - {y1}) * ({x2} - {x1})"
            f" / ({y2} - {y1}) THEN 1 ELSE 0 END ELSE 0 END"
        )

    return f"(({edge(1, 2)} + {edge(2, 3)} + {edge(3, 1)}) % 2 = 1)"


#: grid cell width in degrees for the spatial hash; 1 deg ~ 111 km. Chosen per
#: dataset density by plans/partitioning.choose_cell_deg at scale.
DEFAULT_CELL_DEG = 4.0


def cell_id(ix: Column, iy: Column) -> Column:
    """Pack (ix, iy) grid indexes into one BIGINT shuffle key.

    Valid for |ix|, |iy| < 2^30 — i.e. any cell width >= ~1e-6 deg.
    """
    return (ix.cast("bigint") + F.lit(1073741824)) * F.lit(2147483648) + (
        iy.cast("bigint") + F.lit(1073741824)
    )


def with_point_cell(df: DataFrame, lon: str, lat: str, cell_deg: float) -> DataFrame:
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


def _candidates(
    points: DataFrame,
    polys_meta: DataFrame,
    lon: str,
    lat: str,
    cell_deg: float,
) -> DataFrame:
    """Cell join + bbox prefilter; polys_meta = (poly_id, _minx.., cell)."""
    pts_cells = with_point_cell(points, lon, lat, cell_deg)
    joined = pts_cells.join(polys_meta, "cell")
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
    broadcast_max_vertex_bytes: int = BROADCAST_MAX_VERTEX_BYTES,
    kernel: str = "fast",
) -> DataFrame:
    """points (id, lon, lat, ...) x polys (id, xs: array, ys: array) -> matches.

    Auto-routed build side: the polygon vertex size is estimated with one
    cheap aggregate; codebook-sized sets broadcast (fastest, zero shuffle),
    while landcover-mosaic-sized sets (millions of rings) take the
    array-shipping variant instead of dying on a driver collect.
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
    if npoly * max_verts * 16 > broadcast_max_vertex_bytes:
        return pip_join_shipped(
            points, polys, point_id, lon, lat, poly_id, xs, ys, cell_deg
        )
    return _pip_join_broadcast(
        points, polys, point_id, lon, lat, poly_id, xs, ys, cell_deg, kernel
    )


def _pip_join_broadcast(
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
    """Broadcast-build variant: polygon vertices collected once and broadcast
    to the kernel workers (row-identical to the shipped variant).

    kernel="gait" swaps the refine predicate for the REFERENCE-EXACT
    PointInsidePoly transcription (functions/gait_parity.py, fuzzed
    bit-for-bit against the compiled C — TT.c:6920): identical answers off
    the boundary-degenerate set, reference tie-breaks ON it (vertex-on-ray
    collinear runs)."""
    spark = points.sparkSession
    ppd = polys.select(poly_id, xs, ys).toPandas()
    ids = ppd[poly_id].to_numpy()
    X, Y, V = pad_rings(ppd[xs].tolist(), ppd[ys].tolist())
    index = {int(p): i for i, p in enumerate(ids)}
    bpolys = spark.sparkContext.broadcast((index, X, Y))

    polys_meta = explode_bbox_cells(
        polys.select(
            F.col(poly_id),
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
    cands = _candidates(points, polys_meta, lon, lat, cell_deg)
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
    kernel: str = "fast",
) -> DataFrame:
    """pip_join with the hot-cell salt plan applied (north rule: "skew
    detected per-cell-histogram and hot cells split before shuffle").

    Row-identical to :func:`pip_join` — salting only reshapes the physical
    plan (probe rows scatter by stable hash over k salts; build rows
    replicate) — which is exactly what the shared oracle verifies.
    """
    from ..plans.partitioning import cell_histogram, salt_plan, salted_join

    spark = points.sparkSession
    ppd = polys.select(poly_id, xs, ys).toPandas()
    ids = ppd[poly_id].to_numpy()
    X, Y, V = pad_rings(ppd[xs].tolist(), ppd[ys].tolist())
    index = {int(p): i for i, p in enumerate(ids)}
    bpolys = spark.sparkContext.broadcast((index, X, Y))

    polys_meta = explode_bbox_cells(
        polys.select(
            F.col(poly_id),
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
    pts_cells = with_point_cell(points, lon, lat, cell_deg)
    plan = salt_plan(
        cell_histogram(pts_cells), target_rows_per_task=target_rows_per_task
    )
    joined = salted_join(pts_cells, polys_meta, plan, probe_id=point_id)
    cands = joined.filter(
        (F.col(lon) >= F.col("_minx"))
        & (F.col(lon) <= F.col("_maxx"))
        & (F.col(lat) >= F.col("_miny"))
        & (F.col(lat) <= F.col("_maxy"))
    ).drop("cell", "_minx", "_maxx", "_miny", "_maxy")
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
    polys_b = polys.select(
        F.col(poly_id),
        F.col(xs).alias("_pxs"),
        F.col(ys).alias("_pys"),
        F.array_min(xs).alias("_minx"),
        F.array_max(xs).alias("_maxx"),
        F.array_min(ys).alias("_miny"),
        F.array_max(ys).alias("_maxy"),
    )
    polys_cells = explode_bbox_cells(polys_b, "_minx", "_maxx", "_miny", "_maxy", cell_deg)
    pts_cells = with_point_cell(points, lon, lat, cell_deg)
    joined = pts_cells.join(polys_cells, "cell").filter(
        (F.col(lon) >= F.col("_minx"))
        & (F.col(lon) <= F.col("_maxx"))
        & (F.col(lat) >= F.col("_miny"))
        & (F.col(lat) <= F.col("_maxy"))
    )
    matched = joined.filter(_pip_udf(F.col(lon), F.col(lat), F.col("_pxs"), F.col("_pys")))
    return matched.drop("cell", "_pxs", "_pys", "_minx", "_maxx", "_miny", "_maxy")
