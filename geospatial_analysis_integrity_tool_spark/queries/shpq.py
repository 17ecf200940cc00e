"""Gated query sourced from REAL .shp/.dbf binary fixtures.

The fixture writer renders the geo_lines formula (sources/synthetic.py
GEO_LINES_SQL) in Python floats — IEEE arithmetic in the same association
order, so every coordinate is bit-identical to what the SQL view produces —
then packs it into an ESRI .shp (PolyLine) + dBASE .dbf pair.  The engine
reads both back through the DISTRIBUTED binary readers
(sources/shapefile.read_shp / read_dbf: binaryFile source + Arrow-batched
struct parsing; reference shpopen.c / dbfopen.c), joins geometry to
attributes on record number, and derives integer micro-degree facts.

The DuckDB oracle never sees the files: it re-derives the same features
relationally from `orders`.  Any byte-level parse or write defect (wrong
offsets, wrong endianness, flattened parts, bad field widths) changes the
engine's answer and fails the hash — this is the format round-trip gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import write_once
from ..sources.shapefile import read_dbf, read_shp, write_dbf, write_polyline_shp

N_FEATURES = 1000

_FCODES = ["AP030", "AT030", "BH140", "AN010", "AQ040"]


def _line(key: int) -> list[tuple[float, float]]:
    """Python rendering of GEO_LINES_SQL — same ops, same order, same bits."""
    x1 = ((key * 487) % 4000) / 1000.0 + 10.0
    y1 = ((key * 257) % 4000) / 1000.0 + 40.0
    x2 = ((key * 487) % 4000) / 1000.0 + 10.0 + (1 + (key % 7)) / 1000.0
    y2 = ((key * 257) % 4000) / 1000.0 + 40.0 + ((key * 11) % 5) / 10000.0
    if key % 41 == 0:
        x3 = (((key + 1) * 487) % 4000) / 1000.0 + 10.0 + 0.0000191
        y3 = (((key + 1) * 257) % 4000) / 1000.0 + 40.0 + 0.0000077
    elif key % 37 == 0:
        x3 = (
            ((key * 487) % 4000) / 1000.0 + 10.0
            + (1 + (key % 7)) / 1000.0
            - (1 + (key % 7)) / 1050.0
        )
        y3 = (
            ((key * 257) % 4000) / 1000.0 + 40.0
            + ((key * 11) % 5) / 10000.0
            + ((key * 13) % 7) / 10000.0
        )
    else:
        x3 = (
            ((key * 487) % 4000) / 1000.0 + 10.0
            + (1 + (key % 7)) / 1000.0
            + (1 + (key % 9)) / 1000.0
        )
        y3 = (
            ((key * 257) % 4000) / 1000.0 + 40.0
            + ((key * 11) % 5) / 10000.0
            + ((key * 13) % 7) / 10000.0
        )
    return [(x1, y1), (x2, y2), (x3, y3)]


def write_fixture() -> str:
    def write(d: str) -> None:
        keys = range(N_FEATURES)
        write_polyline_shp(os.path.join(d, "lines.shp"), [_line(k) for k in keys])
        fields = [("FCODE", "C", 5, 0), ("WID", "N", 6, 0)]
        recs = [(_FCODES[k % 5], 1 + k % 9) for k in keys]
        write_dbf(os.path.join(d, "lines.dbf"), fields, recs)

    return write_once("shp_v1", write)


def q_shp_dbf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = write_fixture()
    feats = read_shp(spark, d + "/*.shp").filter(F.col("shape_type") == 3)
    attrs = read_dbf(spark, d + "/*.dbf")
    fc = attrs.filter(F.col("attr") == "FCODE").select(
        "recno", F.col("value").alias("fcode")
    )
    wid = attrs.filter(F.col("attr") == "WID").select(
        "recno", F.expr("CAST(value AS BIGINT)").alias("wid")
    )
    manh = (
        "CAST(floor(abs(element_at(xs, 2) - element_at(xs, 1)) * 1000000.0) AS BIGINT)"
        " + CAST(floor(abs(element_at(xs, 3) - element_at(xs, 2)) * 1000000.0) AS BIGINT)"
        " + CAST(floor(abs(element_at(ys, 2) - element_at(ys, 1)) * 1000000.0) AS BIGINT)"
        " + CAST(floor(abs(element_at(ys, 3) - element_at(ys, 2)) * 1000000.0) AS BIGINT)"
    )
    return (
        feats.join(fc, "recno")
        .join(wid, "recno")
        .selectExpr(
            "CAST(recno - 1 AS BIGINT) AS line_id",
            "fcode",
            "wid",
            "CAST(size(xs) AS BIGINT) AS n_vertices",
            "CAST(floor(element_at(xs, 1) * 1000000.0) AS BIGINT) AS x1_udeg",
            "CAST(floor(element_at(ys, 3) * 1000000.0) AS BIGINT) AS y3_udeg",
            f"{manh} AS manhattan_udeg",
        )
    )


from ..sources.synthetic import GEO_VIEWS  # noqa: E402

ORACLE_SHP_DBF = f"""
WITH geo_lines AS ({GEO_VIEWS['geo_lines']})
SELECT CAST(line_id AS BIGINT) AS line_id,
       fcode,
       CAST(1 + line_id % 9 AS BIGINT) AS wid,
       CAST(3 AS BIGINT) AS n_vertices,
       CAST(floor(x1 * 1000000.0) AS BIGINT) AS x1_udeg,
       CAST(floor(y3 * 1000000.0) AS BIGINT) AS y3_udeg,
       CAST(floor(abs(x2 - x1) * 1000000.0) AS BIGINT)
       + CAST(floor(abs(x3 - x2) * 1000000.0) AS BIGINT)
       + CAST(floor(abs(y2 - y1) * 1000000.0) AS BIGINT)
       + CAST(floor(abs(y3 - y2) * 1000000.0) AS BIGINT) AS manhattan_udeg
FROM geo_lines
WHERE line_id < {N_FEATURES}
"""

QUERIES = {"shp_dbf_scan": q_shp_dbf_scan}
ORACLES = {"shp_dbf_scan": ORACLE_SHP_DBF}
