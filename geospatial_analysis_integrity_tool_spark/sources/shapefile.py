"""Minimal ESRI shapefile (.shp) reader/writer — the reference's primary
input format (embedded shapelib: shpopen.c; import driver shape_import.c,
type dispatch shape_import.c:8863-9009).

Implements the public SHP spec (ESRI whitepaper) with no external libraries:

* shape types: Point (1), PolyLine (3), Polygon (5), PointZ (11),
  PolyLineZ (13), PolygonZ (15), PointM (21), PolyLineM (23), PolygonM (25);
  null shapes (0).  M (measure) values are skipped — GAIT ignores them too.
* **multi-part handling**: each part (polyline part / polygon ring) becomes
  its OWN output row ``(source, recno, part, shape_type, xs, ys, zs)`` —
  flattening parts would add phantom segments connecting part ends, feeding
  false segments into SEGLEN/LOOPS/intersection checks (the reference splits
  multiparts at import: ShapeWriteArealLinear shape_import.c:4484).
* ``read_shp`` — the distributed path: ``binary_scan.scan_files`` (a
  ``binaryFile`` source over a glob), whose Arrow-batched kernel parses each
  file's bytes with numpy ``frombuffer`` into feature rows.  One task per
  file — shapefiles are bounded (2 GB by format), so per-file parallelism
  matches GAIT's per-layer ingest (SHAPE_IGNORE_LIMIT share_linux.h:134
  caps layer size similarly).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .binary_scan import scan_files

SHPT_NULL = 0
SHPT_POINT = 1
SHPT_MULTIPOINT = 8
SHPT_POLYLINE = 3
SHPT_POLYGON = 5
SHPT_POINTZ = 11
SHPT_POLYLINEZ = 13
SHPT_POLYGONZ = 15
SHPT_MULTIPOINTZ = 18
SHPT_POINTM = 21
SHPT_POLYLINEM = 23
SHPT_POLYGONM = 25
SHPT_MULTIPOINTM = 28
SHPT_MULTIPATCH = 31

_POLY_TYPES = {
    SHPT_POLYLINE,
    SHPT_POLYGON,
    SHPT_POLYLINEZ,
    SHPT_POLYGONZ,
    SHPT_POLYLINEM,
    SHPT_POLYGONM,
}
_MULTIPOINT_TYPES = {SHPT_MULTIPOINT, SHPT_MULTIPOINTZ, SHPT_MULTIPOINTM}
_Z_TYPES = {SHPT_POINTZ, SHPT_POLYLINEZ, SHPT_POLYGONZ, SHPT_MULTIPOINTZ}


def _header(shape_type: int, total_words: int, bbox: tuple[float, float, float, float]) -> bytes:
    return (
        struct.pack(">i", 9994)
        + b"\x00" * 20
        + struct.pack(">i", total_words)
        + struct.pack("<ii", 1000, shape_type)
        + struct.pack("<4d", *bbox)
        + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
    )


class ShpStreamWriter:
    """Incremental .shp writer: records stream to disk as they arrive; the
    100-byte header (total length + bounding box) is patched on ``close``.

    This is what lets the condition-shapefile export consume
    ``toLocalIterator()`` instead of ``collect()`` — only one record is ever
    resident on the driver (the .shp format is a single bounded file, so a
    driver-side writer is inherent; materializing the whole condition SET is
    not)."""

    def __init__(self, path: str, shape_type: int):
        self.shape_type = shape_type
        self._f = open(path, "wb")
        self._f.write(b"\x00" * 100)  # header placeholder, patched on close
        self.n = 0
        self._bbox: list[float] | None = None  # minx, miny, maxx, maxy

    def _grow(self, xs: list[float], ys: list[float]) -> None:
        if self._bbox is None:
            self._bbox = [min(xs), min(ys), max(xs), max(ys)]
        else:
            b = self._bbox
            b[0] = min(b[0], min(xs))
            b[1] = min(b[1], min(ys))
            b[2] = max(b[2], max(xs))
            b[3] = max(b[3], max(ys))

    def add_point(self, x: float, y: float) -> None:
        self.n += 1
        content = struct.pack("<i2d", SHPT_POINT, x, y)
        self._f.write(struct.pack(">ii", self.n, len(content) // 2) + content)
        self._grow([x], [y])

    def add_multipart(self, parts: list[list[tuple[float, ...]]]) -> None:
        has_z = self.shape_type in _Z_TYPES
        self.n += 1
        pts = [p for part in parts for p in part]
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        self._grow(xs, ys)
        content = struct.pack(
            "<i4dii",
            self.shape_type,
            min(xs), min(ys), max(xs), max(ys),
            len(parts), len(pts),
        )
        off = 0
        for part in parts:
            content += struct.pack("<i", off)
            off += len(part)
        for p in pts:
            content += struct.pack("<2d", p[0], p[1])
        if has_z:
            zs = [p[2] for p in pts]
            content += struct.pack("<2d", min(zs), max(zs))
            for z in zs:
                content += struct.pack("<d", z)
        self._f.write(struct.pack(">ii", self.n, len(content) // 2) + content)

    def add_multipoint(self, points: list[tuple[float, ...]]) -> None:
        """MULTIPOINT/Z record (spec 8/18): points = [(x, y[, z]), ...]."""
        has_z = self.shape_type == SHPT_MULTIPOINTZ
        self.n += 1
        xs = [p[0] for p in points]
        ys = [p[1] for p in points]
        self._grow(xs, ys)
        content = struct.pack(
            "<i4di", self.shape_type,
            min(xs), min(ys), max(xs), max(ys), len(points),
        )
        for p in points:
            content += struct.pack("<2d", p[0], p[1])
        if has_z:
            zs = [p[2] for p in points]
            content += struct.pack("<2d", min(zs), max(zs))
            for z in zs:
                content += struct.pack("<d", z)
        self._f.write(struct.pack(">ii", self.n, len(content) // 2) + content)

    def add_multipatch(
        self,
        parts: list[list[tuple[float, float, float]]],
        part_types: list[int],
    ) -> None:
        """MULTIPATCH record (spec 31): 3-D parts + per-part patch types
        (0 strip, 1 fan, 2 outer ring, 3 inner ring, 4 first ring, 5 ring)."""
        self.n += 1
        pts = [p for part in parts for p in part]
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        zs = [p[2] for p in pts]
        self._grow(xs, ys)
        content = struct.pack(
            "<i4dii", SHPT_MULTIPATCH,
            min(xs), min(ys), max(xs), max(ys), len(parts), len(pts),
        )
        off = 0
        for part in parts:
            content += struct.pack("<i", off)
            off += len(part)
        for t in part_types:
            content += struct.pack("<i", t)
        for p in pts:
            content += struct.pack("<2d", p[0], p[1])
        content += struct.pack("<2d", min(zs), max(zs))
        for z in zs:
            content += struct.pack("<d", z)
        self._f.write(struct.pack(">ii", self.n, len(content) // 2) + content)

    def close(self) -> None:
        total_words = self._f.tell() // 2
        bbox = tuple(self._bbox) if self._bbox else (0.0, 0.0, 0.0, 0.0)
        self._f.seek(0)
        self._f.write(_header(self.shape_type, total_words, bbox))
        self._f.close()


def write_point_shp(path: str, points: list[tuple[float, float]]) -> None:
    w = ShpStreamWriter(path, SHPT_POINT)
    for x, y in points:
        w.add_point(x, y)
    w.close()


def write_multipart_shp(
    path: str,
    shape_type: int,
    shapes: list[list[list[tuple[float, ...]]]],
) -> None:
    """Write PolyLine/Polygon (optionally Z): shapes[i] = list of parts, each
    part a list of (x, y) or (x, y, z) vertex tuples."""
    w = ShpStreamWriter(path, shape_type)
    for parts in shapes:
        w.add_multipart(parts)
    w.close()


def write_polyline_shp(path: str, lines: list[list[tuple[float, float]]]) -> None:
    """Single-part polylines (back-compat fixture writer)."""
    write_multipart_shp(path, SHPT_POLYLINE, [[ln] for ln in lines])


def write_polygon_shp(path: str, polygons: list[list[list[tuple[float, float]]]]) -> None:
    """Polygons with rings: polygons[i] = [outer_ring, hole_ring, ...]."""
    write_multipart_shp(path, SHPT_POLYGON, polygons)


def parse_shp_bytes(data: bytes, source: str) -> pd.DataFrame:
    """One .shp file -> rows (source, recno, part, shape_type, xs, ys, zs).

    Multi-part shapes emit one row per part (never flattened); M values are
    skipped; Z values fill zs (empty for 2D types).
    """
    if len(data) < 100 or struct.unpack(">i", data[:4])[0] != 9994:
        raise ValueError(f"{source}: not a shapefile (bad file code)")
    rows = []
    off = 100
    n = len(data)
    while off + 8 <= n:
        recno, content_words = struct.unpack(">ii", data[off : off + 8])
        off += 8
        content = data[off : off + content_words * 2]
        off += content_words * 2
        if len(content) < 4:
            break
        stype = struct.unpack("<i", content[:4])[0]
        if stype == SHPT_NULL:
            rows.append((source, recno, 0, stype, [], [], []))
        elif stype in (SHPT_POINT, SHPT_POINTM):
            x, y = struct.unpack("<2d", content[4:20])
            rows.append((source, recno, 0, stype, [x], [y], []))
        elif stype == SHPT_POINTZ:
            x, y, z = struct.unpack("<3d", content[4:28])
            rows.append((source, recno, 0, stype, [x], [y], [z]))
        elif stype in _POLY_TYPES:
            numparts, numpoints = struct.unpack("<ii", content[36:44])
            parts = np.frombuffer(content, dtype="<i4", count=numparts, offset=44)
            pts_off = 44 + 4 * numparts
            pts = np.frombuffer(
                content, dtype="<f8", count=2 * numpoints, offset=pts_off
            ).reshape(numpoints, 2)
            zvals = None
            if stype in _Z_TYPES:
                z_off = pts_off + 16 * numpoints + 16  # skip zmin/zmax
                zvals = np.frombuffer(content, dtype="<f8", count=numpoints, offset=z_off)
            bounds = list(parts) + [numpoints]
            for p in range(numparts):
                lo, hi = bounds[p], bounds[p + 1]
                rows.append(
                    (
                        source,
                        recno,
                        p,
                        stype,
                        pts[lo:hi, 0].tolist(),
                        pts[lo:hi, 1].tolist(),
                        zvals[lo:hi].tolist() if zvals is not None else [],
                    )
                )
        elif stype in _MULTIPOINT_TYPES:
            # MULTIPOINT/Z/M (spec: bbox + numpoints + xy [+ zrange + z]):
            # one row PER POINT (part = point index), mirroring how the
            # reference splits multipoint records into point features at
            # import (ShapeWritePoint shape_import.c:4756)
            (numpoints,) = struct.unpack("<i", content[36:40])
            pts = np.frombuffer(
                content, dtype="<f8", count=2 * numpoints, offset=40
            ).reshape(numpoints, 2)
            zvals = None
            if stype == SHPT_MULTIPOINTZ:
                z_off = 40 + 16 * numpoints + 16  # skip zmin/zmax
                zvals = np.frombuffer(content, dtype="<f8", count=numpoints, offset=z_off)
            for p in range(numpoints):
                rows.append(
                    (
                        source, recno, p, stype,
                        [float(pts[p, 0])], [float(pts[p, 1])],
                        [float(zvals[p])] if zvals is not None else [],
                    )
                )
        elif stype == SHPT_MULTIPATCH:
            # MULTIPATCH (spec: bbox + numparts + numpoints + parts[] +
            # partTypes[] + xy + zrange + z): one row per part; the part
            # TYPE (strip/fan/ring) is not carried — the reference likewise
            # reduces patches to areal rings at import
            # (shape_import.c:8863-9009 dispatch)
            numparts, numpoints = struct.unpack("<ii", content[36:44])
            parts = np.frombuffer(content, dtype="<i4", count=numparts, offset=44)
            pts_off = 44 + 8 * numparts  # parts[] then partTypes[]
            pts = np.frombuffer(
                content, dtype="<f8", count=2 * numpoints, offset=pts_off
            ).reshape(numpoints, 2)
            z_off = pts_off + 16 * numpoints + 16  # skip zmin/zmax
            zvals = np.frombuffer(content, dtype="<f8", count=numpoints, offset=z_off)
            bounds = list(parts) + [numpoints]
            for p in range(numparts):
                lo, hi = bounds[p], bounds[p + 1]
                rows.append(
                    (
                        source, recno, p, stype,
                        pts[lo:hi, 0].tolist(), pts[lo:hi, 1].tolist(),
                        zvals[lo:hi].tolist(),
                    )
                )
        else:
            raise ValueError(f"{source}: unsupported shape type {stype}")
    return pd.DataFrame(
        rows, columns=["source", "recno", "part", "shape_type", "xs", "ys", "zs"]
    )


SHP_SCHEMA = (
    "source string, recno int, part int, shape_type int,"
    " xs array<double>, ys array<double>, zs array<double>"
)


def read_shp(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed shapefile scan: binaryFile source + parse kernel."""
    return scan_files(spark, path_glob, parse_shp_bytes, SHP_SCHEMA)


# --- .dbf attribute tables (dbfopen.c; public Xbase DBF layout) ----------------


class DbfStreamWriter:
    """Incremental dBASE III .dbf writer; the record count (header offset 4)
    is patched on ``close``, so records can stream from ``toLocalIterator``."""

    def __init__(self, path: str, fields: list[tuple[str, str, int, int]]):
        self.fields = fields
        hdr_size = 32 + 32 * len(fields) + 1
        rec_size = 1 + sum(f[2] for f in fields)
        self._f = open(path, "wb")
        self._f.write(
            struct.pack("<B3BIHH20x", 0x03, 95, 7, 26, 0, hdr_size, rec_size)
        )
        for name, ftype, flen, fdec in fields:
            self._f.write(
                struct.pack(
                    "<11sc4xBB14x", name.encode()[:10].ljust(11, b"\x00"),
                    ftype.encode(), flen, fdec,
                )
            )
        self._f.write(b"\x0d")
        self.n = 0

    def add(self, rec: tuple) -> None:
        self.n += 1
        out = bytearray(b" ")  # not deleted
        for (name, ftype, flen, fdec), val in zip(self.fields, rec):
            if val is None:
                s = b" " * flen
            elif ftype == "C":
                s = str(val).encode()[:flen].ljust(flen, b" ")
            elif ftype in ("N", "F"):
                # dBASE numeric overflow convention: a value wider than the
                # field is written as '*'-fill (shapelib DBFWriteAttribute
                # does the same), never silently left-truncated
                rendered = (
                    (f"%{flen}.{fdec}f" % float(val))
                    if fdec
                    else (f"%{flen}d" % int(val))
                ).encode()
                s = b"*" * flen if len(rendered) > flen else rendered
            elif ftype == "L":
                s = (b"T" if val else b"F").ljust(flen, b" ")
            else:
                s = str(val).encode()[:flen].ljust(flen, b" ")
            out += s
        self._f.write(bytes(out))

    def close(self) -> None:
        self._f.write(b"\x1a")
        self._f.seek(4)
        self._f.write(struct.pack("<I", self.n))
        self._f.close()


def write_dbf(
    path: str,
    fields: list[tuple[str, str, int, int]],
    records: list[tuple],
) -> None:
    """Write a dBASE III .dbf: fields = [(name<=10, type C/N/F/L/D, len, dec)].

    Values are rendered fixed-width ASCII exactly as shapelib's DBFWrite*
    family does (left-justified C, right-justified N).
    """
    w = DbfStreamWriter(path, fields)
    for rec in records:
        w.add(rec)
    w.close()


def parse_dbf_bytes(data: bytes, source: str) -> pd.DataFrame:
    """One .dbf file -> long-form rows (source, recno, attr, dtype, value).

    Typed values stay as trimmed strings (the attrs-long form casts them
    downstream exactly like GAIT's long_attr_list carries Cvalue alongside
    Ivalue/Dvalue, share_linux.h:898-919).
    """
    if len(data) < 32 or data[0] not in (0x03, 0x83):
        raise ValueError(f"{source}: not a dBASE III .dbf")
    nrec, hdr_size, rec_size = struct.unpack("<IHH", data[4:12])
    fields = []
    off = 32
    while off < hdr_size - 1 and data[off] != 0x0D:
        name = data[off : off + 11].split(b"\x00")[0].decode("ascii", "replace")
        ftype = chr(data[off + 11])
        flen = data[off + 16]
        fields.append((name, ftype, flen))
        off += 32
    rows = []
    base = hdr_size
    for r in range(nrec):
        roff = base + r * rec_size
        if roff + rec_size > len(data):
            break
        if data[roff : roff + 1] == b"*":  # deleted record
            continue
        coff = roff + 1
        for name, ftype, flen in fields:
            raw = data[coff : coff + flen].decode("ascii", "replace").strip()
            rows.append((source, r + 1, name, ftype, raw))
            coff += flen
    return pd.DataFrame(rows, columns=["source", "recno", "attr", "dtype", "value"])


DBF_SCHEMA = "source string, recno int, attr string, dtype string, value string"


def read_dbf(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed .dbf scan -> long-form attribute rows."""
    return scan_files(spark, path_glob, parse_dbf_bytes, DBF_SCHEMA)
