"""DEM source readers — GAIT's grid import stage (SURVEY.md §2.1 DEM scan).

Reference: GAIT imports DTED, Grid-ASCII, and GeoTIFF DEMs into flat
elevation bins (import decls share_linux.h:1046-1050; GeoTIFF via GDAL in
import_geotiff.cpp:29).  This module implements the PUBLIC ESRI ASCII grid
format (the `import_gridascii` path) natively:

    ncols 50
    nrows 50
    xllcorner 10.0
    yllcorner 40.0
    cellsize 0.01
    NODATA_value -9999
    <nrows lines of ncols values, NORTH to SOUTH>

``read_gridascii`` is the distributed path: ``binaryFile`` source + a numpy
``loadtxt``-style kernel per file; rows are flipped so ``elevs`` is row-major
from the SOUTH-WEST corner — the same layout as the engine's tiles table
(MultiGrids.Elevs semantics, share_linux.h:332-345).

``read_dted`` implements the DTED cell format natively (MIL-PRF-89020B is a
public spec; reference importer dted_import.c — UHL struct :37-56, origin /
spacing conversion :218-221, per-longitude-line record loop :776-806):

* UHL (80 bytes, ASCII): origin in DDDMMSSH, spacing in tenths of
  arc-seconds, line/point counts; DSI 648 bytes and ACC 2700 bytes skipped
  after their sentinels are validated.
* one data record per LONGITUDE line: 8-byte header (0xAA sentinel +
  3-byte block count + lon/lat counts) + big-endian int16 posts running
  SOUTH -> NORTH + 4-byte checksum (arithmetic byte sum, verified).
* signed-magnitude negatives (0x8000 bit) are decoded per the spec; GAIT
  reads raw two's-complement int16 (dted_import.c:776-793), identical for
  the non-negative posts real terrain uses.
* output is transposed to the engine's SW-row-major ``elevs`` layout, the
  same tiles-row shape as Grid-ASCII.

``read_geotiff`` covers the UNCOMPRESSED GeoTIFF core natively (the
reference imports GeoTIFF through GDAL, import_geotiff.cpp:29; the TIFF 6.0
container and the GeoTIFF georeferencing tags are public specs):

* classic TIFF header (II little-endian or MM big-endian), IFD walk over
  12-byte entries; baseline tags 256/257 (dims), 258 BitsPerSample=16,
  259 Compression=1 (uncompressed only — compressed data needs codecs),
  273/279 strip offsets/byte counts, 278 RowsPerStrip, 339 SampleFormat=2
  (signed int16 posts);
* GeoTIFF tags 33550 ModelPixelScale and 33922 ModelTiepoint give the
  origin and post spacing;
* strips concatenate to the raster top-down; output flips to the engine's
  SW-row-major ``elevs`` layout.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .binary_scan import scan_files


def write_gridascii(
    path: str,
    elevs_sw_rowmajor: np.ndarray,  # (nrows, ncols), row 0 = SOUTH
    x0: float,
    y0: float,
    cellsize: float,
    nodata: float = -9999.0,
) -> None:
    nrows, ncols = elevs_sw_rowmajor.shape
    with open(path, "w") as f:
        f.write(f"ncols {ncols}\n")
        f.write(f"nrows {nrows}\n")
        f.write(f"xllcorner {x0!r}\n")
        f.write(f"yllcorner {y0!r}\n")
        f.write(f"cellsize {cellsize!r}\n")
        f.write(f"NODATA_value {nodata!r}\n")
        for r in range(nrows - 1, -1, -1):  # file runs north -> south
            f.write(" ".join(f"{v:.1f}" for v in elevs_sw_rowmajor[r]) + "\n")


def parse_gridascii_bytes(data: bytes, source: str) -> pd.DataFrame:
    """One .asc file -> one tiles row (source, ncols, nrows, x0, y0,
    cellsize, nodata, elevs) with elevs row-major from the SW corner."""
    text = data.decode("ascii")
    lines = text.splitlines()
    hdr: dict[str, float] = {}
    body_start = 0
    for i, ln in enumerate(lines):
        parts = ln.split()
        if len(parts) == 2 and parts[0].lower() in (
            "ncols", "nrows", "xllcorner", "yllcorner", "cellsize", "nodata_value"
        ):
            hdr[parts[0].lower()] = float(parts[1])
            body_start = i + 1
        else:
            break
    for req in ("ncols", "nrows", "xllcorner", "yllcorner", "cellsize"):
        if req not in hdr:
            raise ValueError(f"{source}: missing Grid-ASCII header field {req}")
    ncols = int(hdr["ncols"])
    nrows = int(hdr["nrows"])
    vals = np.array(" ".join(lines[body_start:]).split(), dtype=np.float64)
    if len(vals) != ncols * nrows:
        raise ValueError(
            f"{source}: expected {ncols * nrows} posts, found {len(vals)}"
        )
    grid_ns = vals.reshape(nrows, ncols)  # file order: north -> south
    grid_sw = grid_ns[::-1]               # row 0 = south
    return pd.DataFrame(
        [
            (
                source,
                ncols,
                nrows,
                hdr["xllcorner"],
                hdr["yllcorner"],
                hdr["cellsize"],
                hdr.get("nodata_value", -9999.0),
                grid_sw.reshape(-1).tolist(),
            )
        ],
        columns=[
            "source", "ncols", "nrows", "x0", "y0", "cellsize", "nodata", "elevs",
        ],
    )


GRIDASCII_SCHEMA = (
    "source string, ncols int, nrows int, x0 double, y0 double,"
    " cellsize double, nodata double, elevs array<double>"
)


# --- DTED (MIL-PRF-89020B; reference importer dted_import.c) -------------------

_DTED_UHL_LEN = 80
_DTED_DSI_LEN = 648
_DTED_ACC_LEN = 2700


def _dms_field(deg: int, minutes: int, sec: int, hem: str, deg_width: int) -> bytes:
    return f"{deg:0{deg_width}d}{minutes:02d}{sec:02d}{hem}".encode("ascii")


def write_dted(
    path: str,
    elevs_sw_rowmajor: np.ndarray,  # (nlat, nlon) int posts, row 0 = SOUTH
    lon_deg: int,
    lat_deg: int,
    lon_hem: str = "E",
    lat_hem: str = "N",
    spacing_dsec: int = 300,  # tenths of arc-seconds (300 = DTED level 1)
) -> None:
    """Write a spec-shaped DTED cell (UHL+DSI+ACC + checksummed records)."""
    nlat, nlon = elevs_sw_rowmajor.shape
    uhl = (
        b"UHL1"
        + _dms_field(lon_deg, 0, 0, lon_hem, 3)
        + _dms_field(lat_deg, 0, 0, lat_hem, 3)
        + f"{spacing_dsec:04d}".encode()
        + f"{spacing_dsec:04d}".encode()
        + b"0010"      # absolute vertical accuracy
        + b"U  "       # security classification
        + b" " * 12    # unique reference
        + f"{nlon:04d}".encode()
        + f"{nlat:04d}".encode()
        + b"0"         # multiple accuracy
        + b" " * 24
    )
    assert len(uhl) == _DTED_UHL_LEN
    dsi = b"DSI" + b"U" + b" " * (_DTED_DSI_LEN - 4)
    acc = b"ACC" + b"0010" * 4 + b" " * (_DTED_ACC_LEN - 3 - 16)
    out = bytearray(uhl + dsi + acc)
    col_major = elevs_sw_rowmajor.T  # (nlon, nlat): one record per lon line
    for c in range(nlon):
        vals = col_major[c].astype(np.int64)
        mags = np.where(vals < 0, (-vals) | 0x8000, vals).astype(">u2")
        rec = bytearray(
            b"\xaa"
            + int(c).to_bytes(3, "big")
            + int(c).to_bytes(2, "big")
            + (0).to_bytes(2, "big")
            + mags.tobytes()
        )
        checksum = sum(rec) & 0xFFFFFFFF
        rec += checksum.to_bytes(4, "big")
        out += rec
    with open(path, "wb") as f:
        f.write(bytes(out))


def parse_dted_bytes(data: bytes, source: str) -> pd.DataFrame:
    """One DTED cell -> one tiles row (source, ncols, nrows, x0, y0,
    xspace_dsec, yspace_dsec, elevs) with elevs row-major from the SW corner
    (ncols = lon posts, nrows = lat posts).

    Origin conversion mirrors dted_import.c:218-230 (deg + min/60 + sec/3600,
    hemisphere sign); spacing is kept in exact integer tenths of arc-seconds
    (the UHL's own unit) so downstream facts stay integer.
    """
    if len(data) < _DTED_UHL_LEN or data[:4] != b"UHL1":
        raise ValueError(f"{source}: not a DTED cell (missing UHL1)")
    uhl = data[:_DTED_UHL_LEN]

    def _ascii_int(b: bytes) -> int:
        return int(b.decode("ascii"))

    xdeg, xmin, xsec = _ascii_int(uhl[4:7]), _ascii_int(uhl[7:9]), _ascii_int(uhl[9:11])
    xhem = chr(uhl[11])
    ydeg, ymin, ysec = _ascii_int(uhl[12:15]), _ascii_int(uhl[15:17]), _ascii_int(uhl[17:19])
    yhem = chr(uhl[19])
    xspace_dsec = _ascii_int(uhl[20:24])
    yspace_dsec = _ascii_int(uhl[24:28])
    nlon = _ascii_int(uhl[47:51])
    nlat = _ascii_int(uhl[51:55])
    x0 = float(xdeg) + float(xmin) / 60.0 + float(xsec) / 3600.0
    y0 = float(ydeg) + float(ymin) / 60.0 + float(ysec) / 3600.0
    if xhem == "W":
        x0 = x0 * -1.0
    if yhem == "S":
        y0 = y0 * -1.0

    off = _DTED_UHL_LEN
    if data[off : off + 3] != b"DSI":
        raise ValueError(f"{source}: missing DSI record")
    off += _DTED_DSI_LEN
    if data[off : off + 3] != b"ACC":
        raise ValueError(f"{source}: missing ACC record")
    off += _DTED_ACC_LEN

    rec_len = 8 + 2 * nlat + 4
    grid = np.empty((nlon, nlat), dtype=np.int64)
    for c in range(nlon):
        rec = data[off : off + rec_len]
        if len(rec) < rec_len or rec[0] != 0xAA:
            raise ValueError(f"{source}: bad data record sentinel at line {c}")
        expect = int.from_bytes(rec[-4:], "big")
        got = sum(rec[:-4]) & 0xFFFFFFFF
        if got != expect:
            raise ValueError(f"{source}: checksum mismatch at line {c}")
        raw = np.frombuffer(rec, dtype=">u2", count=nlat, offset=8).astype(np.int64)
        grid[c] = np.where(raw & 0x8000, -(raw & 0x7FFF), raw)
        off += rec_len

    elevs_sw = grid.T  # (nlat rows from south, nlon cols from west)
    return pd.DataFrame(
        [
            (
                source, nlon, nlat, x0, y0, xspace_dsec, yspace_dsec,
                elevs_sw.reshape(-1).tolist(),
            )
        ],
        columns=[
            "source", "ncols", "nrows", "x0", "y0",
            "xspace_dsec", "yspace_dsec", "elevs",
        ],
    )


DTED_SCHEMA = (
    "source string, ncols int, nrows int, x0 double, y0 double,"
    " xspace_dsec int, yspace_dsec int, elevs array<bigint>"
)


def read_dted(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed DTED scan: binaryFile source + parse kernel, one task per
    cell file (a DTED cell is bounded: <= 3601x3601 posts)."""
    return scan_files(spark, path_glob, parse_dted_bytes, DTED_SCHEMA)


# --- GeoTIFF (TIFF 6.0 + GeoTIFF spec; uncompressed, PackBits, LZW) ------------

_TIFF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 11: 4, 12: 8}

COMPRESSION_NONE = 1
COMPRESSION_LZW = 5
COMPRESSION_DEFLATE = 8          # "Adobe" Deflate (TIFF TechNote 2)
COMPRESSION_DEFLATE_OLD = 32946  # legacy Deflate code, same stream format
COMPRESSION_PACKBITS = 32773


def packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits: runs of 2-128 equal bytes -> (257-n, byte);
    literal spans of 1-128 -> (n-1, bytes)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # measure run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
            continue
        # literal span until next run of >= 3 (a 2-run inside a literal is
        # cheaper kept literal) or 128 bytes
        lit = i
        while j < n and j - lit < 128:
            k = j + 1
            while k < n and k - j < 128 and data[k] == data[j]:
                k += 1
            if k - j >= 3:
                break
            j = k
        j = min(j, lit + 128)
        out.append(j - lit - 1)
        out.extend(data[lit:j])
        i = j
    return bytes(out)


def packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        i += 1
        if b < 128:  # literal: next b+1 bytes
            out.extend(data[i : i + b + 1])
            i += b + 1
        elif b > 128:  # run: next byte repeated 257-b times
            out.extend(data[i : i + 1] * (257 - b))
            i += 1
        # b == 128: noop
    return bytes(out)


_LZW_CLEAR = 256
_LZW_EOI = 257


def lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW with the standard "early change" code-width switch
    (width increments when the next code reaches 2^width - 1, as libtiff
    writes).  MSB-first bit packing."""
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(_LZW_CLEAR, width)
    prefix = b""
    for byte in data:
        cand = prefix + bytes([byte])
        if cand in table:
            prefix = cand
            continue
        put(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code >= 4094:  # table nearly full: clear and restart
            put(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        prefix = bytes([byte])
    if prefix:
        put(table[prefix], width)
    put(_LZW_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None

    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        if code == _LZW_EOI:
            return bytes(out)
        if code == _LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code} > table")
        out.extend(entry)
        prev = entry
        # the decoder's table lags the encoder's by one entry, so the
        # early-change width switch lands at 2^w - 2 here (libtiff's
        # maxcode convention), matching the encoder's switch at 2^w - 1
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1


def write_geotiff(
    path: str,
    elevs_sw_rowmajor: np.ndarray,  # (nrows, ncols) int16 posts, row 0 = SOUTH
    x0: float,
    y0: float,
    cellsize: float,
    rows_per_strip: int = 16,
    compression: str = "none",  # "none" | "packbits" | "lzw"
    predictor: int = 1,  # 1 = none, 2 = horizontal differencing (w/ lzw)
) -> None:
    """Minimal single-band int16 GeoTIFF (little-endian): baseline
    dims/strip tags + ModelPixelScale + ModelTiepoint; strips optionally
    PackBits- or LZW-compressed (TIFF 6.0 §9/§13), LZW optionally with the
    horizontal-differencing predictor (tag 317 = 2) on int16 samples."""
    nrows, ncols = elevs_sw_rowmajor.shape
    grid_ns = elevs_sw_rowmajor[::-1].astype("<i2")  # TIFF row 0 = NORTH
    if predictor == 2:
        grid_ns = grid_ns.astype(np.int16).copy()
        grid_ns[:, 1:] = grid_ns[:, 1:] - grid_ns[:, :-1]
        grid_ns = grid_ns.astype("<i2")
    import zlib

    comp_tag = {
        "none": COMPRESSION_NONE,
        "packbits": COMPRESSION_PACKBITS,
        "lzw": COMPRESSION_LZW,
        "deflate": COMPRESSION_DEFLATE,
    }[compression]
    codec = {
        "none": lambda b: b,
        "packbits": packbits_encode,
        "lzw": lzw_encode,
        "deflate": zlib.compress,
    }[compression]
    strips = [
        codec(grid_ns[r : r + rows_per_strip].tobytes())
        for r in range(0, nrows, rows_per_strip)
    ]
    n_strips = len(strips)

    # layout: header(8) | IFD | tag overflow arrays | strip data
    n_tags = 12 + (1 if predictor == 2 else 0)
    ifd_off = 8
    ifd_size = 2 + n_tags * 12 + 4
    aux_off = ifd_off + ifd_size
    aux = bytearray()

    def aux_put(data: bytes) -> int:
        off = aux_off + len(aux)
        aux.extend(data)
        return off

    strip_counts = [len(s) for s in strips]
    # reserve aux for strip offset/count arrays (if >1 strip), pixel scale,
    # tiepoint; strip data begins after aux
    entries: list[tuple[int, int, int, int]] = []  # tag, type, count, value

    def val_or_off(tag, typ, count, data: bytes, inline_val: int | None):
        size = _TIFF_TYPE_SIZES[typ] * count
        if size <= 4 and inline_val is not None:
            entries.append((tag, typ, count, inline_val))
        else:
            entries.append((tag, typ, count, aux_put(data)))

    entries.append((256, 4, 1, ncols))   # ImageWidth
    entries.append((257, 4, 1, nrows))   # ImageLength
    entries.append((258, 3, 1, 16))      # BitsPerSample
    entries.append((259, 3, 1, comp_tag))  # Compression
    entries.append((262, 3, 1, 1))       # Photometric = BlackIsZero
    # StripOffsets (patched after aux is final)
    strip_off_entry_idx = len(entries)
    if n_strips == 1:
        entries.append((273, 4, 1, 0))
    else:
        entries.append((273, 4, n_strips, aux_put(b"\x00" * 4 * n_strips)))
    entries.append((277, 3, 1, 1))       # SamplesPerPixel
    entries.append((278, 4, 1, rows_per_strip))
    if n_strips == 1:
        entries.append((279, 4, 1, strip_counts[0]))
    else:
        entries.append(
            (279, 4, n_strips, aux_put(struct.pack(f"<{n_strips}I", *strip_counts)))
        )
    entries.append((339, 3, 1, 2))       # SampleFormat = signed int
    if predictor == 2:
        entries.append((317, 3, 1, 2))   # Predictor = horizontal differencing
    val_or_off(
        33550, 12, 3, struct.pack("<3d", cellsize, cellsize, 0.0), None
    )  # ModelPixelScale
    # ModelTiepoint: raster (0,0) = NW corner = (x0, y0 + nrows*cellsize)
    val_or_off(
        33922, 12, 6,
        struct.pack("<6d", 0.0, 0.0, 0.0, x0, y0 + nrows * cellsize, 0.0),
        None,
    )
    assert len(entries) == n_tags

    data_off = aux_off + len(aux)
    offs = []
    pos = data_off
    for c in strip_counts:
        offs.append(pos)
        pos += c
    if n_strips == 1:
        entries[strip_off_entry_idx] = (273, 4, 1, offs[0])
    else:
        o = entries[strip_off_entry_idx][3] - aux_off
        aux[o : o + 4 * n_strips] = struct.pack(f"<{n_strips}I", *offs)

    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    out += struct.pack("<H", n_tags)
    for tag, typ, count, val in sorted(entries):
        out += struct.pack("<HHII", tag, typ, count, val)
    out += struct.pack("<I", 0)  # no next IFD
    out += aux
    for s in strips:
        out += s
    with open(path, "wb") as f:
        f.write(bytes(out))


def parse_geotiff_bytes(data: bytes, source: str) -> pd.DataFrame:
    """One uncompressed int16 GeoTIFF -> one tiles row (source, ncols, nrows,
    x0, y0, cellsize, nodata, elevs) with elevs SW-row-major (the Grid-ASCII
    tiles shape).  Handles II and MM byte orders and multi-strip rasters;
    raises on compressed data (codec territory)."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError(f"{source}: not a TIFF (bad byte-order mark)")
    bo = "<" if data[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack(bo + "HI", data[2:8])
    if magic != 42:
        raise ValueError(f"{source}: not a classic TIFF (magic {magic})")
    (n_tags,) = struct.unpack(bo + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, tuple[int, int, int, bytes]] = {}
    for i in range(n_tags):
        off = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(bo + "HHI", data[off : off + 8])
        tags[tag] = (typ, count, off + 8, data[off + 8 : off + 12])

    def read_values(tag: int) -> list:
        typ, count, voff, raw = tags[tag]
        size = _TIFF_TYPE_SIZES[typ] * count
        if size <= 4:
            buf = raw[:size]
        else:
            (ptr,) = struct.unpack(bo + "I", raw)
            buf = data[ptr : ptr + size]
        fmt = {3: "H", 4: "I", 12: "d"}[typ]
        return list(struct.unpack(f"{bo}{count}{fmt}", buf))

    ncols = int(read_values(256)[0])
    nrows = int(read_values(257)[0])
    comp = int(read_values(259)[0]) if 259 in tags else COMPRESSION_NONE
    if comp == COMPRESSION_NONE:
        codec = lambda b: b
    elif comp == COMPRESSION_PACKBITS:
        codec = packbits_decode
    elif comp == COMPRESSION_LZW:
        codec = lzw_decode
    elif comp in (COMPRESSION_DEFLATE, COMPRESSION_DEFLATE_OLD):
        import zlib

        codec = zlib.decompress
    else:
        raise ValueError(
            f"{source}: unsupported TIFF compression {comp}"
            " (supported: none, PackBits, LZW, Deflate)"
        )
    strip_offs = [int(v) for v in read_values(273)]
    strip_counts = [int(v) for v in read_values(279)]
    raw = b"".join(
        codec(data[o : o + c]) for o, c in zip(strip_offs, strip_counts)
    )
    grid_ns = np.frombuffer(raw, dtype=bo + "i2", count=ncols * nrows).reshape(
        nrows, ncols
    )
    if 317 in tags and int(read_values(317)[0]) == 2:
        # horizontal differencing predictor: un-apply by row cumsum (int16
        # wraparound semantics preserved by staying in int16)
        grid_ns = np.cumsum(grid_ns.astype(np.int64), axis=1).astype(
            np.int16
        )
    scale = read_values(33550)
    tie = read_values(33922)
    cellsize = float(scale[0])
    x0 = float(tie[3])
    y0 = float(tie[4]) - nrows * cellsize  # tiepoint is the NW corner
    elevs_sw = grid_ns[::-1].astype(np.float64)
    return pd.DataFrame(
        [
            (
                source, ncols, nrows, x0, y0, cellsize, -9999.0,
                elevs_sw.reshape(-1).tolist(),
            )
        ],
        columns=[
            "source", "ncols", "nrows", "x0", "y0", "cellsize", "nodata", "elevs",
        ],
    )


def read_geotiff(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed uncompressed-GeoTIFF scan: binaryFile source + parse
    kernel, one task per file — same tiles-row shape as Grid-ASCII."""
    return scan_files(spark, path_glob, parse_geotiff_bytes, GRIDASCII_SCHEMA)


def read_gridascii(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed Grid-ASCII scan: binaryFile source + parse kernel,
    one task per file (DEM tiles are bounded)."""
    return scan_files(spark, path_glob, parse_gridascii_bytes, GRIDASCII_SCHEMA)
