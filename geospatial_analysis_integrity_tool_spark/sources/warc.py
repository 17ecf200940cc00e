"""Native WARC 1.1 container source — the Common-Crawl distribution format.

The input_hint corpus is "Common-Crawl-style web pages"; CC ships them as
WARC files (ISO 28500, a public spec: CRLF-delimited named headers + a
Content-Length-framed payload per record, records separated by two CRLFs).
This module implements the container natively, the same binaryFile +
parse-kernel shape as the shp/DTED/GeoTIFF readers (sources/dem.py,
sources/shapefile.py):

* ``warc_record_bytes`` / ``write_warc`` render records with WARC-Type:
  resource, a deterministic WARC-Record-ID (UUID from the md5 of the target
  URI — reproducible, no RNG), WARC-Date, WARC-Target-URI, Content-Type and
  Content-Length headers.
* ``read_warc`` is the distributed path: ``binary_scan.scan_files`` (a
  ``binaryFile`` source, one task per shard — CC's own unit of
  parallelism) + ``parse_warc_frame``, which walks records by OFFSET:
  parse the header block up to the blank line, take exactly Content-Length
  payload bytes, skip the record separator.
  No regex splitting — a wrong Content-Length or a corrupt separator
  surfaces as a parse error or a changed payload, which the round-trip
  gate hashes.

At 10^12 pages the reader scales exactly like CC processing does: shards
are independent, the kernel streams one shard per task, and everything
downstream (text extraction, feature extraction) is the same batched
pipeline the pages table feeds.
"""

from __future__ import annotations

import hashlib
import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .binary_scan import scan_files

_CRLF = b"\r\n"


def _record_id(target_uri: str) -> str:
    # deterministic UUID: md5 of the target URI (RFC 4122 shape, no RNG)
    return f"<urn:uuid:{uuid.UUID(hashlib.md5(target_uri.encode()).hexdigest())}>"


def warc_record_bytes(target_uri: str, date_iso: str, payload: bytes) -> bytes:
    headers = (
        b"WARC/1.1" + _CRLF
        + b"WARC-Type: resource" + _CRLF
        + b"WARC-Record-ID: " + _record_id(target_uri).encode() + _CRLF
        + b"WARC-Date: " + date_iso.encode() + _CRLF
        + b"WARC-Target-URI: " + target_uri.encode() + _CRLF
        + b"Content-Type: text/html" + _CRLF
        + b"Content-Length: " + str(len(payload)).encode() + _CRLF
        + _CRLF
    )
    return headers + payload + _CRLF + _CRLF


def wet_record_bytes(target_uri: str, date_iso: str, text: bytes) -> bytes:
    """WET conversion record (the CC extracted-text distribution format):
    WARC-Type: conversion, text/plain payload, WARC-Refers-To pointing at
    the source resource record's deterministic id."""
    headers = (
        b"WARC/1.1" + _CRLF
        + b"WARC-Type: conversion" + _CRLF
        + b"WARC-Record-ID: " + _record_id("wet:" + target_uri).encode() + _CRLF
        + b"WARC-Refers-To: " + _record_id(target_uri).encode() + _CRLF
        + b"WARC-Date: " + date_iso.encode() + _CRLF
        + b"WARC-Target-URI: " + target_uri.encode() + _CRLF
        + b"Content-Type: text/plain" + _CRLF
        + b"Content-Length: " + str(len(text)).encode() + _CRLF
        + _CRLF
    )
    return headers + text + _CRLF + _CRLF


def write_warc(path: str, records: list[tuple[str, str, bytes]]) -> None:
    """records = [(target_uri, date_iso, payload_bytes), ...] -> one shard."""
    with open(path, "wb") as f:
        for uri, date_iso, payload in records:
            f.write(warc_record_bytes(uri, date_iso, payload))


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Offset-walk one shard: returns dicts with target_uri, warc_date,
    record_id, payload."""
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record separators / trailing CRLFs
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        end_hdr = data.index(_CRLF + _CRLF, pos)
        header_block = data[pos:end_hdr].decode("utf-8")
        lines = header_block.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line at offset {pos}: {lines[0]!r}")
        hdrs = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            hdrs[k.strip()] = v.strip()
        clen = int(hdrs["Content-Length"])
        body_start = end_hdr + 4
        payload = data[body_start : body_start + clen]
        if len(payload) != clen:
            raise ValueError("truncated WARC payload")
        out.append(
            {
                "record_id": hdrs.get("WARC-Record-ID", ""),
                "warc_type": hdrs.get("WARC-Type", ""),
                "target_uri": hdrs.get("WARC-Target-URI", ""),
                "warc_date": hdrs.get("WARC-Date", ""),
                "payload": payload,
            }
        )
        pos = body_start + clen
    return out


READ_WARC_SCHEMA = (
    "shard string, record_id string, warc_type string, target_uri string,"
    " warc_date string, payload binary"
)


def parse_warc_frame(data: bytes, path: str) -> pd.DataFrame:
    """One shard's records as rows of ``READ_WARC_SCHEMA``."""
    cols = ["record_id", "warc_type", "target_uri", "warc_date", "payload"]
    recs = parse_warc_bytes(data)
    return pd.DataFrame(
        [(os.path.basename(path), *(r[c] for c in cols)) for r in recs],
        columns=["shard", *cols],
    )


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed WARC scan: binaryFile source + offset-walking kernel,
    one task per shard."""
    return scan_files(spark, path_glob, parse_warc_frame, READ_WARC_SCHEMA)
