"""Gated query sourced from REAL WARC shard fixtures (sources/warc.py).

The fixture writer renders the synthetic corpus with the SAME vectorized
kernel the pages table uses (sources/pages._page_batch — byte-identical
html per url), packs it into WARC/1.1 shards (8 files, round-robin by page
index), and the engine reads the shards back through the DISTRIBUTED
container reader (binaryFile + offset-walking kernel), re-extracts the
canonical text from each payload, and reports (url, capture epoch, text
md5).

The DuckDB oracle never sees the files: it re-derives the text closed-form
from the row-index arithmetic and the capture time as epoch + i*137.  Any
container defect — wrong Content-Length framing, header corruption, payload
truncation, shard assignment loss — changes a hash or a row count and fails
the gate.  This is the webtext twin of the shp/DTED round-trip gates.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import write_once
from ..sources.pages import _page_batch, extract_text_kernel
from ..sources.warc import read_warc, write_warc
from .nonsql import _n_pages, _oracle_pages_text

_N_SHARDS = 8
_EPOCH_2024 = 1704067200  # warc_ts origin (2024-01-01T00:00:00Z)


def _ensure_warc_fixture(n: int) -> str:
    def write(d: str) -> None:
        pdf = _page_batch(np.arange(n), n_total=n)
        dates = pdf["warc_ts"].dt.strftime("%Y-%m-%dT%H:%M:%SZ")
        for s in range(_N_SHARDS):
            recs = [
                (pdf["url"][i], dates[i], pdf["html"][i])
                for i in range(s, n, _N_SHARDS)
            ]
            write_warc(os.path.join(d, f"shard-{s:02d}.warc"), recs)

    return write_once(f"warc_n{n}", write)


def q_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n_pages(sf_dir)
    d = _ensure_warc_fixture(n)
    recs = read_warc(spark, os.path.join(d, "*.warc"))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["target_uri"],
                    "warc_date": pdf["warc_date"],
                    "extracted": extract_text_kernel(pdf["payload"]),
                }
            )

    txt = recs.mapInPandas(
        run, schema="url string, warc_date string, extracted string"
    )
    return txt.select(
        "url",
        F.expr(
            "unix_timestamp(to_timestamp(warc_date,"
            " \"yyyy-MM-dd'T'HH:mm:ss'Z'\"))"
        ).alias("ts_s"),
        F.md5("extracted").alias("text_md5"),
    )


def _oracle_warc_scan(n: int) -> str:
    return f"""
WITH txt AS ({_oracle_pages_text(n)})
SELECT url,
       {_EPOCH_2024} + CAST(split_part(url, '/', 6) AS BIGINT) * 137 AS ts_s,
       md5(extracted) AS text_md5
FROM txt
"""


# --- warc_wet_export (WET conversion-record round trip) ------------------------
#
# CC distributes extracted text as WET files: one WARC "conversion" record
# per page, text/plain payload, WARC-Refers-To the source record.  The gate
# renders the WET record per page (distributed, from the WARC shard scan),
# re-parses its own bytes through the container reader (framing check), and
# hashes the WHOLE record; the DuckDB oracle rebuilds the record STRING
# byte-for-byte closed-form — deterministic record ids (dashed md5-hex
# uuids), the strftime date, Content-Length, CRLF framing — so one byte of
# drift anywhere in encode or parse fails the hash.


def q_warc_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.warc import parse_warc_bytes, wet_record_bytes

    n = _n_pages(sf_dir)
    d = _ensure_warc_fixture(n)
    recs = read_warc(spark, os.path.join(d, "*.warc"))

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            texts = extract_text_kernel(pdf["payload"])
            out_url, out_wet, out_txt = [], [], []
            for u, dt, t in zip(pdf["target_uri"], pdf["warc_date"], texts):
                wet = wet_record_bytes(u, dt, t.encode("utf-8"))
                (rec,) = parse_warc_bytes(wet)
                if rec["warc_type"] != "conversion":
                    raise ValueError("WET round trip lost the record type")
                out_url.append(u)
                out_wet.append(hashlib.md5(wet).hexdigest())
                out_txt.append(hashlib.md5(rec["payload"]).hexdigest())
            yield pd.DataFrame(
                {"url": out_url, "wet_md5": out_wet, "text_md5": out_txt}
            )

    return recs.mapInPandas(
        run, schema="url string, wet_md5 string, text_md5 string"
    )


def _duck_uuid(expr: str) -> str:
    h = f"md5({expr})"
    return (
        f"substr({h}, 1, 8) || '-' || substr({h}, 9, 4) || '-' || "
        f"substr({h}, 13, 4) || '-' || substr({h}, 17, 4) || '-' || "
        f"substr({h}, 21, 12)"
    )


def _oracle_wet_export(n: int) -> str:
    crlf = "chr(13) || chr(10)"
    return f"""
WITH txt AS ({_oracle_pages_text(n)}),
t AS (
  SELECT url, extracted, CAST(split_part(url, '/', 6) AS BIGINT) AS i
  FROM txt
),
r AS (
  SELECT url, extracted,
         strftime(TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 137 SECOND,
                  '%Y-%m-%dT%H:%M:%SZ') AS d,
         {_duck_uuid("'wet:' || url")} AS wid,
         {_duck_uuid('url')} AS rid
  FROM t
),
rec AS (
  SELECT url, extracted,
         'WARC/1.1' || {crlf}
         || 'WARC-Type: conversion' || {crlf}
         || 'WARC-Record-ID: <urn:uuid:' || wid || '>' || {crlf}
         || 'WARC-Refers-To: <urn:uuid:' || rid || '>' || {crlf}
         || 'WARC-Date: ' || d || {crlf}
         || 'WARC-Target-URI: ' || url || {crlf}
         || 'Content-Type: text/plain' || {crlf}
         || 'Content-Length: ' || CAST(length(extracted) AS VARCHAR) || {crlf}
         || {crlf} || extracted || {crlf} || {crlf} AS wet
  FROM r
)
SELECT url, md5(wet) AS wet_md5, md5(extracted) AS text_md5 FROM rec
"""


QUERIES = {"warc_scan": q_warc_scan, "warc_wet_export": q_warc_wet_export}
ORACLES: dict[str, str] = {
    "warc_scan": _oracle_warc_scan(500),
    "warc_wet_export": _oracle_wet_export(500),
}
