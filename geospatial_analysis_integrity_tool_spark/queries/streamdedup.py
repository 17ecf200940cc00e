"""Gated STREAMING query: incremental MinHash/LSH near-dup suppression.

The batch dedup family (dedup_minhash_lsh et al.) answers "which documents
are near-duplicates" over a complete corpus; a crawl pipeline needs the
INCREMENTAL form — as batches of new documents arrive, suppress any doc
whose MinHash band signature collides with one seen in an earlier batch.

Shape: band signatures are computed in BATCH (4 bands, each the min 16-bit
md5-slice over the doc's 3-token shingles — r=1 banded MinHash, the same
hash conventions as the batch family), written as one parquet file per
batch and replayed one file per trigger (streaming/replay.write_batches /
batch_stream), and fed through the keyed stateful operator
``streaming/stateful.lsh_first_seen``
(applyInPandasWithState per (band, sig) bucket — state is ONE seen flag per
bucket).  The memory-sink rows then roll up per document: n_dup_bands and
the any-band is_dup verdict.

Determinism under re-batching: a row's verdict depends only on whether any
(batch_idx, doc_id)-earlier row shares its bucket — in state from a prior
trigger or earlier in the same sorted group call — so the emitted set
equals the closed-form oracle (dup iff doc_id > MIN(doc_id) over the
bucket; batch_idx is monotone in doc_id by construction) regardless of
trigger boundaries.

Scale notes (10^12-doc crawl): state is one flag per occupied bucket
(RocksDB-backed at production scale), each arriving doc touches exactly
NBANDS buckets, and the per-bucket group call sorts only that bucket's
rows in the current batch — no corpus-sized state or shuffle anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable_hash import duck_md5_slice
from ..streaming.replay import batch_stream, replay_to_memory, write_batches

N_BATCHES = 5
#: 1-based hex offsets of the 4 disjoint 16-bit md5 slices (one per band)
BAND_OFFS = (1, 5, 9, 13)

_SCHEMA = "doc_id long, batch_idx long, band long, sig long"


def write_lsh_stream_fixture(sf_dir: str) -> str:
    """Per-batch parquet of (doc_id, batch_idx, band, sig) from documents."""
    import hashlib
    import re

    import pandas as pd

    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    n = int(docs["doc_id"].max()) + 1
    # cache key digests every (doc_id, text): this fixture is DERIVED from
    # the documents table, so a corpus that differs in any one text must not
    # serve stale signatures
    h = hashlib.md5()
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        h.update(f"{doc_id}|{len(text)}|{text}".encode())

    def build():
        rows = []
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            toks = [t for t in re.split(r"\s+", text) if t]
            if len(toks) < 3:
                continue
            hexes = [
                hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()
                for i in range(len(toks) - 2)
            ]
            for band, off in enumerate(BAND_OFFS):
                sig = min(int(x[off - 1 : off + 3], 16) for x in hexes)
                rows.append((int(doc_id), int(doc_id) * N_BATCHES // n, band, sig))
        df = pd.DataFrame(rows, columns=["doc_id", "batch_idx", "band", "sig"])
        return [grp for _, grp in df.groupby("batch_idx")]

    return write_batches(f"stream_lsh_{n}_{h.hexdigest()[:8]}", build)


def q_streaming_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import lsh_first_seen

    src = batch_stream(spark, _SCHEMA, write_lsh_stream_fixture(sf_dir))
    # 8 state-store partitions rather than the replay default of 1: the work
    # per batch is thousands of per-bucket Python calls — parallelism wins
    # over commit overhead here
    replay_to_memory(lsh_first_seen(src), "lsh_dedup_sink", shuffle_partitions=8)
    return (
        spark.table("lsh_dedup_sink")
        .groupBy("doc_id", "batch_idx")
        .agg(
            F.sum("dup").alias("n_dup_bands"),
            F.max("dup").alias("is_dup"),
        )
    )


def _duck_slice(off: int) -> str:
    return duck_md5_slice("shingle", off)


ORACLE_STREAMING_LSH = rf"""
WITH docs_t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS t
  FROM documents
),
nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
sh AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM docs_t,
       LATERAL (SELECT unnest(CASE WHEN len(t) >= 3
                                   THEN range(1, len(t) - 1)
                                   ELSE [] END) AS i)
),
sig AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {band} AS band, MIN({_duck_slice(off)}) AS sig "
      "FROM sh GROUP BY doc_id"
      for band, off in enumerate(BAND_OFFS)
  )}
),
verdict AS (
  SELECT doc_id, band, sig,
         CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY band, sig)
              THEN 1 ELSE 0 END AS dup
  FROM sig
)
SELECT v.doc_id, (v.doc_id * {N_BATCHES}) // nn.n AS batch_idx,
       CAST(SUM(v.dup) AS BIGINT) AS n_dup_bands,
       CAST(MAX(v.dup) AS BIGINT) AS is_dup
FROM verdict v CROSS JOIN nn
GROUP BY 1, 2
"""


QUERIES = {"streaming_lsh_dedup": q_streaming_lsh_dedup}
ORACLES: dict[str, str] = {"streaming_lsh_dedup": ORACLE_STREAMING_LSH}
