"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
2003 — the MOSS algorithm) over the documents table.

Complements the dedup family: minhash/LSH and simhash find whole-document
near-duplicates; winnowing selects a GUARANTEED-coverage fingerprint subset
— from every window of W consecutive k-gram hashes keep the minimum (ties
to the RIGHTMOST position), so any shared substring of at least W + k - 1
tokens yields at least one shared selected fingerprint.  The standard local
fingerprinting scheme for plagiarism / boilerplate / license-text detection
in web corpora.

Parameters here: k = 3 (token shingles, shared with the dedup family),
W = 4, 16-bit md5-slice hashes.  The rightmost-tie argmin is encoded
order-theoretically so both engines agree exactly: with pos < 2^32,

    key = h * 2^32 + (2^32 - 1 - pos)

makes MIN(key) over the window pick the smallest h and, among equal h, the
largest pos; the selected hash is key DIV 2^32.  Output per document: the
selected-fingerprint count and how many OTHER documents share at least one
selected fingerprint.

Scale notes (100 TB corpus): selection is one bounded window (W rows) over
a per-doc-ordered shingle stream — one doc_id shuffle, state W rows; at
10^12 docs it runs as the same zero-shuffle Arrow pass as
text_repetition_filters since documents are row-local.  The cross-doc join
is on selected fingerprints only (a ~2/(W+1) fraction of shingles —
winnowing's expected density); a production run buckets it exactly like
dedup_minhash_lsh's band join, with a hot-fingerprint DF cap as in
dedup_ngram_jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable_hash import duck_md5_slice, spark_md5_slice

WINNOW_W = 4
#: 2^32 — the rightmost-tie key packs (h, reversed pos) into one BIGINT;
#: h is 16-bit so h * 2^32 + pos' < 2^48, and no real document approaches
#: 2^32 shingles, so the packing never inverts
_POS_SCALE = 4_294_967_296

_TOKS = "filter(split(text, '\\\\s+'), t -> t <> '')"
_SHINGLES = (
    "CASE WHEN size(toks) >= 3 THEN "
    "transform(sequence(1, size(toks) - 2), "
    "i -> concat(element_at(toks, i), ' ', "
    "element_at(toks, i + 1), ' ', element_at(toks, i + 2))) "
    "ELSE array() END"
)


def winnow_fps(docs: DataFrame) -> DataFrame:
    """(doc_id, h): the winnowing-selected fingerprint set of each document.

    The explicit doc_id repartition spreads the md5-heavy shingle projection
    across the cluster BEFORE it runs (a single-file scan would otherwise
    execute it on one task) and already satisfies the window's
    hashpartitioning(doc_id), so no second exchange follows.
    """
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # NOTE: no column may reference the shingle array alongside the
    # posexplode select — a sibling expression like size(shs) is re-evaluated
    # (full split + transform chain) once per GENERATED row, turning the
    # explode O(len^2) per doc (measured 18 s vs 2 s at sf0.1).  The shingle
    # count is instead max(pos) over the exploded rows, sharing the window's
    # doc_id exchange.
    sh = (
        docs.repartition(n_part, "doc_id")
        .select("doc_id", F.expr(_TOKS).alias("toks"))
        .select("doc_id", F.posexplode(F.expr(_SHINGLES)).alias("pos0", "shingle"))
        .select(
            "doc_id",
            F.expr("CAST(pos0 + 1 AS BIGINT)").alias("pos"),
            F.expr(spark_md5_slice("shingle")).alias("h"),
        )
        .withColumn(
            "key",
            F.expr(f"h * {_POS_SCALE} + ({_POS_SCALE} - 1 - pos)"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    wn = Window.partitionBy("doc_id")
    return (
        sh.withColumn("wkey", F.min("key").over(w))
        .withColumn("n_sh", F.max("pos").over(wn))
        .filter(F.expr(f"pos <= n_sh - {WINNOW_W - 1}"))
        .select("doc_id", F.expr(f"wkey DIV {_POS_SCALE}").alias("h"))
        .distinct()
    )


def q_docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = winnow_fps(spark.table("documents"))
    pairs = (
        fps.select(F.col("doc_id").alias("a"), "h")
        .join(fps.select(F.col("doc_id").alias("b"), "h"), "h")
        .filter("a <> b")
        .select("a", "b")
        .distinct()
    )
    shared = pairs.groupBy("a").agg(F.count("*").alias("n_shared_docs"))
    return (
        fps.groupBy("doc_id")
        .agg(F.count("*").alias("n_fingerprints"))
        .join(shared.withColumnRenamed("a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "n_fingerprints",
            F.expr("coalesce(n_shared_docs, 0L)").alias("n_shared_docs"),
        )
    )


_DUCK_H = duck_md5_slice("shingle")

ORACLE_WINNOW = rf"""
WITH docs_t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_sh, CAST(i AS BIGINT) AS pos,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM docs_t,
       LATERAL (SELECT unnest(CASE WHEN len(t) >= 3
                                   THEN range(1, len(t) - 1)
                                   ELSE [] END) AS i)
),
keyed AS (
  SELECT doc_id, n_sh, pos,
         {_DUCK_H} * {_POS_SCALE} + ({_POS_SCALE} - 1 - pos) AS key
  FROM sh
),
sel AS (
  SELECT doc_id, n_sh, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W - 1} FOLLOWING) AS wkey
  FROM keyed
),
fps AS (
  SELECT DISTINCT doc_id, wkey // {_POS_SCALE} AS h
  FROM sel WHERE pos <= n_sh - {WINNOW_W - 1}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM fps x JOIN fps y USING (h) WHERE x.doc_id <> y.doc_id
),
shared AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n_shared_docs
           FROM pairs GROUP BY 1)
SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       COALESCE(ANY_VALUE(s.n_shared_docs), 0) AS n_shared_docs
FROM fps f LEFT JOIN shared s ON s.a = f.doc_id
GROUP BY f.doc_id
"""


QUERIES = {"docs_winnow_fingerprints": q_docs_winnow_fingerprints}
ORACLES: dict[str, str] = {"docs_winnow_fingerprints": ORACLE_WINNOW}
