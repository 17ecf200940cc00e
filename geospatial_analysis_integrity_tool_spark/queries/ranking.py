"""Ranked retrieval over the documents table: integer-exact BM25 top-k.

Corpus search/ranking is a standard web-pipeline stage (quality-weighted
sampling, retrieval-based decontamination, dataset browsing).  This module
implements Okapi BM25 (Robertson & Walker 1994) with k1 = 1.2 and b = 0.75
for a fixed conjunctive-or query, in EXACT integer arithmetic so the DuckDB
twin hashes bit-identically (the engine's no-float-fractions convention —
see textops2.py):

With dl the document token count, L the corpus token total, N the document
count (avgdl = L/N), the per-term score

    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

multiplied through by 10*L becomes the integer form used here:

    idf_scaled = ((N - df) * 1000) DIV (df + 1)          -- Robertson idf, scaled
    score_t    = (idf_scaled * tf * 22 * L) DIV (10*L*tf + 3*L + 9*dl*N)

(k1+1 = 11/5 and the denominator*10L = 10L*tf + 3L + 9*dl*N are exact for
k1 = 6/5, b = 3/4).  Operand order keeps every product < 2^62 at sf0.1
(idf<=5e6 * tf<=100 * 22 * L<=3e5 ~ 3e15).

Scale notes (100 TB corpus): the explode is filtered to the query terms
BEFORE the shuffle (predicate on the generated column), so tf/df aggregates
carry one row per (matching doc, term); N and L come from one map-side-
combinable corpus aggregate broadcast as scalars; the final top-k is a
TakeOrdered (per-partition heap + driver merge of k rows), never a global
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: fixed disjunctive query (terms from the corpus vocabulary)
QUERY_TERMS = ("spark", "window", "merge", "stream")
TOP_K = 10

_TOKS = "filter(split(text, '\\\\s+'), t -> t <> '')"


def q_docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents").select(
        "doc_id", F.expr(_TOKS).alias("toks")
    )
    docs = docs.select(
        "doc_id", F.expr("CAST(size(toks) AS BIGINT)").alias("dl"), "toks"
    )
    corpus = docs.agg(
        F.count("*").alias("N"), F.sum("dl").alias("L")
    )  # one row, broadcast below

    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    tf = (
        docs.select("doc_id", "dl", F.explode("toks").alias("tok"))
        .filter(f"tok IN ({terms})")
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "score_t",
            F.expr(
                "(((N - df) * 1000L DIV (df + 1)) * tf * 22 * L)"
                " DIV (10 * L * tf + 3 * L + 9 * dl * N)"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("score_t").alias("score"))
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(TOP_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "score", F.expr("CAST(rank AS BIGINT)").alias("rank")
    )


ORACLE_BM25 = rf"""
WITH docs AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                              t -> t <> '')) AS BIGINT) AS dl,
         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
  FROM documents
),
corpus AS (SELECT COUNT(*) AS N, CAST(SUM(dl) AS BIGINT) AS L FROM docs),
tf AS (
  SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM docs)
  WHERE tok IN ({", ".join(f"'{t}'" for t in QUERY_TERMS)})
  GROUP BY 1, 2, 3
),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id,
         CAST(SUM((((N - df.df) * 1000 // (df.df + 1)) * tf.tf * 22 * L)
              // (10 * L * tf.tf + 3 * L + 9 * tf.dl * N)) AS BIGINT) AS score
  FROM tf JOIN df USING (tok) CROSS JOIN corpus
  GROUP BY 1
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


QUERIES = {"docs_bm25_topk": q_docs_bm25_topk}
ORACLES: dict[str, str] = {"docs_bm25_topk": ORACLE_BM25}
