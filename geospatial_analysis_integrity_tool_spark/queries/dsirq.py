"""Data selection via importance resampling (DSIR) over the documents table.

DSIR (Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") is the standard model-free pretraining-data selection stage:
fit bag-of-hashed-ngram unigram distributions over a small TARGET domain
sample and the RAW web corpus, score every raw document with the importance
log-weight

    log w(x) = sum_b c_b(x) * (log p_target[b] - log p_raw[b])

(c_b = the document's count in hashed feature bucket b, add-1 smoothing),
then Gumbel-top-k sample by log w + g.  The reference's analogous stage is
its inspection-spec-driven feature subsetting; the web-pipeline shape here
follows the paper.

Engine conventions (see textops2.py): no float fractions anywhere, so both
engines hash bit-identically.  The log is the deterministic fixed-point
``LOG2FP(n) = m * 2^16 + (n - 2^m) * 2^16 DIV 2^m`` (m = floor(log2 n) via
the binary-digit count, linear interpolation inside the octave — the
classic fast-log approximation, max error ~0.086 bits, strictly monotone in
n).  Every division has positive operands, so Spark ``DIV`` and DuckDB
``//`` agree exactly.  The Gumbel draw is replaced by a deterministic
Knuth-hash jitter of the doc id at the same 2^16 fixed-point scale — at
10^12 docs a seeded per-row hash is exactly how a reproducible production
run draws its noise (no RNG state across executors).

Scale notes (100 TB corpus): the per-bucket score table has exactly B=256
rows — broadcast; the raw corpus contributes one row per (doc, bucket)
(<= 256 per doc, map-side combined from the token explode); the target
sample aggregates to B scalars regardless of corpus size; the final top-k
is orderBy+limit = TakeOrdered (per-partition heap, k-row driver merge,
never a global sort).  Nothing shuffles more than (docs x 256) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable_hash import duck_md5_slice, spark_md5_slice

#: hashed-ngram feature buckets (the paper uses 10^4; 256 keeps every bucket
#: populated at the sf0.01 gate fixture while exercising the same plan)
N_BUCKETS = 256
#: fixed-point scale for LOG2FP (2^16 per bit)
_FP = 65536
#: the target-domain sample: two of the twenty synthetic sources (~10%)
TARGET_SOURCES = ("src0", "src1")
SELECT_K = 50
#: the Gumbel jitter: the Knuth hash (doc_id * 2654435761 mod 2^32) mod 2^16
#: reduced first, so no product leaves BIGINT (31153 = 2654435761 mod 2^16);
#: one text for both engines
GUMBEL_FP = f"CAST(((doc_id % {_FP}) * 31153) % {_FP} AS BIGINT)"

_TOKS = "filter(split(text, '\\\\s+'), t -> t <> '')"


def _log2fp_spark(n: str) -> str:
    """Fixed-point log2 of a positive BIGINT expression (Spark SQL)."""
    m = f"(length(bin({n})) - 1)"
    p = f"shiftleft(1L, {m})"
    return f"(CAST({m} AS BIGINT) * {_FP} + (({n} - {p}) * {_FP}) DIV {p})"


def _log2fp_duck(n: str) -> str:
    """The same fixed-point log2 in DuckDB SQL (identical by construction)."""
    m = f"(length(bin({n})) - 1)"
    p = f"(1::BIGINT << {m})"
    return f"(CAST({m} AS BIGINT) * {_FP} + (({n} - {p}) * {_FP}) // {p})"


def _bucket_spark() -> str:
    return f"{spark_md5_slice('tok')} % {N_BUCKETS}"


def _bucket_duck() -> str:
    return f"{duck_md5_slice('tok')} % {N_BUCKETS}"


def q_docs_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    srcs = ", ".join(f"'{s}'" for s in TARGET_SOURCES)
    # everything downstream (target distribution, raw distribution, per-doc
    # weights) aggregates from one per-(doc, source, bucket) count table.
    # That is one DataFrame, not one token pass: the plan scans and tokenizes
    # documents four times (EXPLAIN.md: four Scan parquet nodes, no
    # ReusedExchange), because the pushed-down source filters make the four
    # fragments differ
    n_part = spark.sparkContext.defaultParallelism
    bucket_counts = (
        spark.table("documents")
        # spread the md5-heavy token pass across the cluster regardless of
        # input file layout (see winnowq.winnow_fps)
        .repartition(n_part, "doc_id")
        .select("doc_id", "source", F.explode(F.expr(_TOKS)).alias("tok"))
        .select("doc_id", "source", F.expr(_bucket_spark()).alias("b"))
        .groupBy("doc_id", "source", "b")
        .agg(F.count("*").alias("c"))
    )
    tgt = (
        bucket_counts.filter(f"source IN ({srcs})")
        .groupBy("b")
        .agg(F.sum("c").alias("ct"))
    )
    raw = bucket_counts.filter(f"source NOT IN ({srcs})")
    raw_cnt = raw.groupBy("b").agg(F.sum("c").alias("cq"))
    # per-bucket importance scores: B rows total, broadcast to the corpus
    scores = (
        raw_cnt.join(tgt, "b", "left")
        .withColumn("ct", F.expr("coalesce(ct, 0L)"))
        .crossJoin(
            F.broadcast(
                tgt.agg(F.sum("ct").alias("nt")).crossJoin(
                    raw_cnt.agg(F.sum("cq").alias("nq"))
                )
            )
        )
        .select(
            "b",
            F.expr(
                f"{_log2fp_spark('(ct + 1)')} - {_log2fp_spark(f'(nt + {N_BUCKETS})')}"
                f" - {_log2fp_spark('(cq + 1)')} + {_log2fp_spark(f'(nq + {N_BUCKETS})')}"
            ).alias("s"),
        )
    )
    logw = (
        raw.join(F.broadcast(scores), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.expr("c * s")).alias("logw_fp"))
        .withColumn(
            "gumbel_fp",
            F.expr(GUMBEL_FP),
        )
    )
    w = Window.orderBy(F.desc(F.expr("logw_fp + gumbel_fp")), F.asc("doc_id"))
    return (
        logw.orderBy(F.desc(F.expr("logw_fp + gumbel_fp")), F.asc("doc_id"))
        .limit(SELECT_K)
        .withColumn("rank", F.row_number().over(w))
        .select(
            "doc_id",
            "logw_fp",
            "gumbel_fp",
            F.expr("CAST(rank AS BIGINT)").alias("rank"),
        )
    )


ORACLE_DSIR = rf"""
WITH feats AS (
  SELECT doc_id, source, {_bucket_duck()} AS b
  FROM (
    SELECT doc_id, source,
           unnest(list_filter(regexp_split_to_array(text, '\s+'),
                              t -> t <> '')) AS tok
    FROM documents
  )
),
tgt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM feats
  WHERE source IN ({", ".join(f"'{s}'" for s in TARGET_SOURCES)}) GROUP BY 1
),
raw_cnt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cq FROM feats
  WHERE source NOT IN ({", ".join(f"'{s}'" for s in TARGET_SOURCES)}) GROUP BY 1
),
tot AS (
  SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt) AS nt,
         (SELECT CAST(SUM(cq) AS BIGINT) FROM raw_cnt) AS nq
),
scores AS (
  SELECT raw_cnt.b,
         {_log2fp_duck('(COALESCE(ct, 0) + 1)')}
           - {_log2fp_duck(f'(nt + {N_BUCKETS})')}
           - {_log2fp_duck('(cq + 1)')}
           + {_log2fp_duck(f'(nq + {N_BUCKETS})')} AS s
  FROM raw_cnt LEFT JOIN tgt USING (b) CROSS JOIN tot
),
logw AS (
  SELECT doc_id, CAST(SUM(c * s) AS BIGINT) AS logw_fp,
         {GUMBEL_FP} AS gumbel_fp
  FROM (
    SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM feats
    WHERE source NOT IN ({", ".join(f"'{s}'" for s in TARGET_SOURCES)})
    GROUP BY 1, 2
  ) JOIN scores USING (b)
  GROUP BY doc_id
)
SELECT doc_id, logw_fp, gumbel_fp, rank FROM (
  SELECT doc_id, logw_fp, gumbel_fp,
         ROW_NUMBER() OVER (ORDER BY logw_fp + gumbel_fp DESC, doc_id ASC)
           AS rank
  FROM logw
) WHERE rank <= {SELECT_K}
"""


# --- docs_lm_perplexity -----------------------------------------------------------
#
# The actual CCNet scoring model shape: a conditional bigram language model
# with add-1 smoothing, trained on the corpus itself, scoring every document
# by total and per-bigram negative log-likelihood in fixed-point bits:
#
#     nll(doc) = sum_bigrams LOG2FP(c1(w1) + V) - LOG2FP(c2(w1, w2) + 1)
#
# (c2 = bigram count, c1 = bigram-start count = the correct denominator
# sum_w c2(w1, w), V = vocabulary size for the add-1 mass).  Complements
# docs_surprisal_buckets, which buckets by unigram rarity — this is the
# conditional-LM variant.  Documents with fewer than two tokens carry no
# bigram and are excluded, matching the twin.
#
# Scale notes: both count tables are vocabulary-bounded (c2 <= V^2 observed
# pairs) and broadcast; the corpus contributes one row per bigram occurrence
# through map-side-combined aggregates and never shuffles by value.  The
# per-doc bigram stream shuffles once on doc_id for the LEAD window — at
# 10^12 docs this becomes the zero-shuffle Arrow pass of
# text_repetition_filters (a document is one row).


def q_docs_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = spark.table("documents").select(
        "doc_id", F.posexplode(F.expr(_TOKS)).alias("d", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("d")
    bi = (
        toks.withColumn("w2", F.lead("tok").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), "w2")
    )
    c1 = bi.groupBy("w1").agg(F.count("*").alias("c1"))
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    return (
        bi.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.expr(
                    f"{_log2fp_spark('(c1 + v)')} - {_log2fp_spark('(c2 + 1)')}"
                )
            ).alias("nll_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "nll_fp",
            F.expr("nll_fp DIV n_bigrams").alias("ppl_fp"),
        )
    )


ORACLE_LM_PPL = rf"""
WITH toks AS (
  SELECT doc_id, d, tok FROM (
    SELECT doc_id,
           generate_subscripts(list_filter(regexp_split_to_array(text, '\s+'),
                                           t -> t <> ''), 1) AS d,
           unnest(list_filter(regexp_split_to_array(text, '\s+'),
                              t -> t <> '')) AS tok
    FROM documents
  )
),
bi AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, tok AS w1,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY d) AS w2
    FROM toks
  ) WHERE w2 IS NOT NULL
),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bi GROUP BY 1),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bi GROUP BY 1, 2),
vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM({_log2fp_duck('(c1 + v)')}
                  - {_log2fp_duck('(c2 + 1)')}) AS BIGINT) AS nll_fp
  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
  GROUP BY 1
)
SELECT doc_id, n_bigrams, nll_fp, nll_fp // n_bigrams AS ppl_fp FROM scored
"""


QUERIES = {
    "docs_dsir_select": q_docs_dsir_select,
    "docs_lm_perplexity": q_docs_lm_perplexity,
}
ORACLES: dict[str, str] = {
    "docs_dsir_select": ORACLE_DSIR,
    "docs_lm_perplexity": ORACLE_LM_PPL,
}
