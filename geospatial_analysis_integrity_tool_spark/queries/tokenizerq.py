"""Tokenizer-training support ops over the documents corpus.

BPE training (Sennrich et al. 2016) alternates (a) counting adjacent symbol
pairs across the corpus — the DISTRIBUTED part, linear in corpus size — and
(b) applying the top merge to the vocabulary — driver-side work on a table
the size of the vocabulary.  ``tokenizer_pair_stats`` is stage (a) expressed
Spark-first: the corpus reduces to a (word, freq) table ONCE (one shuffle on
the word), and pair counting explodes the DISTINCT-WORD table only —
corpus-scale-independent from there (web-corpus vocabularies are ~10^7 words
regardless of page count).  ``vocab_oov_rate`` is the standard coverage eval
for a trained vocabulary: OOV token share per document against a broadcast
top-K vocab.

Scale notes (10^12 pages):

* the word-frequency reduce is map-side combinable; its shuffle carries one
  row per DISTINCT word per partition, not per token;
* everything downstream of the word table (char-pair explode, vocab ranks)
  is bounded by vocabulary size, not corpus size;
* the vocab broadcast for OOV is top-K (fixed), the corpus side stays
  map-side: explode -> broadcast left join -> per-doc counts, one shuffle on
  doc_id carrying two integers per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .textops import _TOKS_SPARK

PAIR_TOPN = 10
VOCAB_K = 40


def _word_freq(spark: SparkSession) -> DataFrame:
    return (
        spark.table("documents")
        .select(F.explode(F.expr(_TOKS_SPARK)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def q_tokenizer_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent character-pair counts, frequency-weighted (BPE stage a).

    Pairs come from the distinct-word table: each word contributes its
    (char i, char i+1) pairs times its corpus frequency — exactly the
    statistic the first BPE merge maximizes.
    """
    wf = _word_freq(spark)
    pairs = wf.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    ).filter(F.length("pair") == 2)
    ranked = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n_occurrences"))
        .select(
            "pair",
            "n_occurrences",
            F.expr(
                "row_number() OVER (ORDER BY n_occurrences DESC, pair)"
            ).alias("rank"),
        )
        .filter(F.col("rank") <= PAIR_TOPN)
    )
    return ranked


ORACLE_TOKENIZER_PAIR_STATS = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents
),
wf AS (SELECT w, COUNT(*) AS freq FROM toks WHERE w <> '' GROUP BY 1),
pairs AS (
  SELECT substring(w, CAST(i AS INT), 2) AS pair, freq
  FROM wf, LATERAL (SELECT unnest(range(1, len(w))) AS i)
  WHERE len(w) >= 2
),
ranked AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences,
         row_number() OVER (ORDER BY SUM(freq) DESC, pair) AS rank
  FROM pairs GROUP BY 1
)
SELECT pair, n_occurrences, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {PAIR_TOPN}
"""


def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV statistics against the corpus's own top-K vocab.

    oov_permille is integer (1000 * oov / n_toks, floor) so both engines
    hash identical values.
    """
    vocab = (
        _word_freq(spark)
        .select(
            "w",
            F.expr("row_number() OVER (ORDER BY freq DESC, w)").alias("_r"),
        )
        .filter(F.col("_r") <= VOCAB_K)
        .select("w", F.lit(1).alias("_in"))
    )
    toks = (
        spark.table("documents")
        .select("doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("w"))
        .filter(F.col("w") != "")
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum(F.expr("CAST(_in IS NULL AS BIGINT)")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_toks",
            "n_oov",
            F.expr("n_oov * 1000 DIV n_toks").alias("oov_permille"),
        )
    )


ORACLE_VOCAB_OOV = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
  FROM documents
),
toks_ne AS (SELECT * FROM toks WHERE w <> ''),
wf AS (SELECT w, COUNT(*) AS freq FROM toks_ne GROUP BY 1),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY freq DESC, w) AS r FROM wf
  ) WHERE r <= {VOCAB_K}
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1000
            // COUNT(*) AS BIGINT) AS oov_permille
FROM toks_ne t LEFT JOIN vocab v ON v.w = t.w
GROUP BY 1
"""


def q_tokenizer_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the top BPE merge corpus-wide (stage b), greedy leftmost.

    The argmax pair from stage (a) is merged into every DISTINCT word:
    non-overlapping occurrences taken left to right (for a pair 'aa' the
    word 'aaaa' merges twice, 'aaa' once — the Sennrich et al. scan rule).
    Greedy counting is gaps-and-islands arithmetic: within each maximal run
    of L consecutive matching positions, merges = (L + 1) DIV 2 (runs are
    length 1 unless the pair is a doubled character).  Output: one row per
    affected word with its corpus frequency and symbol counts — bounded by
    vocabulary size, like everything downstream of the word table.
    """
    from pyspark.sql.window import Window

    wf = _word_freq(spark)
    pairs = wf.select(
        "w",
        "freq",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("i0", "p"),
    ).filter(F.length("p") == 2)
    top = (
        pairs.groupBy("p")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("p"))
        .limit(1)
        .select(F.col("p").alias("tp"))
    )
    m = (
        pairs.crossJoin(F.broadcast(top))
        .filter("p = tp")
        .select("w", "freq", "tp", F.expr("CAST(i0 + 1 AS BIGINT)").alias("pos"))
    )
    w_run = Window.partitionBy("w").orderBy("pos")
    merged = (
        m.withColumn("run", F.expr("pos") - F.row_number().over(w_run))
        .groupBy("w", "freq", "tp", "run")
        .agg(F.count("*").alias("L"))
        .groupBy("w", "freq", "tp")
        .agg(F.sum(F.expr("(L + 1) DIV 2")).alias("n_merges"))
    )
    return merged.select(
        "w",
        "freq",
        F.col("tp").alias("pair"),
        "n_merges",
        F.expr("CAST(length(w) AS BIGINT)").alias("len_before"),
        F.expr("CAST(length(w) AS BIGINT) - n_merges").alias("len_after"),
    )


ORACLE_BPE_MERGE_STEP = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents
),
wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM toks WHERE w <> '' GROUP BY 1),
pairs AS (
  SELECT w, freq, CAST(i AS BIGINT) AS pos, substring(w, CAST(i AS INT), 2) AS p
  FROM wf, LATERAL (SELECT unnest(range(1, len(w))) AS i)
  WHERE len(w) >= 2
),
top AS (
  SELECT p AS tp FROM (
    SELECT p, SUM(freq) AS cnt FROM pairs GROUP BY 1
    ORDER BY cnt DESC, p ASC LIMIT 1
  )
),
m AS (SELECT w, freq, tp, pos FROM pairs JOIN top ON p = tp),
runs AS (
  SELECT w, freq, tp,
         pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS run
  FROM m
),
merged AS (
  SELECT w, freq, tp, CAST(SUM((L + 1) // 2) AS BIGINT) AS n_merges
  FROM (SELECT w, freq, tp, run, CAST(COUNT(*) AS BIGINT) AS L
        FROM runs GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2, 3
)
SELECT w, freq, tp AS pair, n_merges,
       CAST(len(w) AS BIGINT) AS len_before,
       CAST(len(w) AS BIGINT) - n_merges AS len_after
FROM merged
"""


QUERIES = {
    "tokenizer_bpe_merge_step": q_tokenizer_bpe_merge_step,
    "tokenizer_pair_stats": q_tokenizer_pair_stats,
    "vocab_oov_rate": q_vocab_oov_rate,
}

ORACLES = {
    "tokenizer_bpe_merge_step": ORACLE_BPE_MERGE_STEP,
    "tokenizer_pair_stats": ORACLE_TOKENIZER_PAIR_STATS,
    "vocab_oov_rate": ORACLE_VOCAB_OOV,
}
