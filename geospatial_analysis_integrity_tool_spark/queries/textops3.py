"""Training-data pipeline ops, part 3: exact-substring dedup, Bloom-filter
decontamination, and crawl snapshot deltas.

Published pipeline stages these re-express Spark-first:

* ``docs_substring_dedup`` — character-window exact-substring duplication
  (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
  Better" use suffix arrays to find >=50-char repeats; the distributed
  re-expression is strided fixed-width windows hashed and counted — each
  repeat of length >= W + S is guaranteed to share a full aligned window).
* ``docs_bloom_decontaminate`` — membership against an eval benchmark via a
  Bloom filter (the standard scale trick: the benchmark's n-gram set is
  folded into a fixed-size bit set that broadcasts for free; exact
  verification only runs on the tiny flagged slice).
* ``pages_crawl_delta`` — CDX-style snapshot diffing between two crawls of
  the same url space (added / removed / changed / unchanged), the first step
  of every incremental-crawl ingest.

Scale notes (10^12-page corpus, 1000 executors):

* substring windows shuffle one (doc, md5) row per W/S characters of text —
  ~4 bytes of shuffle per input byte at (W=40, S=10); the frequency table is
  a map-side-combinable count and the per-doc rollup re-uses the same hash
  key, so nothing quadratic exists anywhere (the suffix-array equivalent
  cannot be expressed as a bounded-shuffle plan);
* the Bloom bit set is <= 2^16 DISTINCT bit rows regardless of benchmark
  size — it broadcasts at any scale; the corpus-side probe is three
  broadcast hash joins, zero corpus shuffle before the per-doc rollup.
  The exact-membership join here gates the false-positive accounting; at
  real scale it runs as a second pass over bloom-flagged docs only;
* snapshot diff is ONE full-outer hash join on url: both sides are already
  narrow (url, content-hash) projections, so the shuffle carries ~50 bytes
  per page, never the html.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import extract_text, synth_pages
from .nonsql import _n_pages, _oracle_pages_text
from .textops import _DOCS_AUG_SQL, _TOKS_SPARK, _docs_aug
from .textops2 import _BENCH_MOD, _BENCH_REM, _NGRAMS_SPARK, DECON_N

# --- docs_substring_dedup ------------------------------------------------------
#
# Fixed-width character windows at stride S: any exact repeat of length
# >= WIN_W + WIN_S - 1 contains at least one window aligned to the stride
# grid on both occurrences, so cross-occurrence duplication is caught without
# enumerating every offset (which is what a suffix array buys on one node and
# what no bounded-shuffle distributed plan can afford).

WIN_W = 40
WIN_S = 10

_WINDOWS_SPARK = (
    f"transform(sequence(1, length(text) - {WIN_W - 1}, {WIN_S}),"
    f" p -> substring(text, p, {WIN_W}))"
)


def q_docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-window stats over the augmented corpus.

    n_windows            strided windows the document contributes
    n_dup_windows        windows whose hash occurs more than once corpus-wide
                         (within- OR cross-document repeats, as in the paper)
    n_crossdoc_windows   windows shared with at least one OTHER document
    """
    wins = (
        _docs_aug(spark)
        .filter(F.length("text") >= WIN_W)
        .select("doc_id", F.explode(F.expr(_WINDOWS_SPARK)).alias("w"))
        .select("doc_id", F.md5("w").alias("h"))
    )
    freq = wins.groupBy("h").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        wins.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.expr("CAST(n_occ > 1 AS BIGINT)")).alias("n_dup_windows"),
            F.sum(F.expr("CAST(n_docs > 1 AS BIGINT)")).alias(
                "n_crossdoc_windows"
            ),
        )
        .filter(F.col("n_dup_windows") > 0)
    )


ORACLE_SUBSTRING_DEDUP = f"""
WITH {_DOCS_AUG_SQL.strip()},
wins AS (
  SELECT doc_id, md5(substring(text, CAST(p AS INT), {WIN_W})) AS h
  FROM docs_aug,
       LATERAL (SELECT unnest(range(1, len(text) - {WIN_W - 1} + 1, {WIN_S}))
                AS p)
  WHERE len(text) >= {WIN_W}
),
freq AS (
  SELECT h, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
  FROM wins GROUP BY 1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_crossdoc_windows
FROM wins JOIN freq USING (h)
GROUP BY 1
HAVING SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) > 0
"""


# --- docs_bloom_decontaminate --------------------------------------------------
#
# Bloom parameters: m = 2^16 bits, k = 3 hash functions taken as three
# disjoint 4-hex-digit slices of md5(shingle) (offsets 1, 5, 9) — exactly
# 16 bits each, so no modulo bias and both engines derive identical bits.

_BLOOM_OFFS = (1, 5, 9)


def _bit_spark(off: int) -> str:
    return f"CAST(conv(substring(md5(shingle), {off}, 4), 16, 10) AS BIGINT)"


def _bit_duck(off: int) -> str:
    digit = (
        lambda p: f"(strpos('0123456789abcdef', substr(md5(shingle), {p}, 1)) - 1)"
    )
    return (
        f"({digit(off)} * 4096 + {digit(off + 1)} * 256"
        f" + {digit(off + 2)} * 16 + {digit(off + 3)})"
    )


def q_docs_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a broadcast Bloom filter.

    Reports, per corpus document with any Bloom-positive 8-gram:
    n_bloom_hits (shingles passing all 3 bit probes) and n_exact_hits (the
    subset truly present in the benchmark set) — the difference is the
    filter's false-positive count, which the pipeline's second-pass exact
    check must absorb.
    """
    bench_sh = (
        spark.table("documents")
        .filter(F.col("doc_id") % _BENCH_MOD == _BENCH_REM)
        .select(F.expr(_TOKS_SPARK).alias("toks"))
        .select(F.explode(F.expr(_NGRAMS_SPARK)).alias("shingle"))
        .distinct()
    )
    bits = (
        bench_sh.select(
            F.explode(
                F.array(*[F.expr(_bit_spark(o)) for o in _BLOOM_OFFS])
            ).alias("bit")
        )
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    corp_sh = (
        _docs_aug(spark)
        .filter(
            ~(
                (F.col("doc_id") < 1000000)
                & (F.col("doc_id") % _BENCH_MOD == _BENCH_REM)
            )
        )
        .select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
        .select("doc_id", F.explode(F.expr(_NGRAMS_SPARK)).alias("shingle"))
        .distinct()
    )
    probed = corp_sh
    for j, off in enumerate(_BLOOM_OFFS):
        probed = probed.withColumn(f"b{j}", F.expr(_bit_spark(off)))
    for j in range(len(_BLOOM_OFFS)):
        side = F.broadcast(
            bits.select(
                F.col("bit").alias(f"b{j}"), F.col("_set").alias(f"m{j}")
            )
        )
        probed = probed.join(side, f"b{j}", "left")
    exact = bench_sh.withColumn("_ex", F.lit(1))
    probed = probed.join(F.broadcast(exact), "shingle", "left")
    return (
        probed.withColumn(
            "_bloom",
            F.expr("CAST(m0 IS NOT NULL AND m1 IS NOT NULL"
                   " AND m2 IS NOT NULL AS BIGINT)"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("_bloom").alias("n_bloom_hits"),
            F.sum(F.expr("CAST(_ex IS NOT NULL AS BIGINT) * _bloom")).alias(
                "n_exact_hits"
            ),
        )
        .filter(F.col("n_bloom_hits") > 0)
    )


_NGRAMS_DUCK = (
    "t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || "
    "t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]"
)

ORACLE_BLOOM_DECONTAMINATE = f"""
WITH {_DOCS_AUG_SQL.strip()},
bench_sh AS (
  SELECT DISTINCT {_NGRAMS_DUCK} AS shingle
  FROM (SELECT regexp_split_to_array(text, '\\s+') AS t FROM documents
        WHERE doc_id % {_BENCH_MOD} = {_BENCH_REM}),
       LATERAL (SELECT unnest(CASE WHEN len(t) >= {DECON_N}
                                   THEN range(1, len(t) - {DECON_N - 2})
                                   ELSE [] END) AS i)
),
bits AS (
  SELECT DISTINCT bit FROM (
    {' UNION ALL '.join(
        f"SELECT {_bit_duck(o)} AS bit FROM bench_sh" for o in _BLOOM_OFFS
    )}
  )
),
corp_sh AS (
  SELECT DISTINCT doc_id, {_NGRAMS_DUCK} AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM docs_aug
        WHERE NOT (doc_id < 1000000 AND doc_id % {_BENCH_MOD} = {_BENCH_REM})),
       LATERAL (SELECT unnest(CASE WHEN len(t) >= {DECON_N}
                                   THEN range(1, len(t) - {DECON_N - 2})
                                   ELSE [] END) AS i)
),
probed AS (
  SELECT c.doc_id,
         CASE WHEN b0.bit IS NOT NULL AND b1.bit IS NOT NULL
                   AND b2.bit IS NOT NULL THEN 1 ELSE 0 END AS bloom,
         CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END AS ex
  FROM corp_sh c
  LEFT JOIN bits b0 ON b0.bit = {_bit_duck(_BLOOM_OFFS[0])}
  LEFT JOIN bits b1 ON b1.bit = {_bit_duck(_BLOOM_OFFS[1])}
  LEFT JOIN bits b2 ON b2.bit = {_bit_duck(_BLOOM_OFFS[2])}
  LEFT JOIN bench_sh e ON e.shingle = c.shingle
)
SELECT doc_id,
       CAST(SUM(bloom) AS BIGINT) AS n_bloom_hits,
       CAST(SUM(ex * bloom) AS BIGINT) AS n_exact_hits
FROM probed
GROUP BY 1
HAVING SUM(bloom) > 0
"""


# --- pages_crawl_delta ---------------------------------------------------------
#
# Two crawls over the same url space: the OLD snapshot covers page indices
# [0, 3n/4), the NEW one [n/4, n); pages with i % 5 == 2 were edited between
# crawls (their extracted text gains a version marker before hashing).  The
# diff classifies every url ever seen.

_EDIT_MOD, _EDIT_REM = 5, 2


def q_pages_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n_pages(sf_dir)
    txt = extract_text(synth_pages(spark, n)).withColumn(
        "_i", F.expr("CAST(split_part(url, '/', 6) AS BIGINT)")
    )
    old = txt.filter(F.col("_i") < 3 * n // 4).select(
        "url", F.md5("extracted").alias("old_h")
    )
    new = txt.filter(F.col("_i") >= n // 4).select(
        "url",
        F.expr(
            f"CASE WHEN _i % {_EDIT_MOD} = {_EDIT_REM}"
            " THEN md5(concat(extracted, ' v2')) ELSE md5(extracted) END"
        ).alias("new_h"),
    )
    return old.join(new, "url", "full_outer").select(
        "url",
        F.expr(
            "CASE WHEN old_h IS NULL THEN 'added'"
            " WHEN new_h IS NULL THEN 'removed'"
            " WHEN old_h <> new_h THEN 'changed'"
            " ELSE 'unchanged' END"
        ).alias("status"),
    )


def _oracle_crawl_delta(n: int) -> str:
    return f"""
WITH txt AS ({_oracle_pages_text(n)}),
t AS (SELECT url, extracted,
             CAST(split_part(url, '/', 6) AS BIGINT) AS i FROM txt),
old AS (SELECT url, md5(extracted) AS old_h FROM t WHERE i < {3 * n // 4}),
new AS (SELECT url,
               CASE WHEN i % {_EDIT_MOD} = {_EDIT_REM}
                    THEN md5(extracted || ' v2') ELSE md5(extracted) END
                 AS new_h
        FROM t WHERE i >= {n // 4})
SELECT COALESCE(old.url, new.url) AS url,
       CASE WHEN old_h IS NULL THEN 'added'
            WHEN new_h IS NULL THEN 'removed'
            WHEN old_h <> new_h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new ON old.url = new.url
"""


# --- docs_pack_sequences -------------------------------------------------------
#
# GPT-style concat-and-chunk packing: documents are concatenated in doc_id
# order and cut into fixed CTX-token training sequences.  Everything reduces
# to the exclusive prefix sum of per-document token counts — which must NOT
# run as one global window (single-partition sort at 10^12 docs).  The
# two-phase plan below is the same shape as conditions.consolidate_scalable:
# per-bucket partial sums (bucket = doc_id DIV _PACK_BUCKET, a pure function
# of the key, so reruns are identical at any parallelism), a tiny cumsum over
# the bucket totals, then a within-bucket window.  The heavy window sorts
# _PACK_BUCKET rows per bucket instead of the corpus.

PACK_CTX = 2048
_PACK_BUCKET = 1000


def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spark.table("documents").select(
        "doc_id",
        F.expr(f"CAST(size({_TOKS_SPARK}) AS BIGINT)").alias("n_toks"),
        F.expr(f"doc_id DIV {_PACK_BUCKET}").alias("_b"),
    )
    btot = d.groupBy("_b").agg(F.sum("n_toks").alias("_bsum"))
    boff = btot.select(
        "_b",
        (
            F.sum("_bsum").over(
                Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
            )
        ).alias("_boff"),
    ).fillna({"_boff": 0})
    w = (
        Window.partitionBy("_b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.withColumn("_local", F.coalesce(F.sum("n_toks").over(w), F.lit(0)))
        .join(F.broadcast(boff), "_b")
        .select(
            "doc_id",
            "n_toks",
            (F.col("_boff") + F.col("_local")).alias("start_tok"),
        )
        .filter(F.col("n_toks") > 0)
        .select(
            "doc_id",
            "n_toks",
            F.expr(f"start_tok DIV {PACK_CTX}").alias("seq_id"),
            F.expr(f"start_tok % {PACK_CTX}").alias("seq_offset"),
            F.expr(
                f"(start_tok + n_toks - 1) DIV {PACK_CTX}"
                f" - start_tok DIV {PACK_CTX}"
            ).alias("n_boundary_crossings"),
        )
    )


ORACLE_PACK_SEQUENCES = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_toks
  FROM documents
),
pre AS (
  SELECT doc_id, n_toks,
         COALESCE(CAST(SUM(n_toks) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS start_tok
  FROM d
)
SELECT doc_id, n_toks,
       start_tok // {PACK_CTX} AS seq_id,
       start_tok % {PACK_CTX} AS seq_offset,
       (start_tok + n_toks - 1) // {PACK_CTX} - start_tok // {PACK_CTX}
         AS n_boundary_crossings
FROM pre WHERE n_toks > 0
"""


# --- docs_surprisal_buckets (CCNet head/middle/tail) ----------------------------
#
# CCNet buckets documents per language by LM perplexity; the engine-portable
# stand-in scores each document by mean token RARITY against the corpus's own
# per-language term-frequency table (integer: floor(1e6 / tf) per occurrence,
# floor-divided by token count), then cuts each language into ntile(3)
# head/middle/tail.  The tf table broadcasts (vocabulary-sized); scoring is
# map-side.  ntile is exact here; at 10^12 docs the cut would come from
# approx-quantile cutoffs broadcast back, not a global sort — same output
# rule, sampled cut points.

_SURPRISAL_SCALE = 1_000_000


def q_docs_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    toks = (
        spark.table("documents")
        .select("doc_id", "lang", F.explode(F.expr(_TOKS_SPARK)).alias("t"))
        .filter(F.col("t") != "")
    )
    tf = toks.groupBy("lang", "t").agg(F.count("*").alias("tf"))
    scored = (
        toks.join(F.broadcast(tf), ["lang", "t"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum(F.expr(f"{_SURPRISAL_SCALE} DIV tf")).alias("_raw"),
        )
        .select(
            "doc_id",
            "lang",
            F.expr("_raw DIV n_toks").alias("rarity_score"),
        )
    )
    w = Window.partitionBy("lang").orderBy("rarity_score", "doc_id")
    return scored.withColumn("b", F.ntile(3).over(w)).select(
        "doc_id",
        "lang",
        "rarity_score",
        F.expr("element_at(array('head', 'middle', 'tail'), CAST(b AS INT))")
        .alias("bucket"),
    )


ORACLE_SURPRISAL_BUCKETS = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(regexp_split_to_array(text, '\\s+')) AS t
  FROM documents
),
toks_ne AS (SELECT * FROM toks WHERE t <> ''),
tf AS (SELECT lang, t, COUNT(*) AS tf FROM toks_ne GROUP BY 1, 2),
scored AS (
  SELECT doc_id, lang,
         CAST(SUM({_SURPRISAL_SCALE} // tf) // COUNT(*) AS BIGINT)
           AS rarity_score
  FROM toks_ne JOIN tf USING (lang, t)
  GROUP BY 1, 2
)
SELECT doc_id, lang, rarity_score,
       ['head', 'middle', 'tail'][
         ntile(3) OVER (PARTITION BY lang ORDER BY rarity_score, doc_id)]
         AS bucket
FROM scored
"""


QUERIES = {
    "docs_substring_dedup": q_docs_substring_dedup,
    "docs_bloom_decontaminate": q_docs_bloom_decontaminate,
    "pages_crawl_delta": q_pages_crawl_delta,
    "docs_pack_sequences": q_docs_pack_sequences,
    "docs_surprisal_buckets": q_docs_surprisal_buckets,
}

ORACLES = {
    "docs_substring_dedup": ORACLE_SUBSTRING_DEDUP,
    "docs_bloom_decontaminate": ORACLE_BLOOM_DECONTAMINATE,
    "pages_crawl_delta": _oracle_crawl_delta(500),
    "docs_pack_sequences": ORACLE_PACK_SEQUENCES,
    "docs_surprisal_buckets": ORACLE_SURPRISAL_BUCKETS,
}
