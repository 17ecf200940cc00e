"""Web-corpus curation ops, part 3: model-based quality classification and
per-host quota sampling.

* **linear quality classifier** (`docs_quality_classifier`): production
  pipelines gate documents with a fasttext-style linear text classifier
  (e.g. the CCNet / LLaMA "looks-like-Wikipedia" filter); the engine-side
  shape is identical whatever the weights are — tokenize, sum per-token
  weights, threshold into quality buckets.  Weights here are a pure integer
  function of the token string ((len*37 + ascii(first)*11) % 21 - 10) so
  both engines score bit-identically; thresholds (>= 0 high, >= -64 medium)
  sit at the corpus quartiles so the split is real.
* **host quota sampling** (`pages_host_quota`): crawls cap pages-per-host to
  keep mega-hosts from dominating the corpus.  The keep decision reuses the
  stratified-sampling rule (Knuth multiplicative hash of the page index —
  reproducible at any parallelism, no RNG), ranking each host's pages by
  (hash, index) and keeping the first QUOTA.

Scale notes (10^12-page corpus):

* the classifier is one explode -> per-doc aggregate; with row-local docs
  this could also run as the zero-shuffle Arrow pass of
  text_repetition_filters — kept declarative here because the weight sum is
  pure codegen (no string frequency tables needed);
* host quota is ONE window per host; hosts are the natural skew unit and
  exactly what pages_host_stats measures — a production run would pre-split
  hot hosts with the salt plan before this window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.pages import synth_pages
from .nonsql import _n_pages
from .webcurate import _NHOSTS  # noqa: F401  (same host sharding as host_stats)

# --- docs_quality_classifier ----------------------------------------------------
_W_TOK = "(length(tok) * 37 + ascii(substring(tok, 1, 1)) * 11) % 21 - 10"
Q_HIGH = 0
Q_MED = -64


def q_docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        spark.table("documents")
        .select("doc_id", F.explode(F.expr("split(text, '\\\\s+')")).alias("tok"))
    )
    return (
        toks.groupBy("doc_id")
        .agg(F.sum(F.expr(_W_TOK)).alias("score"))
        .select(
            "doc_id",
            "score",
            F.expr(
                f"CASE WHEN score >= {Q_HIGH} THEN 'high'"
                f" WHEN score >= {Q_MED} THEN 'medium'"
                " ELSE 'low' END"
            ).alias("quality"),
        )
    )


ORACLE_QUALITY = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
  FROM documents
)
SELECT doc_id, CAST(SUM({_W_TOK}) AS BIGINT) AS score,
       CASE WHEN SUM({_W_TOK}) >= {Q_HIGH} THEN 'high'
            WHEN SUM({_W_TOK}) >= {Q_MED} THEN 'medium'
            ELSE 'low' END AS quality
FROM toks GROUP BY doc_id
"""


# --- pages_host_quota ------------------------------------------------------------
HOST_QUOTA = 10


def q_pages_host_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the first HOST_QUOTA pages per host by (Knuth hash, index)."""
    n = _n_pages(sf_dir)
    pages = synth_pages(spark, n).select(
        F.expr("CAST(split_part(url, '/', 6) AS BIGINT)").alias("i"), "url"
    )
    sharded = pages.select(
        F.expr(f"'h' || (i % {_NHOSTS}) || '.example.org'").alias("host"),
        F.expr("CAST((i * 2654435761) % 4294967296 AS BIGINT)").alias("hk"),
        "i",
        "url",
    )
    w = Window.partitionBy("host").orderBy("hk", "i")
    return (
        sharded.withColumn("rn", F.row_number().over(w))
        .filter(f"rn <= {HOST_QUOTA}")
        .select("host", "url", F.expr("CAST(rn AS BIGINT)").alias("rn"))
    )


def _oracle_host_quota(n: int) -> str:
    return f"""
WITH ids AS (SELECT unnest(range(0, {n})) AS i),
pages AS (
  SELECT i, 'h' || (i % {_NHOSTS}) || '.example.org' AS host,
         'https://example.org/' || ['en','fr','de','es'][CAST(i % 4 AS INT) + 1]
           || '/page/' || i AS url,
         (i * 2654435761) % 4294967296 AS hk
  FROM ids
)
SELECT host, url, rn FROM (
  SELECT host, url,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY hk, i) AS rn
  FROM pages
) WHERE rn <= {HOST_QUOTA}
"""


# --- docs_mixture_weights ---------------------------------------------------------
#
# Training-mix design: per-source sampling weights with sqrt temperature
# (UniMax / "alpha = 0.5" mixing — upweights small sources, damps mega
# sources).  weight_ppm = isqrt(source_chars) * 1e6 DIV sum(isqrt(chars));
# floor(sqrt(x)) on a BIGINT < 2^52 is exact IEEE in both engines.
def q_docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_src = (
        spark.table("documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .withColumn("w", F.expr("CAST(floor(sqrt(n_chars)) AS BIGINT)"))
    )
    tot = per_src.agg(F.sum("w").alias("tw"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.expr("(w * 1000000) DIV tw").alias("weight_ppm"),
        )
    )


ORACLE_MIXTURE = """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(floor(sqrt(CAST(SUM(n_chars) AS BIGINT))) AS BIGINT) AS w
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM per_src)
SELECT source, n_docs, n_chars, (w * 1000000) // tw AS weight_ppm
FROM per_src CROSS JOIN tot
"""


QUERIES = {
    "docs_quality_classifier": q_docs_quality_classifier,
    "pages_host_quota": q_pages_host_quota,
    "docs_mixture_weights": q_docs_mixture_weights,
}
ORACLES: dict[str, str] = {
    "docs_quality_classifier": ORACLE_QUALITY,
    "pages_host_quota": _oracle_host_quota(500),
    "docs_mixture_weights": ORACLE_MIXTURE,
}
