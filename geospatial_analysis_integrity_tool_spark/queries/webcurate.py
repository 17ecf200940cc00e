"""Web-corpus curation ops over the pages table (input_hint shape).

Common-Crawl-style corpora are URL-keyed snapshot streams: the same page is
re-crawled across WARC segments, and the first curation stages are (a)
consolidate snapshots per canonical url keeping the freshest capture, (b)
host-level rollups for shard planning / per-host quotas, (c) corpus
vocabulary statistics (document frequency) for quality filters and LM-style
n-gram models.  Each op is a declarative DataFrame plan over the
(url, warc_ts, html, text, lang) pages table with an exact closed-form
DuckDB twin (the synthetic corpus is a pure function of the row index, so
the oracle re-derives every column the same way sources/pages does).

Scale notes (10^12-page corpus):

* snapshot consolidation is ONE hash groupBy on the canonical url —
  map-side combinable (count/max/max_by all have partial aggregates), so
  the shuffle carries one row per distinct url, not per capture;
* host stats reduce to one row per host before any shuffle; hot hosts are
  exactly the skew the per-cell histogram machinery watches for
  (queries/geometry.q_cell_histogram is the geo twin);
* df-topk shuffles one row per distinct (lang, token) thanks to
  array_distinct inside the per-document explode; the final top-k window
  partitions by lang (4 partitions here, bounded by vocabulary in general).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import synth_pages
from .nonsql import _LANGS_SQL, _n_pages, _oracle_pages_text

#: snapshots-per-canonical-url fold factor (n pages -> n/_SNAP canonical urls)
_SNAP = 5

#: hosts the synthetic corpus shards into
_NHOSTS = 23

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z, the synth warc_ts origin


def _with_page_no(pages: DataFrame) -> DataFrame:
    """url is https://example.org/<lang>/page/<i> — recover the page index."""
    return pages.withColumn(
        "_i", F.expr("CAST(split_part(url, '/', 6) AS BIGINT)")
    )


def q_pages_dedup_url_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot consolidation: fold page index i onto canonical page i % m
    (every canonical url gets ~5 captures with strictly increasing warc_ts),
    then keep the freshest capture per canonical url.

    max_by(i, ts) is deterministic here because warc_ts is strictly monotone
    in the capture index; n_snapshots/latest_ts ride the same single
    aggregate.  The timestamp is reduced to epoch seconds (BIGINT) so both
    engines hash identical values.
    """
    n = _n_pages(sf_dir)
    m = n // _SNAP
    pages = _with_page_no(synth_pages(spark, n))
    snaps = pages.selectExpr(
        f"_i % {m} AS _p",
        "_i",
        "CAST(unix_timestamp(warc_ts) AS BIGINT) AS _ts",
    )
    return (
        snaps.groupBy("_p")
        .agg(
            F.count("*").alias("n_snapshots"),
            F.max("_ts").alias("latest_ts_s"),
            F.expr("max_by(_i, _ts)").alias("latest_page"),
        )
        .selectExpr(
            "'https://example.org/' || element_at(array('en','fr','de','es'),"
            " CAST(_p % 4 AS INT) + 1) || '/page/' || _p AS url",
            "n_snapshots",
            "latest_ts_s",
            "latest_page",
        )
    )


def _oracle_dedup_url_latest(n: int) -> str:
    m = n // _SNAP
    return f"""
WITH ids AS (SELECT unnest(range(0, {n})) AS i),
snaps AS (
  SELECT i % {m} AS p, i, {_EPOCH_2024} + i * 137 AS ts FROM ids
)
SELECT 'https://example.org/' || {_LANGS_SQL}[CAST(p % 4 AS INT) + 1]
         || '/page/' || p AS url,
       COUNT(*) AS n_snapshots,
       CAST(MAX(ts) AS BIGINT) AS latest_ts_s,
       CAST(arg_max(i, ts) AS BIGINT) AS latest_page
FROM snaps GROUP BY p
"""


def q_pages_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-shard rollup: the corpus shards onto h<k>.example.org by page
    index; per host report captures, distinct languages, and total extracted
    text volume — the numbers a shard planner needs to size per-host quotas
    and spot skewed hosts before the shuffle."""
    n = _n_pages(sf_dir)
    pages = _with_page_no(synth_pages(spark, n))
    return (
        pages.selectExpr(
            f"'h' || (_i % {_NHOSTS}) || '.example.org' AS host",
            "lang",
            "CAST(length(text) AS BIGINT) AS _chars",
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("_chars").alias("total_chars"),
        )
    )


def _oracle_host_stats(n: int) -> str:
    return f"""
WITH txt AS ({_oracle_pages_text(n)}),
pg AS (
  SELECT CAST(split_part(url, '/', 6) AS BIGINT) AS i,
         split_part(url, '/', 4) AS lang,
         length(extracted) AS chars
  FROM txt
)
SELECT 'h' || (i % {_NHOSTS}) || '.example.org' AS host,
       COUNT(*) AS n_pages,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(chars) AS BIGINT) AS total_chars
FROM pg GROUP BY 1
"""


def q_docs_token_df_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-frequency top-k over the documents corpus.

    DF (not term frequency): each document contributes each distinct token
    once — array_distinct BEFORE the explode keeps the shuffle at one row
    per (doc, distinct token).  Top 5 per language, ties broken by token
    text ascending (deterministic in both engines)."""
    from pyspark.sql.window import Window

    docs = spark.table("documents").select("doc_id", "lang", "text")
    df = (
        docs.select(
            "lang",
            F.explode(F.expr("array_distinct(split(text, '\\\\s+'))")).alias("tok"),
        )
        .filter("tok <> ''")
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("df"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("df"), F.asc("tok"))
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 5")
        .selectExpr("lang", "tok", "df", "CAST(rnk AS INT) AS rnk")
    )


ORACLE_TOKEN_DF_TOPK = r"""
WITH df AS (
  SELECT lang, tok, COUNT(*) AS df
  FROM (
    SELECT lang, unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS tok
    FROM documents
  )
  WHERE tok <> ''
  GROUP BY 1, 2
)
SELECT lang, tok, df, CAST(rnk AS INT) AS rnk
FROM (
  SELECT lang, tok, df,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY df DESC, tok ASC) AS rnk
  FROM df
)
WHERE rnk <= 5
"""


# --- pages_robots_filter (robots.txt policy filtering) -------------------------
#
# Crawl pipelines re-apply robots policies before training-data use.  The
# synthetic policy is deterministic per host shard: host h<k> fully disallows
# when k % 5 == 2, path-blocks /de/ and /es/ when k % 3 == 1, and the rest
# allow everything.  The op synthesizes the robots.txt TEXT per host, parses
# Disallow lines with the generic line grammar (split + prefix match — the
# real parser shape, not a lookup of the generation rule), and left-joins the
# corpus against the parsed prefix rules.  Everything is whole-stage codegen;
# the rules table is hosts-sized and broadcasts; the corpus never shuffles
# before the per-host rollup.


def q_pages_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n_pages(sf_dir)
    pages = _with_page_no(synth_pages(spark, n)).selectExpr(
        f"'h' || (_i % {_NHOSTS}) || '.example.org' AS host",
        "'/' || split_part(url, '/', 4) || '/page/' || _i AS path",
    )
    hosts = spark.range(0, _NHOSTS).selectExpr(
        "'h' || id || '.example.org' AS host",
        "concat_ws(chr(10), 'User-agent: *',"
        " CASE WHEN id % 5 = 2 THEN 'Disallow: /' END,"
        " CASE WHEN id % 3 = 1 THEN 'Disallow: /de/' END,"
        " CASE WHEN id % 3 = 1 THEN 'Disallow: /es/' END) AS robots_txt",
    )
    rules = hosts.selectExpr(
        "host",
        "explode(filter(split(robots_txt, chr(10)),"
        " l -> startswith(l, 'Disallow: '))) AS line",
    ).selectExpr("host", "substring(line, 11, 10000) AS prefix")
    marked = (
        pages.join(F.broadcast(rules), "host", "left")
        .selectExpr(
            "host",
            "path",
            "CASE WHEN prefix IS NOT NULL AND startswith(path, prefix)"
            " THEN 1 ELSE 0 END AS _hit",
        )
        .groupBy("host", "path")
        .agg(F.max("_hit").alias("_blocked"))
    )
    return marked.groupBy("host").agg(
        F.count("*").alias("n_pages"),
        F.sum("_blocked").alias("n_blocked"),
        F.expr("CAST(COUNT(*) - SUM(_blocked) AS BIGINT)").alias("n_allowed"),
    )


def _oracle_robots_filter(n: int) -> str:
    return f"""
WITH pg AS (
  SELECT unnest(range(0, {n})) AS i
),
pages AS (
  SELECT 'h' || (i % {_NHOSTS}) || '.example.org' AS host,
         '/' || {_LANGS_SQL}[CAST(i % 4 AS INT) + 1] || '/page/' || i AS path
  FROM pg
),
hosts AS (
  SELECT 'h' || k || '.example.org' AS host,
         concat_ws(chr(10), 'User-agent: *',
           CASE WHEN k % 5 = 2 THEN 'Disallow: /' END,
           CASE WHEN k % 3 = 1 THEN 'Disallow: /de/' END,
           CASE WHEN k % 3 = 1 THEN 'Disallow: /es/' END) AS robots_txt
  FROM (SELECT unnest(range(0, {_NHOSTS})) AS k)
),
rules AS (
  SELECT host, substring(line, 11, 10000) AS prefix
  FROM hosts,
       LATERAL (SELECT unnest(list_filter(string_split(robots_txt, chr(10)),
                                          l -> starts_with(l, 'Disallow: ')))
                AS line)
),
marked AS (
  SELECT p.host, p.path,
         MAX(CASE WHEN r.prefix IS NOT NULL
                       AND starts_with(p.path, r.prefix)
                  THEN 1 ELSE 0 END) AS blocked
  FROM pages p LEFT JOIN rules r ON r.host = p.host
  GROUP BY 1, 2
)
SELECT host, COUNT(*) AS n_pages,
       CAST(SUM(blocked) AS BIGINT) AS n_blocked,
       CAST(COUNT(*) - SUM(blocked) AS BIGINT) AS n_allowed
FROM marked GROUP BY 1
"""


QUERIES = {
    "pages_dedup_url_latest": q_pages_dedup_url_latest,
    "pages_host_stats": q_pages_host_stats,
    "docs_token_df_topk": q_docs_token_df_topk,
    "pages_robots_filter": q_pages_robots_filter,
}

# the correctness gate runs at sf0.01 -> n = 500 (matches nonsql._n_pages)
ORACLES: dict[str, str] = {
    "pages_dedup_url_latest": _oracle_dedup_url_latest(500),
    "pages_host_stats": _oracle_host_stats(500),
    "docs_token_df_topk": ORACLE_TOKEN_DF_TOPK,
    "pages_robots_filter": _oracle_robots_filter(500),
}
