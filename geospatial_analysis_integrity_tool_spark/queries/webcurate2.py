"""Web-corpus curation ops, part 2: corpus-level line deduplication and URL
canonicalization over the pages table (input_hint shape).

Two more standard Common-Crawl curation stages:

* **line-level dedup** (CCNet, Wenzek et al. 2019 §4.1): boilerplate shows up
  as the SAME line repeated across many pages; the filter computes a global
  line-frequency table and drops every line that occurs more than once in
  the corpus, keeping per-page retention stats and the hash of the retained
  text (order-preserving).
* **URL canonicalization**: crawl frontiers key on a canonical URL — scheme
  and host case-folded, fragment stripped, tracking (utm_*) params dropped,
  remaining query params sorted, trailing path slash removed.  The fixture
  decorates every base url with 7 deterministic raw variants and the op
  must collapse them to exactly 2 canonical forms (the base, and the base
  with real ``?page=2&sort=asc`` params in either order).

Scale notes (10^12-page corpus):

* line dedup is explode -> hash groupBy(line) -> broadcast-unfriendly join
  back on the line value; both shuffles are map-side combinable and carry
  one row per (page, line) — this is exactly CCNet's hash-shard pass.  The
  per-page re-aggregation collects at most the page's own lines (3 here,
  bounded by page size in general).
* canonicalization is pure whole-stage-codegen string work (regexp + array
  sort on the split query string) with ONE groupBy on the canonical url —
  the same consolidation shuffle as pages_dedup_url_latest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import extract_text, synth_pages
from .nonsql import _n_pages, _URL_SQL, _WORDS_SQL


# --- pages_line_dedup (CCNet corpus line dedup) --------------------------------
def q_pages_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page retention stats after corpus-wide duplicate-line removal.

    A line is dropped iff it occurs >= 2 times across the whole corpus
    (CCNet drops duplicated paragraphs; here a page is 3 lines).  Returns
    (url, n_lines, n_dup_lines, retained_md5) where retained_md5 hashes the
    surviving lines joined by newline IN ORIGINAL ORDER (md5('') when the
    whole page is boilerplate).
    """
    n = _n_pages(sf_dir)
    txt = extract_text(synth_pages(spark, n))
    lines = txt.select(
        "url", F.posexplode(F.split("extracted", "\n")).alias("pos", "line")
    )
    freq = lines.groupBy("line").agg(F.count("*").alias("freq"))
    joined = lines.join(freq, "line")
    kept = F.when(F.col("freq") == 1, F.struct("pos", "line"))
    return (
        joined.groupBy("url")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("freq") >= 2, 1).otherwise(0)).alias(
                "n_dup_lines"
            ),
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(F.collect_list(kept)), lambda x: x["line"]
                    ),
                )
            ).alias("retained_md5"),
        )
        .select("url", "n_lines", "n_dup_lines", "retained_md5")
    )


def _oracle_line_dedup(n: int) -> str:
    word = lambda expr: f"{_WORDS_SQL}[CAST(({expr}) % 29 AS INT) + 1]"  # noqa: E731
    line = (
        f"{word('i * 7919 + s * 104729')} || ' ' || "
        f"{word('i * 104717 + s * 7907')} || ' ' || "
        f"{word('i * 31 + s * 17')} || ' s' || (i % 97)"
    )
    return f"""
WITH ids AS (SELECT unnest(range(0, {n})) AS i),
ss AS (SELECT unnest(range(0, 3)) AS s),
lines AS (SELECT i, s, {line} AS line FROM ids, ss),
freq AS (SELECT line, COUNT(*) AS freq FROM lines GROUP BY 1)
SELECT {_URL_SQL} AS url,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN f.freq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
       md5(COALESCE(string_agg(CASE WHEN f.freq = 1 THEN l.line END,
                               chr(10) ORDER BY l.s), '')) AS retained_md5
FROM lines l JOIN freq f USING (line)
GROUP BY i
"""


# --- pages_url_canonicalize ----------------------------------------------------
#
# 7 deterministic raw variants per base url; canonicalization must collapse
# v0..v4 to the base and v5/v6 to base || '?page=2&sort=asc'.
_RAW_VARIANTS = (
    "array(u,"
    " concat('HTTPS://EXAMPLE.ORG', substr(u, 20)),"
    " concat(u, '?utm_source=crawler&utm_campaign=cc'),"
    " concat(u, '#fragment-2'),"
    " concat(u, '/'),"
    " concat(u, '?page=2&sort=asc'),"
    " concat(u, '?sort=asc&page=2&utm_medium=feed'))"
)


def q_pages_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse decorated raw urls onto canonical frontier keys.

    Canonical form: lowercase scheme+host, fragment stripped, utm_* params
    dropped, surviving params sorted, trailing path slash removed.  Output
    is one row per canonical url with the raw-variant count (expected: n
    rows with 5 variants and n rows with 2).
    """
    n = _n_pages(sf_dir)
    pages = synth_pages(spark, n).select(F.col("url").alias("u"))
    raw = pages.select(F.explode(F.expr(_RAW_VARIANTS)).alias("raw"))
    nofrag = F.expr("regexp_replace(raw, '#.*$', '')")
    lowered = F.concat(
        F.lower(F.regexp_extract(nofrag, "^[^/]+//[^/]+", 0)),
        F.regexp_replace(nofrag, "^[^/]+//[^/]+", ""),
    )
    canon = (
        raw.select(lowered.alias("_u"))
        .select(
            F.expr("regexp_replace(substring_index(_u, '?', 1), '/$', '')").alias(
                "_path"
            ),
            F.expr(
                "CASE WHEN _u LIKE '%?%' THEN"
                " array_join(array_sort(filter(split("
                "   substr(_u, instr(_u, '?') + 1), '&'),"
                "   p -> p NOT LIKE 'utm_%')), '&')"
                " ELSE '' END"
            ).alias("_q"),
        )
        .select(
            F.expr(
                "CASE WHEN _q = '' THEN _path ELSE concat(_path, '?', _q) END"
            ).alias("canonical_url")
        )
    )
    return canon.groupBy("canonical_url").agg(
        F.count("*").alias("n_raw_variants")
    )


def _oracle_url_canonicalize(n: int) -> str:
    # closed form: each base collapses v0..v4 (5 variants) onto itself and
    # v5/v6 (2 variants) onto base || '?page=2&sort=asc'.
    return f"""
WITH ids AS (SELECT unnest(range(0, {n})) AS i),
base AS (SELECT {_URL_SQL} AS b FROM ids)
SELECT b AS canonical_url, CAST(5 AS BIGINT) AS n_raw_variants FROM base
UNION ALL
SELECT b || '?page=2&sort=asc', CAST(2 AS BIGINT) FROM base
"""


QUERIES = {
    "pages_line_dedup": q_pages_line_dedup,
    "pages_url_canonicalize": q_pages_url_canonicalize,
}

# the correctness gate runs at sf0.01 -> n = 500 (matches nonsql._n_pages)
ORACLES: dict[str, str] = {
    "pages_line_dedup": _oracle_line_dedup(500),
    "pages_url_canonicalize": _oracle_url_canonicalize(500),
}
