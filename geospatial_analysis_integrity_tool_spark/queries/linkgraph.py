"""Web link-graph ops over the pages table: outlink extraction, in-degree,
and integer-exact PageRank.

Common-Crawl releases ship a page-level link graph next to the WARC corpus,
and link analysis (in-degree rollups, PageRank / harmonic centrality for
quality-weighted sampling) is a standard curation signal.  The synthetic
corpus embeds 0..3 deterministic anchors per page (page i links to
``(i*2017 + j*3571) % n`` for ``j < (i*7) % 4`` — sources/pages._page_batch),
so every op has a closed-form DuckDB twin.

PageRank runs two unrolled power iterations with damping 17/20 in EXACT
integer arithmetic (ranks in parts-per-million of the uniform start):

    r0(v)    = 1_000_000
    contrib  = r_k(u) DIV outdeg(u)              (truncating DIV, both engines)
    r_{k+1}(v) = 150_000 + (17 * sum contribs) DIV 20

Dangling mass is dropped (rank leaks from sink pages) — the deterministic
variant that keeps every step integer; the oracle mirrors it exactly.

Scale notes (10^12-page corpus):

* the edge list streams out of the html scan (one Arrow extractall hop, no
  shuffle) and is materialized ONCE (localCheckpoint) because the power
  iteration references it every round — the SCALE.md iterative-input rule;
* each iteration is one join edges->ranks on src (both sides partitioned
  by the join key after the first round) + one groupBy dst with a partial
  aggregate; this is textbook PageRank-on-Spark shape, and a production
  loop would iterate the same two stages to convergence;
* in-degree is one map-side-combinable groupBy on dst_url.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.fixpoint import fixpoint
from ..sources.pages import extract_outlinks, synth_pages
from .nonsql import _LANGS_SQL, _n_pages

_R0 = 1_000_000
_BASE = 150_000  # (1 - d) * R0 with d = 17/20


def _url_sql(expr: str) -> str:
    return (
        "'https://example.org/' || "
        f"{_LANGS_SQL}[CAST(({expr}) % 4 AS INT) + 1] || '/page/' || ({expr})"
    )


def _edges_sql(n: int) -> str:
    return f"""
ids AS (SELECT unnest(range(0, {n})) AS i),
js AS (SELECT unnest(range(0, 3)) AS j),
edges AS (
  SELECT i AS s, j, (i * 2017 + j * 3571) % {n} AS t
  FROM ids, js WHERE j < (i * 7) % 4
)
"""


# --- pages_outlink_extract ------------------------------------------------------
def q_pages_outlink_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw edge list: (src_url, ordinal, dst_url) per embedded anchor."""
    n = _n_pages(sf_dir)
    return extract_outlinks(synth_pages(spark, n))


def _oracle_outlinks(n: int) -> str:
    return f"""
WITH {_edges_sql(n).strip()}
SELECT {_url_sql('s')} AS src_url,
       CAST(j AS BIGINT) AS ordinal,
       {_url_sql('t')} AS dst_url
FROM edges
"""


# --- pages_link_indegree --------------------------------------------------------
def q_pages_link_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree per linked-to page (pages with >= 1 inlink)."""
    n = _n_pages(sf_dir)
    edges = extract_outlinks(synth_pages(spark, n))
    return edges.groupBy("dst_url").agg(F.count("*").alias("in_deg"))


def _oracle_indegree(n: int) -> str:
    return f"""
WITH {_edges_sql(n).strip()}
SELECT {_url_sql('t')} AS dst_url, COUNT(*) AS in_deg
FROM edges GROUP BY t
"""


# --- pages_pagerank -------------------------------------------------------------
def q_pages_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n_pages(sf_dir)
    pages = synth_pages(spark, n)
    # iterative input: materialize the extracted edge list once
    edges = (
        extract_outlinks(pages)
        .select("src_url", "dst_url")
        .localCheckpoint(eager=True)
    )
    od = edges.groupBy("src_url").agg(F.count("*").alias("od"))
    nodes = pages.select("url")
    ranks = nodes.withColumn("r", F.lit(_R0).cast("bigint"))

    def iterate(ranks: DataFrame) -> DataFrame:
        contrib = (
            edges.join(ranks.withColumnRenamed("url", "src_url"), "src_url")
            .join(od, "src_url")
            .select(
                F.col("dst_url").alias("url"), F.expr("r DIV od").alias("c")
            )
        )
        s = contrib.groupBy("url").agg(F.sum("c").alias("s"))
        return nodes.join(s, "url", "left").select(
            "url",
            F.expr(f"{_BASE} + (17 * coalesce(s, 0L)) DIV 20").alias("r"),
        )

    r2 = iterate(iterate(ranks))
    return r2.select("url", F.col("r").alias("pagerank_ppm"))


def _oracle_pagerank(n: int) -> str:
    return f"""
WITH {_edges_sql(n).strip()},
od AS (SELECT s, COUNT(*) AS od FROM edges GROUP BY 1),
s0 AS (
  SELECT t, SUM({_R0} // od) AS sm
  FROM edges JOIN od USING (s) GROUP BY 1
),
r1 AS (
  SELECT i, {_BASE} + (17 * COALESCE(sm, 0)) // 20 AS r
  FROM ids LEFT JOIN s0 ON s0.t = ids.i
),
s1 AS (
  SELECT e.t, SUM(r1.r // od.od) AS sm
  FROM edges e JOIN od USING (s) JOIN r1 ON r1.i = e.s
  GROUP BY 1
),
r2 AS (
  SELECT i, {_BASE} + (17 * COALESCE(sm, 0)) // 20 AS r
  FROM ids LEFT JOIN s1 ON s1.t = ids.i
)
SELECT {_url_sql('i')} AS url, CAST(r AS BIGINT) AS pagerank_ppm FROM r2
"""


# --- pages_pagerank_converged ----------------------------------------------------
#
# The production variant of pages_pagerank: a checkpointed loop driver that
# iterates the SAME two stages (edge join on src + partial-aggregate groupBy
# on dst) until the integer rank vector reaches its exact fixed point
# (max |r_{k+1} - r_k| == 0), instead of unrolling a fixed count.  This is
# the iterate-until-done shape of the reference's transitive-counter
# propagation loop (moregeomchecks.c:2774 PropagateTransitiveCounters: sweep
# until no counter changes), re-expressed as DataFrame rounds on the
# fixed-point driver (plans/fixpoint.py): each round localCheckpoints
# (truncating lineage so plan size stays O(1) across rounds) and observes
# ONE scalar (the max delta) on that same job.  Because
# the recurrence is exact BIGINT, the fixed point is reached in finitely
# many rounds and is engine-independent; the DuckDB twin unrolls the
# simulation-determined round count for the sf0.01 fixture (n=500 -> 18).

PAGERANK_MAX_ITERS = 100


def pagerank_converged(
    spark: SparkSession, n: int, max_iters: int = PAGERANK_MAX_ITERS
) -> tuple[DataFrame, int]:
    """Run integer PageRank to its exact fixed point; returns (ranks, rounds)
    and raises if ``max_iters`` rounds do not reach it."""
    pages = synth_pages(spark, n)
    edges = (
        extract_outlinks(pages)
        .select("src_url", "dst_url")
        .localCheckpoint(eager=True)
    )
    od = edges.groupBy("src_url").agg(F.count("*").alias("od"))
    nodes = pages.select("url").localCheckpoint(eager=True)
    ranks = nodes.withColumn("r", F.lit(_R0).cast("bigint"))

    def iterate(ranks: DataFrame) -> DataFrame:
        contrib = (
            edges.join(ranks.withColumnRenamed("url", "src_url"), "src_url")
            .join(od, "src_url")
            .select(
                F.col("dst_url").alias("url"), F.expr("r DIV od").alias("c")
            )
        )
        s = contrib.groupBy("url").agg(F.sum("c").alias("s"))
        # Carry r_prev through the materialized round so the convergence
        # delta is observed on the round's own checkpoint job instead of a
        # second shuffle join per round.
        return (
            nodes.join(s, "url", "left")
            .join(ranks.select("url", F.col("r").alias("r_prev")), "url")
            .select(
                "url",
                F.expr(f"{_BASE} + (17 * coalesce(s, 0L)) DIV 20").alias("r"),
                "r_prev",
            )
        )

    return fixpoint(
        "pagerank_converged",
        ranks,
        iterate,
        F.max(F.expr("abs(r - r_prev)")),
        ["url", "r"],
        max_iters,
    )


def q_pages_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n_pages(sf_dir)
    ranks, _ = pagerank_converged(spark, n)
    return ranks.select("url", F.col("r").alias("pagerank_ppm"))


def _oracle_pagerank_converged(n: int, iters: int) -> str:
    """Unrolled CTE twin at the fixture's simulation-determined round count.

    Every per-round CTE is MATERIALIZED: DuckDB otherwise inlines CTEs per
    reference, and the 18-deep chain re-plans exponentially (~2x per round;
    measured 6.8 s at 18 rounds inlined vs milliseconds materialized).
    """
    ctes = [
        f"""s0 AS MATERIALIZED (
  SELECT t, SUM({_R0} // od) AS sm
  FROM edges JOIN od USING (s) GROUP BY 1
),
r1 AS MATERIALIZED (
  SELECT i, {_BASE} + (17 * COALESCE(sm, 0)) // 20 AS r
  FROM ids LEFT JOIN s0 ON s0.t = ids.i
)"""
    ]
    for k in range(1, iters):
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT e.t, SUM(r{k}.r // od.od) AS sm
  FROM edges e JOIN od USING (s) JOIN r{k} ON r{k}.i = e.s
  GROUP BY 1
),
r{k + 1} AS MATERIALIZED (
  SELECT i, {_BASE} + (17 * COALESCE(sm, 0)) // 20 AS r
  FROM ids LEFT JOIN s{k} ON s{k}.t = ids.i
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {_edges_sql(n).strip()},
od AS MATERIALIZED (SELECT s, COUNT(*) AS od FROM edges GROUP BY 1),
{body}
SELECT {_url_sql('i')} AS url, CAST(r AS BIGINT) AS pagerank_ppm FROM r{iters}
"""


#: fixed-point round count for the n=500 (sf0.01 gate) fixture, determined by
#: simulating the exact integer recurrence: max |r_18 - r_17| == 0.
_PAGERANK_FIXED_POINT_ITERS_500 = 18

QUERIES = {
    "pages_outlink_extract": q_pages_outlink_extract,
    "pages_link_indegree": q_pages_link_indegree,
    "pages_pagerank": q_pages_pagerank,
    "pages_pagerank_converged": q_pages_pagerank_converged,
}

# the correctness gate runs at sf0.01 -> n = 500 (matches nonsql._n_pages)
ORACLES: dict[str, str] = {
    "pages_outlink_extract": _oracle_outlinks(500),
    "pages_link_indegree": _oracle_indegree(500),
    "pages_pagerank": _oracle_pagerank(500),
    "pages_pagerank_converged": _oracle_pagerank_converged(
        500, _PAGERANK_FIXED_POINT_ITERS_500
    ),
}
