"""Web-corpus curation ops: semantics the sf0.01 oracle gate doesn't isolate."""

from __future__ import annotations

from geospatial_analysis_integrity_tool_spark.sources.synthetic import register_geo_views

SF = "/root/testdata/sf0.001"


def test_url_latest_keeps_freshest_snapshot(spark):
    """Every canonical url folds exactly _SNAP captures, and the survivor is
    the one with the maximum warc_ts (== maximum page index, since the synth
    timestamp is strictly monotone in the index)."""
    from geospatial_analysis_integrity_tool_spark.queries.nonsql import _n_pages
    from geospatial_analysis_integrity_tool_spark.queries.webcurate import (
        _SNAP,
        q_pages_dedup_url_latest,
    )

    n = _n_pages(SF)
    m = n // _SNAP
    register_geo_views(spark, SF)
    rows = q_pages_dedup_url_latest(spark, SF).collect()
    assert len(rows) == m
    for r in rows:
        p = int(r["url"].rsplit("/", 1)[1])
        assert r["n_snapshots"] == _SNAP
        # captures are p, p+m, p+2m, ... — the freshest is the largest index
        assert r["latest_page"] == p + (_SNAP - 1) * m
        assert r["latest_ts_s"] == 1704067200 + r["latest_page"] * 137


def test_host_stats_partition_invariant(spark):
    """Host rollup totals must not depend on the input partitioning."""
    from geospatial_analysis_integrity_tool_spark.queries.webcurate import (
        q_pages_host_stats,
    )

    register_geo_views(spark, SF)
    a = {r["host"]: (r["n_pages"], r["n_langs"], r["total_chars"])
         for r in q_pages_host_stats(spark, SF).collect()}
    assert sum(v[0] for v in a.values()) == 100  # every page in exactly one host
    assert all(1 <= v[1] <= 4 for v in a.values())


def test_token_df_topk_is_df_not_tf(spark):
    """A token repeated many times inside one document counts once: df of
    every reported token is <= the number of documents in its language."""
    from geospatial_analysis_integrity_tool_spark.queries.webcurate import (
        q_docs_token_df_topk,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ndocs = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    register_geo_views(spark, SF)
    rows = q_docs_token_df_topk(spark, SF).collect()
    assert rows, "top-k must be non-empty"
    by_lang: dict[str, list] = {}
    for r in rows:
        assert r["df"] <= ndocs[r["lang"]]
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["rnk"])
        dfs = [r["df"] for r in rs]
        assert dfs == sorted(dfs, reverse=True), "rank must follow df desc"
