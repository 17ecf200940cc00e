"""DSIR importance-resampling selection (queries/dsirq.py)."""

from __future__ import annotations

import math

from geospatial_analysis_integrity_tool_spark.sources.synthetic import register_geo_views
from tests.conftest import SF_GATE


def test_log2fp_is_monotone_and_close():
    """The fixed-point log2 surrogate: strictly monotone, max error < 0.09 bits."""
    def log2fp(n: int) -> int:
        m = n.bit_length() - 1
        return m * 65536 + ((n - (1 << m)) * 65536) // (1 << m)

    prev = None
    for n in list(range(1, 4096)) + [10**6, 10**9, 10**12]:
        v = log2fp(n)
        if prev is not None and n <= 4096:
            assert v >= prev  # monotone (non-strict only at fp granularity)
        prev = v
        assert abs(v / 65536 - math.log2(n)) < 0.09

def test_gumbel_jitter_agrees_across_engines(spark):
    """The DSIR jitter evaluates to the same value in Spark and DuckDB for
    every BIGINT doc id (the Knuth product once overflowed INT64 from
    doc_id ~ 3.47e9), and keeps the old hash's value wherever that was
    computable."""
    import duckdb

    from geospatial_analysis_integrity_tool_spark.queries.dsirq import GUMBEL_FP

    ids = [0, 1, 987654321, 2**31 - 1, 2_999_999_999, 3 * 10**9, 4 * 10**9, 2**62]
    spark_vals = dict(
        spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        .selectExpr("doc_id", f"{GUMBEL_FP} AS g")
        .collect()
    )
    con = duckdb.connect()
    duck_vals = dict(
        con.sql(
            f"SELECT doc_id, {GUMBEL_FP} AS g"
            f" FROM (SELECT unnest({ids}::BIGINT[]) AS doc_id)"
        ).fetchall()
    )
    assert spark_vals == duck_vals
    for d in ids:
        if d < 3 * 10**9:
            assert spark_vals[d] == ((d * 2654435761) % 2**32) % 65536


def test_lm_perplexity_invariants(spark):
    """Bigram-LM scores: one row per doc with >= 2 tokens, positive NLL,
    ppl = truncating mean of per-bigram bits."""
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.queries.dsirq import (
        q_docs_lm_perplexity,
    )

    register_geo_views(spark, SF_GATE)
    out = q_docs_lm_perplexity(spark, SF_GATE)
    rows = out.collect()
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n_multi = docs.filter(
        F.expr("size(filter(split(text, '\\\\s+'), t -> t <> '')) >= 2")
    ).count()
    assert len(rows) == n_multi
    for r in rows:
        # add-1 smoothing guarantees c2+1 <= c1+V, so every bigram's
        # fixed-point bit cost is positive
        assert r["nll_fp"] > 0
        assert r["n_bigrams"] >= 1
        assert r["ppl_fp"] == r["nll_fp"] // r["n_bigrams"]


def test_dsir_selects_from_raw_pool_only(spark):
    from geospatial_analysis_integrity_tool_spark.queries.dsirq import (
        SELECT_K,
        TARGET_SOURCES,
        q_docs_dsir_select,
    )

    register_geo_views(spark, SF_GATE)
    sel = q_docs_dsir_select(spark, SF_GATE)
    rows = sel.collect()
    assert len(rows) == SELECT_K
    # ranks are dense 1..K and the weight spread is real (not jitter-only)
    assert sorted(r["rank"] for r in rows) == list(range(1, SELECT_K + 1))
    logws = [r["logw_fp"] for r in rows]
    assert max(logws) - min(logws) > 65536 // 4  # > 0.25 bits of spread
    # every selected doc comes from the raw (non-target) pool
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    tgt_ids = {
        r["doc_id"]
        for r in docs.filter(docs.source.isin(*TARGET_SOURCES))
        .select("doc_id")
        .collect()
    }
    assert all(r["doc_id"] not in tgt_ids for r in rows)


def _greedy_merges(w: str, p: str) -> int:
    """Reference greedy-leftmost merge count (Sennrich et al. scan rule)."""
    i, n = 0, 0
    while i < len(w) - 1:
        if w[i : i + 2] == p:
            n += 1
            i += 2
        else:
            i += 1
    return n


def test_bpe_islands_formula_equals_greedy_scan():
    """The gaps-and-islands arithmetic (merges per run = (L+1) DIV 2) must
    equal the greedy leftmost scan, including doubled-char overlap runs."""
    for n in range(2, 12):
        w = "a" * n
        # run of matching positions has length n-1
        assert _greedy_merges(w, "aa") == ((n - 1) + 1) // 2
    for w, p, want in [
        ("abab", "ab", 2),
        ("aab", "ab", 1),
        ("xaaaay", "aa", 2),
        ("xy", "aa", 0),
    ]:
        assert _greedy_merges(w, p) == want


def test_bpe_merge_step_matches_brute_force(spark):
    """End-to-end on the real fixture: the SQL merge counts equal the Python
    greedy scan for every affected word, and symbol accounting balances."""
    import re

    from geospatial_analysis_integrity_tool_spark.queries.tokenizerq import (
        q_tokenizer_bpe_merge_step,
    )

    register_geo_views(spark, SF_GATE)
    out = q_tokenizer_bpe_merge_step(spark, SF_GATE).collect()
    assert out, "top pair must occur in at least one word"
    pair = out[0]["pair"]

    docs_real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    freq: dict[str, int] = {}
    for r in docs_real.select("text").collect():
        for w in re.split(r"\s+", r["text"]):
            if w:
                freq[w] = freq.get(w, 0) + 1

    expected = {
        w: _greedy_merges(w, pair)
        for w in freq
        if _greedy_merges(w, pair) > 0
    }
    got = {r["w"]: r["n_merges"] for r in out}
    assert got == expected
    for r in out:
        assert r["len_after"] == len(r["w"]) - r["n_merges"]
        assert r["freq"] == freq[r["w"]]


def test_bpe_merge_step_sql_overlap_run(spark):
    """Drive the SQL islands logic itself over a doubled-char corpus: the
    top pair is 'aa' and overlap runs must merge (L+1) DIV 2 times."""
    from geospatial_analysis_integrity_tool_spark.queries import tokenizerq

    spark.createDataFrame(
        [(1, "aaaa aaa aa xy"), (2, "aaaaaa aa ab"), (3, "aa aa xy")],
        "doc_id: bigint, text: string",
    ).createOrReplaceTempView("documents")
    out = {r["w"]: r for r in tokenizerq.q_tokenizer_bpe_merge_step(spark, "ignored").collect()}
    assert out and next(iter(out.values()))["pair"] == "aa"
    assert out["aaaa"]["n_merges"] == 2 and out["aaaa"]["len_after"] == 2
    assert out["aaa"]["n_merges"] == 1 and out["aaa"]["len_after"] == 2
    assert out["aaaaaa"]["n_merges"] == 3
    assert out["aa"]["n_merges"] == 1 and out["aa"]["freq"] == 4
    assert "xy" not in out and "ab" not in out
