"""Property tests for the session-2 curation ops (queries/textops3.py).

The oracle gate already proves engine==DuckDB bit-for-bit; these tests pin
the SEMANTIC properties the oracle can't distinguish from coincidence: the
planted exact copies must be caught by the substring dedup, Bloom hits must
dominate exact hits (one-sided error only), and sequence packing must be a
consistent partition of the concatenated token stream.
"""

from __future__ import annotations

from geospatial_analysis_integrity_tool_spark.sources.synthetic import register_geo_views
from tests.conftest import SF_SMALL


def test_substring_dedup_catches_exact_copies(spark):
    from geospatial_analysis_integrity_tool_spark.queries.textops3 import (
        q_docs_substring_dedup,
    )

    register_geo_views(spark, SF_SMALL)
    rows = {r["doc_id"]: r for r in q_docs_substring_dedup(spark, SF_SMALL).collect()}
    # every planted exact copy (doc_id % 7 == 0 -> +2000000) long enough to
    # carry a window must be flagged with ALL windows cross-doc duplicated
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    }
    for did, text in docs.items():
        if did % 7 == 0 and len(text) >= 40:
            copy_id = did + 2000000
            assert copy_id in rows, f"copy of {did} not flagged"
            r = rows[copy_id]
            assert r["n_crossdoc_windows"] == r["n_windows"]


def test_bloom_error_is_one_sided(spark):
    from geospatial_analysis_integrity_tool_spark.queries.textops3 import (
        q_docs_bloom_decontaminate,
    )

    register_geo_views(spark, SF_SMALL)
    out = q_docs_bloom_decontaminate(spark, SF_SMALL).collect()
    assert len(out) > 0
    # a Bloom filter has false positives, never false negatives
    assert all(r["n_exact_hits"] <= r["n_bloom_hits"] for r in out)
    # the exact copies of benchmark docs (+2000000, doc_id % 91 in {14, 56, ...}
    # i.e. % 7 == 0 and % 13 == 3) are true contamination and must be caught
    bench_copies = [
        did + 2000000
        for did in range(0, 100)
        if did % 7 == 0 and did % 13 == 3
    ]
    flagged = {r["doc_id"] for r in out}
    for c in bench_copies:
        assert c in flagged


def test_pack_sequences_is_consistent_partition(spark):
    from geospatial_analysis_integrity_tool_spark.queries.textops3 import (
        PACK_CTX,
        q_docs_pack_sequences,
    )

    register_geo_views(spark, SF_SMALL)
    rows = sorted(
        q_docs_pack_sequences(spark, SF_SMALL).collect(),
        key=lambda r: r["doc_id"],
    )
    assert rows
    pos = 0
    for r in rows:
        assert r["seq_id"] == pos // PACK_CTX
        assert r["seq_offset"] == pos % PACK_CTX
        end = pos + r["n_toks"] - 1
        assert r["n_boundary_crossings"] == end // PACK_CTX - pos // PACK_CTX
        pos += r["n_toks"]


def test_surprisal_buckets_cover_every_doc_per_lang(spark):
    from geospatial_analysis_integrity_tool_spark.queries.textops3 import (
        q_docs_surprisal_buckets,
    )

    register_geo_views(spark, SF_SMALL)
    out = q_docs_surprisal_buckets(spark, SF_SMALL).collect()
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert len(out) == n_docs
    by_lang: dict[str, dict[str, int]] = {}
    for r in out:
        by_lang.setdefault(r["lang"], {}).setdefault(r["bucket"], 0)
        by_lang[r["lang"]][r["bucket"]] += 1
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}, (lang, buckets)
        # ntile balance: bucket sizes differ by at most 1
        assert max(buckets.values()) - min(buckets.values()) <= 1
