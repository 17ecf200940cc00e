"""Benchmark harness — driver contract.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with ``df.count()`` (full execution, no driver-side
transfer).  A small warm-up job runs first so JVM/codegen startup is not
attributed to the first query.  Extra keys: rows per query, features_per_sec
for the spatial-check stage (the BASELINE.json throughput metric), cpu count.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "geo_pip",
    "geo_prox_pairs",
    "geo_knn",
    "geo_undershoot",
    "geo_kink",
    "geo_dup_geom",
    "geo_line_intersections",
    "geo_line_area",
    "geo_loops",
    "geo_area_overlap",
    "conditions_pipeline",
    "raster_point_grid_dif",
    "raster_clamp_dif",
    "geo_convex_hull_stats",
    "shp_dbf_scan",
    "q1_pricing_summary",
    "q5_region_revenue",
    "events_sessionize",
    "attr_conformance",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "embedding_near_dup",
    # round-3 breadth additions
    "dem_dted_tile_stats",
    "raster_water_mmu",
    "raster_flow_step",
    "geo_clamp_sdc",
    "geo_internalkink",
    "geo_lenocoverl",
    "attr_mgcp3_domains",
    "multimodal_features",
    "streaming_first_seen",
    # round-3 late additions (condition-type completion)
    "geo_areaintarea",
    "geo_tear_checks",
    "raster_kernel_stats",
    "geo_lspint",
    # round-3 training-data pipeline additions
    "dedup_cluster_resolve",
    "docs_sample_stratified",
    "token_profile",
    "pages_lang_stats",
    "text_repetition_filters",
    "docs_decontaminate",
    "text_pii_scrub",
    "streaming_windowed_counts",
    # round-3 web-curation additions
    "pages_dedup_url_latest",
    "pages_host_stats",
    "docs_token_df_topk",
    # round-3 link-graph / retrieval / vector additions
    "pages_pagerank",
    "pages_line_dedup",
    "docs_bm25_topk",
    "embedding_pq_topk",
    "embedding_kmeans",
    "docs_quality_classifier",
    "embedding_semantic_dedup",
    "docs_mixture_weights",
    "warc_scan",
    # round-3 session-2 additions
    "docs_substring_dedup",
    "docs_bloom_decontaminate",
    "pages_crawl_delta",
    "docs_pack_sequences",
    "docs_surprisal_buckets",
    "ann_ivf_recall",
    "checkpoint_sink_roundtrip",
    "streaming_extract_sink",
    "tokenizer_pair_stats",
    "vocab_oov_rate",
    "warc_wet_export",
    # round-4 additions: real-size schema tables, codecs, UTM, full decode
    "isf_matrix_checks",
    "attr_tds6_domains",
    "conditions_labels",
    "dem_geotiff_compressed_stats",
    "utm_ingest_geodetic",
    "utm_pip_join",
    "multimodal_decode",
    "isf_matrix_tds6",
    "attr_nfdd_domains",
    "attr_nfdd_nunanpo",
    "mgcp_overlap_combos",
    "attr_enum_labels",
    "geo_pip_gait",
    "streaming_pip",
    # round-4 continuation: remaining map projections + nunanpo modes
    "ups_ingest_geodetic",
    "lcc_ingest_geodetic",
    "mercator_ingest_geodetic",
    "edgematch_nunanpo_modes",
    "tm_ingest_geodetic",
    "ec_ingest_geodetic",
    "ltp_ingest_geodetic",
    "om_ingest_geodetic",
    "geo_prox_pairs_euclidean",
    "geo_feat_length_euclidean",
    "streaming_utm_pip",
    # round-5 additions: space frames, converged loops, gated cell encode
    "gse_ingest_geodetic",
    "gsm_ingest_geodetic",
    "pages_pagerank_converged",
    "embedding_kmeans_converged",
    "geo_encode_cells",
    "lsr_prox_planar",
    # round-5 session-2: importance-resampling data selection + bigram-LM scoring
    "docs_dsir_select",
    "docs_lm_perplexity",
    "docs_winnow_fingerprints",
    "streaming_lsh_dedup",
    "tokenizer_bpe_merge_step",
]

# spatial checks whose input cardinality defines "features" for features/sec
SPATIAL = {
    "geo_pip",
    "geo_prox_pairs",
    "geo_knn",
    "geo_undershoot",
    "geo_kink",
    "geo_dup_geom",
    "geo_line_intersections",
    "geo_line_area",
    "geo_loops",
    "geo_area_overlap",
    "conditions_pipeline",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from geospatial_analysis_integrity_tool_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("gait-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: register the source and geometry views once (the registry
    # re-issues them per query from the cached frames), touch every input
    # table + start executors/codegen
    from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
        TESTDATA_TABLES,
        register_geo_views,
    )

    register_geo_views(spark, sf_dir)
    n_features = 0
    for t in TESTDATA_TABLES:
        c = spark.table(t).count()
        if t in ("customer", "supplier", "orders"):
            n_features += c
    # warm the Arrow/Python worker pool too (spark.python.worker.reuse is on,
    # so one trivial mapInPandas per core spawns the daemons every pandas-UDF
    # query after this reuses) — same spirit as the JVM/codegen warm-up
    spark.range(0, 1024, 1, 64).mapInPandas(lambda it: it, schema="id long").count()

    qs = entrymod.queries()
    # optional subset (e.g. the sf1 stress snapshot): comma-separated names
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    headline = (
        [q for q in subset.split(",") if q] if subset else list(HEADLINE)
    )
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    spatial_time = 0.0
    sc = spark.sparkContext
    for name in headline:
        fn = qs[name]
        t0 = time.time()
        rows[name] = fn(spark, sf_dir).count()
        dt = time.time() - t0
        times[name] = round(dt, 3)
        if name in SPATIAL:
            spatial_time += dt
        # Drop cached DataFrames and localCheckpoint blocks left behind by the
        # query just measured so 30+ queries don't accumulate block-manager
        # state (memory pressure inflates later queries' times).
        spark.catalog.clearCache()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "rows": rows,
        "spatial_features_per_sec": round(n_features / spatial_time, 1)
        if spatial_time > 0
        else None,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
