"""Physical-plan audit: dump .explain("formatted") for the headline queries
and check structural expectations (broadcast where intended, no unexpected
shuffles, codegen coverage).  Writes EXPLAIN.md.

Usage: python tools/explain_audit.py
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.01"

#: query -> structural expectations checked against the formatted plan
AUDIT = {
    "geo_pip": {
        "want": ["BroadcastHashJoin", "MapInPandas|PythonMapInArrow|ArrowEvalPython"],
        "forbid": ["SortMergeJoin"],
        "note": "polygon cover broadcast; single Exchange only if AQE inserts one "
        "for the final collect",
    },
    "geo_prox_pairs": {
        "want": ["BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "pure JVM distance join — no Python anywhere in the plan",
    },
    "q5_region_revenue": {
        "want": ["BroadcastHashJoin"],
        "forbid": [],
        "note": "dims broadcast; one shuffle for the lineitem/orders join + agg",
    },
    "q1_pricing_summary": {
        "want": ["HashAggregate", "PushedFilters: \\[IsNotNull\\(l_shipdate\\)"],
        "forbid": ["MapInPandas", "BatchEvalPython"],
        "note": "partial agg before the single exchange; shipdate filter pushed "
        "into the parquet scan",
    },
    "geo_line_intersections": {
        "want": ["Join"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "orientation tests as JVM expressions — no Python nodes",
    },
    "conditions_pipeline": {
        "want": ["PythonMapInArrow|MapInArrow|MapInPandas", "Window"],
        "forbid": [],
        "note": "Arrow kernel then consolidation window",
    },
    "attr_conformance": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin"],
        "note": "every spec anti-join broadcast",
    },
    "geo_loops": {
        "want": ["Join"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "self-intersection: per-feature segment pairs, equi-join on "
        "feature id, predicates in codegen",
    },
    "geo_line_area": {
        "want": ["Join"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "variable-vertex LAINT/LINSIDEA: cell joins + parity "
        "aggregation, all JVM",
    },
    "embedding_near_dup": {
        "want": ["MapInPandas", "Join"],
        "forbid": ["BroadcastNestedLoop"],
        "note": "banded-LSH path: int64-matmul signature kernel (mapInPandas) "
        "-> JVM bucket self-join -> einsum cosine refine (mapInPandas); the "
        "round-2 Catalyst-HOF refine and 2048-term signature expressions are "
        "gone — plan size is constant",
    },
    "geo_lenocoverl": {
        "want": ["Join"],
        "forbid": ["BroadcastNestedLoop", "MapInPandas", "BatchEvalPython"],
        "note": "coverage anti-join: k-ring candidates, JVM distance, "
        "left-anti against the covered set",
    },
    "pages_dedup_url_latest": {
        "want": ["HashAggregate", "MapInPandas"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "BatchEvalPython"],
        "note": "snapshot consolidation is ONE map-side-combinable hash "
        "aggregate over the synthesized pages — no join anywhere",
    },
    "pages_host_stats": {
        "want": ["HashAggregate"],
        "forbid": ["SortMergeJoin", "BroadcastHashJoin", "BatchEvalPython"],
        "note": "host rollup reduces to one row per host before the shuffle",
    },
    "text_repetition_filters": {
        "want": ["MapInPandas"],
        "forbid": ["Exchange", "HashAggregate", "Join"],
        "note": "per-doc repetition stats are row-local: ONE zero-shuffle "
        "Arrow pass (vectorized frequency tables per batch), no Exchange "
        "in the plan at all",
    },
    "pages_pagerank": {
        "want": ["HashAggregate", "MapInPandas"],
        "forbid": ["BatchEvalPython", "CartesianProduct"],
        "note": "edge list extracted once (localCheckpoint), two power "
        "iterations = join ranks on src + groupBy dst with partial agg",
    },
    "pages_line_dedup": {
        "want": ["Generate", "HashAggregate", "MapInPandas"],
        "forbid": ["BatchEvalPython", "CartesianProduct"],
        "note": "CCNet line dedup: explode -> line-frequency hash agg -> "
        "join back on line value -> per-page re-aggregate",
    },
    "docs_bm25_topk": {
        "want": ["Generate", "HashAggregate", "BroadcastHashJoin", "TakeOrdered"],
        "forbid": ["MapInPandas", "BatchEvalPython", "SortMergeJoin"],
        "note": "term-filtered explode before the shuffle; df + corpus "
        "scalars broadcast; top-k is TakeOrdered, never a global sort",
    },
    "embedding_pq_topk": {
        "want": ["Generate", "HashAggregate", "BroadcastHashJoin"],
        "forbid": ["MapInPandas", "BatchEvalPython", "CartesianProduct"],
        "note": "PQ: codebook-sized aggregates broadcast back; ADC table "
        "broadcast to the corpus-code side; no vector ever re-shuffled",
    },
    "embedding_kmeans": {
        "want": ["Generate", "HashAggregate", "BroadcastHashJoin"],
        "forbid": ["MapInPandas", "BatchEvalPython", "CartesianProduct"],
        "note": "Lloyd's iteration = broadcast centroids + partial-agg "
        "distance reduce per (vec, k)",
    },
    "docs_quality_classifier": {
        "want": ["Generate", "HashAggregate"],
        "forbid": ["Join", "MapInPandas", "BatchEvalPython"],
        "note": "linear classifier: explode -> one map-side-combinable "
        "weight-sum aggregate; pure codegen",
    },
    "docs_token_df_topk": {
        "want": ["Generate", "Window", "HashAggregate"],
        "forbid": ["Join", "BatchEvalPython", "MapInPandas"],
        "note": "distinct-per-doc explode -> partial-aggregated df counts -> "
        "per-lang top-k window; pure JVM",
    },
    "geo_clamp_sdc": {
        "want": ["Window"],
        "forbid": ["MapInPandas", "BatchEvalPython", "SortMergeJoin"],
        "note": "clamped slope-direction change: one window pass over the "
        "vertex table — the only join in the plan is the FIXTURE view's "
        "vertex generator (orders x customer cross join), not the check; "
        "DEM clamp itself is a closed-form expression",
    },
    "raster_flow_step": {
        "want": ["Window", "HashAggregate"],
        "forbid": ["MapInPandas", "BatchEvalPython"],
        "note": "gaps-and-islands run identity (two windows) + per-run "
        "integer range aggregate",
    },
    "dedup_ngram_jaccard": {
        "want": ["HashAggregate"],
        "forbid": ["MapInPandas", "BatchEvalPython"],
        "note": "DF-capped candidate generation; exact Jaccard only on "
        "candidate pairs",
    },
    "raster_clamp_dif": {
        "want": ["Join", "Generate"],
        "forbid": ["MapInPandas", "BatchEvalPython"],
        "note": "raster x raster co-partitioned join + zip_with difference, "
        "posexplode survivors only",
    },
    "geo_overshoot": {
        "want": ["Join"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "composed from the segment-intersection join + end-node "
        "integer tolerance, all JVM",
    },
    "docs_substring_dedup": {
        "want": ["HashAggregate", "Join"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "window explode + md5 + counts all JVM codegen; the "
        "frequency join shuffles on the window hash (uniform key)",
    },
    "docs_bloom_decontaminate": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "MapInPandas", "ArrowEvalPython"],
        "note": "bit set and benchmark shingles broadcast; the corpus side "
        "never shuffles before the per-doc rollup",
    },
    "pages_crawl_delta": {
        "want": ["MapInPandas", "SortMergeJoin|ShuffledHashJoin"],
        "forbid": ["BatchEvalPython"],
        "note": "batched extractor feeds narrow (url, md5) projections; the "
        "full-outer join on url is the one shuffle",
    },
    "docs_pack_sequences": {
        "want": ["Window", "BroadcastHashJoin"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "two-phase prefix sum: per-bucket window + broadcast bucket "
        "offsets — no corpus-wide single-partition Window",
    },
    "docs_surprisal_buckets": {
        "want": ["BroadcastHashJoin", "Window"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "per-lang tf table broadcast, map-side scoring; ntile window "
        "partitions by lang",
    },
    "tokenizer_pair_stats": {
        "want": ["HashAggregate"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "corpus reduces to (word, freq) once; pair explode runs on "
        "the vocabulary-bounded distinct-word table",
    },
    "vocab_oov_rate": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "MapInPandas", "ArrowEvalPython"],
        "note": "top-K vocab broadcast; corpus tokens never shuffle before "
        "the per-doc rollup",
    },
    "ann_ivf_recall": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["BatchEvalPython"],
        "note": "both top-k frames are k-rows-per-query; exact side "
        "broadcast into the recall join",
    },
    # round-4 additions
    "isf_matrix_checks": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "MapInPandas", "ArrowEvalPython"],
        "note": "the 225x225 matrix is a substring() into one string "
        "literal — a pure scalar projection; only the 225-row header "
        "roster joins (broadcast)",
    },
    "attr_tds6_domains": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "MapInPandas", "ArrowEvalPython"],
        "note": "all domain tables broadcast (7.7k-row enum table ~100 KB); "
        "feature scan never shuffles",
    },
    "attr_nfdd_domains": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "MapInPandas", "ArrowEvalPython"],
        "note": "largest model (28k enum rows) still broadcast-only",
    },
    "utm_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "24-stage inverse transverse Mercator is pure scalar "
        "projection riding the scan — zero shuffle, zero Python",
    },
    "utm_pip_join": {
        "want": ["BroadcastHashJoin", "MapInPandas"],
        "forbid": ["SortMergeJoin"],
        "note": "UTM transform feeds the PIP cell join; rand-taint barrier "
        "keeps the stage chain materialized once (not re-inlined per "
        "cell-key reference)",
    },
    "conditions_labels": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin"],
        "note": "label lookup is one broadcast join on code1 over the "
        "185-row class-name table",
    },
    "ups_ingest_geodetic": {
        "want": ["Project", "Union"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "polar stereographic inverse (both hemispheres unioned) is "
        "pure scalar projection riding the scan — zero shuffle, zero Python",
    },
    "lcc_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "Lambert conic inverse (ln/exp/atan polynomial chain) is "
        "pure scalar projection — zero shuffle, zero Python",
    },
    "mercator_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "Mercator inverse (quartered exp + folded atan) is pure "
        "scalar projection — zero shuffle, zero Python",
    },
    "tm_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "generalized TM inverse — pure scalar projection",
    },
    "ec_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "equidistant cylindrical inverse — pure scalar projection",
    },
    "ltp_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "ENU->ECEF->Bowring chain — pure scalar projection",
    },
    "geo_prox_pairs_euclidean": {
        "want": ["Join"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "Euclidean measurement frame: same k-ring cell join, planar "
        "refine in codegen — no Python",
    },
    "geo_feat_length_euclidean": {
        "want": ["HashAggregate"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "projected-frame SEGLEN: window-derived segments, planar "
        "length, exact-integer partial-agg sum",
    },
    "om_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "Hotine oblique Mercator inverse — pure scalar projection",
    },
    "edgematch_nunanpo_modes": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
            "Join",
        ],
        "note": "sentinel-set membership is pure CASE/IN projection over "
        "the scan — no join, no shuffle",
    },
    "mgcp_overlap_combos": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "MapInPandas"],
        "note": "canonicalized pair key against two broadcast combo lists",
    },
    "dem_geotiff_compressed_stats": {
        "want": ["MapInPandas"],
        "forbid": ["Exchange"],
        "note": "one task per GeoTIFF file; PackBits/LZW decode inside the "
        "scan kernel, aggregation is per-file (no shuffle)",
    },
    "multimodal_decode": {
        "want": ["MapInPandas"],
        "forbid": ["Exchange"],
        "note": "decode facts reduce per media row inside the kernel",
    },
    "gse_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "GSE space frame: fixed-epoch rotation + Bowring inverse — "
        "pure scalar chain, rides the scan",
    },
    "gm_ingest_geodetic": {
        "want": ["Project"],
        "forbid": [
            "Exchange", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
        "note": "geomagnetic dipole frame — pure scalar chain",
    },
    "pages_pagerank_converged": {
        "want": ["Scan ExistingRDD"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "delta-exit loop driver: the RETURNED plan is the final "
        "localCheckpoint scan (lineage truncated by design — an uncut "
        "10-iteration lineage would be the scale bug); the per-iteration "
        "join+agg shape is audited via the unrolled pages_pagerank entry",
    },
    "embedding_kmeans_converged": {
        "want": ["HashAggregate"],
        "forbid": ["BatchEvalPython"],
        "note": "Lloyd iteration under a delta-exit loop; broadcast centroids",
    },
    "geo_encode_cells": {
        "want": ["PythonMapInArrow|MapInArrow|MapInPandas|ArrowEvalPython"],
        "forbid": ["BatchEvalPython"],
        "note": "batched cell-encode kernel (S2 curve + hex aperture-7) — "
        "one Arrow pass, no shuffle beyond the explode",
    },
    "suite_family_counts": {
        "want": ["Union", "HashAggregate"],
        "forbid": ["BatchEvalPython"],
        "note": "CheckRegion composition: 36 family DAGs -> one Union; "
        "each family keeps its own gated plan shape",
    },
    "docs_dsir_select": {
        "want": ["BroadcastHashJoin", "TakeOrderedAndProject"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "DSIR: B-row bucket-score table broadcast to the corpus; "
        "top-k is TakeOrdered, never a global sort",
    },
    "docs_lm_perplexity": {
        "want": ["BroadcastHashJoin", "Window"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "bigram LM: vocabulary-bounded count tables broadcast; one "
        "doc_id shuffle for the LEAD window",
    },
    "docs_winnow_fingerprints": {
        "want": ["Window"],
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
        "note": "winnowing selection is one bounded window over the doc_id "
        "exchange; the explicit repartition also feeds it (no second "
        "exchange before the window)",
    },
    "streaming_lsh_dedup": {
        "want": ["HashAggregate"],
        "forbid": ["BatchEvalPython"],
        "note": "returned plan aggregates the memory sink; the stateful "
        "applyInPandasWithState stage runs inside the stream (audited by "
        "the gate + equivalence test, not visible in this batch plan)",
    },
}


def main() -> None:
    import __spark_entry__ as m

    from geospatial_analysis_integrity_tool_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = m.queries()
    out = ["# EXPLAIN audit — physical plans of headline queries\n"]
    out.append(
        "Generated by tools/explain_audit.py. Each section lists the structural\n"
        "expectations (operators that must / must not appear) and the formatted\n"
        "plan as Catalyst produced it at sf0.01.\n"
    )
    failures = []
    for name, spec in AUDIT.items():
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        buf2 = io.StringIO()
        with contextlib.redirect_stdout(buf2):
            df.explain()  # simple mode carries the *(n) codegen markers
        simple = buf2.getvalue()
        # synthetic token for codegen coverage checks
        if re.search(r"\*\(\d+\)", simple):
            plan_checked = plan + "\nCODEGEN"
        else:
            plan_checked = plan
        checks = []
        ok_all = True
        for pat in spec["want"]:
            ok = re.search(pat, plan_checked) is not None
            ok_all &= ok
            checks.append(f"- want `{pat}`: {'OK' if ok else 'MISSING'}")
        for pat in spec["forbid"]:
            bad = re.search(pat, plan_checked) is not None
            ok_all &= not bad
            checks.append(f"- forbid `{pat}`: {'VIOLATED' if bad else 'OK'}")
        if not ok_all:
            failures.append(name)
        n_exchanges = len(re.findall(r"\bExchange\b", plan))
        out.append(f"\n## {name} — {'PASS' if ok_all else 'FAIL'}\n")
        out.append(f"_{spec['note']}_; Exchange count: {n_exchanges}\n")
        out.extend(checks)
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    with open(ROOT / "EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print("failures:", failures if failures else "none")


if __name__ == "__main__":
    main()
