"""Role gating, SimHash dedup, multimodal header decode — all oracle-gated."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkspec import apply_roles
from ..operators.simhash import simhash_near_dups
from ..sources.multimodal import (
    decode_media_headers,
    extract_media_features,
    synth_media,
)
from ..sources.synthetic import oracle_cte

# --- check_role_gating (CombinedCheckApplies TT.c:30625) ----------------------

SPEC_ROWS = [
    # (check, instance, role, geom, include, exclude, tol1, active)
    ("PTINREGION", 1, 1, 1, ["AL015", "GB005"], [], 0.0, True),
    ("PTINREGION", 2, 1, 1, [], ["BH140"], 0.0, True),
    ("PTPTPROX", 1, 1, 1, [], [], 5.0, True),
    ("PTPTPROX", 1, 2, 1, ["AP030"], ["AL015"], 5.0, True),
    ("DISABLED", 1, 1, 1, [], [], 0.0, False),
]


def q_check_role_gating(spark: SparkSession, sf_dir: str) -> DataFrame:
    features = spark.table("geo_points").selectExpr(
        "point_id AS feature_id", "fcode", "CAST(1 AS INT) AS geom"
    )
    spec = spark.createDataFrame(
        SPEC_ROWS,
        "check string, instance int, role int, geom int, "
        "fcodes_include array<string>, fcodes_exclude array<string>, "
        "tol1 double, active boolean",
    )
    return apply_roles(features, spec)


def _spec_case(check, inst, role, include, exclude) -> str:
    conds = []
    if include:
        inc = ", ".join(f"'{f}'" for f in include)
        conds.append(f"fcode IN ({inc})")
    if exclude:
        exc = ", ".join(f"'{f}'" for f in exclude)
        conds.append(f"fcode NOT IN ({exc})")
    pred = " AND ".join(conds) if conds else "TRUE"
    return (
        f"SELECT '{check}' AS \"check\", {inst} AS instance, {role} AS role,"
        f" point_id AS feature_id, fcode FROM geo_points WHERE {pred}"
    )


ORACLE_ROLE_GATING = f"""
{oracle_cte('geo_points')}
{_spec_case('PTINREGION', 1, 1, ['AL015', 'GB005'], [])}
UNION ALL
{_spec_case('PTINREGION', 2, 1, [], ['BH140'])}
UNION ALL
{_spec_case('PTPTPROX', 1, 1, [], [])}
UNION ALL
{_spec_case('PTPTPROX', 1, 2, ['AP030'], ['AL015'])}
"""


# --- dedup_simhash (GATED: md5 token-hash simhash re-derived in SQL) ----------
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.table("documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.expr("concat_ws(' ', slice(split(text, '\\\\s+'), 2, 1000000))").alias("text"),
    )
    aug = d.unionByName(pert)
    return simhash_near_dups(aug, hamming_max=6)


# The oracle recomputes the full SimHash pipeline in DuckDB: md5 per distinct
# token -> top-8-bytes-as-uint64 (hex-digit shift/sum — no precision-losing
# `**`), per-document ±1 bit-majority over token occurrences, 4x16-bit band
# candidate join, exact bit_count(xor) hamming verify.  Everything the engine
# does (operators/simhash.py) except the Arrow batching, so a defect anywhere
# in tokenize -> hash -> vote -> band -> verify flips the value hash.
ORACLE_SIMHASH = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
aug AS (
  SELECT doc_id, toks FROM base
  UNION ALL
  SELECT doc_id + 1000000, toks[2:] FROM base
),
tok AS (SELECT doc_id, unnest(toks) AS t FROM aug),
vh AS (
  -- uint64 of md5's top 8 bytes, via hex digits; DuckDB's << overflow-checks
  -- at bit 63, so accumulate digit * 16^(16-p) in HUGEINT (16^k split into
  -- two sub-2^32 shifts) and cast the exact sum down to UBIGINT.
  SELECT t,
         CAST(CAST(SUM(
           CAST(strpos('0123456789abcdef', substr(md5(t), p, 1)) - 1 AS HUGEINT)
           * CASE WHEN 4 * (16 - p) < 32
                  THEN CAST(CAST(1 AS BIGINT) << (4 * (16 - p)) AS HUGEINT)
                  ELSE CAST(CAST(1 AS BIGINT) << (4 * (16 - p) - 32) AS HUGEINT) * 4294967296
             END) AS HUGEINT) AS UBIGINT) AS h
  FROM (SELECT DISTINCT t FROM tok), (SELECT unnest(range(1, 17)) AS p)
  GROUP BY t
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> CAST(b AS UBIGINT)) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM tok JOIN vh USING (t), (SELECT unnest(range(0, 64)) AS b)
  GROUP BY doc_id, b
),
sigs AS (
  SELECT doc_id,
         CAST(CAST(SUM(CASE WHEN acc > 0 THEN
             CASE WHEN b < 32 THEN CAST(CAST(1 AS BIGINT) << CAST(b AS INT) AS HUGEINT)
                  ELSE CAST(CAST(1 AS BIGINT) << CAST(b - 32 AS INT) AS HUGEINT) * 4294967296
             END ELSE 0 END) AS HUGEINT) AS UBIGINT) AS usig
  FROM bits GROUP BY doc_id
),
banded AS (
  SELECT doc_id, usig, band,
         CAST((usig >> CAST(band * 16 AS UBIGINT)) & 65535 AS INT) AS band_val
  FROM sigs, (SELECT unnest(range(0, 4)) AS band)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.usig AS ua, b.usig AS ub
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ua, ub)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(ua, ub)) <= 6
"""


# --- multimodal_features (GATED: structural header decode round trip) ----------
#
# The engine builds real PNG/JPEG/WAV container bytes (sources/multimodal),
# ships them through the distributed Arrow-batched header parser, and emits
# the decoded facts; the oracle re-derives the same facts CLOSED-FORM from
# the id arithmetic — so a defect anywhere in the encode -> parse pipeline
# (chunk offsets, endianness, segment walking, signed fields) fails the
# hash.  Video payloads stay opaque (full pixel decode is the one stubbed
# step; see sources/multimodal.decode_media).
MM_N = 500


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synth_media(spark, MM_N).filter(F.col("kind") != "video")
    return decode_media_headers(media)


ORACLE_MULTIMODAL = f"""
WITH ids AS (SELECT unnest(range(0, {MM_N})) AS i)
SELECT CAST(i AS BIGINT) AS media_id,
       CASE WHEN i % 3 = 0 THEN (CASE WHEN i % 2 = 0 THEN 'png' ELSE 'jpeg' END)
            ELSE 'wav' END AS fmt,
       CASE WHEN i % 3 = 0 THEN CAST(64 + (i * 7) % 512 AS INT) END AS width,
       CASE WHEN i % 3 = 0 THEN CAST(64 + (i * 11) % 512 AS INT) END AS height,
       CASE WHEN i % 3 = 1 THEN CAST(8000 + (i % 5) * 8000 AS INT) END AS sample_rate,
       CASE WHEN i % 3 = 1 THEN CAST(100 + i % 50 AS INT) END AS n_frames
FROM ids WHERE i % 3 <> 2
"""


# companion gate: feature-extraction plumbing over ALL media kinds.  The
# pseudo-embedding column (sha256-derived) is dropped; what the oracle checks
# closed-form is the exact assembled container SIZE per format — PNG
# 8(sig)+25(IHDR)+20+w%16(IDAT)+12(IEND), JPEG 54 fixed (SOI+APP0+COM+SOF0+
# EOI), WAV 44+2*n_samples (RIFF+fmt+data), video 32*(1+i%4) — plus the
# min(dim,128) thumbnail metadata, so any drift in the byte builders or the
# Arrow plumbing flips the hash.
def q_multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 2000 if "0.1" in sf_dir else 500
    return extract_media_features(synth_media(spark, n)).select(
        "media_id", "kind", "n_bytes", "thumb_w", "thumb_h"
    )


ORACLE_MM_EMBED = """
WITH ids AS (SELECT unnest(range(0, 500)) AS i)
SELECT CAST(i AS BIGINT) AS media_id,
       CASE WHEN i % 3 = 0 THEN 'image'
            WHEN i % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(CASE WHEN i % 3 = 0 THEN
                   (CASE WHEN i % 2 = 0 THEN 65 + (64 + (i * 7) % 512) % 16
                         ELSE 54 END)
                 WHEN i % 3 = 1 THEN 44 + 2 * (100 + i % 50)
                 ELSE 32 * (1 + i % 4) END AS BIGINT) AS n_bytes,
       CAST(LEAST(64 + (i * 7) % 512, 128) AS INT) AS thumb_w,
       CAST(LEAST(64 + (i * 11) % 512, 128) AS INT) AS thumb_h
FROM ids
"""


# --- checkpoint_sink_roundtrip (GATED: resumable intermediate sink) ------------
#
# Gates plans/checkpointing.run_stage_checkpointed END-TO-END (reference:
# extract.main.c:167 intermediate binary + GAIT_API.h:62-72 reloadable
# report): the query simulates a CRASHED first run (only half the partition
# keys computed), then RESUMES — the second call must skip the committed
# partitions (manifest) and complete the rest via dynamic partition
# overwrite.  The oracle recomputes the full per-cell rollup closed-form, so
# any duplicate rows on resume (append instead of overwrite), lost
# partitions, or manifest corruption flips count or hash.
def q_checkpoint_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..plans.checkpointing import lineage, run_stage_checkpointed
    from ..sources.fixtures import fixture_dir

    out = fixture_dir(
        "checkpoint_gate_" + sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(out, ignore_errors=True)

    df = spark.table("lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.expr("CAST(l_quantity * 100 AS BIGINT)").alias("qty_c"),
        F.expr("CAST(l_orderkey % 8 AS BIGINT)").alias("cell"),
    )
    # crashed first run: only cells 0-3 committed
    run_stage_checkpointed(
        spark, "gate", df.filter(F.col("cell") < 4), "cell", out
    )
    assert len(lineage(out)) == 4
    # resume: completes cells 4-7 without touching committed partitions
    full = run_stage_checkpointed(spark, "gate", df, "cell", out)
    return full.groupBy("cell").agg(
        F.count("*").alias("n_rows"),
        F.sum("qty_c").alias("sum_qty_c"),
    )


# The rollup runs over the READ-BACK parquet, so a resume bug that appends
# instead of overwriting (duplicate rows), loses a partition, or corrupts the
# manifest flips n_rows/sum_qty_c vs the closed-form oracle.
ORACLE_CHECKPOINT_SINK = """
SELECT CAST(l_orderkey % 8 AS BIGINT) AS cell,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS sum_qty_c
FROM lineitem
GROUP BY 1
"""


# --- multimodal_decode (GATED: FULL sample decode round trip) ------------------
#
# The formerly-stubbed step (round-3 "missing #5"): every payload in the
# decode fixture is a REAL container — PNG with zlib-deflated RGB rows
# cycling through all five PNG filter types, WAV with real PCM16 samples,
# BMP with bottom-up padded BGR rows.  The kernel inflates/unfilters/
# unpacks and reduces to integer decode facts; the oracle re-derives them
# from the generating formulas by unnesting pixel/sample ranges — any codec
# bit error (filter math, row padding, endianness, channel order) flips the
# sum/min/max hash.

MM_DECODE_N = 300


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.multimodal import decode_media, synth_decode_media

    return decode_media(synth_decode_media(spark, MM_DECODE_N)).select(
        "media_id", "fmt", "n_values", "value_sum", "value_min", "value_max"
    )


ORACLE_MM_DECODE = f"""
WITH ids AS (SELECT unnest(range(0, {MM_DECODE_N})) AS i),
dims AS (
  SELECT i,
         CASE WHEN i % 3 = 0 THEN 'png'
              WHEN i % 3 = 1 THEN 'wav' ELSE 'bmp' END AS fmt,
         8 + (i * 7) % 32 AS w,
         8 + (i * 11) % 32 AS h,
         100 + i % 50 AS ns
  FROM ids
),
img AS (
  SELECT d.i, d.fmt, ((x.x * 7 + y.y * 13 + c.c * 29) % 256) AS v
  FROM dims d,
       (SELECT unnest(range(0, 40)) AS x) x,
       (SELECT unnest(range(0, 40)) AS y) y,
       (SELECT unnest(range(0, 3)) AS c) c
  WHERE d.fmt <> 'wav' AND x.x < d.w AND y.y < d.h
),
au AS (
  SELECT d.i, d.fmt, (((s.s * 2654435761) % 65536) - 32768) AS v
  FROM dims d, (SELECT unnest(range(0, 150)) AS s) s
  WHERE d.fmt = 'wav' AND s.s < d.ns
),
allv AS (SELECT * FROM img UNION ALL SELECT * FROM au)
SELECT CAST(i AS BIGINT) AS media_id, fmt,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS value_sum,
       CAST(MIN(v) AS BIGINT) AS value_min,
       CAST(MAX(v) AS BIGINT) AS value_max
FROM allv GROUP BY 1, 2
"""


QUERIES = {
    "check_role_gating": q_check_role_gating,
    "dedup_simhash": q_dedup_simhash,
    "multimodal_features": q_multimodal_features,
    "multimodal_embed": q_multimodal_embed,
    "multimodal_decode": q_multimodal_decode,
    "checkpoint_sink_roundtrip": q_checkpoint_sink_roundtrip,
}

ORACLES = {
    "check_role_gating": ORACLE_ROLE_GATING,
    "dedup_simhash": ORACLE_SIMHASH,
    "multimodal_features": ORACLE_MULTIMODAL,
    "multimodal_embed": ORACLE_MM_EMBED,
    "multimodal_decode": ORACLE_MM_DECODE,
    "checkpoint_sink_roundtrip": ORACLE_CHECKPOINT_SINK,
}
