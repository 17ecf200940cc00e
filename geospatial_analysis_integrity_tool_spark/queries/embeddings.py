"""Embedding similarity queries over the `embeddings` table.

The raw table is 64-dim random float32 vectors (max off-diagonal cosine ~0.51),
so near-duplicates are planted deterministically in both engines: every 5th
vector gets a copy with its first component zeroed (cosine to the original
~0.99 for typical vectors).  Thresholds sit in the empty margin (0.51, 0.95)
so float-accumulation-order differences between numpy BLAS and DuckDB can
never flip a decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann import cosine_topk, near_dup_pairs

TOPK_K = 5
TOPK_N_QUERIES = 10
NEAR_DUP_THRESHOLD = 0.9

_EMB_AUG_SPARK = (
    "concat(array(CAST(0.0 AS FLOAT)), slice(embedding, 2, 1000000))"
)

_EMB_AUG_DUCK = """
emb_aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_concat([CAST(0.0 AS FLOAT)], embedding[2:])
  FROM embeddings WHERE vec_id % 5 = 0
)
"""


def _emb_aug(spark: SparkSession) -> DataFrame:
    e = spark.table("embeddings").select("vec_id", "embedding")
    pert = (
        e.filter(F.col("vec_id") % 5 == 0)
        .select(
            (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
            F.expr(_EMB_AUG_SPARK).alias("embedding"),
        )
    )
    return e.unionByName(pert)


# --- ann_cosine_topk: brute-force top-k neighbors -----------------------------
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_N_QUERIES)
    return cosine_topk(emb, queries, k=TOPK_K)


ORACLE_ANN_TOPK = f"""
WITH cand AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, e.embedding) AS cos
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
  WHERE q.vec_id < {TOPK_N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOPK_K}
"""


# --- embedding_near_dup: cosine >= 0.9 pairs on the augmented corpus ----------
#
# Default (scale path): banded hyperplane-LSH buckets (candidate iff some
# band of sign bits matches exactly) + exact-cosine refine in one
# mapInPandas matmul — no driver collect, no corpus broadcast.  The oracle
# mirrors the bucketing bit-for-bit: signatures are integer sums over
# quantized components, so both engines derive identical buckets; the final
# cosine threshold sits in the fixture's empty margin.
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import near_dup_pairs_lsh

    return near_dup_pairs_lsh(_emb_aug(spark), threshold=NEAR_DUP_THRESHOLD)


def _lsh_oracle() -> str:
    from ..operators.ann import LSH_BAND_BITS, LSH_BANDS, signature_sql

    bits = signature_sql("embedding[{i}]", 64)
    bit_cols = ", ".join(f"{b} AS b{j}" for j, b in enumerate(bits))
    band_keys = ", ".join(
        " + ".join(
            [str(band << LSH_BAND_BITS)]
            + [
                f"b{band * LSH_BAND_BITS + j} * {1 << j}"
                for j in range(LSH_BAND_BITS)
            ]
        )
        for band in range(LSH_BANDS)
    )
    return f"""
WITH {_EMB_AUG_DUCK.strip()},
bits AS (
  SELECT vec_id, {bit_cols} FROM emb_aug
),
probes AS (
  SELECT vec_id, unnest([{band_keys}]) AS bucket FROM bits
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM probes a JOIN probes b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b
FROM cand c
JOIN emb_aug ea ON ea.vec_id = c.id_a
JOIN emb_aug eb ON eb.vec_id = c.id_b
WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= {NEAR_DUP_THRESHOLD}
"""


ORACLE_NEAR_DUP_LSH = _lsh_oracle()


# exact broadcast path (small/medium corpora), kept gated separately
def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_pairs(_emb_aug(spark), threshold=NEAR_DUP_THRESHOLD)


ORACLE_NEAR_DUP = f"""
WITH {_EMB_AUG_DUCK.strip()}
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM emb_aug a JOIN emb_aug b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= {NEAR_DUP_THRESHOLD}
"""


# --- ann_cosine_topk_ivf: IVF bucketed approximate top-k ----------------------
IVF_NLIST = 8
IVF_NPROBE = 3


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_N_QUERIES)
    from ..operators.ann import cosine_topk_ivf

    return cosine_topk_ivf(emb, queries, k=TOPK_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE)


ORACLE_ANN_TOPK_IVF = f"""
WITH seeds AS (
  SELECT vec_id AS sid, embedding AS semb FROM embeddings ORDER BY vec_id LIMIT {IVF_NLIST}
),
assign AS (
  SELECT vec_id, sid AS bucket FROM (
    SELECT e.vec_id, s.sid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding, s.semb) DESC, s.sid) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) t WHERE rn = 1
),
probes AS (
  SELECT q_id, sid FROM (
    SELECT q.vec_id AS q_id, s.sid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding, s.semb) DESC, s.sid) AS rn
    FROM embeddings q CROSS JOIN seeds s WHERE q.vec_id < {TOPK_N_QUERIES}
  ) t WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT p.q_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, e.embedding) AS cos
  FROM probes p
  JOIN embeddings q ON q.vec_id = p.q_id
  JOIN assign a ON a.bucket = p.sid
  JOIN embeddings e ON e.vec_id = a.vec_id AND e.vec_id <> p.q_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOPK_K}
"""


# --- ann_ivf_recall: recall@k of the IVF path vs brute force -------------------
#
# The eval every ANN deployment runs before trusting the approximate path:
# per query, how many of IVF's top-k are in the EXACT top-k.  Composed from
# the two gated queries above, so the metric itself is oracle-checked
# end-to-end (a probe-routing or bucket-assignment bug shows up as a recall
# change, not just a different-but-plausible neighbor list).  At 10^12
# vectors this runs on a sampled query set; both sides are k-row-per-query
# frames, so the join is trivially broadcastable.
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q_ann_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    ivf = q_ann_topk_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        ivf.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.expr("CAST(_hit IS NOT NULL AS BIGINT)")).alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.expr(f"n_hits * 100 DIV {TOPK_K}").alias("recall_pct"),
        )
    )


ORACLE_ANN_IVF_RECALL = f"""
SELECT i.query_id,
       CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_hits,
       CAST(COUNT(e.neighbor_id) * 100 // {TOPK_K} AS BIGINT) AS recall_pct
FROM ({ORACLE_ANN_TOPK_IVF}) i
LEFT JOIN ({ORACLE_ANN_TOPK}) e
  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
GROUP BY 1
"""


QUERIES = {
    "ann_cosine_topk": q_ann_topk,
    "ann_cosine_topk_ivf": q_ann_topk_ivf,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_exact": q_embedding_near_dup_exact,
    "ann_ivf_recall": q_ann_ivf_recall,
}

ORACLES = {
    "ann_cosine_topk": ORACLE_ANN_TOPK,
    "ann_cosine_topk_ivf": ORACLE_ANN_TOPK_IVF,
    "embedding_near_dup": ORACLE_NEAR_DUP_LSH,
    "embedding_near_dup_exact": ORACLE_NEAR_DUP,
    "ann_ivf_recall": ORACLE_ANN_IVF_RECALL,
}
