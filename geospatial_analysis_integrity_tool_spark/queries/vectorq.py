"""Embedding-space training-data ops: k-means clustering and product-quantized
ANN over the `embeddings` table (64-dim float32 vectors).

Two standard large-corpus vector stages:

* **k-means clustering** (`embedding_kmeans`): SemDeDup-style corpus
  clustering (Abbas et al. 2023) — two unrolled Lloyd's iterations with
  deterministic seeding (centroids 0..K-1 = the vectors with vec_id 0..K-1),
  reporting per-cluster size and inertia after the second assignment.
* **product quantization ANN** (`embedding_pq_topk`): PQ (Jégou et al. 2011)
  — the 64-dim space splits into 8 subspaces of 8 dims; each subspace is
  coded by 8 mean-threshold sign bits (a trained, data-derived codebook:
  thresholds are per-dimension corpus means, centroids are per-(subspace,
  code) member means); queries rank the corpus by asymmetric distance
  computed from a per-query lookup table (ADC), the actual PQ trick.

Determinism: every value is quantized to integers up front
(``floor(v * 1000)``) and all downstream arithmetic — distances, means
(truncating DIV, identical in Spark and DuckDB for negatives: -7 DIV 2 =
-7 // 2 = -3), codes — is exact BIGINT, so the DuckDB twins hash
bit-identically; no float accumulation order anywhere.

Scale notes (10^10-vector corpus):

* both ops explode vectors once to (vec, dim) long form; every training
  aggregate (thresholds, codes, centroids) is map-side combinable and its
  output is codebook-sized (<= K*64 or 8*256*8 rows) — broadcast back, so
  the corpus never shuffles by value;
* k-means assignment joins the broadcast centroid table and reduces
  per (vec, k) with a partial aggregate; a production loop would iterate
  the same two stages with a k*64-int driver collect per round;
* PQ search never touches corpus vectors: the corpus side carries 8 codes
  per vector, the per-query ADC table (queries x 8 x <=256) is broadcast,
  and the distance is one 8-row sum per (query, candidate).  Top-k per
  query is a bounded window (k queries here; at real scale a per-partition
  heap + driver merge of k rows per query, as in operators/ann.cosine_topk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.fixpoint import fixpoint

K_CLUSTERS = 8
PQ_NSUB = 8  # 8 subspaces x 8 dims = 64
PQ_QUERIES = 5
PQ_TOPK = 5


def _verts(spark: SparkSession) -> DataFrame:
    """(vec_id, d, qv): integer-quantized long form of the embeddings."""
    e = spark.table("embeddings").select("vec_id", "embedding")
    return e.select(
        "vec_id",
        F.posexplode("embedding").alias("d", "_v"),
    ).select(
        "vec_id",
        "d",
        F.expr("CAST(floor(CAST(_v AS DOUBLE) * 1000) AS BIGINT)").alias("qv"),
    )


_VERTS_SQL = """
verts AS (
  SELECT vec_id, CAST(d - 1 AS INT) AS d,
         CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM (SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings)
)
"""


# --- embedding_kmeans ----------------------------------------------------------
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    verts = _verts(spark)

    cen0 = (
        verts.filter(F.col("vec_id") < K_CLUSTERS)
        .select(F.col("vec_id").alias("k"), "d", F.col("qv").alias("cv"))
    )

    def assign(cen: DataFrame) -> DataFrame:
        # argmin_k sum_d (qv - cv)^2, ties to the smallest k
        return (
            verts.join(F.broadcast(cen), "d")
            .groupBy("vec_id", "k")
            .agg(F.sum(F.expr("(qv - cv) * (qv - cv)")).alias("dist"))
            .groupBy("vec_id")
            .agg(F.min(F.struct("dist", "k")).alias("m"))
            .select("vec_id", F.col("m.k").alias("k"), F.col("m.dist").alias("dist"))
        )

    a1 = assign(cen0)
    cen1 = (
        verts.join(a1.select("vec_id", "k"), "vec_id")
        .groupBy("k", "d")
        .agg(F.expr("sum(qv) DIV count(*)").alias("cv"))
    )
    a2 = assign(cen1)
    return (
        a2.groupBy("k")
        .agg(F.count("*").alias("n_members"), F.sum("dist").alias("inertia"))
        .select(F.col("k").alias("cluster_id"), "n_members", "inertia")
    )


def _assign_cte(name: str, cen: str, materialized: bool = False) -> str:
    """The CTE ``name``: each vector's nearest centroid of the CTE ``cen``."""
    return f"""{name} AS {'MATERIALIZED ' if materialized else ''}(
  SELECT vec_id, k, dist FROM (
    SELECT vec_id, k, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
    FROM (
      SELECT v.vec_id, c.k, SUM((v.qv - c.cv) * (v.qv - c.cv)) AS dist
      FROM verts v JOIN {cen} c USING (d)
      GROUP BY 1, 2
    )
  ) WHERE rn = 1
)"""


# the oracle is one explicit CTE chain with the two iterations unrolled
ORACLE_KMEANS = f"""
WITH {_VERTS_SQL.strip()},
cen0 AS (
  SELECT vec_id AS k, d, qv AS cv FROM verts WHERE vec_id < {K_CLUSTERS}
),
{_assign_cte('a1', 'cen0')},
cen1 AS (
  SELECT a1.k, v.d, SUM(v.qv) // COUNT(*) AS cv
  FROM verts v JOIN a1 USING (vec_id)
  GROUP BY 1, 2
),
{_assign_cte('a2', 'cen1')}
SELECT k AS cluster_id, COUNT(*) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS inertia
FROM a2 GROUP BY 1
"""


# --- embedding_pq_topk ----------------------------------------------------------
def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    verts = _verts(spark).withColumn("sub", F.expr("d DIV 8"))

    thr = verts.groupBy("d").agg(F.expr("sum(qv) DIV count(*)").alias("thr"))
    codes = (
        verts.join(F.broadcast(thr), "d")
        .groupBy("vec_id", "sub")
        .agg(
            F.sum(
                F.expr("CASE WHEN qv > thr THEN shiftleft(1L, d % 8) ELSE 0L END")
            ).alias("code")
        )
    )
    cen = (
        verts.join(codes, ["vec_id", "sub"])
        .groupBy("sub", "code", "d")
        .agg(F.expr("sum(qv) DIV count(*)").alias("cv"))
    )
    qverts = verts.filter(F.col("vec_id") < PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub", "d", F.col("qv").alias("qqv")
    )
    adc = (
        qverts.join(cen, ["sub", "d"])
        .groupBy("query_id", "sub", "code")
        .agg(F.sum(F.expr("(qqv - cv) * (qqv - cv)")).alias("pd"))
    )
    dist = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(adc), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pd").alias("adc_dist"))
        .filter("neighbor_id <> query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(f"rank <= {PQ_TOPK}")
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.expr("CAST(rank AS BIGINT)").alias("rank"),
        )
    )


ORACLE_PQ = f"""
WITH {_VERTS_SQL.strip()},
sverts AS (SELECT vec_id, d, d // 8 AS sub, qv FROM verts),
thr AS (SELECT d, SUM(qv) // COUNT(*) AS thr FROM sverts GROUP BY 1),
codes AS (
  SELECT vec_id, sub,
         CAST(SUM(CASE WHEN qv > thr THEN (1::BIGINT << (d % 8)) ELSE 0 END)
              AS BIGINT) AS code
  FROM sverts JOIN thr USING (d)
  GROUP BY 1, 2
),
cen AS (
  SELECT v.sub, c.code, v.d, SUM(v.qv) // COUNT(*) AS cv
  FROM sverts v JOIN codes c ON c.vec_id = v.vec_id AND c.sub = v.sub
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT q.vec_id AS query_id, c.sub, c.code,
         SUM((q.qv - c.cv) * (q.qv - c.cv)) AS pd
  FROM sverts q JOIN cen c ON c.sub = q.sub AND c.d = q.d
  WHERE q.vec_id < {PQ_QUERIES}
  GROUP BY 1, 2, 3
),
dist AS (
  SELECT a.query_id, x.vec_id AS neighbor_id, CAST(SUM(a.pd) AS BIGINT) AS adc_dist
  FROM codes x JOIN adc a ON a.sub = x.sub AND a.code = x.code
  WHERE x.vec_id <> a.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM dist
) WHERE rank <= {PQ_TOPK}
"""


# --- embedding_kmeans_converged ---------------------------------------------------
#
# The production variant of embedding_kmeans: Lloyd's loop iterated until the
# ASSIGNMENT is stable (no vector changes cluster) instead of unrolling two
# rounds.  Same exact-integer recurrence (argmin of BIGINT squared distances,
# ties to the lowest k; centroid update SUM(qv) DIV COUNT, truncating in both
# engines), so the stable assignment is engine-independent and reached in
# finitely many rounds.  The rounds run on the fixed-point driver
# (plans/fixpoint.py): each localCheckpoints the assignment (lineage stays
# O(1)) and observes ONE scalar on that job — the count of vectors that
# switched clusters.  Empty clusters drop out of the centroid table
# naturally (groupBy emits no rows for them), matching the SQL twin.  The
# DuckDB oracle unrolls the simulation-determined round count for the
# sf0.01 fixture (assignment a_14 == a_13, all 8 clusters alive throughout).

KMEANS_MAX_ITERS = 100


def kmeans_converged(
    spark: SparkSession, max_iters: int = KMEANS_MAX_ITERS
) -> tuple[DataFrame, int]:
    """Lloyd's to a stable assignment; returns (assignment, rounds) and
    raises if ``max_iters`` rounds do not reach it.

    The returned DataFrame carries (vec_id, k, dist) for the stable round.

    Production loop shape (the one MLlib's own k-means uses): centroids are
    K*dims integers, collected to the driver each round and re-embedded as
    literals, so the ASSIGN step is a zero-shuffle projection over the wide
    (vec_id, q: array<bigint>) corpus — ``array_position(dists,
    array_min(dists))`` takes the first (= lowest-k) minimum, matching the
    oracle's tie rule exactly.  Per round: one K*dims-row centroid collect
    (map-side-combined partial aggregate — the corpus shuffles at most
    K*dims rows per partition) and one zero-shuffle assign +
    localCheckpoint that also observes the count of switched vectors
    (k_prev rides the round's plan and is projected away before the
    checkpoint, no join).  The exact BIGINT recurrence (sum of squared
    diffs; centroid = SUM DIV COUNT) is unchanged from the unrolled twin.
    """
    wide = (
        spark.table("embeddings")
        .select(
            "vec_id",
            F.expr(
                "transform(embedding,"
                " v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT))"
            ).alias("q"),
        )
        .localCheckpoint(eager=True)
    )
    first = wide.select("q").first()
    if first is None:  # empty corpus: trivially converged, nothing to assign
        empty = wide.select(
            "vec_id",
            F.expr("CAST(0 AS BIGINT)").alias("k"),
            F.expr("CAST(0 AS BIGINT)").alias("dist"),
        )
        return empty, 1
    dims = len(first["q"])

    def assign(df: DataFrame, cen: list[tuple[int, list[int]]], *extra):
        """Project (vec_id, q, k, dist, *extra): argmin vs literal centroids.

        The K-distance array binds ONCE as an intermediate column; the
        argmin/min expressions reference the bound column, so the K*dims
        literal tree appears a single time in the plan (CollapseProject
        declines to duplicate non-cheap aliases).
        """
        dist_exprs = [
            "aggregate(zip_with(q, array("
            + ", ".join(f"{c}L" for c in cv)
            + "), (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)"
            for _, cv in cen
        ]
        ks = f"array({', '.join(f'{k}L' for k, _ in cen)})"
        return df.withColumn(
            "dists", F.expr(f"array({', '.join(dist_exprs)})")
        ).select(
            "vec_id",
            "q",
            F.expr(
                f"element_at({ks},"
                " CAST(array_position(dists, array_min(dists)) AS INT))"
            ).alias("k"),
            F.expr("array_min(dists)").alias("dist"),
            *extra,
        )

    def collect_centroids(a: DataFrame) -> list[tuple[int, list[int]]]:
        rows = (
            a.select("k", F.posexplode("q").alias("d", "qv"))
            .groupBy("k", "d")
            .agg(F.expr("sum(qv) DIV count(*)").alias("cv"))
            .collect()
        )
        by_k: dict[int, dict[int, int]] = {}
        for r in rows:
            by_k.setdefault(r["k"], {})[r["d"]] = r["cv"]
        return sorted((k, [m[d] for d in range(dims)]) for k, m in by_k.items())

    cen0 = sorted(
        (r["vec_id"], list(r["q"]))
        for r in wide.filter(F.col("vec_id") < K_CLUSTERS).collect()
    )
    # round 1 assigns against the seed centroids; the driver runs rounds 2..
    a1 = assign(wide, cen0).localCheckpoint(eager=True)
    a, rounds = fixpoint(
        "kmeans_converged",
        a1,
        lambda a: assign(a, collect_centroids(a), F.col("k").alias("k_prev")),
        F.sum(F.expr("CASE WHEN k <> k_prev THEN 1 ELSE 0 END")),
        ["vec_id", "q", "k", "dist"],
        max_iters,
        first_round=2,
    )
    return a.select("vec_id", "k", "dist"), rounds


def q_embedding_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, _ = kmeans_converged(spark)
    return (
        a.groupBy("k")
        .agg(F.count("*").alias("n_members"), F.sum("dist").alias("inertia"))
        .select(F.col("k").alias("cluster_id"), "n_members", "inertia")
    )


def _oracle_kmeans_converged(iters: int) -> str:
    """Unrolled Lloyd's CTE twin at the fixture's stable round count.

    Every per-round CTE is MATERIALIZED: DuckDB otherwise inlines CTEs per
    reference and re-plans the 14-deep chain exponentially (~2.2x per round;
    extrapolates to minutes inlined vs milliseconds materialized).
    """
    parts = [
        f"cen0 AS MATERIALIZED (\n  SELECT vec_id AS k, d, qv AS cv FROM verts WHERE vec_id < {K_CLUSTERS}\n)",
        _assign_cte("a1", "cen0", materialized=True),
    ]
    for r in range(1, iters):
        parts.append(
            f"""cen{r} AS MATERIALIZED (
  SELECT a{r}.k, v.d, SUM(v.qv) // COUNT(*) AS cv
  FROM verts v JOIN a{r} USING (vec_id)
  GROUP BY 1, 2
)"""
        )
        parts.append(_assign_cte(f"a{r + 1}", f"cen{r}", materialized=True))
    body = ",\n".join(parts)
    return f"""
WITH {_VERTS_SQL.strip()},
{body}
SELECT k AS cluster_id, COUNT(*) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS inertia
FROM a{iters} GROUP BY 1
"""


#: stable-assignment round count for the sf0.01 fixture, determined by
#: simulating the exact integer recurrence: assignment a_14 == a_13.
_KMEANS_STABLE_ITERS_SF001 = 14

QUERIES = {
    "embedding_kmeans": q_embedding_kmeans,
    "embedding_kmeans_converged": q_embedding_kmeans_converged,
    "embedding_pq_topk": q_embedding_pq_topk,
}
ORACLES: dict[str, str] = {
    "embedding_kmeans": ORACLE_KMEANS,
    "embedding_kmeans_converged": _oracle_kmeans_converged(
        _KMEANS_STABLE_ITERS_SF001
    ),
    "embedding_pq_topk": ORACLE_PQ,
}


# --- embedding_semantic_dedup (SemDeDup) ------------------------------------------
#
# SemDeDup (Abbas et al. 2023): cluster the corpus, then find near-duplicate
# pairs ONLY within a cluster — the cluster is the candidate bucket.  Clusters
# above SEM_CLUSTER_CAP rows are further split by banded hyperplane LSH
# (semantic_dedup_pairs), so per-cluster pair work stays bounded no matter how
# big a cluster grows at 10^10 vectors.  Candidates use the
# augmented corpus from queries/embeddings (planted near-dups at cos ~0.99
# against a ~0.51 background, so the 0.9 threshold sits in an empty margin
# that 1e-2 quantization noise cannot bridge).
#
# Integer-exact cosine test: with qv = floor(v * 100),
#   cos >= 0.9  <=>  dot > 0 AND 100 * dot^2 >= 81 * |a|^2 * |b|^2
# (dot <= 64 * 300^2 ~ 5.8e6, so every product stays far below 2^63).
SEM_K = 8
_SEM_Q = 100  # coarser quantization keeps the squared test inside BIGINT

#: Per-cluster all-pairs is quadratic in cluster size, so clusters above this
#: row count are split by a second-level hyperplane band (the same banded-LSH
#: structure as operators/ann.near_dup_pairs_lsh) before the pair kernel runs:
#: a vector lands in LSH_BANDS buckets, a pair is a candidate iff some band
#: matches, and the exact integer cosine test verifies each candidate.  The
#: fixtures' largest cluster is 357 rows at sf0.1 (3570 at the sf1 stress
#: snapshot), so the oracle-gated scales run the exact path bit-for-bit while
#: sf1 exercises the split path; at 10^10 vectors the cap — not K — bounds the
#: per-bucket work.
SEM_CLUSTER_CAP = 1024


def _sem_pairs_kernel(pdf):
    """Exact within-group near-dup pairs: one int64 Gram-matrix matmul per
    group instead of a dim-exploded pair join (the join shuffles
    ~|group|^2 * 64 rows; the matmul touches each vector once).  Quantization
    is identical to the SQL path (floor(double(v) * Q) as int64), so the
    accepted pair set is bit-identical to the oracle wherever the group is a
    whole cluster."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    M = np.floor(
        np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64) * _SEM_Q
    ).astype(np.int64)
    G = M @ M.T
    n2 = np.diag(G)
    ok = (G > 0) & (100 * G * G >= 81 * np.outer(n2, n2))
    iu = np.triu_indices(len(ids), k=1)
    m = ok[iu]
    return pd.DataFrame(
        {
            "vec_a": ids[iu[0][m]],
            "vec_b": ids[iu[1][m]],
            "cluster_id": pdf["k"].iloc[0],
        }
    )


def semantic_dedup_pairs(grp: DataFrame, cap: int = SEM_CLUSTER_CAP) -> DataFrame:
    """Within-cluster near-duplicate pairs over (k, vec_id, embedding) rows.

    Clusters with <= ``cap`` members run the exact per-cluster Gram kernel
    (one Arrow group per cluster).  Oversized clusters are split by banded
    hyperplane signatures (operators/ann machinery, deterministic planes):
    each vector lands in LSH_BANDS band-buckets, the same kernel verifies
    each (cluster, bucket) group, and a final dropDuplicates merges pairs
    found by more than one band.  Per-cluster pair work is thereby bounded
    by sum(bucket^2) instead of cluster^2, independent of SEM_K.
    """
    from ..operators.ann import (
        LSH_BAND_BITS,
        LSH_BANDS,
        N_HYPERPLANES,
        _hyperplane_signs,
        _QUANT,
    )

    sizes = grp.groupBy("k").agg(F.count(F.lit(1)).alias("_ksize"))
    grp = grp.join(F.broadcast(sizes), "k")
    schema = "vec_a long, vec_b long, cluster_id long"

    small = (
        grp.filter(F.col("_ksize") <= cap)
        .select("k", "vec_id", "embedding")
        .groupBy("k")
        .applyInPandas(_sem_pairs_kernel, schema=schema)
    )

    big = grp.filter(F.col("_ksize") > cap).select("k", "vec_id", "embedding")

    def band_explode(batches):
        import numpy as np

        S = np.array(_hyperplane_signs(N_HYPERPLANES, 64), dtype=np.int64)
        band_shift = np.array(
            [b << LSH_BAND_BITS for b in range(LSH_BANDS)], dtype=np.int64
        )
        bit_weights = np.array(
            [1 << j for j in range(LSH_BAND_BITS)], dtype=np.int64
        )
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.floor(V * _QUANT).astype(np.int64)
            bits01 = ((Q @ S.T) >= 0).astype(np.int64)
            bands = bits01.reshape(len(pdf), LSH_BANDS, LSH_BAND_BITS)
            keys = band_shift[None, :] + bands @ bit_weights
            idx = np.repeat(np.arange(len(pdf)), LSH_BANDS)
            out = pdf.iloc[idx][["k", "vec_id", "embedding"]].copy()
            out["_bkt"] = keys.reshape(-1)
            yield out

    big_banded = big.mapInPandas(
        band_explode,
        schema="k long, vec_id long, embedding array<float>, _bkt long",
    )
    big_pairs = (
        big_banded.groupBy("k", "_bkt")
        .applyInPandas(
            lambda pdf: _sem_pairs_kernel(pdf), schema=schema
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return small.unionByName(big_pairs)


def q_embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .embeddings import _emb_aug

    aug = _emb_aug(spark)
    verts = aug.select(
        "vec_id", F.posexplode("embedding").alias("d", "_v")
    ).select(
        "vec_id",
        "d",
        F.expr(f"CAST(floor(CAST(_v AS DOUBLE) * {_SEM_Q}) AS BIGINT)").alias("qv"),
    )
    cen0 = verts.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("k"), "d", F.col("qv").alias("cv")
    )
    assign = (
        verts.join(F.broadcast(cen0), "d")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.expr("(qv - cv) * (qv - cv)")).alias("dist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "k")).alias("m"))
        .select("vec_id", F.col("m.k").alias("k"))
    )
    grp = aug.join(assign, "vec_id").select("k", "vec_id", "embedding")
    return semantic_dedup_pairs(grp)


ORACLE_SEMANTIC_DEDUP = f"""
WITH emb_aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_concat([CAST(0.0 AS FLOAT)], embedding[2:])
  FROM embeddings WHERE vec_id % 5 = 0
),
verts AS (
  SELECT vec_id, CAST(d - 1 AS INT) AS d,
         CAST(floor(CAST(v AS DOUBLE) * {_SEM_Q}) AS BIGINT) AS qv
  FROM (SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS d
        FROM emb_aug)
),
cen0 AS (SELECT vec_id AS k, d, qv AS cv FROM verts WHERE vec_id < {SEM_K}),
assign AS (
  SELECT vec_id, k FROM (
    SELECT vec_id, k,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
    FROM (
      SELECT v.vec_id, c.k, SUM((v.qv - c.cv) * (v.qv - c.cv)) AS dist
      FROM verts v JOIN cen0 c USING (d) GROUP BY 1, 2
    )
  ) WHERE rn = 1
),
norms AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM verts GROUP BY 1),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, s.k,
         CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
  FROM verts a
  JOIN assign s ON s.vec_id = a.vec_id
  JOIN assign t ON t.k = s.k
  JOIN verts b ON b.vec_id = t.vec_id AND b.d = a.d
  WHERE a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
)
SELECT d.vec_a, d.vec_b, d.k AS cluster_id
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE d.dot > 0 AND 100 * d.dot * d.dot >= 81 * na.n2 * nb.n2
"""

QUERIES["embedding_semantic_dedup"] = q_embedding_semantic_dedup
ORACLES["embedding_semantic_dedup"] = ORACLE_SEMANTIC_DEDUP
