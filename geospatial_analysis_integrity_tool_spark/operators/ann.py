"""Approximate / brute-force nearest-neighbor search over embedding columns.

Spark-native shape:

* the small query side (or codebook) is collected once and **broadcast** as a
  numpy matrix;
* the big side streams through ``mapInPandas`` where each Arrow batch becomes a
  (batch x dim) float64 matrix and one BLAS matmul computes all cosines — the
  vectorized replacement for any per-row loop;
* per-batch partial top-k keeps only k rows per query per batch, then a global
  window (`row_number` over cos desc, id) finalizes ranks — the standard
  distributed top-k with map-side pruning, so the shuffle carries
  O(k * queries * partitions) rows, not O(n).

At 100 TB the same structure holds: the query/codebook side must fit in one
executor (broadcast), the corpus side never leaves its partitions until the
pruned candidates shuffle.  An IVF variant (cluster the corpus, search only the
probed cells) drops in by replacing the broadcast matrix with per-cell
codebooks; planned for a later round.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


#: bound on the collected query side: it is broadcast whole, and each Arrow
#: batch forms a (batch x queries) cosine matrix, so a larger query set is
#: refused instead of collected
MAX_QUERY_ROWS = 10_000


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str) -> pd.DataFrame:
    """The query side as pandas, at most MAX_QUERY_ROWS rows (one job)."""
    qpd = queries.select(id_col, vec_col).limit(MAX_QUERY_ROWS + 1).toPandas()
    if len(qpd) > MAX_QUERY_ROWS:
        raise ValueError(
            f"ANN query side has more than MAX_QUERY_ROWS = {MAX_QUERY_ROWS} rows;"
            " it is collected and broadcast whole"
        )
    return qpd


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    return mat / norms


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (self excluded).

    Returns (query_id, neighbor_id, rank) with rank 1..k ordered by cosine
    descending, ties broken by neighbor id ascending.
    """
    spark = emb.sparkSession
    qpd = _collect_queries(queries, id_col, vec_col)
    q_ids = qpd[id_col].to_numpy()
    Q = _normalize(np.stack(qpd[vec_col].to_numpy()).astype(np.float64))
    bq = spark.sparkContext.broadcast((q_ids, Q))

    out_schema = "query_id long, neighbor_id long, cos double"

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_, Q_ = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            ids = pdf[id_col].to_numpy()
            S = X @ Q_.T  # (batch, nq)
            rows = []
            for j in range(S.shape[1]):
                col = S[:, j]
                mask = ids != q_ids_[j]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # partial top-k within the batch (order by -cos, id)
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:k]
                sel = cand_idx[order]
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(sel), q_ids_[j], dtype=np.int64),
                            "neighbor_id": ids[sel].astype(np.int64),
                            "cos": col[sel],
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    partial = emb.select(id_col, vec_col).mapInPandas(part, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
    )


def cosine_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: the scale path for ANN.

    Deterministic codebook = the embeddings of the ``nlist`` lowest ids (no
    RNG, so results are stable across runs — a k-means codebook drops in
    without changing the plan shape).  Corpus vectors are assigned to their
    argmax-cosine centroid (one matmul per Arrow batch); each query probes its
    ``nprobe`` nearest centroids and ranks only vectors in those buckets.
    Same distributed shape as :func:`cosine_topk` — broadcast codebook +
    map-side partial top-k — but the probe side touches ~nprobe/nlist of the
    corpus, which is what survives at 10^10 vectors.
    """
    spark = emb.sparkSession
    cpd = (
        emb.orderBy(F.col(id_col).asc())
        .limit(nlist)
        .select(id_col, vec_col)
        .toPandas()
    )
    C = _normalize(np.stack(cpd[vec_col].to_numpy()).astype(np.float64))
    qpd = _collect_queries(queries, id_col, vec_col)
    q_ids = qpd[id_col].to_numpy()
    Q = _normalize(np.stack(qpd[vec_col].to_numpy()).astype(np.float64))
    # query -> probed buckets (driver-side, tiny)
    probe_sets = np.argsort(-(Q @ C.T), axis=1, kind="stable")[:, :nprobe]
    bq = spark.sparkContext.broadcast((q_ids, Q, C, probe_sets))

    out_schema = "query_id long, neighbor_id long, cos double"

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_, Q_, C_, probes_ = bq.value
        # invert probes: bucket -> query indexes probing it (tiny, driver data)
        by_bucket: dict[int, np.ndarray] = {}
        for b in range(C_.shape[0]):
            qs = np.nonzero((probes_ == b).any(axis=1))[0]
            if len(qs):
                by_bucket[b] = qs
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            ids = pdf[id_col].to_numpy()
            buckets = np.argmax(X @ C_.T, axis=1)
            rows = []
            # matmul per (bucket, probing queries): FLOPs = sum over buckets of
            # |bucket rows| x |probing queries| x dim — the actual IVF saving;
            # non-probed rows are never multiplied (the round-1 version
            # computed the full X @ Q.T and masked afterwards).
            for b in np.unique(buckets):
                qs = by_bucket.get(int(b))
                if qs is None:
                    continue
                ridx = np.nonzero(buckets == b)[0]
                Sb = X[ridx] @ Q_[qs].T  # (rows_in_bucket, probing_queries)
                for jj, qj in enumerate(qs):
                    col = Sb[:, jj]
                    mask = ids[ridx] != q_ids_[qj]
                    cidx = np.nonzero(mask)[0]
                    if len(cidx) == 0:
                        continue
                    order = np.lexsort((ids[ridx][cidx], -col[cidx]))[:k]
                    sel = ridx[cidx[order]]
                    rows.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(
                                    len(sel), q_ids_[qj], dtype=np.int64
                                ),
                                "neighbor_id": ids[sel].astype(np.int64),
                                "cos": col[cidx[order]],
                            }
                        )
                    )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    partial = emb.select(id_col, vec_col).mapInPandas(part, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
    )


# --- hyperplane-LSH near-duplicate pairs (the 100 TB default) ------------------

#: banded SimHash structure: LSH_BANDS bands of LSH_BAND_BITS hyperplane sign
#: bits each; a pair is a candidate iff SOME band matches exactly.  Round 2
#: used 8 planes + radius-1 multiprobe, whose candidate rule (Hamming d <= 2
#: on 8 bits) admits 14.5% of ALL pairs — not selective.  Banding gives
#: P(candidate | random pair) ~= BANDS * 2^-BITS (~1.6% here) while keeping
#: P(candidate | cos 0.99 pair) ~= 1 - (1 - (1 - theta/pi)^BITS)^BANDS ~= 99%,
#: and at 10^10 vectors selectivity is tuned by widening bands, not by
#: probing more buckets.
LSH_BANDS = 4
LSH_BAND_BITS = 8
N_HYPERPLANES = LSH_BANDS * LSH_BAND_BITS
_QUANT = 1024.0  # component quantization for exact integer sign sums


def _hyperplane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic +-1 hyperplane patterns (multiplicative-hash parity)."""
    out = []
    for i in range(n_planes):
        a = 2 * (i * 2654435761 % 1013) + 3  # odd multiplier per plane
        out.append([1 if (a * (d + 7)) % 1013 < 507 else -1 for d in range(dim)])
    return out


def signature_sql(elem_fmt: str, dim: int, n_planes: int = N_HYPERPLANES) -> list[str]:
    """Per-plane sign-bit SQL over quantized components — exact INTEGER
    arithmetic, so Spark and DuckDB compute identical bits regardless of
    float accumulation order.  ``elem_fmt`` renders component d (e.g.
    ``"element_at(embedding, {i})"`` for Spark, ``"embedding[{i}]"`` for
    DuckDB; {i} is 1-based)."""
    bits = []
    for signs in _hyperplane_signs(n_planes, dim):
        terms = " + ".join(
            f"({s}) * CAST(floor(CAST({elem_fmt.format(i=d + 1)} AS DOUBLE)"
            f" * {_QUANT}) AS BIGINT)"
            for d, s in enumerate(signs)
        )
        bits.append(f"(CASE WHEN ({terms}) >= 0 THEN 1 ELSE 0 END)")
    return bits


def near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucket-first near-duplicate pairs: banded hyperplane signatures
    (candidate iff some band of sign bits matches exactly) -> exact cosine
    refine.  Candidate generation is pure JVM — no driver collect, no
    broadcast of the corpus; the only shuffles are the per-band bucket
    self-join and the two id joins that fetch vectors for surviving
    candidate pairs.  The exact-cosine refine runs as ONE Arrow-batched
    ``mapInPandas`` matmul over the candidate pairs (row-wise einsum), not a
    per-element Catalyst lambda — at 100 TB the refine cost is
    candidate_pairs x dim FLOPs in BLAS, not interpreted HOF evaluation.

    Approximate by design: a pair matching in no band is not reported (the
    oracle mirrors the same candidate rule).  The signature is computed over
    integer-quantized components — a single int64 numpy matmul per Arrow
    batch (quantized vector @ +-1 plane matrix, exact integer sums), so both
    engines derive bit-identical buckets; the SQL twin of the same
    arithmetic (:func:`signature_sql`) is what the DuckDB oracle runs.
    Round 2 evaluated the 32 x 64-term signature as Catalyst expressions;
    the self-join duplicated those trees and Catalyst/janino spent ~10x the
    data time compiling them — plan-size cost, not data cost.
    """
    S = np.array(_hyperplane_signs(N_HYPERPLANES, dim), dtype=np.int64)
    band_shift = np.array(
        [b << LSH_BAND_BITS for b in range(LSH_BANDS)], dtype=np.int64
    )
    bit_weights = np.array([1 << j for j in range(LSH_BAND_BITS)], dtype=np.int64)

    def sig_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(V * _QUANT).astype(np.int64)  # exact quantized ints
            bits01 = ((Q @ S.T) >= 0).astype(np.int64)  # (n, N_HYPERPLANES)
            bands = bits01.reshape(len(pdf), LSH_BANDS, LSH_BAND_BITS)
            keys = band_shift[None, :] + bands @ bit_weights  # (n, LSH_BANDS)
            ids = pdf[id_col].to_numpy().astype(np.int64)
            yield pd.DataFrame(
                {
                    "_id": np.repeat(ids, LSH_BANDS),
                    "_bucket": keys.reshape(-1),
                }
            )

    buckets = emb.select(id_col, vec_col).mapInPandas(
        sig_kernel, schema="_id long, _bucket long"
    )
    cand = (
        buckets.select(F.col("_id").alias("id_a"), "_bucket")
        .join(buckets.select(F.col("_id").alias("id_b"), "_bucket"), "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    paired = (
        cand.join(vecs.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va")), "id_a")
        .join(vecs.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb")), "id_b")
        .select("id_a", "id_b", "_va", "_vb")
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["_vb"].to_numpy()).astype(np.float64)
            dots = np.einsum("ij,ij->i", A, B)
            na = np.einsum("ij,ij->i", A, A)
            nb = np.einsum("ij,ij->i", B, B)
            denom = np.sqrt(na * nb)
            denom[denom == 0.0] = 1.0
            keep = (dots / denom) >= threshold
            if keep.any():
                yield pdf.loc[keep, ["id_a", "id_b"]]

    return paired.mapInPandas(refine, schema="id_a long, id_b long")


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_max_rows: int = 2_000_000,
) -> DataFrame:
    """Unordered pairs with cosine >= threshold (embedding near-duplicates).

    Auto-routed: corpora up to ``exact_max_rows`` use the EXACT broadcast
    path (full normalized matrix broadcast, per-batch matmul — ~10M x 64
    float32 = 2.5 GB is the hard executor ceiling); larger corpora fall back
    to :func:`near_dup_pairs_lsh`, the bucket-first approximate path that
    never materializes the corpus on the driver.  The routing probe is a
    LIMIT-bounded count (``limit(n+1).count()``), so a 100 TB corpus pays for
    scanning at most ``exact_max_rows + 1`` rows to pick its route, not a
    full count.
    """
    if emb.select(emb.columns[0]).limit(exact_max_rows + 1).count() > exact_max_rows:
        return near_dup_pairs_lsh(
            emb, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    return near_dup_pairs_exact(
        emb, threshold=threshold, id_col=id_col, vec_col=vec_col
    )


def near_dup_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact pairs via broadcast matmul (small/medium corpora only).

    Each batch matmuls against the broadcast matrix and emits only pairs
    (a < b) above threshold, so nothing quadratic ever materializes in the
    plan — but the whole corpus IS collected and broadcast; use
    :func:`near_dup_pairs_lsh` beyond ~10M vectors.
    """
    spark = emb.sparkSession
    apd = emb.select(id_col, vec_col).toPandas()
    all_ids = apd[id_col].to_numpy().astype(np.int64)
    M = _normalize(np.stack(apd[vec_col].to_numpy()).astype(np.float64))
    bm = spark.sparkContext.broadcast((all_ids, M))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids_, M_ = bm.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            ids = pdf[id_col].to_numpy().astype(np.int64)
            S = X @ M_.T  # (batch, n_all)
            bi, aj = np.nonzero(S >= threshold)
            if len(bi) == 0:
                continue
            ia = ids[bi]
            ib = all_ids_[aj]
            keep = ia < ib
            if not keep.any():
                continue
            yield pd.DataFrame({"id_a": ia[keep], "id_b": ib[keep]})

    return (
        emb.select(id_col, vec_col)
        .mapInPandas(part, schema="id_a long, id_b long")
        .dropDuplicates(["id_a", "id_b"])
    )
