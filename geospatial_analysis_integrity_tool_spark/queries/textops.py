"""Training-data text pipeline operators over the `documents` table.

Deduplication (exact, n-gram Jaccard, MinHash-LSH), quality scoring, language
ID, token profiling, document fingerprinting — the web-corpus counterparts of
the engine's integrity checks, graded as first-class components.

The raw `documents` table has no planted duplicates, so an augmented corpus
``docs_aug`` is derived identically in both engines:

* every document verbatim,
* a near-duplicate of every document (first token dropped, doc_id + 1000000),
* an exact duplicate of every 7th document (doc_id + 2000000).

Token ops are exact string/integer computations, so the Spark and DuckDB
formulations are written idiomatically per engine (no shared-text requirement;
results are discrete).  All counts are cast to BIGINT on both sides (Spark
``size`` yields INT, DuckDB ``len`` yields BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "fr": ("le", "et", "les"),
    "de": ("der", "und", "die"),
    "es": ("el", "y", "los"),
}
JACCARD_MIN_MILLIS = 500


def _docs_aug(spark: SparkSession) -> DataFrame:
    d = spark.table("documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.expr("concat_ws(' ', slice(split(text, '\\\\s+'), 2, 1000000))").alias("text"),
    )
    copies = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(2000000)).alias("doc_id"), "text"
    )
    return d.unionByName(pert).unionByName(copies)


_DOCS_AUG_SQL = """
docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string((regexp_split_to_array(text, '\\s+'))[2:], ' ')
  FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
)
"""

# Spark-side shingles over a pre-materialized token array (splitting inside
# the transform lambda would re-split the text once per shingle element)
_TOKS_SPARK = "split(text, '\\\\s+')"
_SHINGLES_FROM_TOKS = (
    "CASE WHEN size(toks) >= 3 THEN "
    "transform(sequence(1, size(toks) - 2), "
    "i -> concat(element_at(toks, i), ' ', "
    "element_at(toks, i + 1), ' ', element_at(toks, i + 2))) "
    "ELSE array() END"
)

# DuckDB-side: same semantics, 1-based list indexing
_SHINGLES_DUCK = """
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM docs_aug),
       LATERAL (SELECT unnest(CASE WHEN len(t) >= 3
                                   THEN range(1, len(t) - 1)
                                   ELSE [] END) AS i)
"""


# --- dedup_exact (exact hash-groupBy; C_DUPS analogue for documents) ----------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs_aug(spark)
        .select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("first_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


ORACLE_DEDUP_EXACT = f"""
WITH {_DOCS_AUG_SQL.strip()}
SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS first_doc_id
FROM docs_aug
GROUP BY 1
HAVING COUNT(*) > 1
"""


# --- dedup_ngram_jaccard (3-gram shingle Jaccard >= 0.5, DF-capped) -----------
#
# Candidate pairs come ONLY from shingles with document frequency <=
# SHINGLE_DF_CAP: a stop-shingle appearing in k docs would otherwise emit k^2
# pairs — quadratic on web text (the round-1 scale-killer).  A candidate must
# additionally share >= CAND_MIN_SUPPORT sub-cap shingles: true near-dups
# share dozens, while a random pair sharing exactly one rare shingle is
# noise — at sf0.1 the support filter drops 1.46M candidates to 50k BEFORE
# the expensive full-set join (29x), and on web text it is what keeps the
# candidate volume linear in corpus size.  The exact Jaccard is then computed
# over the FULL shingle sets, but only for candidate pairs, so per-pair work
# is linear in document size.  Pairs whose common shingles are all hot (or
# all but one) are not reported — the declared (and oracle-mirrored)
# semantics of the DF-capped min-support operator.
#
# The cap is CORPUS-RELATIVE (round-4 sf1 stress finding): with an absolute
# cap, scaling the corpus 10x with a duplication factor of ~10 pushed every
# near-dup shingle's DF past the cap and the operator silently reported ~0
# pairs.  df_cap(n) = clamp(0.002 * n_docs, 20, 500): unchanged at the
# sf0.01 gate (20), grows with corpus so duplication-inflated DFs stay
# below it, and the 500 ceiling bounds the k^2-per-shingle candidate cost
# (at 10^12 docs the capped-exact path is the verifier; the banded MinHash
# path dedup_minhash_lsh, which has no DF explosion, is the primary).
SHINGLE_DF_CAP = 20
SHINGLE_DF_CAP_MAX = 500
SHINGLE_DF_FRAC = 0.002
CAND_MIN_SUPPORT = 2


def _df_cap(n_docs: int) -> int:
    import math

    return max(SHINGLE_DF_CAP, min(SHINGLE_DF_CAP_MAX, math.ceil(SHINGLE_DF_FRAC * n_docs)))


#: oracle-side twin of _df_cap over a docs-count subquery
_DF_CAP_SQL = (
    f"GREATEST({SHINGLE_DF_CAP}, LEAST({SHINGLE_DF_CAP_MAX},"
    f" CAST(CEIL({SHINGLE_DF_FRAC} * (SELECT COUNT(*) FROM docs_aug)) AS BIGINT)))"
)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _docs_aug(spark)
    df_cap = _df_cap(aug.count())  # corpus-relative stop-shingle cap
    # The shingle relation feeds sizes, rare, and both common joins;
    # persist it so the Generate+distinct subtree runs ONCE (round-2 plan
    # recomputed it 3x — 26 Exchanges).  At 100 TB the persisted table is
    # the deduped shingle set — the thing any MinHash pipeline materializes.
    sh = (
        aug.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
        .select("doc_id", F.explode(F.expr(_SHINGLES_FROM_TOKS)).alias("shingle"))
        .distinct()
        .persist()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # document frequency via a window over the persisted table: one shuffle,
    # no groupBy+self-join re-read
    w_df = Window.partitionBy("shingle")
    rare = (
        sh.withColumn("_df", F.count("*").over(w_df))
        .filter(F.col("_df") <= df_cap)
        .drop("_df")
    )
    cand = (
        rare.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(rare.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_ns"))
        .filter(F.col("_ns") >= CAND_MIN_SUPPORT)
        .select("doc_a", "doc_b")
    )
    # exact common-shingle count, restricted to candidate pairs
    common = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard_millis",
            F.expr(
                "CAST(floor(CAST(n_common AS DOUBLE) * 1000.0 /"
                " CAST(n_a + n_b - n_common AS DOUBLE)) AS BIGINT)"
            ),
        )
        .filter(F.col("jaccard_millis") >= JACCARD_MIN_MILLIS)
        .select("doc_a", "doc_b", "jaccard_millis")
    )


ORACLE_DEDUP_JACCARD = f"""
WITH {_DOCS_AUG_SQL.strip()},
shingles AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_DUCK})),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY 1),
rare AS (
  SELECT s.doc_id, s.shingle FROM shingles s
  JOIN (SELECT shingle FROM shingles GROUP BY 1
        HAVING COUNT(*) <= {_DF_CAP_SQL}) r USING (shingle)
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {CAND_MIN_SUPPORT}
),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(floor(CAST(n_common AS DOUBLE) * 1000.0 /
            CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)) AS BIGINT) AS jaccard_millis
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(floor(CAST(n_common AS DOUBLE) * 1000.0 /
      CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)) AS BIGINT) >= {JACCARD_MIN_MILLIS}
"""


# --- dedup_minhash_lsh (banded min-hash candidate pairs) ----------------------
N_BANDS = 4


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _docs_aug(spark)
    sh = (
        aug.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
        .select("doc_id", F.explode(F.expr(_SHINGLES_FROM_TOKS)).alias("shingle"))
        .distinct()
    )
    banded = sh.withColumn(
        "band", F.explode(F.array(*[F.lit(i) for i in range(N_BANDS)]))
    ).withColumn(
        "h", F.md5(F.concat(F.col("band").cast("string"), F.lit("|"), F.col("shingle")))
    )
    sig = banded.groupBy("doc_id", "band").agg(F.min("h").alias("minhash"))
    a = sig.select(F.col("doc_id").alias("doc_a"), "band", "minhash")
    b = sig.select(F.col("doc_id").alias("doc_b"), "band", "minhash")
    return (
        a.join(b, ["band", "minhash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


ORACLE_DEDUP_MINHASH = f"""
WITH {_DOCS_AUG_SQL.strip()},
shingles AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_DUCK})),
sig AS (
  SELECT doc_id, band, MIN(md5(CAST(band AS STRING) || '|' || shingle)) AS minhash
  FROM shingles, LATERAL (SELECT unnest([0, 1, 2, 3]) AS band)
  GROUP BY 1, 2
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM sig a JOIN sig b
  ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


# --- text_quality: token/stopword profile -------------------------------------
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    stop_pred = " OR ".join(f"x = '{w}'" for w in STOPWORDS)
    return spark.table("documents").select(
        "doc_id",
        F.expr("CAST(length(text) AS BIGINT)").alias("text_len"),
        F.expr("CAST(size(split(text, '\\\\s+')) AS BIGINT)").alias("n_tokens"),
        F.expr(
            "CAST(size(array_distinct(split(text, '\\\\s+'))) AS BIGINT)"
        ).alias("n_types"),
        F.expr(
            f"CAST(size(filter(split(text, '\\\\s+'), x -> {stop_pred})) AS BIGINT)"
        ).alias("n_stopwords"),
    )


_DUCK_STOP_PRED = " OR ".join(f"x = '{w}'" for w in STOPWORDS)
ORACLE_TEXT_QUALITY = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS text_len,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS n_types,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
            x -> {_DUCK_STOP_PRED})) AS BIGINT) AS n_stopwords
FROM documents
"""


# --- lang_id: marker-token language guess -------------------------------------
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        pred = " OR ".join(f"x = '{w}'" for w in markers)
        scores[lang] = f"size(filter(split(text, '\\\\s+'), x -> {pred}))"
    pick = (
        f"CASE WHEN {scores['en']} >= {scores['fr']} AND {scores['en']} >= {scores['de']}"
        f" AND {scores['en']} >= {scores['es']} THEN 'en'"
        f" WHEN {scores['fr']} >= {scores['de']} AND {scores['fr']} >= {scores['es']} THEN 'fr'"
        f" WHEN {scores['de']} >= {scores['es']} THEN 'de' ELSE 'es' END"
    )
    return spark.table("documents").select(
        "doc_id",
        F.expr(pick).alias("pred_lang"),
        F.col("lang"),
        F.expr(f"CAST(CASE WHEN ({pick}) = lang THEN 1 ELSE 0 END AS BIGINT)").alias(
            "is_match"
        ),
    )


def _duck_lang_scores() -> dict[str, str]:
    out = {}
    for lang, markers in LANG_MARKERS.items():
        pred = " OR ".join(f"x = '{w}'" for w in markers)
        out[lang] = f"len(list_filter(regexp_split_to_array(text, '\\s+'), x -> {pred}))"
    return out


_DS = _duck_lang_scores()
_DUCK_PICK = (
    f"CASE WHEN {_DS['en']} >= {_DS['fr']} AND {_DS['en']} >= {_DS['de']}"
    f" AND {_DS['en']} >= {_DS['es']} THEN 'en'"
    f" WHEN {_DS['fr']} >= {_DS['de']} AND {_DS['fr']} >= {_DS['es']} THEN 'fr'"
    f" WHEN {_DS['de']} >= {_DS['es']} THEN 'de' ELSE 'es' END"
)
ORACLE_LANG_ID = f"""
SELECT doc_id,
       {_DUCK_PICK} AS pred_lang,
       lang,
       CAST(CASE WHEN ({_DUCK_PICK}) = lang THEN 1 ELSE 0 END AS BIGINT) AS is_match
FROM documents
"""


# --- doc_fingerprint: min-hash document fingerprint ---------------------------
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = (
        spark.table("documents")
        .select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
        .select("doc_id", F.explode(F.expr(_SHINGLES_FROM_TOKS)).alias("shingle"))
    )
    return sh.groupBy("doc_id").agg(F.min(F.md5("shingle")).alias("fingerprint"))


ORACLE_DOC_FINGERPRINT = f"""
WITH docs_aug AS (SELECT doc_id, text FROM documents),
shingles AS ({_SHINGLES_DUCK})
SELECT doc_id, MIN(md5(shingle)) AS fingerprint
FROM shingles GROUP BY 1
"""


# --- dedup_cluster_resolve: pairs -> components -> canonical survivor ---------
#
# Every dedup stage above emits PAIRS; a training-data pipeline must then
# resolve pairs into clusters and pick ONE survivor per cluster (the step
# CCNet/RefinedWeb call "dedup resolution").  Edges are the union of exact
# duplicates (each doc -> its md5-group min) and strong near-duplicates
# (min-hash signatures agreeing on ALL bands), and components run through the
# same pointer-doubling min-label CC the network checks use
# (operators/networks.min_label_components) — one distributed kernel for
# graphs over line endpoints, raster wavefronts, and duplicate clusters alike.
# Survivor = min doc_id in the component (deterministic, engine-independent).
def q_dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.networks import min_label_components

    aug = _docs_aug(spark)
    hashed = aug.select("doc_id", F.md5("text").alias("h"))
    gmin = hashed.groupBy("h").agg(F.min("doc_id").alias("mn"))
    exact = (
        hashed.join(gmin, "h")
        .filter(F.col("doc_id") != F.col("mn"))
        .select(F.col("doc_id").alias("a"), F.col("mn").alias("b"))
    )
    near = (
        q_dedup_minhash(spark, sf_dir)
        .filter(F.col("n_shared_bands") == N_BANDS)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    und = exact.unionByName(near)
    # materialize the pair graph ONCE: edges feed ids, the CC loop's own
    # checkpoint, and every propagation round — without this the minhash
    # subtree runs twice (once for edges, once for ids)
    edges = (
        und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = edges.select(F.col("a").alias("id")).distinct()
    comp = min_label_components(ids, edges).select(
        F.col("id").alias("doc_id"), F.col("component_id").alias("canonical_id")
    )
    size = comp.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return comp.join(size, "canonical_id").select(
        "doc_id",
        "canonical_id",
        "cluster_size",
        F.expr("CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END AS BIGINT)")
        .alias("keep"),
    )


# DuckDB twin: transitive closure via a recursive CTE (clusters here are tiny
# chains, so closure is exact and cheap at oracle scale).
ORACLE_DEDUP_CLUSTER = f"""
WITH RECURSIVE {_DOCS_AUG_SQL.strip()},
shingles AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_DUCK})),
sig AS (
  SELECT doc_id, band, MIN(md5(CAST(band AS STRING) || '|' || shingle)) AS minhash
  FROM shingles, LATERAL (SELECT unnest([0, 1, 2, 3]) AS band)
  GROUP BY 1, 2
),
near AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) = {N_BANDS}
),
gmin AS (SELECT md5(text) AS h, MIN(doc_id) AS mn FROM docs_aug GROUP BY 1),
exact AS (
  SELECT d.doc_id AS a, g.mn AS b
  FROM docs_aug d JOIN gmin g ON md5(d.text) = g.h
  WHERE d.doc_id <> g.mn
),
und AS (SELECT a, b FROM exact UNION SELECT a, b FROM near),
edges AS (SELECT a, b FROM und UNION SELECT b, a FROM und),
reach (id, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (
  SELECT id AS doc_id, LEAST(id, MIN(r)) AS canonical_id FROM reach GROUP BY id
),
csize AS (
  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1
)
SELECT c.doc_id, c.canonical_id, s.cluster_size,
       CAST(CASE WHEN c.doc_id = c.canonical_id THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM comp c JOIN csize s USING (canonical_id)
"""


# --- token_profile: whitespace + BPE-ish regex token counting -----------------
#
# Subword tokenizers (BPE/WordPiece) pre-split on a regex before merging;
# this op counts tokens under that pre-split (letter runs, 1-3 digit groups,
# single punctuation marks — the GPT-2-style pre-tokenizer shape) next to the
# whitespace count, plus integer chars-per-token density.  The pattern uses
# only constructs with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded quantifiers, leftmost-first
# alternation.
_BPE_PAT = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]"


def q_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.table("documents").select(
        "doc_id",
        F.expr("CAST(size(split(text, '\\\\s+')) AS BIGINT)").alias("n_ws_tokens"),
        F.expr(
            f"CAST(size(regexp_extract_all(text, '{_BPE_PAT}', 0)) AS BIGINT)"
        ).alias("n_bpe_tokens"),
        F.expr(
            f"length(text) * 1000 DIV GREATEST(CAST(size(regexp_extract_all("
            f"text, '{_BPE_PAT}', 0)) AS BIGINT), 1)"
        ).alias("chars_per_token_milli"),
    )


ORACLE_TOKEN_PROFILE = f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT}', 0)) AS BIGINT) AS n_bpe_tokens,
       CAST((length(text) * 1000) // GREATEST(CAST(len(regexp_extract_all(
            text, '{_BPE_PAT}', 0)) AS BIGINT), 1) AS BIGINT) AS chars_per_token_milli
FROM documents
"""


# --- docs_sample_stratified: deterministic per-language rate sampling ---------
#
# Pipeline sampling must be reproducible across runs, engines, and cluster
# sizes, so the keep decision is a pure function of the row key: Knuth
# multiplicative hash (doc_id * 2654435761 mod 2^32) bucketed mod 100 and
# compared to a per-language rate.  No RNG state, no sort order dependence —
# the same rows are kept at any parallelism (north-rule determinism).
SAMPLE_RATES = {"en": 50, "fr": 30, "de": 20, "es": 10}

_BUCKET = "CAST((doc_id * 2654435761) % 4294967296 % 100 AS BIGINT)"
_RATE_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())
    + " ELSE 0 END"
)


def q_docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("documents")
        .select("doc_id", "lang", F.expr(_BUCKET).alias("bucket"))
        .filter(F.expr(f"{_BUCKET} < {_RATE_CASE}"))
    )


ORACLE_DOCS_SAMPLE = f"""
SELECT doc_id, lang, {_BUCKET} AS bucket
FROM documents
WHERE {_BUCKET} < {_RATE_CASE}
"""


# --- dedup_lsh_recall: MinHash-LSH candidate quality vs exact Jaccard ----------
#
# The eval a dedup pipeline runs before trusting banded LSH: per
# shared-band count, how many candidate pairs are TRUE near-dups under the
# exact (DF-capped) Jaccard >= 0.5 rule, plus the truth pairs LSH misses
# entirely (reported as the n_shared_bands = 0 row).  Composed from the two
# gated queries, so the metric itself is oracle-checked end-to-end; both
# sides are pair lists, one hash join.
def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    mh = q_dedup_minhash(spark, sf_dir)
    tj = q_dedup_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("_t")
    )
    by_band = (
        mh.join(tj, ["doc_a", "doc_b"], "left")
        .groupBy("n_shared_bands")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.expr("CAST(_t IS NOT NULL AS BIGINT)")).alias(
                "n_true_dups"
            ),
        )
        .select(
            F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"),
            "n_pairs",
            "n_true_dups",
        )
    )
    missed = (
        tj.join(mh, ["doc_a", "doc_b"], "left_anti")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.lit(0).cast("bigint").alias("n_shared_bands"),
            "n_pairs",
            F.col("n_pairs").alias("n_true_dups"),
        )
    )
    return by_band.unionByName(missed)


ORACLE_LSH_RECALL = f"""
SELECT CAST(m.n_shared_bands AS BIGINT) AS n_shared_bands,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(t.doc_a) AS BIGINT) AS n_true_dups
FROM ({ORACLE_DEDUP_MINHASH}) m
LEFT JOIN ({ORACLE_DEDUP_JACCARD}) t
  ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b
GROUP BY 1
UNION ALL
SELECT CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT)
FROM ({ORACLE_DEDUP_JACCARD}) t
WHERE NOT EXISTS (SELECT 1 FROM ({ORACLE_DEDUP_MINHASH}) m
                  WHERE m.doc_a = t.doc_a AND m.doc_b = t.doc_b)
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_lsh_recall": q_dedup_lsh_recall,
    "dedup_cluster_resolve": q_dedup_cluster_resolve,
    "docs_sample_stratified": q_docs_sample_stratified,
    "token_profile": q_token_profile,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_DEDUP_JACCARD,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH,
    "dedup_lsh_recall": ORACLE_LSH_RECALL,
    "dedup_cluster_resolve": ORACLE_DEDUP_CLUSTER,
    "docs_sample_stratified": ORACLE_DOCS_SAMPLE,
    "token_profile": ORACLE_TOKEN_PROFILE,
    "text_quality": ORACLE_TEXT_QUALITY,
    "lang_id": ORACLE_LANG_ID,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
}
