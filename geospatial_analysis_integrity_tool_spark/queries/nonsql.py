"""Pages-pipeline gates + the one genuinely non-SQL-expressible query.

* pages_extract_text — GATED: synthetic Common-Crawl pages -> batched
  extractor -> (url, extracted text); the oracle REBUILDS the canonical text
  closed-form from the row-index arithmetic (sources/pages._page_batch), so
  the driver's value hash enforces the north-rule invariant "byte-identical
  extracted text per url" end-to-end (synthesis -> html assembly -> regex
  extraction), not just via pytest.
* pages_extract_features — GATED: html -> geocoded feature rows.  Coordinates
  are compared as exact centi-degree integers (the synthesized coordinates
  are multiples of 0.05 deg, so round(lon*100) is float-hazard-free in both
  engines), derived closed-form by the oracle from the same index arithmetic.
* geo_encode_cells — GATED by invariants: the curve arithmetic (cube-face
  projection + hierarchical child indexing) has no SQL twin, but its exact
  structural invariants do.  The Spark side encodes H3-style res {7,9,12} +
  S2 level {10,13,16} ids and then verifies, entirely in JVM SQL over the
  encoded bigints:
    - S2 parent-prefix containment (STRONG: direct encode at the parent
      level == bit-derived parent of the child id — exact by the Hilbert
      prefix construction, tests/test_cells.py:test_s2_parent_contains_child);
    - hex id packing well-formedness (res nibble == res, used digit slots
      in 0..6, unused slots == 7) — the digit-truncation parent of a hex
      child is a pure function of the id, so containment is stated as
      packing validity + the aperture bound below (direct coarse encode can
      legitimately differ near hex edges, same as real H3);
    - fanout bound: distinct children per parent <= 4^dlevel (s2) / 7^dres
      (hex);
    - res-monotone distinct-cell counts and point-count conservation.
  The DuckDB oracle states the closed-form expected table (zero violations,
  COUNT(*) points, monotone TRUE), so the driver hash gates the kernel's
  invariants end-to-end.  Per-point determinism stays pytest-gated
  (tests/test_cells.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.encode import encode_cells
from ..sources.pages import extract_features, extract_text, synth_pages
from ..sources.synthetic import oracle_cte


def _s2_parent_sql(col: str, parent_level: int) -> str:
    """Bit-derived S2 ancestor: clear bits below the parent's lsb, set it."""
    nlsb = 1 << (2 * (30 - parent_level))
    return f"(({col} & CAST({-nlsb} AS BIGINT)) | CAST({nlsb} AS BIGINT))"


def _hex_parent_sql(col: str, parent_res: int) -> str:
    """H3-style digit truncation (functions/cells_hex.hex_parent) in SQL."""
    fill = 0
    for slot in range(parent_res, 12):
        fill |= 7 << (42 - 3 * (slot + 1))
    return (
        f"(({col} & ~CAST({15 << 59} AS BIGINT))"
        f" | CAST({parent_res << 59} AS BIGINT) | CAST({fill} AS BIGINT))"
    )


def _hex_wellformed_sql(col: str, res: int) -> str:
    """Packing contract: res nibble, used digits 0..6, unused slots == 7."""
    conds = [f"((({col} >> 59) & 15) = {res})"]
    for slot in range(12):
        shift = 42 - 3 * (slot + 1)
        digit = f"(({col} >> {shift}) & 7)"
        conds.append(f"({digit} != 7)" if slot < res else f"({digit} = 7)")
    return "(" + " AND ".join(conds) + ")"


def _cell_pair_stats(
    enc: DataFrame, scheme: str, p_scale: int, c_scale: int
) -> DataFrame:
    """One invariant-summary row for a (parent scale, child scale) pair."""
    if scheme == "s2":
        p_col, c_col = f"s2_l{p_scale}", f"s2_l{c_scale}"
        bad = F.expr(f"{_s2_parent_sql(c_col, p_scale)} != {p_col}")
        fan_parent = F.col(p_col)
        max_fan = 4 ** (c_scale - p_scale)
    else:
        p_col, c_col = f"hex_r{p_scale}", f"hex_r{c_scale}"
        bad = ~F.expr(
            f"{_hex_wellformed_sql(c_col, c_scale)}"
            f" AND {_hex_wellformed_sql(p_col, p_scale)}"
        )
        fan_parent = F.expr(_hex_parent_sql(c_col, p_scale))
        max_fan = 7 ** (c_scale - p_scale)
    base = enc.agg(
        F.count("*").alias("n_points"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("prefix_violations"),
        F.countDistinct(p_col).alias("_n_parent"),
        F.countDistinct(c_col).alias("_n_child"),
    )
    fan = (
        enc.select(fan_parent.alias("_p"), F.col(c_col).alias("_c"))
        .groupBy("_p")
        .agg(F.countDistinct("_c").alias("_k"))
        .agg(
            F.sum(F.when(F.col("_k") > max_fan, 1).otherwise(0))
            .cast("bigint")
            .alias("fanout_violations")
        )
    )
    return base.crossJoin(fan).select(
        F.lit(scheme).alias("scheme"),
        F.lit(p_scale).alias("parent_scale"),
        F.lit(c_scale).alias("child_scale"),
        "n_points",
        "prefix_violations",
        "fanout_violations",
        (F.col("_n_child") >= F.col("_n_parent")).alias("distinct_nondecreasing"),
    )


def q_encode_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = spark.table("geo_points").select("point_id", "lon", "lat")
    enc = encode_cells(pts, hex_res=(7, 9, 12), s2_levels=(10, 13, 16)).persist()
    pairs = [("hex", 7, 9), ("hex", 9, 12), ("s2", 10, 13), ("s2", 13, 16)]
    out = None
    for scheme, p, c in pairs:
        row = _cell_pair_stats(enc, scheme, p, c)
        out = row if out is None else out.unionByName(row)
    return out


ORACLE_ENCODE_CELLS = """
{cte}
SELECT t.scheme,
       t.parent_scale,
       t.child_scale,
       (SELECT COUNT(*) FROM geo_points) AS n_points,
       CAST(0 AS BIGINT) AS prefix_violations,
       CAST(0 AS BIGINT) AS fanout_violations,
       TRUE AS distinct_nondecreasing
FROM (VALUES ('hex', 7, 9), ('hex', 9, 12), ('s2', 10, 13), ('s2', 13, 16))
     AS t(scheme, parent_scale, child_scale)
"""


def _n_pages(sf_dir: str) -> int:
    # page count scales with the sf directory (deterministic per sf)
    return 2000 if "0.1" in sf_dir else (500 if "0.01" in sf_dir else 100)


def q_pages_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(synth_pages(spark, _n_pages(sf_dir)))
    return feats.select(
        "url",
        "ordinal",
        "fcode",
        # parsed floats are within ~1e-13 of an exact multiple of 0.01 deg,
        # so ROUND to centi-degrees is stable; floor(x*1e6) would not be.
        F.expr("CAST(ROUND(lon * 100.0) AS BIGINT)").alias("lon_cdeg"),
        F.expr("CAST(ROUND(lat * 100.0) AS BIGINT)").alias("lat_cdeg"),
    )


def q_pages_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_text(synth_pages(spark, _n_pages(sf_dir)))


# Closed-form re-derivations of sources/pages._page_batch (index arithmetic).
_WORDS_SQL = (
    "['terrain','feature','survey','cell','boundary','ridge','valley','stream',"
    "'contour','datum','meridian','parallel','sector','quadrant','marker',"
    "'station','azimuth','elevation','grid','transect','polygon','vertex',"
    "'attribute','code','domain','schema','check','region','tile']"
)
_LANGS_SQL = "['en','fr','de','es']"
_FCODES_SQL = "['AL015','GB005','BH140','AP030','FA000']"
_URL_SQL = (
    "'https://example.org/' || "
    f"{_LANGS_SQL}[CAST(i % 4 AS INT) + 1] || '/page/' || i"
)


def _oracle_pages_features(n: int) -> str:
    return f"""
WITH ids AS (SELECT unnest(range(0, {n})) AS i),
fs AS (SELECT unnest(range(0, 4)) AS f)
SELECT {_URL_SQL} AS url,
       CAST(f AS BIGINT) AS ordinal,
       {_FCODES_SQL}[CAST((i * 11 + f) % 5 AS INT) + 1] AS fcode,
       CAST((i * 733 + f * 997) % 7200 * 5 - 18000 AS BIGINT) AS lon_cdeg,
       CAST((i * 881 + f * 1009) % 2400 * 5 - 6000 AS BIGINT) AS lat_cdeg
FROM ids, fs WHERE f < (i * 13) % 5
"""


def _oracle_pages_text(n: int) -> str:
    word = lambda expr: f"{_WORDS_SQL}[CAST(({expr}) % 29 AS INT) + 1]"  # noqa: E731
    line = (
        f"{word('i * 7919 + s * 104729')} || ' ' || "
        f"{word('i * 104717 + s * 7907')} || ' ' || "
        f"{word('i * 31 + s * 17')} || ' s' || (i % 97)"
    )
    return f"""
WITH ids AS (SELECT unnest(range(0, {n})) AS i),
ss AS (SELECT unnest(range(0, 3)) AS s),
lines AS (SELECT i, s, {line} AS line FROM ids, ss)
SELECT {_URL_SQL} AS url,
       string_agg(line, chr(10) ORDER BY s) AS extracted
FROM lines GROUP BY i
"""


def q_pages_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup over the batched extractor output.

    The web-pipeline "how much text per language" report: language comes from
    the url path (the synthetic corpus encodes it there, mirroring CC-style
    path conventions), volume from the extracted text.  Runs as one
    mapInPandas extract + a tiny groupBy — the aggregation is on the reduced
    (url, length) projection, so at 10^12 pages the shuffle carries one small
    row per page, not the text."""
    txt = extract_text(synth_pages(spark, _n_pages(sf_dir)))
    return (
        txt.select(
            F.expr("split_part(url, '/', 4)").alias("lang"),
            F.expr("CAST(length(extracted) AS BIGINT)").alias("_len"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("_len").alias("total_chars"),
            F.min("_len").alias("min_chars"),
            F.max("_len").alias("max_chars"),
        )
    )


def _oracle_pages_lang_stats(n: int) -> str:
    return f"""
WITH txt AS ({_oracle_pages_text(n)})
SELECT split_part(url, '/', 4) AS lang,
       COUNT(*) AS n_pages,
       CAST(SUM(length(extracted)) AS BIGINT) AS total_chars,
       CAST(MIN(length(extracted)) AS BIGINT) AS min_chars,
       CAST(MAX(length(extracted)) AS BIGINT) AS max_chars
FROM txt GROUP BY 1
"""


QUERIES = {
    "geo_encode_cells": q_encode_cells,
    "pages_extract_features": q_pages_extract,
    "pages_extract_text": q_pages_extract_text,
    "pages_lang_stats": q_pages_lang_stats,
}

# the correctness gate runs at sf0.01 -> n = 500 (matches _n_pages)
ORACLES: dict[str, str] = {
    "geo_encode_cells": ORACLE_ENCODE_CELLS.format(cte=oracle_cte("geo_points")),
    "pages_extract_features": _oracle_pages_features(500),
    "pages_extract_text": _oracle_pages_text(500),
    "pages_lang_stats": _oracle_pages_lang_stats(500),
}
