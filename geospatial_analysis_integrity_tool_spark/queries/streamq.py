"""Gated STREAMING query: first-seen condition dedup replay.

The stateful operator (streaming/stateful.dedup_first_seen,
applyInPandasWithState keyed on the condition identity — the incremental
form of GAIT's duplicate-condition elimination, DC_FreadFwrite*
errors.c:1361) runs here against a REAL micro-batch stream: a deterministic
detection log is written as one parquet file per batch, read back with
``readStream`` + ``maxFilesPerTrigger=1`` (so the state machine sees many
batches), and the emitted rows land in a memory sink that the gate compares
against a closed-form DuckDB oracle.

Determinism under re-batching: the operator emits, per key, the minimum
(batch_idx, payload) row.  Even if the file source coalesces several files
into one micro-batch, sorting by (batch_idx, payload) inside the batch
reproduces the per-file arrival order, so the emitted set equals the
oracle's ``row_number() OVER (PARTITION BY key ORDER BY batch_idx, payload)
= 1`` regardless of trigger boundaries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..streaming.replay import await_replay, replay_to_memory

N_ROWS = 600
N_PER_BATCH = 120
N_KEYS = 240

_SCHEMA = "cond_key long, batch_idx long, payload long"


def write_stream_fixture(dirpath: str | None = None) -> str:
    import pandas as pd

    from ..sources.fixtures import fixture_dir

    if dirpath is None:
        dirpath = fixture_dir("stream_v1")
    if os.path.exists(os.path.join(dirpath, "_done")):
        return dirpath
    rows = [
        {
            "cond_key": (i * 7) % N_KEYS,
            "batch_idx": i // N_PER_BATCH,
            "payload": i,
        }
        for i in range(N_ROWS)
    ]
    df = pd.DataFrame(rows)
    for b, grp in df.groupby("batch_idx"):
        grp.to_parquet(os.path.join(dirpath, f"b{int(b):03d}.parquet"))
    open(os.path.join(dirpath, "_done"), "w").write("ok")
    return dirpath


def q_streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import dedup_first_seen

    d = write_stream_fixture()
    src = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = dedup_first_seen(
        src, key_cols=["cond_key"], payload_cols=["batch_idx", "payload"]
    )
    replay_to_memory(out, "first_seen_replay_sink")
    return spark.table("first_seen_replay_sink").select(
        "cond_key", "batch_idx", "payload"
    )


ORACLE_STREAMING_FIRST_SEEN = f"""
WITH src AS (
  SELECT (i * 7) % {N_KEYS} AS cond_key,
         i // {N_PER_BATCH} AS batch_idx,
         i AS payload
  FROM (SELECT unnest(range(0, {N_ROWS})) AS i)
),
ranked AS (
  SELECT cond_key, batch_idx, payload,
         row_number() OVER (PARTITION BY cond_key
                            ORDER BY batch_idx, payload) AS rn
  FROM src
)
SELECT CAST(cond_key AS BIGINT) AS cond_key,
       CAST(batch_idx AS BIGINT) AS batch_idx,
       CAST(payload AS BIGINT) AS payload
FROM ranked WHERE rn = 1
"""

# --- streaming_windowed_counts (watermark + tumbling event-time window) --------
#
# The mandate's late-data bullet: ``withWatermark`` + 60 s tumbling window
# counts in APPEND mode over a replayed micro-batch stream.  The fixture
# plants LATE rows (every 10th row carries an event time ~6 windows behind
# its batch's frontier): in batches 0-2 the watermark hasn't passed their
# window yet, so they MUST be counted; in batches 3-4 the same lag puts
# their window end below the watermark, so they MUST be dropped.  Two
# sentinel rows (key -1) advance the watermark past every data window and
# trigger the final eviction batch — append mode emits a window exactly once,
# when the watermark passes its end.
#
# Determinism: one parquet file per micro-batch with explicitly spaced
# mtimes (the file source processes oldest-modification-time first), and
# every frontier is chosen so no window end ever EQUALS a watermark (drop
# and emit comparisons never sit on the boundary).  Drop semantics were
# measured, not assumed: Spark filters batch b's input against the watermark
# IN FORCE AT THE BATCH'S START — the value derived from batches <= b-2 —
# while the end-of-batch eviction uses the batch's own updated value (so a
# window is never emitted twice).  The oracle replays exactly that: a row in
# batch b is dropped iff its window end <= max event time over batches
# <= b-2, minus the delay.

WIN_S = 60
DELAY_S = 123
N_BATCHES = 5
N_PER_B = 80
_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, a multiple of WIN_S


def _win_sec(i: int) -> tuple[int, int]:
    """(batch, event-second) for fixture row i — shared closed form."""
    b, j = divmod(i, N_PER_B)
    if j % 10 == 0:
        return b, max(0, b * 120 - 360) + (j % 37)
    return b, b * 120 + j


def write_windowed_fixture(dirpath: str | None = None) -> str:
    import pandas as pd

    from ..sources.fixtures import fixture_dir

    if dirpath is None:
        dirpath = fixture_dir("stream_win_v1")
    if os.path.exists(os.path.join(dirpath, "_done")):
        return dirpath
    # tz-aware so parquet marks the column isAdjustedToUTC (Spark reads it as
    # TIMESTAMP_LTZ, matching the declared stream schema; naive would be NTZ)
    base = pd.Timestamp("2024-01-01", tz="UTC")
    batches: list[pd.DataFrame] = []
    for b in range(N_BATCHES):
        rows = []
        for i in range(b * N_PER_B, (b + 1) * N_PER_B):
            _, sec = _win_sec(i)
            rows.append({"key": i % 7, "ts": base + pd.Timedelta(seconds=sec)})
        batches.append(pd.DataFrame(rows))
    # sentinels: advance the watermark past the last data window (end 600 s;
    # 780 - 123 = 657), then fire one more batch so eviction runs
    batches.append(pd.DataFrame([{"key": -1, "ts": base + pd.Timedelta(seconds=780)}]))
    batches.append(pd.DataFrame([{"key": -1, "ts": base + pd.Timedelta(seconds=900)}]))
    t0 = 1_700_000_000
    for b, df in enumerate(batches):
        p = os.path.join(dirpath, f"w{b:03d}.parquet")
        # micros, not pandas' nano default — Spark reads INT64(NANOS) as LONG
        df.to_parquet(p, coerce_timestamps="us")
        os.utime(p, (t0 + b * 10, t0 + b * 10))
    open(os.path.join(dirpath, "_done"), "w").write("ok")
    return dirpath


def q_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = write_windowed_fixture()
    src = (
        spark.readStream.schema("key long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        src.withWatermark("ts", f"{DELAY_S} seconds")
        .groupBy(F.window("ts", f"{WIN_S} seconds"), "key")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_s"),
            "key",
            "n",
        )
    )
    replay_to_memory(agg, "windowed_replay_sink")
    return spark.table("windowed_replay_sink").filter("key >= 0")


ORACLE_STREAMING_WINDOWED = f"""
WITH src AS (
  SELECT i // {N_PER_B} AS b, i % 7 AS key,
         CASE WHEN (i % {N_PER_B}) % 10 = 0
              THEN GREATEST(0, (i // {N_PER_B}) * 120 - 360) + ((i % {N_PER_B}) % 37)
              ELSE (i // {N_PER_B}) * 120 + (i % {N_PER_B}) END AS sec
  FROM (SELECT unnest(range(0, {N_BATCHES * N_PER_B})) AS i)
),
frontier AS (SELECT b, MAX(sec) AS fmax FROM src GROUP BY 1),
wm AS (
  -- watermark in force at batch b's START: derived from batches <= b-2
  -- (batch b-1's own frontier only takes effect at b-1's end, after b-1's
  -- input was already filtered) — measured Spark 4 semantics, see above
  SELECT b, COALESCE(MAX(fmax) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING), -1000000)
         - {DELAY_S} AS watermark
  FROM frontier
),
kept AS (
  SELECT s.key, (s.sec // {WIN_S}) * {WIN_S} AS win
  FROM src s JOIN wm USING (b)
  WHERE (s.sec // {WIN_S}) * {WIN_S} + {WIN_S} > wm.watermark
)
SELECT CAST({_EPOCH} + win AS BIGINT) AS win_start_s,
       CAST(key AS BIGINT) AS key, COUNT(*) AS n
FROM kept
WHERE win + {WIN_S} <= 780 - {DELAY_S}
GROUP BY 1, 2
"""

# --- streaming_url_consolidate (running freshest-capture per key) --------------
#
# The incremental crawl-consolidation stage: captures of the same canonical
# url arrive across micro-batches; the stateful operator keeps (count,
# max_ts, payload_at_max) per key and emits the RUNNING consolidated view in
# every batch where the key appears.  Key coverage is total per batch
# (key = (i*7) % NK with 7 invertible mod NK), so the replay emits exactly
# NK rows per batch; ts is a pseudo-shuffled UNIQUE value so "freshest" is
# never a tie.  Emission count depends on micro-batch boundaries, which the
# gate pins with one-file-per-trigger (mtime order) like the windowed gate.
NK2 = 120
NPB2 = 120
NB2 = 5


def write_capture_fixture(dirpath: str | None = None) -> str:
    import pandas as pd

    from ..sources.fixtures import fixture_dir

    if dirpath is None:
        dirpath = fixture_dir("stream_caps_v1")
    if os.path.exists(os.path.join(dirpath, "_done")):
        return dirpath
    rows = [
        {
            "cap_key": (i * 7) % NK2,
            "batch_idx": i // NPB2,
            "ts": ((i * 5231) % 7919) * 1000 + i,
            "payload": i,
        }
        for i in range(NB2 * NPB2)
    ]
    df = pd.DataFrame(rows)
    t0 = 1_700_000_000
    for b, grp in df.groupby("batch_idx"):
        p = os.path.join(dirpath, f"c{int(b):03d}.parquet")
        grp.to_parquet(p)
        os.utime(p, (t0 + int(b) * 10, t0 + int(b) * 10))
    open(os.path.join(dirpath, "_done"), "w").write("ok")
    return dirpath


def q_streaming_url_consolidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import consolidate_latest

    d = write_capture_fixture()
    src = (
        spark.readStream.schema(
            "cap_key long, batch_idx long, ts long, payload long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = consolidate_latest(src, key_col="cap_key", ts_col="ts", payload_col="payload")
    replay_to_memory(out, "url_consolidate_sink")
    return spark.table("url_consolidate_sink").select(
        "cap_key", "upto_batch", "n_so_far", "latest_ts", "latest_payload"
    )


ORACLE_STREAMING_URL_CONSOLIDATE = f"""
WITH src AS (
  SELECT (i * 7) % {NK2} AS cap_key, i // {NPB2} AS batch_idx,
         ((i * 5231) % 7919) * 1000 + i AS ts, i AS payload
  FROM (SELECT unnest(range(0, {NB2 * NPB2})) AS i)
),
per AS (SELECT DISTINCT cap_key, batch_idx FROM src)
SELECT CAST(p.cap_key AS BIGINT) AS cap_key,
       CAST(p.batch_idx AS BIGINT) AS upto_batch,
       COUNT(*) AS n_so_far,
       CAST(MAX(s.ts) AS BIGINT) AS latest_ts,
       CAST(arg_max(s.payload, s.ts) AS BIGINT) AS latest_payload
FROM per p JOIN src s
  ON s.cap_key = p.cap_key AND s.batch_idx <= p.batch_idx
GROUP BY 1, 2
"""

# --- streaming_extract_sink (GATED: foreachBatch extract -> parquet sink) ------
#
# Gates streaming/extract_stream.stream_extract_to_parquet end-to-end: the
# pages corpus replayed as one parquet file per micro-batch, each batch run
# through the SAME batched extract_features kernel inside foreachBatch and
# appended to the features sink; the rollup over the read-back sink must
# equal the closed-form per-fcode oracle, so a dropped batch, a double
# append, or any extract drift flips count or coordinate sums.

_EXTRACT_BATCHES = 4


def _write_pages_stream_fixture(n: int) -> str:
    import pandas as pd  # noqa: F401

    from ..sources.fixtures import fixture_dir
    from ..sources.pages import _page_batch

    d = fixture_dir(f"pages_stream_{n}")
    if os.path.exists(os.path.join(d, "_done")):
        return d
    import numpy as np

    per = n // _EXTRACT_BATCHES
    for b in range(_EXTRACT_BATCHES):
        hi = n if b == _EXTRACT_BATCHES - 1 else (b + 1) * per
        pdf = _page_batch(np.arange(b * per, hi, dtype=np.int64), n_total=n)
        # micro-precision so the parquet type is TIMESTAMP(MICROS, ntz) —
        # pandas' default ns unit reads back as a bare INT64 to Spark
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
        pdf.to_parquet(os.path.join(d, f"b{b:03d}.parquet"))
    open(os.path.join(d, "_done"), "w").write("ok")
    return d


def q_streaming_extract_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F

    from ..queries.nonsql import _n_pages
    from ..sources.fixtures import fixture_dir
    from ..streaming.extract_stream import stream_extract_to_parquet

    n = _n_pages(sf_dir)
    src = _write_pages_stream_fixture(n)
    out = fixture_dir(f"extract_sink_{n}")
    cp = fixture_dir(f"extract_sink_cp_{n}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(cp, ignore_errors=True)
    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp_ntz, html binary,"
            " text string, lang string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    await_replay(stream_extract_to_parquet(stream, out, cp))
    feats = spark.read.parquet(out)
    return feats.groupBy("fcode").agg(
        F.count("*").alias("n_feats"),
        F.sum(F.expr("CAST(ROUND(lon * 100.0) AS BIGINT)")).alias("sum_lon_cdeg"),
        F.sum(F.expr("CAST(ROUND(lat * 100.0) AS BIGINT)")).alias("sum_lat_cdeg"),
    )


def _oracle_extract_sink(n: int) -> str:
    from .nonsql import _oracle_pages_features

    return f"""
WITH feats AS ({_oracle_pages_features(n)})
SELECT fcode, COUNT(*) AS n_feats,
       CAST(SUM(lon_cdeg) AS BIGINT) AS sum_lon_cdeg,
       CAST(SUM(lat_cdeg) AS BIGINT) AS sum_lat_cdeg
FROM feats GROUP BY 1
"""


# --- streaming_pip: PIP spatial join under Structured Streaming ----------------
#
# The flagship operator in its INCREMENTAL form: a point stream (file
# source, one parquet file per micro-batch) stream-static-joined against
# the geo_zones areals through the SAME pip_join machinery the batch path
# uses — cell-cover equi-join (stream-static inner join is stateless) +
# broadcast ray-cast refine in mapInPandas.  The memory sink accumulates
# matches across micro-batches; the oracle recomputes the full sign-test
# join closed-form, so a dropped or duplicated micro-batch flips the hash.

PIP_STREAM_N = 1200
PIP_STREAM_BATCHES = 4


def write_pip_stream_fixture(dirpath: str | None = None) -> str:
    import pandas as pd

    from ..sources.fixtures import fixture_dir

    if dirpath is None:
        dirpath = fixture_dir("stream_pip_v1")
    if os.path.exists(os.path.join(dirpath, "_done")):
        return dirpath
    rows = []
    per = PIP_STREAM_N // PIP_STREAM_BATCHES
    for i in range(PIP_STREAM_N):
        rows.append(
            {
                "point_id": i,
                "lon": ((i * 9973) % 7200) / 20.0 - 180.0,
                "lat": ((i * 7919) % 2400) / 20.0 - 60.0,
                "fcode": "STRPT",
                "batch_idx": i // per,
            }
        )
    df = pd.DataFrame(rows)
    for b, grp in df.groupby("batch_idx"):
        grp.drop(columns=["batch_idx"]).to_parquet(
            os.path.join(dirpath, f"b{int(b):03d}.parquet")
        )
    open(os.path.join(dirpath, "_done"), "w").write("ok")
    return dirpath


def q_streaming_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pip import pip_join
    from ..sources.synthetic import geo_zone_rings

    d = write_pip_stream_fixture()
    src = (
        spark.readStream.schema(
            "point_id long, lon double, lat double, fcode string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    zones = geo_zone_rings(spark)
    out = pip_join(src, zones, point_id="point_id", poly_id="zone_id").select(
        "point_id", "zone_id"
    )
    replay_to_memory(out, "streaming_pip_sink")
    return spark.table("streaming_pip_sink").select("point_id", "zone_id")


def _pip_stream_oracle() -> str:
    from ..operators.pip import sql_in_triangle
    from ..sources.synthetic import oracle_cte

    return f"""
{oracle_cte('geo_zones')},
pts AS (
  SELECT i AS point_id,
         CAST((i * 9973) % 7200 AS DOUBLE) / 20.0 - 180.0 AS lon,
         CAST((i * 7919) % 2400 AS DOUBLE) / 20.0 - 60.0 AS lat
  FROM (SELECT unnest(range(0, {PIP_STREAM_N})) AS i)
)
SELECT p.point_id, z.zone_id
FROM pts p, geo_zones z
WHERE {sql_in_triangle("p.lon", "p.lat")}
"""


# --- streaming_utm_pip: PROJECTED input through the streaming spatial join -----
#
# The round-4 coordinate-system layer composed with the incremental path:
# a UTM-meter point stream (file source, one parquet per micro-batch) is
# inverse-transformed IN the stream (the numpy twin of utm_stages — pure
# scalar arithmetic, stateless, so it adds nothing to streaming state) and
# stream-static-joined against geo_zones through the same pip_join.  The
# oracle recomputes the identical transform chain (oracle_stages over
# utm_stages) plus the sign-test join closed-form over unnest(range(...)).

UTM_STREAM_N = 1200
UTM_STREAM_BATCHES = 4


def write_utm_stream_fixture(dirpath: str | None = None) -> str:
    import pandas as pd

    from ..sources.fixtures import fixture_dir

    if dirpath is None:
        dirpath = fixture_dir("stream_utm_pip_v1")
    if os.path.exists(os.path.join(dirpath, "_done")):
        return dirpath
    rows = []
    per = UTM_STREAM_N // UTM_STREAM_BATCHES
    for i in range(UTM_STREAM_N):
        rows.append(
            {
                "point_id": i,
                "zone": 29 + i % 9,
                "easting": 150000.0 + float((i * 7919) % 700000),
                "northing": float((i * 104729) % 8000000),
                "batch_idx": i // per,
            }
        )
    df = pd.DataFrame(rows)
    for b, grp in df.groupby("batch_idx"):
        grp.drop(columns=["batch_idx"]).to_parquet(
            os.path.join(dirpath, f"b{int(b):03d}.parquet")
        )
    open(os.path.join(dirpath, "_done"), "w").write("ok")
    return dirpath


def q_streaming_utm_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pip import pip_join
    from ..sources.synthetic import geo_zone_rings

    d = write_utm_stream_fixture()
    src = (
        spark.readStream.schema(
            "point_id long, zone long, easting double, northing double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    # transform via the Arrow-batched numpy twin (bit-identical to the SQL
    # stage chain — tests/test_utm.py::test_utm_numpy_twin_matches_sql_chain;
    # one mapInPandas node keeps per-micro-batch re-analysis O(1) instead of
    # re-planning the 24-stage expression tree every trigger)
    def _xform(batches):
        from ..functions.utm import utm_to_geodetic_np

        for pdf in batches:
            lon, lat = utm_to_geodetic_np(
                pdf["easting"].to_numpy(),
                pdf["northing"].to_numpy(),
                pdf["zone"].to_numpy(),
            )
            out = pdf[["point_id"]].copy()
            out["lon"] = lon
            out["lat"] = lat
            out["fcode"] = "STRPT"
            yield out

    pts = src.mapInPandas(
        _xform, "point_id long, lon double, lat double, fcode string"
    )
    zones = geo_zone_rings(spark)
    out = pip_join(pts, zones, point_id="point_id", poly_id="zone_id").select(
        "point_id", "zone_id"
    )
    replay_to_memory(out, "streaming_utm_pip_sink")
    return spark.table("streaming_utm_pip_sink").select("point_id", "zone_id")


def _utm_stream_oracle() -> str:
    from ..functions.stages import oracle_stages
    from ..functions.utm import utm_stages
    from ..operators.pip import sql_in_triangle
    from ..sources.synthetic import oracle_cte

    inner = f"""
  SELECT i AS point_id,
         CAST(29 + i % 9 AS INT) AS zone,
         150000.0 + CAST((i * 7919) % 700000 AS DOUBLE) AS easting,
         CAST((i * 104729) % 8000000 AS DOUBLE) AS northing
  FROM (SELECT unnest(range(0, {UTM_STREAM_N})) AS i)
"""
    return f"""
{oracle_cte('geo_zones')}
SELECT p.point_id, z.zone_id
FROM {oracle_stages(inner, utm_stages("easting", "northing", "zone"))} p, geo_zones z
WHERE {sql_in_triangle("p.utm_lon", "p.utm_lat")}
"""


QUERIES = {
    "streaming_first_seen": q_streaming_first_seen,
    "streaming_windowed_counts": q_streaming_windowed,
    "streaming_url_consolidate": q_streaming_url_consolidate,
    "streaming_extract_sink": q_streaming_extract_sink,
    "streaming_pip": q_streaming_pip,
    "streaming_utm_pip": q_streaming_utm_pip,
}
ORACLES = {
    "streaming_first_seen": ORACLE_STREAMING_FIRST_SEEN,
    "streaming_windowed_counts": ORACLE_STREAMING_WINDOWED,
    "streaming_url_consolidate": ORACLE_STREAMING_URL_CONSOLIDATE,
    "streaming_extract_sink": _oracle_extract_sink(500),
    "streaming_pip": _pip_stream_oracle(),
    "streaming_utm_pip": _utm_stream_oracle(),
}
