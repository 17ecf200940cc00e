"""One replay harness for the gated micro-batch streams: the batch files in,
the sink out.

Input.  ``write_batches(name, build)`` writes ``build()``'s frames as one
parquet file per batch (``b000.parquet``, ``b001.parquet``, ...) through the
write-once fixture directory (sources/fixtures.write_once), and pins each
file's mtime: batch b gets ``BATCH_MTIME_ORIGIN + 10 * b`` seconds.  The
file source orders pending files by millisecond mtime and breaks ties by
the directory listing (hash order on common filesystems), so unpinned files
written a few ms apart arrive in order only while each write is slow
enough; spaced 10 s apart they arrive in batch order on any filesystem with
timestamps of 2 s or finer.  ``batch_stream(spark, schema, d)`` reads the
directory back one file per trigger (``maxFilesPerTrigger`` 1), so each
micro-batch is exactly one written batch.

Output.  Every streaming query replays its stream to completion
(``availableNow``) before it is read, so they share one policy:

* a stale query of the same name (an earlier call in this session) is
  stopped before the new one starts;
* the state-store partition count is frozen from
  ``spark.sql.shuffle.partitions`` at stream start, so it is pinned for the
  replay and restored right after the start.  The pin defaults to ONE
  partition: the gated replays hold at most a few dozen state rows, and
  every state-store partition is a per-batch commit whatever it holds.
  Measured on the 8-batch windowed replay (``streaming_windowed_counts``,
  two replays per setting, 4-core host): the per-batch state commit
  (``stateOperators[0].commitTimeMs``) took 256-664 ms at 4 partitions and
  22-37 ms at 1; ``addBatch`` took 253-635 ms and 147-299 ms (the first,
  cold batch aside); the sink rows were identical.  Real deployments size
  it to the keyspace (a caller with a large keyed state passes its own
  count);
* a replay that does not finish within ``TIMEOUT_S`` is stopped and
  RAISES, so no caller ever reads a partially-populated sink.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..sources.fixtures import write_once

TIMEOUT_S = 300
#: mtime of batch 0's file (2023-11-14T22:13:20Z); batch b's is 10 s later per b
BATCH_MTIME_ORIGIN = 1_700_000_000


def write_batches(name: str, build: Callable[[], list[pd.DataFrame]]) -> str:
    """The write-once directory ``name`` holding ``build()``'s frames, one
    parquet file per batch with pinned, spaced mtimes."""

    def write(d: str) -> None:
        for b, pdf in enumerate(build()):
            p = os.path.join(d, f"b{b:03d}.parquet")
            # micros, not pandas' nano default: Spark reads INT64(NANOS) as LONG
            pdf.to_parquet(p, index=False, coerce_timestamps="us")
            t = BATCH_MTIME_ORIGIN + 10 * b
            os.utime(p, (t, t))

    return write_once(name, write)


def batch_stream(spark: SparkSession, schema: str, d: str) -> DataFrame:
    """Replay ``write_batches``' directory ``d``, one batch per trigger."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)


def await_replay(q: StreamingQuery) -> StreamingQuery:
    """Wait for an ``availableNow`` query to drain; stop and raise on timeout."""
    if not q.awaitTermination(TIMEOUT_S):
        q.stop()
        raise RuntimeError(
            f"streaming replay {q.name or q.id} did not finish within "
            f"{TIMEOUT_S} s — refusing to read a partially-populated sink"
        )
    return q


def replay_to_memory(
    stream: DataFrame, name: str, shuffle_partitions: int = 1
) -> StreamingQuery:
    """Replay ``stream`` into the append-mode memory sink ``name`` (readable
    as ``spark.table(name)``); returns the terminated query."""
    spark = stream.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return await_replay(q)
