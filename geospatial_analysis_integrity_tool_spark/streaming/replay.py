"""One replay harness for the gated micro-batch streams.

Every streaming query replays a fixture directory to completion
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

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

TIMEOUT_S = 300


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
