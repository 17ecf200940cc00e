"""One replay harness for the gated micro-batch streams.

Every streaming query replays a fixture directory to completion
(``availableNow``) before it is read, so they share one policy:

* a stale query of the same name (an earlier call in this session) is
  stopped before the new one starts;
* the state-store partition count is frozen from
  ``spark.sql.shuffle.partitions`` at stream start, so it is pinned small
  for the tiny replays (at the session default every tiny batch commits
  dozens of state-store partitions — pure per-task overhead; real
  deployments size it to the keyspace) and restored right after the start;
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
    stream: DataFrame, name: str, shuffle_partitions: int = 4
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
