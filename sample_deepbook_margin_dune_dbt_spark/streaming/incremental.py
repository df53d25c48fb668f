"""Structured-streaming analog of the reference's incremental pattern.

SURVEY §2.8 maps the reference's batch-incremental semantics onto streaming:
watermark ≈ ``max(timestamp_ms)`` of the target, allowed lateness ≈ the
7-day reprocess window, upsert output ≈ MERGE on the unique key. This module
provides that mapping: a ``foreachBatch`` sink that MERGEs each micro-batch
into a ``TableStore`` table, so any incremental model body can run unchanged
over a stream.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame

from ..engine.materialize import TableStore


def merge_stream(
    stream_df: DataFrame,
    store: TableStore,
    name: str,
    unique_key: list[str],
    partition_by: list[str] | None = None,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    checkpoint_dir: str | None = None,
):
    """Write a streaming DataFrame into a store table with MERGE semantics.

    Each micro-batch is (optionally) transformed and upserted on
    ``unique_key`` — exactly the batch models' sink, so batch and streaming
    share one materialization path. The stream runs the available data then
    stops (the scheduled-batch pattern the reference uses, expressed as a
    stream).
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        store.merge(out, name, unique_key, partition_by)

    writer = stream_df.writeStream.foreachBatch(_sink).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()
