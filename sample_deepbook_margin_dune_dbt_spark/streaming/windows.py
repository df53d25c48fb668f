"""Watermarked tumbling-window aggregation: the streaming twin of the
batch ``F.window`` groupBy (``queries/parity.py::q_w_tumbling_agg``).

The canonical structured-streaming operator: event-time windows accumulate
across micro-batches in the state store, the watermark bounds state (and
drops events arriving later than the allowed lateness — the streaming form
of the reference's 7-day late-data cutoff), and an update-mode
``foreachBatch`` MERGE upserts re-emitted windows so the target table
always holds the latest value per window. Batch and stream share one
grouping expression and one MERGE sink, so a table built by either path is
identical over the same (on-time) inputs.

Scale: state is one row per open (window, key) group — bounded by the
watermark horizon, not by history; the MERGE shuffles only the changed
windows each batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.materialize import TableStore


def stream_tumbling_agg(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: TableStore,
    table: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window_duration: str = "6 hours",
    watermark_delay: str = "1 hour",
    slide_duration: str | None = None,
):
    """Start a file-drop stream aggregating events into event-time windows.

    Tumbling by default; passing ``slide_duration`` < ``window_duration``
    makes the windows hopping (each event lands in width/slide
    overlapping windows — the streaming twin of
    ``queries/parity.py::q_w_hopping_agg``). State grows by the same
    width/slide factor: each open (window, key) group is a state row, so
    a 6h/3h hop doubles rows versus tumbling — still bounded by the
    watermark horizon, never by history.

    Returns the StreamingQuery. The target table keys on
    ``(bucket_start, key_col)`` and carries ``n_events`` and ``volume`` —
    the same projection as the batch twin, so parity is testable
    row-for-row.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    # group on the window STRUCT, not window().start: the struct carries
    # the event-time metadata the watermark needs — projecting .start in
    # the grouping key silently disables late-row dropping AND state
    # eviction (unbounded state store)
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    agg = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(win.alias("_w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(12,2)"))
            .cast("double")
            .alias("volume"),
        )
        .select(
            F.col("_w").getField("start").alias("bucket_start"),
            key_col,
            "n_events",
            "volume",
        )
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        store.merge(batch_df, table, ["bucket_start", key_col])

    return (
        agg.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
