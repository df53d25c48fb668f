"""Streaming corpus ingestion: JSONL file drops → validated corpus + quarantine.

The standing ingestion pattern for a training-data platform: producers
drop line-delimited JSON files into a landing directory; the stream
picks up new files (``readStream.json`` tracks processed files in the
checkpoint), validates each line against the mandatory schema, MERGEs
clean rows into the corpus table on the unique key (late re-drops of the
same document upsert instead of duplicating), and appends raw bad lines
to a quarantine table with batch provenance — dirty data is auditable
data, never a stream crash.

Composes the batch surfaces: the same corrupt-record contract as
``sources/files.py`` and the same ``TableStore`` MERGE sink as
``streaming/incremental.py``, so a corpus built by the stream is
bit-identical to one built by batch runs over the same drops.

Scale: each micro-batch caches once (both halves of the split read the
parsed result), the MERGE shuffles on the unique key, and the quarantine
append is map-only. File tracking is per-file, so a 100k-file landing
dir wants ``maxFilesPerTrigger`` (pass via ``reader_options``) to bound
batch size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.materialize import TableStore
from ..engine.staging import stage
from ..sources.files import CORRUPT_COL

QUARANTINE_SCHEMA_SUFFIX = "_quarantine"
LATE_SCHEMA_SUFFIX = "_late"


def stream_jsonl_ingest(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    store: TableStore,
    corpus_table: str,
    unique_key: list[str],
    checkpoint_dir: str,
    quarantine_table: str | None = None,
    reader_options: dict[str, str] | None = None,
    event_time_col: str | None = None,
    max_lateness: str | None = None,
):
    """Start the landing-dir → corpus ingestion stream.

    ``schema`` is the clean-row DDL (the corrupt column is appended
    internally). Returns the StreamingQuery; the stream drains the
    files present at start and stops (the scheduled-batch pattern).

    ``event_time_col`` + ``max_lateness`` (an INTERVAL literal body,
    e.g. ``"7 days"``) enable the reference's late-data contract
    (``fct_deepbook_margin_pool_daily.sql:34``'s 7-day lookback) on the
    streaming path: rows whose event time falls at or before
    ``max(event time already ingested) - max_lateness`` are diverted to
    the ``<corpus>_late`` audit table instead of merging — too-late data
    is auditable, never a silent state rewrite. The floor probe is the
    same bounded scalar-MAX watermark the batch engine runs per
    incremental build (``engine/model.py``), here once per micro-batch;
    at scale, range-clustering the corpus on the event-time column keeps
    it a metadata-cheap scan (see ``engine/materialize.py`` optimize).
    """
    q_table = quarantine_table or corpus_table + QUARANTINE_SCHEMA_SUFFIX
    late_table = corpus_table + LATE_SCHEMA_SUFFIX
    if max_lateness is not None and event_time_col is None:
        raise ValueError("max_lateness requires event_time_col")
    reader = (
        spark.readStream.schema(f"{schema}, {CORRUPT_COL} STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**(reader_options or {}))
    )
    stream = reader.json(landing_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        with stage(batch_df) as batch_df:
            clean = batch_df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
            if event_time_col and max_lateness and store.exists(corpus_table):
                wm = (
                    store.read(corpus_table)
                    .agg(F.max(event_time_col))
                    .first()[0]
                )
                if wm is not None:
                    # NULL event times must stay on the merge path: a
                    # permissive parse of a record missing the timestamp
                    # field yields a clean row with NULL ts, and a bare
                    # `col > floor` would silently drop it (NULL fails
                    # both the late and the keep predicate).
                    floor = F.lit(wm) - F.expr(f"INTERVAL {max_lateness}")
                    late = clean.filter(F.col(event_time_col) <= floor)
                    if late.limit(1).count() > 0:
                        store.append(
                            late.withColumn(
                                "batch_id", F.lit(batch_id).cast("long")
                            ),
                            late_table,
                        )
                    clean = clean.filter(
                        F.col(event_time_col).isNull()
                        | (F.col(event_time_col) > floor)
                    )
            # a file may re-deliver the same document id: last write wins
            # inside the batch, then MERGE upserts against the corpus
            deduped = clean.dropDuplicates(unique_key)
            store.merge(deduped, corpus_table, unique_key)
            bad = batch_df.filter(F.col(CORRUPT_COL).isNotNull()).select(
                F.col(CORRUPT_COL).alias("raw_line"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            if bad.limit(1).count() > 0:
                store.append(bad, q_table)

    return (
        stream.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
