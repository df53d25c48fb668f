"""Streaming cross-run MEDIA deduplication: payload drops → persisted
frame-signature index + content-level near-dup pairs + dup clusters.

The streaming twin of the r14 incremental media DAG
(``models_corpus``'s ``corpus_media_signature_index`` /
``corpus_media_neardup_pairs`` / ``corpus_media_neardup_clusters_inc``):
producers drop PARQUET files of (media_id, kind, payload) rows — binary
payloads ride the parquet file source natively, no base64 detour — into
a landing directory; each micro-batch is decoded ONCE
(``operators.multimodal.media_signatures``: image aHash, audio
energy-sign, per-frame video aHash), its band rows MERGE into the index,
and the batch's band rows join the accumulated index to emit verified
near-dup pairs through the SAME
``media_neardup_pairs_from_index`` core the batch model runs — the
twins cannot drift, and batch and stream interoperate on the same
tables.

Scale shape per micro-batch (batch ≪ corpus, the streaming premise):
codec decode — the Python-side Arrow floor (PERF.md r14: ~25–40k
payloads/s per 32-core executor) — touches ONLY the batch; candidate
generation is the (kind, band, band_key) equi-join of batch band rows
against the index; verification reads fingerprints already stored (no
payload is ever re-decoded). The batch's decoded index rows are staged
once (a DISK_ONLY local checkpoint: the index merge, the pair join and
the cluster fold read them) and its pairs are cached; both are released
when the batch ends. A pair is produced by the batch that
introduces its LATER member, so MERGE on (id_a, id_b) accumulates
exactly the full-rebuild pair set — the same induction as the batch
model, lifted through frames for video (every frame of a payload enters
the index in that payload's batch); replay of a crashed micro-batch
re-MERGEs the same keys, so every table is idempotent under
at-least-once ``foreachBatch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..engine.materialize import TableStore
from ..engine.staging import stage

MEDIA_SCHEMA = "media_id long, kind string, payload binary"


def stream_media_dedup(
    spark: SparkSession,
    landing_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    index_table: str = "corpus_media_signature_index",
    pairs_table: str = "corpus_media_neardup_pairs",
    clusters_table: str | None = None,
    bands: int = 8,
    band_arity: int = 1,
    max_hamming: int = 6,
):
    """Start the landing-dir → media-dedup stream; drains the files
    present at start, then stops; returns the query.

    Tables (``media_index_rows`` layout — interoperable with the batch
    DAG models of the same names):
    - ``index_table``: (media_id, kind, frame_index, band, band_key,
      fp_hi, fp_lo), MERGE on (media_id, frame_index, band);
    - ``pairs_table``: verified (id_a, id_b, hamming), MERGE on
      (id_a, id_b) — real pairs only, no marker rows (the streaming
      checkpoint tracks progress; the batch model's watermark markers
      are its substitute for one);
    - ``clusters_table`` (optional): transitive dup clusters folded per
      micro-batch through the SHARED contracted-graph core
      (``operators.dedup.incremental_cluster_fold`` — one row per
      payload, cluster_id = min reachable media_id).

    ``band_arity`` must match the arity the index was built at (it is
    baked into stored band rows — the batch model's ``--full-refresh``
    migration contract applies to the stream too)."""
    from ..operators.multimodal import (
        media_index_rows,
        media_neardup_pairs_from_index,
        media_signatures,
    )

    # producers drop whole parquet DIRECTORIES (a normal df.write per
    # batch); recursiveFileLookup lets the file source discover their
    # part-files under the landing root
    stream = (
        spark.readStream.schema(MEDIA_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(landing_dir)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        with stage(
            media_index_rows(
                media_signatures(batch_df.dropDuplicates(["media_id"])),
                bands,
                band_arity,
            ),
            checkpoint=True,
            storage_level=StorageLevel.DISK_ONLY,
        ) as rows:
            store.merge(rows, index_table, ["media_id", "frame_index", "band"])
            with stage(
                media_neardup_pairs_from_index(
                    rows, store.read(index_table), max_hamming
                )
            ) as pairs:
                if pairs.limit(1).count() > 0:
                    store.merge(pairs, pairs_table, ["id_a", "id_b"])
                if clusters_table is not None:
                    from ..operators.dedup import incremental_cluster_fold

                    labels = (
                        store.read(clusters_table).select(
                            F.col("media_id").alias("doc_id"), "cluster_id"
                        )
                        if store.exists(clusters_table)
                        else None
                    )
                    new_docs = rows.select(
                        F.col("media_id").alias("doc_id")
                    ).distinct()
                    store.merge(
                        incremental_cluster_fold(
                            pairs.select("id_a", "id_b"), new_docs, labels
                        ).select(
                            F.col("doc_id").alias("media_id"), "cluster_id"
                        ),
                        clusters_table,
                        ["media_id"],
                    )

    return (
        stream.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
