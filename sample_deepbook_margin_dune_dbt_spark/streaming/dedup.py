"""Streaming cross-run deduplication: document drops → deduped corpus +
persisted fingerprint/band index + near-dup candidate pairs.

The streaming twin of the r6 incremental batch models
(``models_corpus``'s ``corpus_fingerprint_index`` /
``corpus_neardup_pairs``): producers drop JSONL document files into a
landing directory; each micro-batch is exact-deduplicated WITHIN the
batch (first id per content fingerprint survives) and AGAINST the
accumulated index (content already in the corpus never re-enters),
survivors MERGE into the corpus and their MinHash band rows into the
index, and the batch's band rows join the index to emit
near-duplicate candidate pairs — all without ever re-shingling the
accumulated corpus.

Scale shape per micro-batch (batch ≪ corpus, the streaming premise):

- cross-run exact probe: the INDEX is scanned once filtered by a
  BROADCAST of the batch's distinct fingerprints (never the reverse —
  building a hash table of the corpus side would be the scale-killer);
  with the index z-ordered/bucketed on ``fingerprint`` the probe prunes
  at the footer. Hits are ≤ batch size, so the anti-join back is a
  broadcast too.
- band/index maintenance: shingle + minhash ONLY the survivors, MERGE
  on (id, band) — identical layout to the batch index, so batch and
  stream interoperate on the same tables.
- pair generation: the batch's band rows equi-join the index on
  (band, band_key) — new×old and new×new pairs; a pair is produced by
  the batch that introduces its LATER member, so MERGE on (id_a, id_b)
  accumulates exactly the full-rebuild pair set (same induction as the
  batch model, pinned by ``tests/test_streaming_dedup.py``).

Malformed input: this module takes schema-clean drops (DROPMALFORMED);
compose with ``stream_jsonl_ingest`` when a quarantine contract is
needed — dedup semantics, not parsing, is this surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.materialize import TableStore
from ..engine.staging import stage

INDEX_SUFFIX = "_fingerprint_index"
PAIRS_SUFFIX = "_neardup_pairs"
DUPS_SUFFIX = "_dups"
CLUSTERS_SUFFIX = "_neardup_clusters"


def stream_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    store: TableStore,
    corpus_table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_table: str | None = None,
    pairs_table: str | None = None,
    dups_table: str | None = None,
    clusters_table: str | None = None,
    emit_clusters: bool = False,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    reader_options: dict[str, str] | None = None,
):
    """Start the landing-dir → deduped-corpus stream; drains the files
    present at start, then stops; returns the query.

    Tables (defaults derived from ``corpus_table``):
    - ``corpus_table``: surviving documents, MERGE on ``id_col``;
    - ``index_table``: (id, band, band_key, fingerprint), MERGE on
      (id, band) — same layout as ``corpus_fingerprint_index``;
    - ``pairs_table``: (id_a, id_b) candidates;
    - ``dups_table``: audit of dropped duplicates with the surviving
      id and batch provenance — a dropped document is auditable data.
    """
    from ..functions.text import fingerprint64
    from ..operators.dedup import minhash_band_rows

    idx_table = index_table or corpus_table + INDEX_SUFFIX
    prs_table = pairs_table or corpus_table + PAIRS_SUFFIX
    dup_table = dups_table or corpus_table + DUPS_SUFFIX
    clu_table = clusters_table or corpus_table + CLUSTERS_SUFFIX

    stream = (
        spark.readStream.schema(schema)
        .option("mode", "DROPMALFORMED")
        .options(**(reader_options or {}))
        .json(landing_dir)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        with stage(
            batch_df.dropDuplicates([id_col]).withColumn(
                "fingerprint", fingerprint64(F.col(text_col))
            )
        ) as batch:
            # within-batch exact dedup: min id per content survives
            keep = batch.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
            unique = batch.join(keep, ["fingerprint", id_col], "left_semi")
            dropped = batch.join(keep, ["fingerprint", id_col], "left_anti")

            # cross-run exact dedup: scan the index once, filtered by a
            # broadcast of the batch's fingerprints; hits ≤ batch size
            if store.exists(idx_table):
                batch_fps = unique.select("fingerprint").distinct()
                hits = (
                    store.read(idx_table)
                    .join(F.broadcast(batch_fps), "fingerprint")
                    .groupBy("fingerprint")
                    .agg(F.min(id_col).alias("_kept_id"))
                )
                survivors = unique.join(
                    F.broadcast(hits), "fingerprint", "left_anti"
                )
                cross = unique.join(F.broadcast(hits), "fingerprint").select(
                    id_col, "fingerprint", F.col("_kept_id").alias("kept_id")
                )
            else:
                survivors = unique
                cross = None

            audit = dropped.join(
                keep.withColumnRenamed(id_col, "kept_id"), "fingerprint"
            ).select(id_col, "fingerprint", "kept_id")
            if cross is not None:
                audit = audit.unionByName(cross)
            audit = audit.withColumn("batch_id", F.lit(batch_id).cast("long"))
            if audit.limit(1).count() > 0:
                # MERGE, not append: a micro-batch replayed after a
                # mid-batch crash (at-least-once foreachBatch) must not
                # double-count dropped docs; (id, batch_id) keys make the
                # audit idempotent while keeping per-batch provenance
                store.merge(audit, dup_table, [id_col, "batch_id"])

            with stage(survivors) as survivors:
                store.merge(survivors.drop("fingerprint"), corpus_table, [id_col])
                bands = minhash_band_rows(
                    survivors, id_col, text_col, num_hashes, band_size, shingle_n
                ).join(survivors.select(id_col, "fingerprint"), id_col)
                store.merge(bands, idx_table, [id_col, "band"])

                idx = store.read(idx_table)
                new_bands = bands.select(
                    F.col(id_col).alias("_nid"), "band", "band_key"
                )
                pairs = (
                    new_bands.join(idx, ["band", "band_key"])
                    .filter(F.col("_nid") != F.col(id_col))
                    .select(
                        F.least("_nid", id_col).alias("id_a"),
                        F.greatest("_nid", id_col).alias("id_b"),
                    )
                    .distinct()
                )
                if pairs.limit(1).count() > 0:
                    store.merge(pairs, prs_table, ["id_a", "id_b"])
                if emit_clusters:
                    _fold_clusters(
                        store, clu_table, pairs,
                        survivors.select(F.col(id_col).alias("doc_id")),
                    )

    def _fold_clusters(store, clu_table, new_pairs, new_docs) -> None:
        """One contracted-graph CC step per micro-batch — the SHARED
        ``operators.dedup.incremental_cluster_fold`` (the batch model
        ``corpus_neardup_clusters_inc`` runs the same core, so the twins
        cannot drift)."""
        from ..operators.dedup import incremental_cluster_fold

        labels = store.read(clu_table) if store.exists(clu_table) else None
        store.merge(
            incremental_cluster_fold(new_pairs, new_docs, labels),
            clu_table,
            ["doc_id"],
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_decontaminate(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    store: TableStore,
    bench: DataFrame,
    clean_table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    k: int = 8,
    spans_table: str | None = None,
    reader_options: dict[str, str] | None = None,
):
    """Streaming twin of the span-level decontamination tier
    (``decontaminate_spans`` detection + ``scrub_contaminated_spans``
    apply — the batch queries are the authority, mirroring how
    ``streaming/funnel.py`` twins ``events_funnel``): producers drop
    JSONL documents into a landing directory; each micro-batch is probed
    against the STATIC benchmark suite, detected spans land in
    ``spans_table`` and the scrubbed documents MERGE into
    ``clean_table``.

    This tier needs NO cross-batch state: the benchmark fingerprint set
    is fixed for the stream's lifetime and spans are a pure per-document
    function of (document, benchmark), so streamed results are exactly
    the batch results over the union of drops (pinned by
    ``tests/test_streaming_dedup.py``). Per micro-batch the corpus side
    never shuffles on content — the benchmark window fingerprints are a
    pinned broadcast (see ``operators.dedup.contaminated_spans``) and
    the scrub adds one narrow reassembly map.

    Sink discipline (reworked per ADVICE r8): the span probe runs ONCE
    per micro-batch — the scrub is derived from the detected spans via
    the shared span-cut tail instead of a second probe — and the span
    table is written with a scoped delete+insert
    (``TableStore.replace_scope`` over the batch's ids) rather than a
    (id, start)-keyed MERGE, so a re-dropped document whose changed text
    now has fewer (or zero) spans cannot leave stale span rows behind;
    the table always equals the batch authority recomputed over the
    latest drop of each document, and an at-least-once replay is
    idempotent. The clean table keeps its id-keyed MERGE.
    """
    from ..operators.dedup import _cut_spans_from_docs, contaminated_spans

    spn_table = spans_table or clean_table + "_contaminated_spans"

    stream = (
        spark.readStream.schema(schema)
        .option("mode", "DROPMALFORMED")
        .options(**(reader_options or {}))
        .json(landing_dir)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        with stage(batch_df.dropDuplicates([id_col])) as batch, stage(
            contaminated_spans(
                batch, id_col, text_col, bench, bench_id_col, bench_text_col, k
            ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        ) as spans:
            store.replace_scope(
                spans, spn_table, batch.select(id_col), [id_col]
            )
            store.merge(
                _cut_spans_from_docs(
                    batch,
                    spans.select(id_col, "span_start", "span_end"),
                    id_col,
                    text_col,
                ),
                clean_table,
                [id_col],
            )

    return (
        stream.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
