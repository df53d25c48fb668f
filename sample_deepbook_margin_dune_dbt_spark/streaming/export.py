"""Streaming training-shard export: document drops → sharded corpus +
continuously-maintained shard manifest.

The streaming twin of the incremental batch model
``models_corpus.corpus_training_shards``: producers drop JSONL document
files into a landing directory; each micro-batch's NEW documents (first
occurrence of a doc_id across all drops wins) are shard-assigned with the
same md5-keyed pure function as the batch tiers
(``operators/export.py::assign_shards`` — so batch and stream agree on
every document's shard forever), merged into the corpus table, and their
per-shard manifest delta folded into the accumulated manifest.

Replay-idempotence is the design problem: foreachBatch is at-least-once,
and the manifest combine (counts add, XOR composes) is NOT idempotent —
re-applying a batch's delta would double counts and cancel checksums.
The fix is the audit-table discipline of ``stream_dedup_ingest``, hardened
in two ways over the naive ``(shard_id, batch_id)`` ledger:

1. **Checkpoint-independent ledger key.** Deltas are MERGE-keyed on
   ``(shard_id, batch_key)`` where ``batch_key`` is an order-independent
   content hash (xor of ``xxhash64`` + count) of the batch's NEW doc_ids.
   foreachBatch's ``batch_id`` restarts at 0 under a fresh checkpoint, so
   keying on it lets a fresh-checkpoint run overwrite the original run's
   batch-0 ledger rows with a delta covering only its own new docs —
   silently losing the originally recorded counts/XOR. The content key
   collides only when the new-doc set is literally identical, which is
   exactly the replay case where overwriting the identical row is correct.
2. **Ledger before corpus, rollup last.** The delta is merged BEFORE the
   corpus merge, and the manifest rollup (a groupBy of the tiny ledger)
   runs at the end of EVERY batch. A crash between the corpus merge and
   the ledger write would otherwise make the replayed batch's docs look
   already-ingested (corpus probe), skipping the delta forever — a
   permanent manifest undercount. With ledger-first: a crash after the
   ledger write replays to the identical new-doc set (corpus unchanged
   for those docs) → identical delta rows overwrite themselves → the
   corpus merge completes; a crash after the corpus merge replays to an
   empty new set and the unconditional rollup repairs the manifest.

3. **Fresh-checkpoint reconciliation.** The one hole the content key
   leaves open: a crash BETWEEN the ledger merge and the corpus merge
   orphans a ledger row, and a restart under a fresh checkpoint with
   DIFFERENT batch composition (new files landed) ingests those docs
   under a new batch_key while the orphan survives — overcounting the
   manifest. :func:`reconcile_shard_ledger` recomputes the per-shard
   truth from the corpus at fresh-checkpoint stream start (the only
   window the hole can bite; the single writer is provably idle) and
   rewrites ledger + manifest only on mismatch.

The manifest therefore always equals one batch
:func:`~..operators.export.shard_manifest` over the union of all drops
(pinned by ``tests/test_streaming_export.py``, including the simulated
mid-batch-crash, fresh-checkpoint-with-new-files, and
crash-then-fresh-checkpoint-with-new-files replays).

Scale shape per micro-batch (batch ≪ corpus): the already-ingested probe
scans the corpus once filtered by a BROADCAST of the batch's doc_ids
(hits ≤ batch size — never a hash table of the corpus side); assignment
+ tokenize + the delta aggregate are a narrow map into an n_shards-key
groupBy; the manifest rollup reads only the tiny delta table. The corpus
never re-scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.materialize import TableStore
from ..engine.staging import stage

DELTAS_SUFFIX = "_shard_deltas"
MANIFEST_SUFFIX = "_shard_manifest"


def _mismatch_count(a: DataFrame, b: DataFrame, key: str, cols: list[str]) -> int:
    """Rows where two keyed tiny tables disagree on any of ``cols``
    (null-safe, full-outer — a key present on one side only counts)."""
    ta, tb = a.alias("a"), b.alias("b")
    agree = None
    for c in cols:
        eq = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        agree = eq if agree is None else (agree & eq)
    return ta.join(tb, key, "full_outer").filter(~agree).count()


def reconcile_shard_ledger(
    store: TableStore,
    corpus_table: str,
    dlt_table: str,
    man_table: str,
    id_col: str,
    text_col: str,
) -> bool:
    """Reconcile the delta ledger against the corpus; returns True if a
    repair was applied.

    Closes the one replay hole the content-keyed ledger leaves open
    (ADVICE r10): a crash between the ledger merge and the corpus merge
    leaves an ORPHAN ledger row (counts for docs never ingested). Under
    the SAME checkpoint the replayed batch recomputes the identical doc
    set → the identical ``batch_key`` overwrites the orphan — healed. But
    under a FRESH checkpoint with DIFFERENT batch composition (new files
    landed), the replay ingests those docs under a NEW batch_key while
    the orphan row survives — a permanent manifest overcount.

    The repair recomputes the per-shard truth from the corpus itself (the
    corpus already carries ``shard_id``, so this is one scan + tokenize —
    the cost of one batch manifest build) and, ONLY on mismatch, rewrites
    the ledger as one ``batch_key='reconciled'`` row per shard and the
    manifest to match. Called at fresh-checkpoint stream start — exactly
    the scenario that can orphan a row, and a moment when the single
    writer is provably not mid-batch; steady-state batches never pay the
    corpus scan.
    """
    from ..operators.export import shard_manifest

    if not store.exists(dlt_table):
        return False
    if not store.exists(corpus_table):
        # ledger rows but no corpus at all: a first-batch crash left pure
        # orphans — every row refers to docs never ingested
        store.drop(dlt_table)
        if store.exists(man_table):
            store.drop(man_table)
        return True

    corpus = store.read(corpus_table)
    truth = shard_manifest(corpus, "shard_id", text_col=text_col).join(
        corpus.groupBy("shard_id").agg(F.max(id_col).alias(f"max_{id_col}")),
        "shard_id",
    )
    folded = (
        store.read(dlt_table)
        .groupBy("shard_id")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.bit_xor("content_xor").alias("content_xor"),
            F.max(f"max_{id_col}").alias(f"max_{id_col}"),
        )
    )
    cols = ["n_docs", "n_tokens", "n_chars", "content_xor", f"max_{id_col}"]
    if _mismatch_count(truth, folded, "shard_id", cols) == 0:
        return False
    rebuilt = truth.withColumn("batch_key", F.lit("reconciled"))
    store.write_full(rebuilt, dlt_table)
    store.write_full(truth, man_table)
    return True


def shard_export_batch(
    batch_df: DataFrame,
    store: TableStore,
    corpus_table: str,
    dlt_table: str,
    man_table: str,
    n_shards: int,
    id_col: str,
    text_col: str,
) -> None:
    """Process one micro-batch of dropped documents (the foreachBatch body,
    public so crash-replay tests can drive partial failures directly).

    Order of operations is the at-least-once contract (module docstring):
    ledger delta (keyed on the new-doc content hash) → corpus merge →
    manifest rollup, each step idempotent under replay of the same batch.
    """
    from ..operators.export import assign_shards, shard_manifest

    batch = batch_df.dropDuplicates([id_col])
    # first-occurrence-wins across drops: probe the corpus once,
    # filtered by a broadcast of the batch's ids (hits ≤ batch size)
    if store.exists(corpus_table):
        seen = (
            store.read(corpus_table)
            .join(F.broadcast(batch.select(id_col).distinct()), id_col, "left_semi")
            .select(id_col)
        )
        batch = batch.join(F.broadcast(seen), id_col, "left_anti")
    with stage(assign_shards(batch, id_col, n_shards)) as new:
        key_row = new.agg(
            F.bit_xor(F.xxhash64(F.col(id_col).cast("string"))).alias("x"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        if key_row["n"] > 0:
            batch_key = f"{key_row['x']}_{key_row['n']}"
            delta = (
                shard_manifest(new, "shard_id", text_col=text_col)
                .join(
                    new.groupBy("shard_id").agg(
                        F.max(id_col).alias(f"max_{id_col}")
                    ),
                    "shard_id",
                )
                .withColumn("batch_key", F.lit(batch_key))
            )
            store.merge(delta, dlt_table, ["shard_id", "batch_key"])
            store.merge(new, corpus_table, [id_col])
    # the manifest is ALWAYS the rollup of the ledger — running it even on
    # empty-new batches repairs a manifest left stale by a crash between
    # the corpus merge and the rollup of a prior attempt. The merge itself
    # is guarded by a tiny (n_shards-row) no-change compare so an
    # at-least-once REPLAY of an identical batch writes nothing — on a
    # store with history that is what keeps version count == distinct
    # effective batches (VERDICT r10 item 7) instead of one no-op version
    # per redelivery.
    if store.exists(dlt_table):
        manifest = (
            store.read(dlt_table)
            .groupBy("shard_id")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
                F.sum("n_chars").cast("long").alias("n_chars"),
                F.bit_xor("content_xor").alias("content_xor"),
                F.max(f"max_{id_col}").alias(f"max_{id_col}"),
            )
        )
        cols = ["n_docs", "n_tokens", "n_chars", "content_xor", f"max_{id_col}"]
        if store.exists(man_table) and _mismatch_count(
            manifest, store.read(man_table), "shard_id", cols
        ) == 0:
            return
        store.merge(manifest, man_table, ["shard_id"])


def stream_shard_export(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    store: TableStore,
    corpus_table: str,
    checkpoint_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    deltas_table: str | None = None,
    manifest_table: str | None = None,
    reader_options: dict[str, str] | None = None,
):
    """Start the landing-dir → sharded-corpus stream; drains the files
    present at start, then stops; returns the query.

    Tables (defaults derived from ``corpus_table``):
    - ``corpus_table``: ingested documents + their ``shard_id``, MERGE on
      ``id_col`` (a redelivered document upserts identically);
    - ``deltas_table``: per-(shard, batch) manifest deltas, MERGE on
      ``(shard_id, batch_key)`` where ``batch_key`` is the content hash
      of the batch's new-doc set — the checkpoint-independent
      replay-idempotence ledger;
    - ``manifest_table``: the accumulated per-shard manifest (rollup of
      the ledger), MERGE on ``shard_id`` — always equal to the batch
      manifest of everything ingested so far.
    """
    dlt_table = deltas_table or corpus_table + DELTAS_SUFFIX
    man_table = manifest_table or corpus_table + MANIFEST_SUFFIX

    import os

    if not os.path.isdir(checkpoint_dir):
        # fresh checkpoint: the one moment an orphaned ledger row (crash
        # between ledger merge and corpus merge, then a restart with
        # DIFFERENT batch composition) could become a permanent manifest
        # overcount — sweep it before the first batch (ADVICE r10)
        reconcile_shard_ledger(store, corpus_table, dlt_table, man_table, id_col, text_col)

    stream = (
        spark.readStream.schema(schema)
        .option("mode", "DROPMALFORMED")
        .options(**(reader_options or {}))
        .json(landing_dir)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        shard_export_batch(
            batch_df, store, corpus_table, dlt_table, man_table,
            n_shards, id_col, text_col,
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
