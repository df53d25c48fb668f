"""Streaming shard export (``streaming/export.py``): drop-by-drop manifest
maintenance equals the batch manifest of everything ingested, re-dropped
documents don't perturb it, and replays are idempotent under the
content-hash-keyed delta ledger — including a fresh checkpoint over the
same landing directory, a fresh checkpoint that ALSO picks up new files,
and simulated mid-batch crashes at every step boundary (after the ledger
write, after the corpus merge)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tests._util import fuzz_examples

from sample_deepbook_margin_dune_dbt_spark.engine import TableStore
from sample_deepbook_margin_dune_dbt_spark.operators.export import (
    assign_shards,
    shard_manifest,
)
from sample_deepbook_margin_dune_dbt_spark.streaming import stream_shard_export

SCHEMA = "doc_id BIGINT, text STRING"
N_SHARDS = 4

DOCS = {
    1: "alpha beta gamma delta",
    2: "the quick brown fox jumps over the lazy dog",
    3: "completely different content about adaptive query execution",
    4: "epsilon zeta eta theta iota kappa",
    5: "streaming manifests compose by xor and addition",
    6: "short text",
}


def _drop(landing: str, name: str, ids: list[int], texts=None) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as f:
        for i in ids:
            f.write(json.dumps({"doc_id": i, "text": (texts or DOCS)[i]}) + "\n")


def _run(spark, landing, store, ckpt):
    q = stream_shard_export(
        spark, landing, SCHEMA, store, "corpus", ckpt, n_shards=N_SHARDS
    )
    q.awaitTermination(120)


def _manifest(store):
    return {
        r["shard_id"]: (r["n_docs"], r["n_tokens"], r["n_chars"], r["content_xor"], r["max_doc_id"])
        for r in store.read("corpus_shard_manifest").collect()
    }


def _batch_twin(spark, ids):
    df = spark.createDataFrame(
        [(i, DOCS[i]) for i in ids], ["doc_id", "text"]
    )
    a = assign_shards(df, "doc_id", N_SHARDS)
    man = shard_manifest(a, "shard_id").join(
        a.groupBy("shard_id").agg(F.max("doc_id").alias("max_doc_id")), "shard_id"
    )
    return {
        r["shard_id"]: (r["n_docs"], r["n_tokens"], r["n_chars"], r["content_xor"], r["max_doc_id"])
        for r in man.collect()
    }


def test_drops_accumulate_to_batch_manifest(spark, tmp_path):
    landing = str(tmp_path / "landing")
    store = TableStore(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    _drop(landing, "a.jsonl", [1, 2, 3])
    _run(spark, landing, store, ckpt)
    assert _manifest(store) == _batch_twin(spark, [1, 2, 3])

    # drop 2 re-delivers doc 2 (ignored: first occurrence wins) + new docs
    _drop(landing, "b.jsonl", [2, 4, 5])
    _run(spark, landing, store, ckpt)
    assert _manifest(store) == _batch_twin(spark, [1, 2, 3, 4, 5])
    assert {r["doc_id"] for r in store.read("corpus").collect()} == {1, 2, 3, 4, 5}

    # re-dropped doc with CHANGED text must not perturb the manifest
    _drop(landing, "c.jsonl", [2], texts={2: "mutated content for doc two"})
    _run(spark, landing, store, ckpt)
    assert _manifest(store) == _batch_twin(spark, [1, 2, 3, 4, 5])


def test_fresh_checkpoint_replay_is_idempotent(spark, tmp_path):
    landing = str(tmp_path / "landing")
    store = TableStore(spark, str(tmp_path / "wh"))

    _drop(landing, "a.jsonl", [1, 2, 3])
    _run(spark, landing, store, str(tmp_path / "ckpt1"))
    _drop(landing, "b.jsonl", [4, 5, 6])
    _run(spark, landing, store, str(tmp_path / "ckpt1"))
    before = _manifest(store)
    assert before == _batch_twin(spark, [1, 2, 3, 4, 5, 6])

    # a FRESH checkpoint re-delivers every file against the same store:
    # the corpus probe filters all docs as already ingested — no deltas,
    # manifest unchanged
    _run(spark, landing, store, str(tmp_path / "ckpt2"))
    assert _manifest(store) == before


def test_fresh_checkpoint_with_new_files_keeps_old_ledger(spark, tmp_path):
    """A fresh checkpoint re-reads every file as batch 0; with NEW files
    present its delta must NOT overwrite the original run's ledger rows
    (the batch_id-keyed ledger bug: both runs' first batch was batch 0)."""
    landing = str(tmp_path / "landing")
    store = TableStore(spark, str(tmp_path / "wh"))

    _drop(landing, "a.jsonl", [1, 2, 3])
    _run(spark, landing, store, str(tmp_path / "ckpt1"))

    # fresh checkpoint + a new file: batch 0 again, covering {1..5}
    _drop(landing, "b.jsonl", [4, 5])
    _run(spark, landing, store, str(tmp_path / "ckpt2"))
    assert _manifest(store) == _batch_twin(spark, [1, 2, 3, 4, 5])
    assert {r["doc_id"] for r in store.read("corpus").collect()} == {1, 2, 3, 4, 5}


class _CrashStore(TableStore):
    """TableStore that raises on the Nth merge call (crash injection)."""

    def __init__(self, spark, root, crash_on_merge_call: int):
        super().__init__(spark, root)
        self._merge_calls = 0
        self._crash_at = crash_on_merge_call

    def merge(self, updates, name, unique_key, **kwargs):  # noqa: D102
        self._merge_calls += 1
        if self._merge_calls == self._crash_at:
            raise RuntimeError("injected crash")
        return super().merge(updates, name, unique_key, **kwargs)


def _batch_df(spark, ids):
    return spark.createDataFrame([(i, DOCS[i]) for i in ids], ["doc_id", "text"])


def _apply(store, batch_df):
    from sample_deepbook_margin_dune_dbt_spark.streaming.export import (
        shard_export_batch,
    )

    shard_export_batch(
        batch_df, store, "corpus", "corpus_shard_deltas",
        "corpus_shard_manifest", N_SHARDS, "doc_id", "text",
    )


def test_crash_after_ledger_before_corpus_heals_on_replay(spark, tmp_path):
    """Crash between the delta merge and the corpus merge: the replayed
    batch recomputes the identical new-doc set (corpus unchanged), the
    content-keyed delta overwrites itself, and the corpus merge completes
    — no undercount, no double count."""
    root = str(tmp_path / "wh")
    _apply(TableStore(spark, root), _batch_df(spark, [1, 2, 3]))

    crashy = _CrashStore(spark, root, crash_on_merge_call=2)  # corpus merge
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        _apply(crashy, _batch_df(spark, [4, 5]))
    # ledger has {4,5}'s delta but the corpus does not — replay heals both
    store = TableStore(spark, root)
    _apply(store, _batch_df(spark, [4, 5]))
    assert _manifest(store) == _batch_twin(spark, [1, 2, 3, 4, 5])
    assert {r["doc_id"] for r in store.read("corpus").collect()} == {1, 2, 3, 4, 5}


def test_crash_after_corpus_before_rollup_heals_on_replay(spark, tmp_path):
    """Crash between the corpus merge and the manifest rollup: the replayed
    batch sees an empty new set, but the unconditional end-of-batch rollup
    repairs the stale manifest (the permanent-undercount bug under the old
    corpus-first ordering)."""
    root = str(tmp_path / "wh")
    _apply(TableStore(spark, root), _batch_df(spark, [1, 2, 3]))

    crashy = _CrashStore(spark, root, crash_on_merge_call=3)  # manifest rollup
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        _apply(crashy, _batch_df(spark, [4, 5]))
    store = TableStore(spark, root)
    assert _manifest(store) == _batch_twin(spark, [1, 2, 3])  # stale but sane
    _apply(store, _batch_df(spark, [4, 5]))  # at-least-once redelivery
    assert _manifest(store) == _batch_twin(spark, [1, 2, 3, 4, 5])


def test_stream_matches_batch_shard_assignment(spark, tmp_path):
    landing = str(tmp_path / "landing")
    store = TableStore(spark, str(tmp_path / "wh"))
    _drop(landing, "a.jsonl", list(DOCS))
    _run(spark, landing, store, str(tmp_path / "ckpt"))
    got = {
        r["doc_id"]: r["shard_id"] for r in store.read("corpus").collect()
    }
    df = spark.createDataFrame(list(DOCS.items()), ["doc_id", "text"])
    want = {
        r["doc_id"]: r["shard_id"]
        for r in assign_shards(df, "doc_id", N_SHARDS).collect()
    }
    assert got == want, "stream and batch must agree on every document's shard"


def test_crash_then_fresh_checkpoint_with_new_files_reconciles(spark, tmp_path):
    """ADVICE r10: crash BETWEEN the ledger merge and the corpus merge,
    then restart under a FRESH checkpoint after NEW files landed. The
    replayed batch has different composition (new batch_key), so the
    orphaned ledger row (counts for docs never ingested) would survive
    and overcount the manifest forever — the fresh-checkpoint
    reconciliation sweep must repair it."""
    landing = str(tmp_path / "landing")
    root = str(tmp_path / "wh")

    _drop(landing, "a.jsonl", [1, 2, 3])
    _run(spark, landing, TableStore(spark, root), str(tmp_path / "ckpt1"))

    # crash between ledger merge (call 1) and corpus merge (call 2)
    crashy = _CrashStore(spark, root, crash_on_merge_call=2)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        _apply(crashy, _batch_df(spark, [4, 5]))

    # new file lands; the restart uses a FRESH checkpoint → batch 0 covers
    # {1..6}, whose new set {4,5,6} gets a batch_key ≠ the orphan's {4,5}
    _drop(landing, "b.jsonl", [4, 5])
    _drop(landing, "c.jsonl", [6])
    store = TableStore(spark, root)
    _run(spark, landing, store, str(tmp_path / "ckpt2"))

    assert _manifest(store) == _batch_twin(spark, [1, 2, 3, 4, 5, 6])
    assert {r["doc_id"] for r in store.read("corpus").collect()} == {1, 2, 3, 4, 5, 6}


def test_reconcile_noop_on_consistent_ledger(spark, tmp_path):
    """The sweep must be a no-op (return False, tables untouched) when
    ledger and corpus agree — fresh-checkpoint restarts of a healthy
    store keep their batch-granular ledger history."""
    from sample_deepbook_margin_dune_dbt_spark.streaming.export import (
        reconcile_shard_ledger,
    )

    root = str(tmp_path / "wh")
    store = TableStore(spark, root)
    _apply(store, _batch_df(spark, [1, 2, 3]))
    _apply(store, _batch_df(spark, [4, 5]))
    keys_before = {
        (r["shard_id"], r["batch_key"])
        for r in store.read("corpus_shard_deltas").collect()
    }
    assert not reconcile_shard_ledger(
        store, "corpus", "corpus_shard_deltas", "corpus_shard_manifest",
        "doc_id", "text",
    )
    keys_after = {
        (r["shard_id"], r["batch_key"])
        for r in store.read("corpus_shard_deltas").collect()
    }
    assert keys_after == keys_before  # batch-granular history preserved


def test_reconcile_first_batch_crash_orphans(spark, tmp_path):
    """Ledger rows with NO corpus at all (first-batch crash) are pure
    orphans: the sweep drops ledger + manifest so the fresh run starts
    clean."""
    from sample_deepbook_margin_dune_dbt_spark.streaming.export import (
        reconcile_shard_ledger,
    )

    root = str(tmp_path / "wh")
    crashy = _CrashStore(spark, root, crash_on_merge_call=2)  # corpus merge
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        _apply(crashy, _batch_df(spark, [1, 2, 3]))
    store = TableStore(spark, root)
    assert store.exists("corpus_shard_deltas") and not store.exists("corpus")
    assert reconcile_shard_ledger(
        store, "corpus", "corpus_shard_deltas", "corpus_shard_manifest",
        "doc_id", "text",
    )
    assert not store.exists("corpus_shard_deltas")


def test_versioned_store_streaming_twin(spark, tmp_path):
    """VERDICT r10 item 7: the streaming export runs unchanged on a store
    with history — N-batch stream ≡ batch build, each
    EFFECTIVE batch commits exactly one corpus version, and an
    at-least-once replay of identical batches (fresh checkpoint, same
    files) mints NO new versions on corpus, ledger, or manifest."""
    landing = str(tmp_path / "landing")
    store = TableStore(spark, str(tmp_path / "vwh"), history=True)

    _drop(landing, "a.jsonl", [1, 2, 3])
    _run(spark, landing, store, str(tmp_path / "ckpt1"))
    _drop(landing, "b.jsonl", [2, 4, 5])  # re-delivers 2 + two new docs
    _run(spark, landing, store, str(tmp_path / "ckpt1"))

    assert _manifest(store) == _batch_twin(spark, [1, 2, 3, 4, 5])
    assert {r["doc_id"] for r in store.read("corpus").collect()} == {1, 2, 3, 4, 5}
    # two effective batches → exactly two corpus versions, time-travelable
    assert [v["version"] for v in store.versions("corpus")] == [1, 2]
    assert {r["doc_id"] for r in store.read("corpus", version=1).collect()} == {1, 2, 3}

    before = {
        t: len(store.versions(t))
        for t in ("corpus", "corpus_shard_deltas", "corpus_shard_manifest")
    }
    # fresh checkpoint, same files: every batch replays as already-ingested
    _run(spark, landing, store, str(tmp_path / "ckpt2"))
    after = {
        t: len(store.versions(t))
        for t in ("corpus", "corpus_shard_deltas", "corpus_shard_manifest")
    }
    assert after == before, f"identical replay minted versions: {before} -> {after}"
    assert _manifest(store) == _batch_twin(spark, [1, 2, 3, 4, 5])


def test_reconcile_property_random_crash_sequences(spark, tmp_path):
    """VERDICT r11 item 8: hypothesis property — ANY sequence of batches
    with crashes injected at ANY merge boundary, followed by the real
    restart sequence (the fresh-checkpoint reconcile sweep, then batch 0
    re-reading the whole landing set), converges to manifest ≡ the batch
    twin of every dropped doc. The final batch matters: a crash between
    the corpus merge and the rollup leaves a stale manifest that the
    UNCONDITIONAL end-of-batch rollup (not the reconcile) repairs —
    exactly how the runtime heals it."""
    import shutil

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from sample_deepbook_margin_dune_dbt_spark.streaming.export import (
        reconcile_shard_ledger,
    )

    universe = sorted(DOCS)
    batch = st.lists(st.sampled_from(universe), min_size=1, max_size=4)
    # crash point: None = clean batch; 1..3 = Nth merge call raises
    # (1 = after nothing / during ledger, 2 = between ledger and corpus,
    #  3 = between corpus and manifest rollup)
    step = st.tuples(batch, st.one_of(st.none(), st.integers(1, 3)))

    counter = [0]

    @settings(
        max_examples=fuzz_examples(12, 5),
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(step, min_size=1, max_size=4))
    def run(seq):
        counter[0] += 1
        root = str(tmp_path / f"wh{counter[0]}")
        shutil.rmtree(root, ignore_errors=True)
        for ids, crash in seq:
            if crash is None:
                _apply(TableStore(spark, root), _batch_df(spark, ids))
            else:
                crashy = _CrashStore(spark, root, crash_on_merge_call=crash)
                try:
                    _apply(crashy, _batch_df(spark, ids))
                except RuntimeError:
                    pass  # injected crash — mid-batch state left behind
        store = TableStore(spark, root)
        reconcile_shard_ledger(
            store, "corpus", "corpus_shard_deltas", "corpus_shard_manifest",
            "doc_id", "text",
        )
        all_ids = sorted({i for ids, _ in seq for i in ids})
        _apply(store, _batch_df(spark, all_ids))  # fresh-checkpoint batch 0
        ingested = sorted(
            r["doc_id"] for r in store.read("corpus").select("doc_id").collect()
        )
        assert ingested == all_ids
        assert _manifest(store) == _batch_twin(spark, all_ids)

    run()
