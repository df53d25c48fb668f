"""``TableStore(history=True)`` (``engine/materialize.py``): Delta-style
snapshot semantics over parquet — the table-version behaviors the reference's Dune
Delta warehouse provides natively (``fct_deepbook_margin_pool_daily.sql:5``
``incremental_strategy='merge'``; ``vacuum_table.sql:3`` ``RETAIN 168
HOURS``). Pins:

- every sink commits a new version; ``read(version=N)`` / ``as_of(ts)``
  time-travel to any retained snapshot;
- snapshot isolation: a DataFrame opened before a MERGE still collects
  the pre-MERGE content after the MERGE commits (without history the
  commit deletes the files under the reader);
- partition-pruned MERGE reuses untouched partitions by hard link (same
  inode across snapshots), rewriting only the touched slice;
- vacuum removes exactly the expired versions (never the current one)
  plus crash-orphaned snapshots, and time-travel to a vacuumed version
  raises;
- the full model DAG builds identically with and without history;
- the writer lock refuses a second writer and frees itself when its
  holder dies.
"""

from __future__ import annotations

import fcntl
import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.engine import ConcurrentWriteError, TableStore


def _df(spark, rows, cols=("k", "v", "day")):
    return spark.createDataFrame(rows, list(cols))


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "vwh"), history=True)


def _content(df):
    return sorted(map(tuple, df.collect()))


def test_every_sink_commits_a_version_and_time_travel(spark, store):
    store.write_full(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]), "t")
    store.merge(_df(spark, [(2, "B", "d1"), (3, "c", "d2")]), "t", ["k"])
    store.append(_df(spark, [(4, "d", "d2")]), "t")

    assert [v["version"] for v in store.versions("t")] == [1, 2, 3]
    # the unpartitioned MERGE routes through the full-rewrite path but is
    # labeled as what it semantically IS (ADVICE r10: history must
    # distinguish a MERGE from a user full refresh)
    assert [v["op"] for v in store.versions("t")] == ["overwrite", "merge", "append"]
    assert _content(store.read("t", version=1)) == [(1, "a", "d1"), (2, "b", "d1")]
    assert _content(store.read("t", version=2)) == [
        (1, "a", "d1"), (2, "B", "d1"), (3, "c", "d2")
    ]
    assert _content(store.read("t")) == [
        (1, "a", "d1"), (2, "B", "d1"), (3, "c", "d2"), (4, "d", "d2")
    ]


def test_as_of_timestamp(spark, store):
    store.write_full(_df(spark, [(1, "a", "d1")]), "t")
    t_between = time.time()
    time.sleep(0.02)
    store.merge(_df(spark, [(1, "A", "d1")]), "t", ["k"])
    assert _content(store.as_of("t", t_between)) == [(1, "a", "d1")]
    assert _content(store.as_of("t", time.time())) == [(1, "A", "d1")]
    with pytest.raises(ValueError, match="no version"):
        store.as_of("t", t_between - 3600)


def test_snapshot_isolation_read_during_merge(spark, store):
    """A reader holding the pre-MERGE version collects consistent data
    AFTER the MERGE replaced its rows — the Delta behavior a store
    without history cannot give."""
    store.write_full(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]), "t")
    reader = store.read("t")  # lazy: pinned to snapshot 1's files
    store.merge(_df(spark, [(1, "MUTATED", "d1"), (9, "new", "d9")]), "t", ["k"])
    # the old view is intact, byte-for-byte
    assert _content(reader) == [(1, "a", "d1"), (2, "b", "d1")]
    assert (9, "new", "d9") in _content(store.read("t"))


def test_partitioned_merge_hard_links_untouched_partitions(spark, store):
    base = _df(spark, [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")])
    store.write_full(base, "t", partition_by=["day"])
    store.merge(
        _df(spark, [(2, "B", "d2")]), "t", ["k"], partition_by=["day"]
    )
    assert _content(store.read("t")) == [(1, "a", "d1"), (2, "B", "d2"), (3, "c", "d3")]
    assert _content(store.read("t", version=1)) == _content(base)

    def _inodes(version, part):
        snap, _, _ = store._snapshot("t", version)
        d = os.path.join(snap, f"day={part}")
        return {os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d) if f.endswith(".parquet")}

    # untouched partitions carried over by hard link (same inodes)…
    assert _inodes(1, "d1") == _inodes(2, "d1")
    assert _inodes(1, "d3") == _inodes(2, "d3")
    # …while the touched partition was rewritten (disjoint inodes)
    assert _inodes(1, "d2").isdisjoint(_inodes(2, "d2"))


def test_insert_overwrite_versions_and_links(spark, store):
    store.write_full(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), "t", partition_by=["day"]
    )
    store.insert_overwrite(
        _df(spark, [(20, "B2", "d2"), (21, "B3", "d2")]), "t", ["day"]
    )
    assert _content(store.read("t")) == [(1, "a", "d1"), (20, "B2", "d2"), (21, "B3", "d2")]
    assert _content(store.read("t", version=1)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_vacuum_removes_exactly_expired_versions(spark, store):
    store.write_full(_df(spark, [(1, "a", "d1")]), "t")
    store.merge(_df(spark, [(2, "b", "d1")]), "t", ["k"])
    store.merge(_df(spark, [(3, "c", "d1")]), "t", ["k"])
    assert len(store.versions("t")) == 3

    # age version 1 beyond the window; leave 2 and 3 fresh
    m1 = store._manifest_path("t", 1)
    m = json.load(open(m1))
    m["ts"] = time.time() - 10 * 3600
    json.dump(m, open(m1, "w"))

    store.vacuum("t", retain_hours=5)
    assert [v["version"] for v in store.versions("t")] == [2, 3]
    assert not os.path.isdir(store.path("t") + "/snap-00000001")
    with pytest.raises(ValueError, match="vacuumed"):
        store.read("t", version=1)
    # surviving versions intact, current still newest
    assert _content(store.read("t", version=2)) == [(1, "a", "d1"), (2, "b", "d1")]
    assert len(_content(store.read("t"))) == 3

    # retain_hours=0 expires everything except the ALWAYS-KEPT current
    store.vacuum("t", retain_hours=0)
    assert [v["version"] for v in store.versions("t")] == [3]
    assert len(_content(store.read("t"))) == 3


def test_vacuum_reclaims_crash_orphan_snapshots(spark, store):
    store.write_full(_df(spark, [(1, "a", "d1")]), "t")
    # a crashed commit: snapshot dir written, manifest never renamed in
    orphan = os.path.join(store.path("t"), "snap-99999999")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").close()
    assert _content(store.read("t")) == [(1, "a", "d1")]  # invisible
    store.vacuum("t", retain_hours=0)
    assert not os.path.isdir(orphan)
    assert _content(store.read("t")) == [(1, "a", "d1")]


def test_hard_linked_files_survive_vacuum_of_old_version(spark, store):
    """Vacuuming a version whose files are hard-linked into newer
    snapshots must not corrupt the survivors (link count drops, data
    stays)."""
    store.write_full(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), "t", partition_by=["day"]
    )
    store.merge(_df(spark, [(2, "B", "d2")]), "t", ["k"], partition_by=["day"])
    store.vacuum("t", retain_hours=0)  # drops version 1 (d1's original file)
    assert _content(store.read("t")) == [(1, "a", "d1"), (2, "B", "d2")]


def test_incremental_equivalence_with_plain_store(spark, tmp_path):
    """N merges with history ≡ the same merges without ≡ full refresh —
    the S6 contract does not depend on what the store keeps."""
    plain = TableStore(spark, str(tmp_path / "p"))
    vers = TableStore(spark, str(tmp_path / "v"), history=True)
    steps = [
        [(1, "a", "d1"), (2, "b", "d2")],
        [(2, "B", "d2"), (3, "c", "d3")],
        [(1, "A", "d1"), (4, "d", "d3")],
    ]
    for rows in steps:
        for st in (plain, vers):
            st.merge(_df(spark, rows), "t", ["k"], partition_by=["day"])
    assert _content(plain.read("t")) == _content(vers.read("t"))
    assert len(vers.versions("t")) == 3


def test_full_dag_builds_on_versioned_store(spark, tmp_path):
    """The 7-model reference DAG runs unchanged on a store with history
    and produces the same fact table as without."""
    import datetime as dt

    from sample_deepbook_margin_dune_dbt_spark.engine import Runner
    import sample_deepbook_margin_dune_dbt_spark.models_deepbook  # noqa: F401
    from fixtures import write_fixtures

    src = write_fixtures(str(tmp_path / "src"))
    out = {}
    for history, sub in ((False, "p"), (True, "v")):
        store = TableStore(spark, str(tmp_path / sub), history=history)
        # select the deepbook DAG explicitly: under the full suite other
        # test modules have registered the corpus/events DAGs, whose
        # sources this fixture set does not provide
        Runner(spark, store, src, fixed_now=dt.datetime(2026, 2, 1)).run(
            "+fct_deepbook_margin_pool_daily"
        )
        out[sub] = _content(
            store.read("fct_deepbook_margin_pool_daily").drop("updated_at")
        )
    assert out["p"] == out["v"] and len(out["v"]) > 0


def test_cli_versioned_flag(spark, tmp_path, sf_dir):
    """``run --versioned`` keeps the history: the table has a manifest
    per commit and time-travels across two runs."""
    from sample_deepbook_margin_dune_dbt_spark.__main__ import main

    wh = str(tmp_path / "vcli")
    argv = [
        "run", "--warehouse", wh, "--versioned",
        "--source", f"main.documents={sf_dir}/documents.parquet",
        "--select", "+corpus_training_shards",
    ]
    assert main(argv) == 0
    assert main(argv) == 0  # incremental no-growth rerun
    store = TableStore(spark, wh, history=True)
    vs = store.versions("corpus_training_shards")
    assert len(vs) >= 1 and store.read("corpus_training_shards").count() > 0


def test_version_diff(spark, store):
    """store.diff defaults to previous-vs-current and classifies
    added/removed/changed/unchanged per id across commits."""
    store.write_full(_df(spark, [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")]), "t")
    store.merge(_df(spark, [(2, "B", "d1"), (4, "d", "d2")]), "t", ["k"])
    got = {r["k"]: r["status"] for r in store.diff("t", "k", ["v", "day"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "unchanged", 4: "added"}

    store.merge(_df(spark, [(9, "z", "d9")]), "t", ["k"])
    # explicit version endpoints: v1 → v3 sees both commits
    got13 = {
        r["k"]: r["status"]
        for r in store.diff("t", "k", ["v", "day"], v_old=1, v_new=3).collect()
    }
    assert got13[2] == "changed" and got13[4] == "added" and got13[9] == "added"
    with pytest.raises(ValueError, match="no version before"):
        store.diff("t", "k", ["v"], v_new=1)


def test_optimize_commits_new_version(spark, store):
    rows = [(i, f"v{i}", f"d{i % 3}") for i in range(50)]
    store.write_full(_df(spark, rows).repartition(8), "t")
    before = store.file_count("t")
    store.optimize("t", target_files=1)
    assert store.file_count("t") == 1 and before > 1
    assert [v["op"] for v in store.versions("t")][-1] == "optimize"
    assert len(_content(store.read("t"))) == 50
    assert len(_content(store.read("t", version=1))) == 50


# --------------------------------------------------- r11: ADVICE/VERDICT r10


def test_null_partition_values_survive_partitioned_merge(spark, tmp_path):
    """A NULL partition value lands in __HIVE_DEFAULT_PARTITION__; a merge
    touching that partition must carry its NON-updated keys forward
    (plain `=` partition predicates never match NULL and silently dropped
    them — ADVICE r10). Checked with and without history against a
    full-refresh oracle."""
    rows0 = [(1, "a", "d1"), (2, "b", None), (3, "c", None), (4, "d", "d2")]
    upd = [(2, "B", None), (5, "e", "d1")]
    want_df = None
    for history, sub in ((False, "p"), (True, "v")):
        store = TableStore(spark, str(tmp_path / sub), history=history)
        store.write_full(_df(spark, rows0), "t", partition_by=["day"])
        store.merge(_df(spark, upd), "t", ["k"], partition_by=["day"])
        got = _content(store.read("t").select("k", "v", "day"))
        # k=3 lives in the null partition and was NOT updated: must survive
        assert got == [
            (1, "a", "d1"), (2, "B", None), (3, "c", None),
            (4, "d", "d2"), (5, "e", "d1"),
        ], f"history={history}: null-partition rows lost"
        if want_df is None:
            want_df = got
        else:
            assert got == want_df


def test_concurrent_second_writer_fails_loudly(spark, store):
    """VERDICT r10 item 3: the single-writer contract is self-enforcing —
    a lock held through another descriptor (another writer in this
    process or any other) makes every sink, and vacuum, raise
    ConcurrentWriteError instead of silently orphaning a snapshot."""
    store.write_full(_df(spark, [(1, "a", "d1")]), "t")
    fd = os.open(os.path.join(store._vdir("t"), "LOCK"), os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        other = TableStore(spark, store.root, history=True)
        with pytest.raises(ConcurrentWriteError, match="locked by another writer"):
            other.write_full(_df(spark, [(2, "b", "d1")]), "t")
        with pytest.raises(ConcurrentWriteError):
            other.merge(_df(spark, [(2, "b", "d1")]), "t", ["k"])
        with pytest.raises(ConcurrentWriteError):
            other.append(_df(spark, [(2, "b", "d1")]), "t")
        with pytest.raises(ConcurrentWriteError):
            other.vacuum("t")
    finally:
        os.close(fd)
    # lock released → writes proceed, history is clean
    store.merge(_df(spark, [(2, "b", "d1")]), "t", ["k"])
    assert len(store.versions("t")) == 2


def test_lock_of_a_killed_writer_is_free_at_once(spark, store):
    """A writer killed while it holds the lock (here a plain Python
    process, SIGKILLed) leaves the lock file behind but not the lock:
    the next write succeeds with no cleanup step."""
    store.write_full(_df(spark, [(1, "a", "d1")]), "t")
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, os, sys, time\n"
         "fd = os.open(sys.argv[1], os.O_WRONLY)\n"
         "fcntl.flock(fd, fcntl.LOCK_EX)\n"
         "print('locked', flush=True)\n"
         "time.sleep(600)\n",
         os.path.join(store._vdir("t"), "LOCK")],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "locked"
        with pytest.raises(ConcurrentWriteError):
            store.merge(_df(spark, [(2, "b", "d1")]), "t", ["k"])
    finally:
        holder.kill()
        holder.wait(timeout=30)
        holder.stdout.close()
    store.merge(_df(spark, [(2, "b", "d1")]), "t", ["k"])
    assert len(store.versions("t")) == 2


def test_crash_inside_locked_commit_releases_lock(spark, store):
    """The lock is released on ANY exit from the commit window — a failed
    write must not wedge the table."""
    store.write_full(_df(spark, [(1, "a", "d1")]), "t")
    bad = _df(spark, [(2, "b", "d1")]).selectExpr("k", "assert_true(k < 0) as v", "day")
    with pytest.raises(Exception):
        store.merge(bad, "t", ["k"])
    store.merge(_df(spark, [(2, "b", "d1")]), "t", ["k"])
    assert len(store.versions("t")) == 2


def test_diff_empty_history_raises_cleanly(spark, store):
    with pytest.raises(ValueError, match="no committed versions"):
        store.diff("nope", "k", ["v"])


def test_replace_scope_op_label(spark, store):
    store.write_full(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]), "t")
    scope = _df(spark, [(1, "a", "d1")]).select("k")
    store.replace_scope(_df(spark, [(1, "A", "d1")]), "t", scope, ["k"])
    assert [v["op"] for v in store.versions("t")] == ["overwrite", "replace_scope"]


def test_ref_as_of_and_version_through_model_context(spark, tmp_path):
    """VERDICT r10 item 4: time travel through the MODEL surface —
    ctx.ref(name, version=N) / ref(name, as_of=ts) read an upstream's
    past snapshot while the current one exists; without history the
    request fails loudly."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import ModelContext

    vers = TableStore(spark, str(tmp_path / "v"), history=True)
    vers.write_full(_df(spark, [(1, "a", "d1")]), "up")
    t_between = time.time()
    time.sleep(0.02)
    vers.merge(_df(spark, [(1, "A", "d1")]), "up", ["k"])

    class _M:  # minimal current-model stub: ref() checks declared deps
        name = "down"
        deps = ["up"]

    ctx = ModelContext(spark, vers, {}, _M())
    assert _content(ctx.ref("up")) == [(1, "A", "d1")]
    assert _content(ctx.ref("up", version=1)) == [(1, "a", "d1")]
    assert _content(ctx.ref("up", as_of=t_between)) == [(1, "a", "d1")]

    plain = TableStore(spark, str(tmp_path / "p"))
    plain.write_full(_df(spark, [(1, "a", "d1")]), "up")
    ctx2 = ModelContext(spark, plain, {}, _M())
    with pytest.raises(ValueError, match="versioned"):
        ctx2.ref("up", version=1)


@pytest.mark.parametrize("kind", ["plain", "versioned"])
def test_ref_time_travel_error_names_its_cause(spark, tmp_path, kind):
    """``ref(as_of=…)`` tells a store without history apart by its
    ``history`` flag, not by catching ``TypeError``: it still gets the
    ``--versioned`` hint, while a store with history given a ``datetime``
    (``as_of`` takes epoch seconds) raises the store's own ``TypeError``."""
    import datetime as dt

    from sample_deepbook_margin_dune_dbt_spark.engine.model import ModelContext

    st = TableStore(spark, str(tmp_path / kind), history=kind == "versioned")
    st.write_full(_df(spark, [(1, "a", "d1")]), "up")

    class _M:
        name = "down"
        deps = ["up"]

    ctx = ModelContext(spark, st, {}, _M())
    when = dt.datetime(2026, 1, 1)
    if kind == "plain":
        with pytest.raises(ValueError, match="--versioned"):
            ctx.ref("up", as_of=when)
    else:
        with pytest.raises(TypeError):
            ctx.ref("up", as_of=when)


def test_cli_show_as_of(spark, tmp_path, capsys):
    """CLI drive of the warehouse-wide TIMESTAMP AS OF: `show --versioned
    --as-of <ts>` runs the SQL against every table's snapshot at that
    instant."""
    from sample_deepbook_margin_dune_dbt_spark.__main__ import main

    wh = str(tmp_path / "vwh")
    store = TableStore(spark, wh, history=True)
    store.write_full(_df(spark, [(1, "old", "d1")]), "t")
    t_between = time.time()
    time.sleep(0.02)
    store.merge(_df(spark, [(1, "new", "d1")]), "t", ["k"])

    q = "SELECT v FROM t"
    assert main(["show", "--warehouse", wh, "--versioned", "--inline", q]) == 0
    assert "new" in capsys.readouterr().out
    assert main([
        "show", "--warehouse", wh, "--versioned",
        "--as-of", str(t_between), "--inline", q,
    ]) == 0
    assert "old" in capsys.readouterr().out
    # --as-of without --versioned: loud failure, not a silent current read
    assert main(["show", "--warehouse", wh, "--as-of", str(t_between), "--inline", q]) == 2
