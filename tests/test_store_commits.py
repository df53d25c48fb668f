"""Commit safety of ``TableStore`` (``engine/materialize.py``).

Every sink stages its output into the table's next ``snap-*`` directory and
publishes it by renaming a complete manifest into ``_v/``; a store without
history then deletes the snapshot it superseded. For every sink, these
tests inject a failure at each step:

- inside the Spark write, and at the manifest rename: the table reads
  exactly as before, and no partial snapshot is left;
- while deleting the superseded snapshot: the table reads the new content.

A kill (SIGKILL, power loss) can stop a commit anywhere. It leaves one of
two states on disk, which the kill tests build directly: a complete
snapshot whose manifest was never renamed in (the table reads the old
version), or the previous snapshot and manifest still beside the new ones
(the table reads the new version). In both, the next commit succeeds and
leaves one snapshot.

The next test pins that the store neither trusts nor mutates the session's
``spark.sql.sources.partitionOverwriteMode``: under Spark's own STATIC
default a partition-scoped commit still keeps every untouched partition.

Then the manifest as the table's one metadata record: with and without
history, every sink commits the schema and the partition layout of what it
wrote, and ``store.read`` returns that schema, partition columns typed as
written, without running a job; a merge may change the layout (it rewrites
in full), a commit that keeps files may not; and a partitioned full rewrite
schedules no job beyond Spark's own write.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from sample_deepbook_margin_dune_dbt_spark.engine import TableStore
from tests._util import spark_jobs

BASE = [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")]
UPDATES = [(2, "B", "d2"), (4, "d", "d4")]
UPSERTED = [(1, "a", "d1"), (2, "B", "d2"), (3, "c", "d3"), (4, "d", "d4")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "k INT, v STRING, day STRING")


def _content(store, name="t"):
    return sorted(map(tuple, store.read(name).select("k", "v", "day").collect()))


def _snaps(store, name="t"):
    return sorted(f for f in os.listdir(store.path(name)) if f.startswith("snap-"))


# sink -> (partition_by, apply, content after applying UPDATES to BASE)
SINKS = {
    "write_full": (
        ["day"], lambda s, d: s.write_full(d, "t", partition_by=["day"]), sorted(UPDATES)
    ),
    "merge_partitioned": (
        ["day"], lambda s, d: s.merge(d, "t", ["k"], partition_by=["day"]), UPSERTED
    ),
    "merge_unpartitioned": (None, lambda s, d: s.merge(d, "t", ["k"]), UPSERTED),
    "insert_overwrite": (
        ["day"], lambda s, d: s.insert_overwrite(d, "t", ["day"]), UPSERTED
    ),
    "append": (
        ["day"], lambda s, d: s.append(d, "t", ["day"]), sorted(BASE + UPDATES)
    ),
}


def _fail(monkeypatch, module, fn: str, when) -> None:
    """Make ``module.fn`` raise ``OSError`` on the calls ``when`` accepts."""
    real = getattr(module, fn)

    def wrapped(*a, **k):
        if when(*a):
            raise OSError(f"injected failure in {fn}")
        return real(*a, **k)

    monkeypatch.setattr(module, fn, wrapped)


def _base_store(spark, tmp_path, partition_by):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.write_full(_df(spark, BASE), "t", partition_by=partition_by)
    return store


@pytest.mark.parametrize("sink", list(SINKS))
def test_failed_commit_leaves_old_table(spark, tmp_path, monkeypatch, sink):
    partition_by, apply, after = SINKS[sink]
    store = _base_store(spark, tmp_path, partition_by)
    before, snaps = _content(store), _snaps(store)

    def unchanged():
        assert _content(store) == before and _snaps(store) == snaps
        assert os.listdir(store._base()) == ["t"] and store.tables() == ["t"]
        assert sorted(os.listdir(store._vdir("t"))) == ["LOCK", "v00000001.json"]

    # a Spark job of the sink fails (the write, or a job planning it)
    bad = _df(spark, UPDATES).selectExpr(
        "k", "coalesce(CAST(assert_true(k < 0) AS STRING), v) AS v", "day"
    )
    with pytest.raises(Exception, match="assert_true|k < 0"):
        apply(store, bad)
    unchanged()

    # the manifest rename fails
    with monkeypatch.context() as m:
        _fail(m, os, "rename", lambda src, dst: str(dst).endswith(".json"))
        with pytest.raises(OSError, match="injected failure in rename"):
            apply(store, _df(spark, UPDATES))
    unchanged()

    # the table is still writable, and the same commit now succeeds
    apply(store, _df(spark, UPDATES))
    assert _content(store) == after and len(_snaps(store)) == 1


@pytest.mark.parametrize("sink", list(SINKS))
def test_failed_cleanup_keeps_new_table(spark, tmp_path, monkeypatch, sink):
    """Deleting the superseded snapshot fails after the manifest rename:
    the commit has happened, and the next one removes the leftover."""
    partition_by, apply, after = SINKS[sink]
    store = _base_store(spark, tmp_path, partition_by)
    old = _snaps(store)
    with monkeypatch.context() as m:
        _fail(m, shutil, "rmtree", lambda p, *a: os.path.basename(p) in old)
        with pytest.raises(OSError, match="injected failure in rmtree"):
            apply(store, _df(spark, UPDATES))
    assert _content(store) == after
    assert len(_snaps(store)) == 2

    store.write_full(_df(spark, BASE), "t", partition_by=partition_by)
    assert _content(store) == sorted(BASE) and len(_snaps(store)) == 1


def test_kill_before_the_manifest_rename_reads_the_old_version(spark, tmp_path):
    """A complete snapshot with no manifest (and the manifest's temp file
    beside it) is invisible; the next commit replaces it."""
    store = _base_store(spark, tmp_path, ["day"])
    _df(spark, UPDATES).write.partitionBy("day").parquet(
        os.path.join(store.path("t"), "snap-00000002")
    )
    with open(os.path.join(store._vdir("t"), ".tmp-v00000002.json"), "w") as f:
        f.write('{"version": 2')
    assert _content(store) == sorted(BASE)

    store.merge(_df(spark, UPDATES), "t", ["k"], partition_by=["day"])
    assert _content(store) == UPSERTED
    assert _snaps(store) == ["snap-00000002"]
    assert sorted(os.listdir(store._vdir("t"))) == ["LOCK", "v00000002.json"]


def test_kill_after_the_manifest_rename_reads_the_new_version(spark, tmp_path):
    """The previous snapshot and manifest left beside the new ones: the
    table reads the new version, and the next commit drops the old."""
    root = str(tmp_path / "wh")
    kept = TableStore(spark, root, history=True)  # commits without the cleanup
    kept.write_full(_df(spark, BASE), "t", partition_by=["day"])
    kept.write_full(_df(spark, UPDATES), "t", partition_by=["day"])
    store = TableStore(spark, root)
    assert _snaps(store) == ["snap-00000001", "snap-00000002"]
    assert _content(store) == sorted(UPDATES)

    store.merge(_df(spark, BASE), "t", ["k"], partition_by=["day"])
    assert _content(store) == sorted(BASE + [(4, "d", "d4")])
    assert _snaps(store) == ["snap-00000003"]
    assert sorted(os.listdir(store._vdir("t"))) == ["LOCK", "v00000003.json"]


def _mtimes(store, part):
    d = os.path.join(store._data_dir("t"), f"day={part}")
    return {f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d) if f.endswith(".parquet")}

def test_partition_scoped_commits_ignore_session_overwrite_mode(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        store.write_full(_df(spark, BASE), "t", partition_by=["day"])
        untouched = {p: _mtimes(store, p) for p in ("d1", "d3")}

        store.merge(_df(spark, [(2, "B", "d2")]), "t", ["k"], partition_by=["day"])
        store.insert_overwrite(_df(spark, [(5, "e", "d4")]), "t", ["day"])

        assert _content(store) == [
            (1, "a", "d1"), (2, "B", "d2"), (3, "c", "d3"), (5, "e", "d4")
        ]
        assert {p: _mtimes(store, p) for p in untouched} == untouched
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)


# ---------------------------------------------------------------- reads

READ_SCHEMA = (
    "k INT, v STRING, ts TIMESTAMP, tags ARRAY<STRUCT<t: STRING>>, p BIGINT, s STRING"
)


def _typed(spark, rows):
    """``(k, v, p)`` triples as rows of ``READ_SCHEMA``, with ``s`` the
    zero-padded string ``"007"``, ``"010"``, ... of ``3k + 4``. ``p`` and
    ``s`` are the partition columns where a case declares them: Spark
    would infer both back from the directory names as INT (BIGINT ``1``
    as INT, STRING ``"007"`` as INT ``7``), so only a read that takes
    their types from the committed schema gives back what was written."""
    return spark.createDataFrame(
        [(k, v, dt.datetime(2026, 1, k), [(v,)], p, f"{3 * k + 4:03d}") for k, v, p in rows],
        READ_SCHEMA,
    )


TYPED_BASE = [(1, "a", 1), (2, "b", 2), (3, "c", None)]
TYPED_UPDATES = [(2, "B", 2), (4, "d", 4)]
P = ["p"]

READ_CASES = {
    "write_full": [lambda s, df: s.write_full(df(TYPED_BASE), "t")],
    "write_full_partitioned": [lambda s, df: s.write_full(df(TYPED_BASE), "t", P)],
    "write_full_empty_partitioned": [lambda s, df: s.write_full(df([]), "t", P)],
    "write_full_string_partitioned": [lambda s, df: s.write_full(df(TYPED_BASE), "t", ["s"])],
    "merge_bigint_string_partitioned": [
        lambda s, df: s.write_full(df(TYPED_BASE), "t", ["p", "s"]),
        lambda s, df: s.merge(df(TYPED_UPDATES), "t", ["k"], partition_by=["p", "s"]),
    ],
    "merge_partitioned": [
        lambda s, df: s.write_full(df(TYPED_BASE), "t", P),
        lambda s, df: s.merge(df(TYPED_UPDATES), "t", ["k"], partition_by=P),
    ],
    "merge_unpartitioned": [
        lambda s, df: s.write_full(df(TYPED_BASE), "t"),
        lambda s, df: s.merge(df(TYPED_UPDATES), "t", ["k"]),
    ],
    "merge_append_new_columns": [
        lambda s, df: s.write_full(df(TYPED_BASE), "t", P),
        lambda s, df: s.merge(
            df(TYPED_UPDATES).withColumn("w", F.col("k") * 0.5), "t", ["k"],
            partition_by=P, on_schema_change="append_new_columns",
        ),
    ],
    "insert_overwrite": [
        lambda s, df: s.insert_overwrite(df(TYPED_BASE), "t", P),
        lambda s, df: s.insert_overwrite(df(TYPED_UPDATES), "t", P),
    ],
    "append": [
        lambda s, df: s.append(df(TYPED_BASE), "t", P),
        lambda s, df: s.append(df(TYPED_UPDATES), "t", P),
    ],
    "replace_scope": [
        lambda s, df: s.write_full(df(TYPED_BASE), "t"),
        lambda s, df: s.replace_scope(
            df(TYPED_UPDATES), "t", df(TYPED_UPDATES).select("k"), ["k"]
        ),
    ],
}


def _reference(spark, snap, schema, partition_by):
    """The rows under ``snap`` with every partition value read as its raw
    directory string, then cast to its ``schema`` type."""
    raw = StructType(
        [StructField(f.name, StringType()) if f.name in partition_by else f for f in schema]
    )
    return spark.read.schema(raw).parquet(snap).select(
        *[F.col(f.name).cast(f.dataType) for f in schema]
    )


@pytest.mark.parametrize("history", [False, True], ids=["TableStore", "history"])
@pytest.mark.parametrize("case", list(READ_CASES))
def test_read_matches_inference_without_a_job(spark, tmp_path, history, case):
    """Every sink commits its schema and partition layout in its manifest:
    ``store.read`` gives the committed schema, in which every column of
    ``READ_SCHEMA`` keeps its written type (partition columns too), and
    the rows of the files with the partition values cast to those types,
    and it schedules no Spark job — for every version the store keeps
    (only the current one without history)."""
    store = TableStore(spark, str(tmp_path / "wh"), history=history)
    for step in READ_CASES[case]:
        step(store, lambda rows: _typed(spark, rows))

    written = _typed(spark, []).schema
    versions = [m["version"] for m in store.versions("t")]
    assert len(versions) == (len(READ_CASES[case]) if history else 1)
    for v in versions:
        df, jobs = spark_jobs(spark, lambda: store.read("t", version=v))
        assert jobs == [], (v, jobs)
        assert [df.schema[f.name].dataType for f in written] == [
            f.dataType for f in written
        ], v
        snap, committed, partition_by = store._snapshot("t", v)
        assert df.schema == committed, v
        ref = _reference(spark, snap, committed, partition_by)
        assert sorted(map(repr, df.collect())) == sorted(map(repr, ref.collect())), v


def test_merge_with_a_changed_partition_by_rewrites_in_its_layout(spark, tmp_path):
    """A merge declaring another layout than the committed one rewrites the
    table in full in the declared layout: it stays readable, upserts, and
    records the new layout — to another column, and to none."""
    store = _base_store(spark, tmp_path, ["day"])
    store.merge(_df(spark, UPDATES), "t", ["k"], partition_by=["v"])
    assert _content(store) == UPSERTED
    assert store.partition_cols("t") == ["v"]
    assert sorted(f for f in os.listdir(store._data_dir("t")) if "=" in f) == [
        "v=B", "v=a", "v=c", "v=d"
    ]

    store.merge(_df(spark, [(5, "e", "d5")]), "t", ["k"])
    assert _content(store) == UPSERTED + [(5, "e", "d5")]
    assert store.partition_cols("t") == []
    assert not [f for f in os.listdir(store._data_dir("t")) if "=" in f]


@pytest.mark.parametrize(
    "layout, sink, declared",
    [
        (["day"], "append", None),
        (["day"], "append", ["v"]),
        (["day"], "insert_overwrite", ["v"]),
        (None, "append", ["day"]),
    ],
    ids=["append-missing", "append-other", "insert_overwrite-other", "append-unpartitioned"],
)
def test_commit_keeping_files_in_another_layout_raises(spark, tmp_path, layout, sink, declared):
    """``append`` and ``insert_overwrite`` keep the committed files, so they
    must declare the committed layout: any other raises ``ValueError``
    before writing, and the table reads as it was."""
    store = _base_store(spark, tmp_path, layout)
    before, snaps = _content(store), _snaps(store)
    with pytest.raises(ValueError, match="partition_by"):
        getattr(store, sink)(_df(spark, UPDATES), "t", declared)
    assert _content(store) == before and _snaps(store) == snaps
    assert store.partition_cols("t") == (layout or [])
    assert sorted(os.listdir(store._vdir("t"))) == ["LOCK", "v00000001.json"]


def test_partitioned_write_full_adds_no_spark_job(spark, tmp_path):
    """A partitioned full rewrite of a sorted frame schedules no job beyond
    what Spark's own partitioned write of the same frame schedules."""
    df = spark.range(0, 200).selectExpr("id", "CAST(id % 5 AS STRING) AS day").orderBy("day")
    store = TableStore(spark, str(tmp_path / "wh"))
    _, committed = spark_jobs(spark, store.write_full, df, "t", partition_by=["day"])
    _, plain = spark_jobs(
        spark, lambda: df.write.partitionBy("day").parquet(str(tmp_path / "plain"))
    )
    assert store.read("t").count() == 200
    assert len(committed) <= len(plain), (committed, plain)
