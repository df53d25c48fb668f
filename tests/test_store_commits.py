"""Commit safety of the plain ``TableStore`` (``engine/materialize.py``).

Every sink stages its output into a fresh ``.staging-*`` directory and
publishes it with two renames: the live table directory moves aside, then
the staged one moves in. These tests inject a failure at each step —
inside the Spark write, at the first rename and at the second rename — for
every sink, and pin that the table then reads exactly as before and that
nothing is left next to it. A kill (SIGKILL, power loss) BETWEEN the two
renames cannot be injected from inside the process and is not covered: it
leaves the table missing, with its previous version intact under
``.old-<name>-*``.

The next test pins that the store neither trusts nor mutates the session's
``spark.sql.sources.partitionOverwriteMode``: under Spark's own STATIC
default a partition-scoped commit still keeps every untouched partition.

The last one pins, on both stores, that every sink commits the schema of
what it wrote (``_schema.json``), so ``store.read`` equals a
schema-inferring read of the same directory without running a job.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.engine import TableStore, VersionedTableStore
from tests._util import spark_jobs

BASE = [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")]
UPDATES = [(2, "B", "d2"), (4, "d", "d4")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "k INT, v STRING, day STRING")


def _content(store, name="t"):
    return sorted(map(tuple, store.read(name).select("k", "v", "day").collect()))


SINKS = {
    "write_full": (["day"], lambda s, d: s.write_full(d, "t", partition_by=["day"])),
    "merge_partitioned": (
        ["day"], lambda s, d: s.merge(d, "t", ["k"], partition_by=["day"])
    ),
    "merge_unpartitioned": (None, lambda s, d: s.merge(d, "t", ["k"])),
    "insert_overwrite": (["day"], lambda s, d: s.insert_overwrite(d, "t", ["day"])),
    "append": (["day"], lambda s, d: s.append(d, "t", ["day"])),
}


def _fail_rename(monkeypatch, base: str, nth: int) -> None:
    """Make the ``nth`` ``os.replace`` of a path under ``base`` raise."""
    real = os.replace
    calls = []

    def replace(src, dst, *a, **k):
        if str(src).startswith(base):
            calls.append(src)
            if len(calls) == nth:
                raise OSError(f"injected failure at rename {nth}")
        return real(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", replace)


@pytest.mark.parametrize("sink", list(SINKS))
def test_failed_commit_leaves_old_table(spark, tmp_path, monkeypatch, sink):
    partition_by, apply = SINKS[sink]
    store = TableStore(spark, str(tmp_path / "wh"))
    store.write_full(_df(spark, BASE), "t", partition_by=partition_by)
    before = _content(store)
    base = store._base()

    # a Spark job of the sink fails (the write, or a job planning it)
    bad = _df(spark, UPDATES).selectExpr(
        "k", "coalesce(CAST(assert_true(k < 0) AS STRING), v) AS v", "day"
    )
    with pytest.raises(Exception, match="assert_true|k < 0"):
        apply(store, bad)
    assert _content(store) == before
    assert os.listdir(base) == ["t"] and store.tables() == ["t"]

    # the first rename (live table aside) and the second (staged table in)
    for nth in (1, 2):
        with monkeypatch.context() as m:
            _fail_rename(m, base, nth)
            with pytest.raises(OSError, match=f"rename {nth}"):
                apply(store, _df(spark, UPDATES))
        assert _content(store) == before, f"rename {nth}"
        assert os.listdir(base) == ["t"] and store.tables() == ["t"]

    # the table is still writable, and the same commit now succeeds
    apply(store, _df(spark, UPDATES))
    assert _content(store) != before
    assert os.listdir(base) == ["t"]


def _mtimes(store, part):
    d = os.path.join(store.path("t"), f"day={part}")
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

READ_SCHEMA = "k INT, v STRING, ts TIMESTAMP, tags ARRAY<STRUCT<t: STRING>>, p BIGINT"


def _typed(spark, rows):
    """``(k, v, p)`` triples as rows of ``READ_SCHEMA``. ``p`` is the
    partition column where a case declares one: a BIGINT whose small
    values Spark infers back from the directory names as INT, so a read
    that took the partition type from the written schema would differ."""
    return spark.createDataFrame(
        [(k, v, dt.datetime(2026, 1, k), [(v,)], p) for k, v, p in rows], READ_SCHEMA
    )


TYPED_BASE = [(1, "a", 1), (2, "b", 2), (3, "c", None)]
TYPED_UPDATES = [(2, "B", 2), (4, "d", 4)]
P = ["p"]

READ_CASES = {
    "write_full": [lambda s, df: s.write_full(df(TYPED_BASE), "t")],
    "write_full_partitioned": [lambda s, df: s.write_full(df(TYPED_BASE), "t", P)],
    "write_full_empty_partitioned": [lambda s, df: s.write_full(df([]), "t", P)],
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


@pytest.mark.parametrize("store_cls", [TableStore, VersionedTableStore])
@pytest.mark.parametrize("case", list(READ_CASES))
def test_read_matches_inference_without_a_job(spark, tmp_path, store_cls, case):
    """Every sink commits its schema with its files: ``store.read`` gives
    the schema and rows a schema-inferring read of the same directory
    gives, and schedules no Spark job — for every version the versioned
    store keeps."""
    store = store_cls(spark, str(tmp_path / "wh"))
    for step in READ_CASES[case]:
        step(store, lambda rows: _typed(spark, rows))

    if store_cls is VersionedTableStore:
        reads = {
            v: (lambda v=v: store.read("t", version=v), store._snap_dir("t", v))
            for v in (m["version"] for m in store.versions("t"))
        }
    else:
        reads = {"current": (lambda: store.read("t"), store.path("t"))}
    for label, (read, data_dir) in reads.items():
        df, jobs = spark_jobs(spark, read)
        assert jobs == [], (label, jobs)
        inferred = spark.read.parquet(data_dir)
        assert df.schema == inferred.schema, label
        assert sorted(map(repr, df.collect())) == sorted(map(repr, inferred.collect())), label
