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

The last test pins that the store neither trusts nor mutates the session's
``spark.sql.sources.partitionOverwriteMode``: under Spark's own STATIC
default a partition-scoped commit still keeps every untouched partition.
"""

from __future__ import annotations

import os

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine import TableStore

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
