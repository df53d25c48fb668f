"""SCD2 snapshots (``engine/snapshots.py``): version chains, both change
strategies, hard-delete handling, and run idempotency."""

from __future__ import annotations

import datetime as dt

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine import TableStore, snapshot_scd2

T0 = dt.datetime(2026, 1, 1)
T1 = dt.datetime(2026, 1, 2)
T2 = dt.datetime(2026, 1, 3)


def _src(spark, rows):
    return spark.createDataFrame(rows, "id long, status string, amount double")


def _utc(ts):
    """A collected timestamp (naive, host-local) as naive UTC."""
    return ts and ts.astimezone(dt.timezone.utc).replace(tzinfo=None)


def _versions(store, name):
    out = {}
    for r in store.read(name).collect():
        out.setdefault(r["id"], []).append(
            (r["status"], _utc(r["valid_from"]), _utc(r["valid_to"]))
        )
    return {k: sorted(v, key=lambda t: t[1]) for k, v in out.items()}


def test_check_strategy_version_chain(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    snapshot_scd2(store, _src(spark, [(1, "open", 5.0), (2, "open", 7.0)]),
                  "snap", ["id"], check_cols=["status"], now=T0)
    # run 2: id 1 changes status; id 3 appears; id 2 unchanged (amount is
    # NOT a check col, so its change alone must not version)
    snapshot_scd2(store, _src(spark, [(1, "closed", 5.0), (2, "open", 99.0), (3, "open", 1.0)]),
                  "snap", ["id"], check_cols=["status"], now=T1)
    v = _versions(store, "snap")
    assert v[1] == [("open", T0, T1), ("closed", T1, None)]
    assert v[2] == [("open", T0, None)]
    assert v[3] == [("open", T1, None)]
    # run 3 with identical source: nothing changes (idempotent)
    snapshot_scd2(store, _src(spark, [(1, "closed", 5.0), (2, "open", 99.0), (3, "open", 1.0)]),
                  "snap", ["id"], check_cols=["status"], now=T2)
    assert _versions(store, "snap") == v


def test_hard_delete_modes(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    snapshot_scd2(store, _src(spark, [(1, "open", 1.0), (2, "open", 2.0)]),
                  "s1", ["id"], check_cols=["status"], now=T0)
    # default: a key gone from the source stays open (dbt default)
    snapshot_scd2(store, _src(spark, [(1, "open", 1.0)]),
                  "s1", ["id"], check_cols=["status"], now=T1)
    assert _versions(store, "s1")[2] == [("open", T0, None)]
    # invalidate_hard_deletes: the gone key's version closes
    snapshot_scd2(store, _src(spark, [(1, "open", 1.0)]),
                  "s1", ["id"], check_cols=["status"], now=T2,
                  invalidate_hard_deletes=True)
    assert _versions(store, "s1")[2] == [("open", T0, T2)]


def test_timestamp_strategy(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))

    def src(rows):
        return spark.createDataFrame(rows, "id long, status string, updated_at timestamp")

    snapshot_scd2(store, src([(1, "a", T0)]), "s2", ["id"],
                  strategy="timestamp", updated_at="updated_at", now=T0)
    # newer updated_at -> new version; stale updated_at -> ignored
    snapshot_scd2(store, src([(1, "b", T1)]), "s2", ["id"],
                  strategy="timestamp", updated_at="updated_at", now=T1)
    snapshot_scd2(store, src([(1, "c", T0)]), "s2", ["id"],
                  strategy="timestamp", updated_at="updated_at", now=T2)
    v = _versions(store, "s2")[1]
    assert v == [("a", T0, T1), ("b", T1, None)]


def test_config_validation(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df = _src(spark, [(1, "x", 0.0)])
    with pytest.raises(ValueError, match="check_cols"):
        snapshot_scd2(store, df, "s3", ["id"])
    with pytest.raises(ValueError, match="updated_at"):
        snapshot_scd2(store, df, "s3", ["id"], strategy="timestamp")
    with pytest.raises(ValueError, match="strategy"):
        snapshot_scd2(store, df, "s3", ["id"], strategy="merge")
