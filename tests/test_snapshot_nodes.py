"""Snapshot DAG/CLI nodes (VERDICT r5 item 3): the SCD2 capability
(`engine/snapshots.py`, already covered by test_snapshots_scd2.py) wired
into the model registry via ``@snapshot``, executed by ``Runner.run``/
``Runner.snapshot``/``dbt snapshot``-style CLI, and recorded in
run-results with ``materialized='snapshot'``."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore, snapshot
from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY

T0 = dt.datetime(2026, 1, 1)
T1 = dt.datetime(2026, 1, 2)


def _utc(ts):
    """A collected timestamp (naive, host-local) as naive UTC."""
    return ts and ts.astimezone(dt.timezone.utc).replace(tzinfo=None)


def _history(store):
    return {
        (r["id"], r["status"]): (_utc(r["valid_from"]), _utc(r["valid_to"]))
        for r in store.read("snap_orders").collect()
    }


def _register(rows):
    @snapshot("snap_orders", unique_key=["id"], check_cols=["status"])
    def snap_orders(ctx):
        return ctx.spark.createDataFrame(rows["v"], "id long, status string")

    return snap_orders


def test_snapshot_node_via_runner(spark, tmp_path):
    rows = {"v": [(1, "open"), (2, "open")]}
    _register(rows)
    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {}, fixed_now=T0)
        assert runner.snapshot("snap_orders") == ["snap_orders"]
        # run-results carry the snapshot node type
        rr = [r for r in runner.last_run_results if r["model"] == "snap_orders"]
        assert rr and rr[0]["materialized"] == "snapshot"
        assert rr[0]["status"] == "success"
        art = json.load(open(store.path("_artifacts") + "/run_results.json"))
        assert any(
            r["model"] == "snap_orders" and r["materialized"] == "snapshot"
            for r in art["results"]
        )

        # fold a changed source state at T1 through the generic run() path
        rows["v"] = [(1, "closed"), (2, "open")]
        runner2 = Runner(spark, store, {}, fixed_now=T1)
        runner2.run("snap_orders")
        hist = _history(store)
        assert hist[(1, "open")] == (T0, T1)
        assert hist[(1, "closed")] == (T1, None)
        assert hist[(2, "open")] == (T0, None)

        # --full-refresh must NOT drop snapshot history
        runner2.run("snap_orders", full_refresh=True)
        assert _history(store)[(1, "open")] == (T0, T1)

        # manifest records the snapshot config, scoped to the node
        m = runner2.manifest("snap_orders")["models"]["snap_orders"]
        assert m["materialized"] == "snapshot"
        assert m["snapshot"] == {
            "strategy": "check",
            "check_cols": ["status"],
            "updated_at": None,
            "invalidate_hard_deletes": False,
        }
    finally:
        _REGISTRY.pop("snap_orders", None)


def test_snapshot_runner_skips_non_snapshot_nodes(spark, tmp_path):
    from sample_deepbook_margin_dune_dbt_spark.engine import model

    rows = {"v": [(1, "open")]}
    _register(rows)

    @model("plain_tbl", materialized="table")
    def plain_tbl(ctx):
        return ctx.spark.createDataFrame([(1,)], "id long")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {}, fixed_now=T0)
        assert runner.snapshot() == ["snap_orders"]
        assert not store.exists("plain_tbl")
    finally:
        _REGISTRY.pop("snap_orders", None)
        _REGISTRY.pop("plain_tbl", None)


def test_snapshot_cli_drive(spark, tmp_path):
    """dbt's `dbt snapshot` surface: the CLI subcommand selects and folds
    snapshot nodes."""
    from sample_deepbook_margin_dune_dbt_spark.__main__ import main

    src = str(tmp_path / "cust.parquet")
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "id long, tier string"
    ).write.parquet(src)

    @snapshot("snap_cust", unique_key=["id"], check_cols=["tier"])
    def snap_cust(ctx):
        return ctx.source("main", "customers")

    try:
        rc = main(
            [
                "snapshot",
                "--warehouse", str(tmp_path / "wh"),
                "--source", f"main.customers={src}",
                "--select", "snap_cust",
            ]
        )
        assert rc == 0
        store = TableStore(spark, str(tmp_path / "wh"))
        out = store.read("snap_cust")
        assert out.count() == 2
        assert out.filter("valid_to IS NULL").count() == 2
        assert {"valid_from", "valid_to"} <= set(out.columns)
    finally:
        _REGISTRY.pop("snap_cust", None)


def test_snapshot_decorator_validation():
    with pytest.raises(ValueError, match="unique_key is required"):
        snapshot("s", unique_key=[])(lambda ctx: None)
    with pytest.raises(ValueError, match="requires check_cols"):
        snapshot("s", unique_key=["id"], strategy="check")(lambda ctx: None)
    with pytest.raises(ValueError, match="requires updated_at"):
        snapshot("s", unique_key=["id"], strategy="timestamp")(lambda ctx: None)
    with pytest.raises(ValueError, match="expected 'check' or 'timestamp'"):
        snapshot("s", unique_key=["id"], strategy="bogus")(lambda ctx: None)
    assert "s" not in _REGISTRY


def test_vars_literal_parsing():
    from sample_deepbook_margin_dune_dbt_spark.__main__ import _parse_vars

    assert _parse_vars(["k=v"]) == {"k": "v"}
    got = _parse_vars(['{"n": 3, "langs": ["en", "de"], "deep": {"a": 1}}'])
    assert got == {"n": 3, "langs": ["en", "de"], "deep": {"a": 1}}
    # literals and pairs compose; later wins on collision
    assert _parse_vars(['{"a": 1}', "a=x", "b=y"]) == {"a": "x", "b": "y"}
    with pytest.raises(SystemExit):
        _parse_vars(['["not", "a", "mapping"]'])
    with pytest.raises(SystemExit):
        _parse_vars(["novalue"])


def test_vars_literal_reaches_model(spark, tmp_path):
    """A dict-valued var parsed from the literal is consumed typed by a
    model builder (VERDICT r5 item 7's done criterion)."""
    from sample_deepbook_margin_dune_dbt_spark.engine import model
    from sample_deepbook_margin_dune_dbt_spark.__main__ import _parse_vars

    seen = {}

    @model("vars_probe", materialized="table")
    def vars_probe(ctx):
        cfg = ctx.var("mix", {})
        seen["mix"] = cfg
        return ctx.spark.createDataFrame([(int(cfg["n"]),)], "n long")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(
            spark, store, {},
            vars=_parse_vars(['{"mix": {"n": 7, "langs": ["en"]}}']),
        )
        runner.run("vars_probe")
        assert seen["mix"] == {"n": 7, "langs": ["en"]}
        assert store.read("vars_probe").first()["n"] == 7
    finally:
        _REGISTRY.pop("vars_probe", None)
