"""dbt ``retry``: resume the last invocation from its point of failure
(successes excluded, failed node + downstream replayed; selection read
from the recorded args in run_results.json)."""

from __future__ import annotations

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore, model
from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY


@pytest.fixture
def chain(spark):
    calls = []
    fail = {"b": True}

    @model("rt_a", materialized="table")
    def rt_a(ctx):
        calls.append("rt_a")
        return ctx.spark.createDataFrame([(1,)], "id long")

    @model("rt_b", materialized="table", deps=["rt_a"])
    def rt_b(ctx):
        calls.append("rt_b")
        if fail["b"]:
            raise RuntimeError("transient failure")
        return ctx.ref("rt_a")

    @model("rt_c", materialized="table", deps=["rt_b"])
    def rt_c(ctx):
        calls.append("rt_c")
        return ctx.ref("rt_b")

    yield calls, fail
    for n in ("rt_a", "rt_b", "rt_c"):
        _REGISTRY.pop(n, None)


def test_retry_resumes_from_failure(spark, tmp_path, chain):
    calls, fail = chain
    store = TableStore(spark, str(tmp_path / "wh"))
    runner = Runner(spark, store, {})
    with pytest.raises(RuntimeError, match="transient"):
        runner.run("+rt_c")
    assert calls == ["rt_a", "rt_b"]  # rt_c never attempted

    fail["b"] = False
    calls.clear()
    assert runner.retry() == ["rt_b", "rt_c"]  # rt_a's success is excluded
    assert calls == ["rt_b", "rt_c"]
    assert store.exists("rt_c")

    # a fully green invocation has nothing to resume
    calls.clear()
    assert runner.retry() == []
    assert calls == []


def test_retry_without_artifact_raises(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    runner = Runner(spark, store, {})
    with pytest.raises(ValueError, match="nothing was run yet"):
        runner.retry()


def test_retry_replays_build_gate(spark, tmp_path):
    """A build stopped by a test gate retries the gated model and its
    downstream once the data is fixed."""
    rows = {"v": [(1, None)]}
    calls = []

    @model("rg_a", materialized="table", not_null=["v"])
    def rg_a(ctx):
        calls.append("rg_a")
        return ctx.spark.createDataFrame(rows["v"], "id long, v double")

    @model("rg_b", materialized="table", deps=["rg_a"])
    def rg_b(ctx):
        calls.append("rg_b")
        return ctx.ref("rg_a")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        with pytest.raises(RuntimeError, match="tests failed"):
            runner.build("+rg_b")
        assert calls == ["rg_a"]

        rows["v"] = [(1, 2.0)]
        calls.clear()
        assert runner.retry() == ["rg_a", "rg_b"]  # test_failed ≠ success
        assert calls == ["rg_a", "rg_b"]
    finally:
        for n in ("rg_a", "rg_b"):
            _REGISTRY.pop(n, None)


def test_retry_cli_drive(spark, tmp_path, chain):
    from sample_deepbook_margin_dune_dbt_spark.__main__ import main

    calls, fail = chain
    store = TableStore(spark, str(tmp_path / "wh"))
    runner = Runner(spark, store, {})
    with pytest.raises(RuntimeError):
        runner.run("+rt_c")
    fail["b"] = False
    rc = main(["retry", "--warehouse", str(tmp_path / "wh")])
    assert rc == 0
    assert TableStore(spark, str(tmp_path / "wh")).exists("rt_c")


@pytest.mark.parametrize("threads", [1, 4])
def test_keep_going_skips_downstream_and_retries(spark, tmp_path, threads):
    """dbt keep-going: a failure marks downstream skipped, independent
    branches still build, one summary error at the end — and retry
    resumes exactly the failed + skipped set, at any thread count."""
    calls = []
    fail = {"b": True}

    @model("kg_a", materialized="table")
    def kg_a(ctx):
        calls.append("kg_a")
        return ctx.spark.createDataFrame([(1,)], "id long")

    @model("kg_b", materialized="table", deps=["kg_a"])
    def kg_b(ctx):
        calls.append("kg_b")
        if fail["b"]:
            raise RuntimeError("boom")
        return ctx.ref("kg_a")

    @model("kg_c", materialized="table", deps=["kg_b"])
    def kg_c(ctx):
        calls.append("kg_c")
        return ctx.ref("kg_b")

    @model("kg_side", materialized="table")
    def kg_side(ctx):
        calls.append("kg_side")
        return ctx.spark.createDataFrame([(9,)], "id long")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        with pytest.raises(RuntimeError, match="completed with failures"):
            runner.run(["+kg_c", "kg_side"], fail_fast=False, threads=threads)
        # the independent branch built despite the failure
        assert "kg_side" in calls and store.exists("kg_side")
        assert "kg_c" not in calls
        status = {r["model"]: r["status"] for r in runner.last_run_results}
        assert status["kg_b"] == "error" and status["kg_c"] == "skipped"
        assert status["kg_a"] == status["kg_side"] == "success"

        fail["b"] = False
        calls.clear()
        assert runner.retry() == ["kg_b", "kg_c"]
        assert store.exists("kg_c")
    finally:
        from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY

        for n in ("kg_a", "kg_b", "kg_c", "kg_side"):
            _REGISTRY.pop(n, None)


def test_retry_replays_original_vars(spark, tmp_path):
    """A bare retry must rebuild with the ORIGINAL invocation's vars,
    not the retrying runner's (dbt retry reuses previous parameters)."""
    seen = {}
    fail = {"on": True}

    @model("rv_m", materialized="table")
    def rv_m(ctx):
        seen["cutoff"] = ctx.var("cutoff", "default")
        if fail["on"]:
            raise RuntimeError("transient")
        return ctx.spark.createDataFrame([(1,)], "id long")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        with pytest.raises(RuntimeError):
            Runner(spark, store, {}, vars={"cutoff": "7"}).run("rv_m")
        # a fresh runner WITHOUT vars retries: recorded vars must win
        fail["on"] = False
        retry_runner = Runner(spark, store, {})
        assert retry_runner.retry() == ["rv_m"]
        assert seen["cutoff"] == "7"
        assert retry_runner.vars == {}  # restored afterwards
    finally:
        from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY

        _REGISTRY.pop("rv_m", None)
