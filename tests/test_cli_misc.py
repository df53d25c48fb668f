"""CLI odds and ends (r6): ls --select, clean, model descriptions in
the manifest; compile and test under the runner's settings; config
validation outside the registrars."""

from __future__ import annotations

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore, model
from sample_deepbook_margin_dune_dbt_spark.engine.model import (
    _REGISTRY,
    ExposureConfig,
    ModelConfig,
)
from sample_deepbook_margin_dune_dbt_spark.engine.unittests import UnitTestConfig
from sample_deepbook_margin_dune_dbt_spark.__main__ import main


@pytest.fixture
def mini(spark):
    @model("mi_a", materialized="table", description="upstream seed of the mini DAG")
    def mi_a(ctx):
        return ctx.spark.createDataFrame([(1,)], "id long")

    @model("mi_b", materialized="table", deps=["mi_a"])
    def mi_b(ctx):
        return ctx.ref("mi_a")

    yield
    for n in ("mi_a", "mi_b"):
        _REGISTRY.pop(n, None)


def test_ls_select_filters(mini, capsys):
    assert main(["ls", "--select", "+mi_b"]) == 0
    out = capsys.readouterr().out
    assert "mi_a" in out and "mi_b" in out
    assert main(["ls", "--select", "+mi_b", "--exclude", "mi_a"]) == 0
    listed = [l.split()[0] for l in capsys.readouterr().out.splitlines() if l]
    assert "mi_b" in listed and "mi_a" not in listed


def test_clean_removes_artifacts(mini, spark, tmp_path):
    wh = str(tmp_path / "wh")
    store = TableStore(spark, wh)
    Runner(spark, store, {}).run("mi_a")
    art = store.path("_artifacts")
    import os

    assert os.path.isdir(art)
    assert main(["clean", "--warehouse", wh]) == 0
    assert not os.path.isdir(art)
    assert main(["clean", "--warehouse", wh]) == 0  # idempotent no-op


def test_description_reaches_manifest(mini, spark, tmp_path):
    runner = Runner(spark, TableStore(spark, str(tmp_path / "wh")), {})
    m = runner.manifest("+mi_b")["models"]
    assert m["mi_a"]["description"] == "upstream seed of the mini DAG"
    assert m["mi_b"]["description"] == ""


def test_compile_honours_defer_warehouse(mini, spark, tmp_path):
    """compile builds its context from the runner, so an upstream that
    exists only in the --defer-warehouse resolves there."""
    prod = str(tmp_path / "prod")
    Runner(spark, TableStore(spark, prod), {}).run("mi_a")
    rc = main(
        [
            "compile",
            "--warehouse", str(tmp_path / "dev"),
            "--select", "mi_b",
            "--defer-warehouse", prod,
        ]
    )
    assert rc == 0


def test_cli_test_reports_unique_failure(spark, tmp_path, capsys):
    @model("mi_dup", materialized="table", unique=["id"])
    def mi_dup(ctx):
        return ctx.spark.createDataFrame([(1,), (1,)], "id long")

    try:
        wh = str(tmp_path / "wh")
        assert main(["run", "--warehouse", wh, "--select", "mi_dup"]) == 0
        capsys.readouterr()
        assert main(["test", "--warehouse", wh, "--select", "mi_dup"]) == 1
        lines = [l for l in capsys.readouterr().err.splitlines() if l.startswith("FAIL")]
        assert lines == ["FAIL mi_dup.unique:id: 1"]
    finally:
        _REGISTRY.pop("mi_dup", None)


def _builder(ctx):
    return None


@pytest.mark.parametrize(
    "make, message",
    [
        (
            lambda: ModelConfig(
                name="m", builder=_builder, incremental_strategy="delete_insert"
            ),
            "incremental_strategy='delete_insert'",
        ),
        (
            lambda: ModelConfig(
                name="m", builder=_builder, incremental_strategy="insert_overwrite"
            ),
            "partition_by is required",
        ),
        (
            lambda: ModelConfig(
                name="s", builder=_builder, materialized="snapshot", unique_key=["id"]
            ),
            "strategy='check' requires check_cols",
        ),
        (
            lambda: ExposureConfig(name="e", depends_on=["m"], type="bogus"),
            "type='bogus'",
        ),
        (
            lambda: UnitTestConfig(
                name="ut", model="m", given={}, expect=("x int", []), incremental=True
            ),
            "requires a 'this' mock",
        ),
    ],
    ids=["strategy", "insert_overwrite", "snapshot_check", "exposure_type", "unit_test_this"],
)
def test_configs_validate_themselves(make, message):
    with pytest.raises(ValueError, match=message):
        make()
