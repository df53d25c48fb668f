"""The high-water-mark probe contract: ``ModelContext.watermark(col)`` is
``max(col)`` over ``{{ this }}`` — ``None`` on a full refresh and on an
empty target — on both stores and under a mocked unit-test context; and
no model builder hand-rolls the probe past it."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine import TableStore
from sample_deepbook_margin_dune_dbt_spark.engine.model import (
    _REGISTRY,
    ModelConfig,
    ModelContext,
    model,
)
from sample_deepbook_margin_dune_dbt_spark.engine.unittests import (
    UnitTestConfig,
    run_unit_test,
)
from sample_deepbook_margin_dune_dbt_spark.engine.versioned import VersionedTableStore

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "sample_deepbook_margin_dune_dbt_spark"
SCHEMA = "ts long, d date"
D = dt.date(2026, 1, 20)


@pytest.mark.parametrize("store_cls", [TableStore, VersionedTableStore])
def test_watermark_contract_on_both_stores(spark, tmp_path, store_cls):
    store = store_cls(spark, str(tmp_path / "wh"))
    cfg = ModelConfig(name="wm_target", builder=lambda ctx: None)

    def ctx(full_refresh=False):
        return ModelContext(spark, store, {}, cfg, full_refresh=full_refresh)

    # no target yet: a first build is not incremental
    assert ctx().watermark("ts") is None

    # an empty target and an all-null column hold no mark
    for rows in ([], [(None, None)]):
        store.write_full(spark.createDataFrame(rows, SCHEMA), "wm_target")
        c = ctx()
        assert c.is_incremental()
        assert c.watermark("ts") is None
        assert c.watermark_ms("ts") == 0
        assert c.lookback_floor_date("d") is None

    store.write_full(
        spark.createDataFrame([(5, D), (9, D - dt.timedelta(days=3)), (None, None)], SCHEMA),
        "wm_target",
    )
    c = ctx()
    assert c.watermark("ts") == 9
    assert c.watermark("d") == D
    assert c.watermark_ms("ts") == 9
    assert c.lookback_floor_date("d") == D - dt.timedelta(days=7)

    # a full refresh ignores the existing target
    c = ctx(full_refresh=True)
    assert c.watermark("ts") is None
    assert c.watermark_ms("ts") == 0
    assert c.lookback_floor_date("d") is None


def test_watermark_contract_under_a_mocked_unit_test(spark):
    """The unit-test context serves ``this`` from a mock; the probe reads
    it through the same method."""

    @model("wm_probe_model", materialized="incremental", unique_key=["k"])
    def wm_probe_model(ctx):
        return ctx.spark.createDataFrame(
            [(1, ctx.watermark("ts"), ctx.watermark_ms("ts"), ctx.lookback_floor_date("d"))],
            "k int, wm long, wm_ms long, floor date",
        )

    def check(this_rows, incremental, expect):
        ut = UnitTestConfig(
            name="wm_probe",
            model="wm_probe_model",
            given={"this": (SCHEMA, this_rows)},
            expect=("wm long, wm_ms long, floor date", [expect]),
            incremental=incremental,
        )
        assert run_unit_test(spark, ut) == []

    try:
        check([(3, D)], False, (None, 0, None))
        check([], True, (None, 0, None))
        check([(3, D), (7, D - dt.timedelta(days=1))], True, (7, 7, D - dt.timedelta(days=7)))
    finally:
        _REGISTRY.pop("wm_probe_model", None)


def _this_agg_calls(tree: ast.AST) -> list[int]:
    """Line numbers of ``<x>.this().agg(...)`` calls."""
    out = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "agg"
            and isinstance(node.func.value, ast.Call)
            and isinstance(node.func.value.func, ast.Attribute)
            and node.func.value.func.attr == "this"
        ):
            out.append(node.lineno)
    return out


def test_no_model_hand_rolls_the_watermark_probe():
    """Every aggregate over ``ctx.this()`` goes through
    ``ModelContext.watermark``; reads such as ``ctx.this().select(...)``
    that feed joins stay allowed. Spark-free."""
    packages = sorted(PACKAGE.glob("models_*"))
    assert packages
    hits = [
        f"{path.relative_to(PACKAGE)}:{line}"
        for pkg in packages
        for path in sorted(pkg.rglob("*.py"))
        for line in _this_agg_calls(ast.parse(path.read_text(), str(path)))
    ]
    assert hits == [], "aggregate over ctx.this() outside ModelContext.watermark: " + ", ".join(hits)
