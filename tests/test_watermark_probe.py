"""The high-water-mark probe contract: ``ModelContext.watermark(col)`` is
``max(col)`` over ``{{ this }}`` — ``None`` on a full refresh and on an
empty target — on a store with and without history, and under a mocked unit-test context; it
runs no Spark job where the commit's metadata answers; and no model
builder hand-rolls the probe past it."""

from __future__ import annotations

import ast
import datetime as dt
import math
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

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
from tests._util import spark_jobs

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "sample_deepbook_margin_dune_dbt_spark"
SCHEMA = "ts long, d date"
D = dt.date(2026, 1, 20)


@pytest.mark.parametrize("history", [False, True], ids=["TableStore", "history"])
def test_watermark_contract_on_both_stores(spark, tmp_path, history):
    """``watermark`` equals Spark's ``max`` and, wherever the commit's
    metadata can answer, schedules no Spark job."""
    store = TableStore(spark, str(tmp_path / "wh"), history=history)
    cfg = ModelConfig(name="wm_target", builder=lambda ctx: None)

    def ctx(full_refresh=False):
        return ModelContext(spark, store, {}, cfg, full_refresh=full_refresh)

    def probe(col, jobs=False):
        """The mark, checked against Spark's max; ``jobs``: the probe must
        fall back to the scan instead of answering from metadata."""
        wm, ran = spark_jobs(spark, ctx().watermark, col)
        assert bool(ran) == jobs, (col, ran)
        want = store.read("wm_target").agg(F.max(col)).first()[0]
        assert wm == want or (math.isnan(wm) and math.isnan(want)), (col, wm, want)
        return wm

    # no target yet: a first build is not incremental
    assert ctx().watermark("ts") is None

    # an empty target and an all-null column hold no mark
    for rows in ([], [(None, None)]):
        store.write_full(spark.createDataFrame(rows, SCHEMA), "wm_target")
        c = ctx()
        assert c.is_incremental()
        assert probe("ts") is None and probe("d") is None
        assert c.watermark_ms("ts") == 0
        assert c.lookback_floor_date("d") is None

    store.write_full(
        spark.createDataFrame([(5, D), (9, D - dt.timedelta(days=3)), (None, None)], SCHEMA),
        "wm_target",
    )
    c = ctx()
    assert probe("ts") == 9
    assert probe("d") == D
    assert c.watermark_ms("ts") == 9
    assert c.lookback_floor_date("d") == D - dt.timedelta(days=7)

    # a full refresh ignores the existing target
    c = ctx(full_refresh=True)
    assert c.watermark("ts") is None
    assert c.watermark_ms("ts") == 0
    assert c.lookback_floor_date("d") is None

    # a date partition column with a NULL partition, and a double column
    # holding NaN, which Spark orders above every number: only the double
    # falls back to the scan
    rows = [(5, D, 1.0, 1), (9, D - dt.timedelta(days=3), float("nan"), 2), (7, None, 2.0, 3)]
    schema = "ts long, d date, x double, k int"
    store.write_full(spark.createDataFrame(rows, schema), "wm_target", partition_by=["d"])
    assert probe("d") == D and probe("ts") == 9
    assert math.isnan(probe("x", jobs=True))

    # a merge that replaces the max row with a lower value
    store.merge(
        spark.createDataFrame([(4, D - dt.timedelta(days=3), 0.5, 2)], schema),
        "wm_target", ["k"], partition_by=["d"],
    )
    assert probe("ts") == 7 and probe("d") == D and probe("x", jobs=True) == 2.0

    # a row group without statistics (a file written outside Spark) falls back
    part = os.path.join(store._data_dir("wm_target"), f"d={D}")
    pq.write_table(
        pa.table({"ts": pa.array([11], pa.int64()), "x": [0.0], "k": pa.array([9], pa.int32())}),
        os.path.join(part, "no-stats.parquet"),
        write_statistics=False,
    )
    assert probe("ts", jobs=True) == 11 and probe("d") == D


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
