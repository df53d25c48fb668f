"""dbt unit tests: run a model's BUILDER against mocked inputs and
compare to expected rows — logic verification with zero warehouse state
(dbt 1.8's ``unit_tests:`` blocks; the reference scaffolds dbt's test
machinery in ``dbt_project.yml`` without populating unit tests, so this
is the capability a migrating project keeps).

A unit test declares:

- ``given``: mocked inputs keyed ``"ref:<model>"`` / ``"source:<db>.<table>"``
  / ``"this"``, each a ``(schema_ddl, rows)`` pair. Only the inputs the
  builder actually touches need mocking — touching an unmocked one fails
  with an actionable error (dbt's behavior), never silently reads the
  warehouse.
- ``expect``: ``(schema_ddl, rows)``. Comparison projects the ACTUAL
  output onto the expected columns (dbt compares only the declared
  columns), then compares full sorted row sets exactly.
- ``incremental``: when True the mocked context reports
  ``is_incremental() == True`` and serves ``this`` from the mock —
  dbt's ``overrides: is_incremental`` — so both branches of an
  incremental builder are unit-testable without a warehouse.

Everything is driver-side small data: mocked inputs are literal rows;
the only Spark work is the builder's own plan over them.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .model import ModelContext, get_model
from .tablemeta import NO_STATS

MockData = tuple[str, list]  # (schema DDL, rows)


@dataclass
class UnitTestConfig:
    name: str
    model: str
    given: dict[str, MockData]
    expect: MockData
    incremental: bool = False
    fixed_now: Optional[dt.datetime] = None
    tags: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        for key in self.given:
            if key != "this" and not key.startswith(("ref:", "source:")):
                raise ValueError(
                    f"unit test {self.name!r}: given key {key!r} must be 'this', "
                    "'ref:<model>', or 'source:<db>.<table>'"
                )
        if self.incremental and "this" not in self.given:
            raise ValueError(
                f"unit test {self.name!r}: incremental=True requires a 'this' mock"
            )


_UNIT_TESTS: dict[str, UnitTestConfig] = {}


def unit_test(name: str, **config) -> UnitTestConfig:
    """Register a unit test; returns its config (also usable inline)."""
    cfg = _UNIT_TESTS[name] = UnitTestConfig(name=name, **config)
    return cfg


def all_unit_tests() -> dict[str, UnitTestConfig]:
    return dict(_UNIT_TESTS)


class _MockedContext(ModelContext):
    """ModelContext whose ref/source/this serve literal mocked frames."""

    def __init__(self, spark: SparkSession, cfg, ut: UnitTestConfig):
        super().__init__(
            spark,
            store=_RefusingStore(spark, ut.name),
            sources={},
            current=cfg,
            fixed_now=ut.fixed_now,
        )
        self._ut = ut
        self._mocks = {
            key: spark.createDataFrame(rows, schema)
            for key, (schema, rows) in ut.given.items()
        }

    def _mock(self, key: str) -> DataFrame:
        if key not in self._mocks:
            raise KeyError(
                f"unit test {self._ut.name!r}: builder touched unmocked "
                f"input {key!r}; add it to given= (mocked: "
                f"{sorted(self._mocks)})"
            )
        return self._mocks[key]

    def ref(self, name: str) -> DataFrame:
        if name not in self.current.deps:
            raise ValueError(
                f"model {self.current.name!r} refs {name!r} but does not "
                "declare it in deps"
            )
        return self._mock(f"ref:{name}")

    def source(self, database: str, table: str) -> DataFrame:
        return self._mock(f"source:{database}.{table}")

    def this(self) -> DataFrame:
        return self._mock("this")

    def _stored_max(self, column: str):
        return NO_STATS  # the probe aggregates the mocked ``this``

    def is_incremental(self) -> bool:
        return self._ut.incremental


class _RefusingStore:
    """Stands in for the ``TableStore``: a unit test must never touch real
    storage, so any store access that slips past the mocked context fails
    loudly."""

    def __init__(self, spark: SparkSession, test_name: str):
        self._test_name = test_name
        self.spark = spark

    def __getattribute__(self, name):
        if name.startswith("_") or name in ("spark",):
            return object.__getattribute__(self, name)
        raise RuntimeError(
            f"unit test {object.__getattribute__(self, '_test_name')!r} "
            f"attempted warehouse access TableStore.{name} — mock the "
            "input instead"
        )


def run_unit_test(spark: SparkSession, ut: UnitTestConfig) -> list[str]:
    """Execute one unit test; returns a list of failure descriptions
    (empty = pass)."""
    cfg = get_model(ut.model)
    ctx = _MockedContext(spark, cfg, ut)
    actual = cfg.builder(ctx)
    exp_schema, exp_rows = ut.expect
    expected = spark.createDataFrame(exp_rows, exp_schema)

    missing = [c for c in expected.columns if c not in actual.columns]
    if missing:
        return [
            f"{ut.name}: expected column(s) {missing} absent from model "
            f"output {actual.columns}"
        ]
    got = sorted(
        (tuple(r[c] for c in expected.columns) for r in actual.select(*expected.columns).collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )
    want = sorted(
        (tuple(r[c] for c in expected.columns) for r in expected.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )
    problems = []
    if len(got) != len(want):
        problems.append(f"{ut.name}: row count got={len(got)} expected={len(want)}")
    for g, w in zip(got, want):
        if g != w:
            problems.append(f"{ut.name}: row got={g!r} expected={w!r}")
            if len(problems) >= 4:
                break
    return problems


def select_unit_tests(select: str | None = None) -> dict[str, UnitTestConfig]:
    """Resolve a unit-test selector (all, one by name, ``model:<name>``,
    or ``tag:<tag>``) to the matching registered tests."""
    tests = all_unit_tests()
    if select:
        if select.startswith("model:"):
            tests = {n: t for n, t in tests.items() if t.model == select[6:]}
        elif select.startswith("tag:"):
            tests = {n: t for n, t in tests.items() if select[4:] in t.tags}
        else:
            if select not in tests:
                raise KeyError(
                    f"unknown unit test {select!r}; registered: {sorted(tests)}"
                )
            tests = {select: tests[select]}
    return tests


def run_unit_tests(
    spark: SparkSession, select: str | None = None
) -> dict[str, list[str]]:
    """Run registered unit tests (all, one by name, or ``model:<name>``
    / ``tag:<tag>``); returns {test_name: failures} for failures only."""
    tests = select_unit_tests(select)
    out = {}
    for name, ut in tests.items():
        failures = run_unit_test(spark, ut)
        if failures:
            out[name] = failures
    return out
