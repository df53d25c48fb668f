"""dbt-style unit tests (engine/unittests.py): mocked-input builder
verification, incremental-branch mocking, strict unmocked-input and
warehouse-access guards, and the CLI surface."""

from __future__ import annotations

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine import (
    all_unit_tests,
    run_unit_tests,
    unit_test,
)
from sample_deepbook_margin_dune_dbt_spark.engine.unittests import (
    _UNIT_TESTS,
    run_unit_test,
)
import sample_deepbook_margin_dune_dbt_spark.models_corpus  # noqa: F401


def test_registered_corpus_unit_tests_pass(spark):
    failures = run_unit_tests(spark, "tag:corpus")
    assert failures == {}
    assert {
        "stg_features_first_run",
        "stg_features_incremental_watermark",
        "dedup_groups_keep_min_id",
    } <= set(all_unit_tests())


def test_failure_reports_rows(spark):
    ut = unit_test(
        "ut_wrong_expect",
        model="corpus_dedup_groups",
        given={
            "ref:stg_document_features": (
                "doc_id bigint, fingerprint bigint",
                [(1, 9)],
            ),
        },
        expect=("fingerprint bigint, dup_count bigint", [(9, 99)]),
    )
    try:
        probs = run_unit_test(spark, ut)
        assert probs and "expected=(9, 99)" in probs[0]
    finally:
        _UNIT_TESTS.pop("ut_wrong_expect", None)


def test_unmocked_input_fails_actionably(spark):
    ut = unit_test(
        "ut_missing_mock",
        model="corpus_dedup_groups",
        given={},
        expect=("fingerprint bigint", []),
    )
    try:
        with pytest.raises(KeyError, match="unmocked input 'ref:stg_document_features'"):
            run_unit_test(spark, ut)
    finally:
        _UNIT_TESTS.pop("ut_missing_mock", None)


def test_given_key_and_incremental_validation():
    with pytest.raises(ValueError, match="must be 'this'"):
        unit_test("ut_bad_key", model="m", given={"bogus": ("x int", [])},
                  expect=("x int", []))
    with pytest.raises(ValueError, match="requires a 'this' mock"):
        unit_test("ut_no_this", model="m", given={}, expect=("x int", []),
                  incremental=True)
    assert "ut_bad_key" not in _UNIT_TESTS and "ut_no_this" not in _UNIT_TESTS


def test_selector_variants(spark):
    assert run_unit_tests(spark, "stg_features_first_run") == {}
    assert run_unit_tests(spark, "model:corpus_dedup_groups") == {}
    with pytest.raises(KeyError, match="unknown unit test"):
        run_unit_tests(spark, "no_such_test")


def test_cli_drive(spark):
    from sample_deepbook_margin_dune_dbt_spark.__main__ import main

    assert main(["unit-test", "--select", "tag:corpus"]) == 0


def test_registered_deepbook_unit_tests_pass(spark):
    import sample_deepbook_margin_dune_dbt_spark.models_deepbook  # noqa: F401

    assert run_unit_tests(spark, "tag:deepbook") == {}
    assert {
        "loan_borrowed_first_run_decode",
        "loan_borrowed_incremental_watermark",
        "pool_daily_volume_semantics",
    } <= set(all_unit_tests())
