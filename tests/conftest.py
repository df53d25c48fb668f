from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sample_deepbook_margin_dune_dbt_spark.engine import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # AQE stays at the engine default (ON) — measured both ways on the
    # full suite (r15): OFF wins ~2x on a few wide one-shot plans
    # (sessionize property) but loses 2.6x on every iterative family
    # (BPE trains 44 -> 112 s, incremental models, streaming export),
    # because AQE's partition coalescing collapses the many tiny
    # dependent shuffles those loops schedule. SPARK_GRAFT_TEST_AQE=false
    # reproduces the bench session's MB-scale setting when isolating a
    # single wide query.
    s = get_spark(
        app_name="engine-tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.enabled": os.environ.get(
                "SPARK_GRAFT_TEST_AQE", "true"
            ),
        },
    )
    yield s


@pytest.fixture()
def no_aqe(spark):
    """Scoped AQE-off for tests that run MANY independent deep one-shot
    plans over microscopic data (cap-loss fuzzers, autotune parity):
    AQE's per-shuffle-stage materialization dominates there (measured
    3x on the cosine cap-loss property: 43 s -> 14 s), while the
    iterative families (BPE, incremental models) need AQE's coalescing
    and keep the session default."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
