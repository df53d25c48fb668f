"""Staging contracts (``engine/staging.py``): every staged frame leaves the
block manager when its scope ends, and the iterative operators keep at
most the frame they return.

Counts are deltas over RDD ids that were not staged before the call, so
RDDs left by earlier tests (which Spark's cleaner may free at any time)
do not move them."""

from __future__ import annotations

import math

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine.staging import release, stage
from sample_deepbook_margin_dune_dbt_spark.operators import bpe as B
from sample_deepbook_margin_dune_dbt_spark.operators import coreset as CS
from sample_deepbook_margin_dune_dbt_spark.operators import dedup as D


def _staged_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _frame(spark):
    return spark.range(2000).selectExpr("id", "id * 2 AS y")


@pytest.mark.parametrize(
    "how",
    [
        {},
        {"checkpoint": True},
        {"checkpoint": True, "eager": False},
    ],
    ids=["cache", "eager_checkpoint", "lazy_checkpoint"],
)
def test_stage_releases_on_exit(spark, how):
    before = _staged_ids(spark)
    with stage(_frame(spark), **how) as staged:
        assert staged.filter("y % 3 = 0").count() == 667
        assert len(_staged_ids(spark) - before) == 1
    assert len(_staged_ids(spark) - before) == 0


def test_released_checkpoint_cannot_be_read(spark):
    with stage(_frame(spark), checkpoint=True) as staged:
        assert staged.count() == 2000
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        staged.count()


def test_release_refuses_a_projection(spark):
    with stage(_frame(spark), checkpoint=True) as staged:
        with pytest.raises(ValueError, match="release"):
            release(staged.select("id"))


def test_learn_bpe_keeps_only_the_returned_sequences(spark):
    words = ["lower", "newest", "widest", "low", "lowest", "newer", "wider"]
    hist = spark.createDataFrame(
        [(w, 3 + i) for i, w in enumerate(words)], "word string, freq long"
    )
    before = _staged_ids(spark)
    rules, seqs = B.learn_bpe(hist, 10)
    assert len(rules) == 10
    assert len(_staged_ids(spark) - before) <= 1
    assert seqs.count() == len(words)


def test_kcenter_keeps_no_staged_rounds(spark):
    vecs = spark.createDataFrame(
        [(i, [math.cos(i / 5.0), math.sin(i / 5.0), float(i % 4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    before = _staged_ids(spark)
    out = CS.kcenter_greedy(vecs, "vec_id", "embedding", k=12)
    assert len(_staged_ids(spark) - before) == 0
    assert out.count() == 12


def test_duplicate_clusters_keeps_only_the_returned_labels(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    before = _staged_ids(spark)
    labels = D.duplicate_clusters(pairs)
    assert len(_staged_ids(spark) - before) <= 1
    assert {r["cluster_id"] for r in labels.collect()} == {0}
