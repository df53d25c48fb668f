"""Unit + plan tests for DSIR-style data selection (``operators/dsir.py``)
and the event transition matrix (``queries/eventseq.py::
q_events_transitions``).

Oracle parity for both query surfaces (``corpus_dsir_select``,
``events_transitions``) runs in ``tests/test_oracle_parity.py``; this
file pins what the oracles can't see: DSIR's selection semantics on
planted corpora (target-like docs outrank pool-like docs regardless of
their own domain label), the staged fixed-point bounds, the
B-bounded weight table, the broadcast + TakeOrderedAndProject plan
shape, and the transition kernel's row-normalization arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.operators.dsir import (
    dsir_select,
    dsir_weights,
)
from sample_deepbook_margin_dune_dbt_spark.plans import audit_plan
from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES

# ------------------------------------------------------------------ DSIR

_TARGETY = "the model trains on clean english prose with common words"
_POOLY = "zzq qqz xjv vjx kwp pwk mzr rzm"  # bigrams the target never has


def _corpus(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_dsir_target_like_content_outranks_domain_label(spark):
    """A doc whose N-GRAMS match the target outranks a doc that merely
    CARRIES the target label — DSIR scores content, not metadata."""
    rows = [
        (1, _TARGETY, "en"),
        (2, _TARGETY + " extra tail", "en"),
        # same content as the target, wrong label → should still score high
        (3, _TARGETY, "fr"),
        # target label, alien content → high raw count, no target count
        (4, _POOLY, "de"),
        (5, _POOLY + " zzq qqz", "de"),
    ]
    out = dsir_select(_corpus(spark, rows), "doc_id", "text", F.col("lang") == "en", top_k=5)
    ranked = [r["doc_id"] for r in out.orderBy("rank").collect()]
    # the three target-content docs (1, 2, 3) beat the two alien docs
    assert set(ranked[:3]) == {1, 2, 3}, ranked
    scores = {r["doc_id"]: r["score_e6"] for r in out.collect()}
    assert scores[3] > scores[4], scores


def test_dsir_zero_bigram_docs_excluded(spark):
    rows = [(1, "a b c", "en"), (2, "solo", "en"), (3, "", "fr")]
    out = dsir_select(_corpus(spark, rows), "doc_id", "text", F.col("lang") == "en", top_k=10)
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_dsir_weight_table_bounded_and_ratio_capped(spark):
    """ct ≤ cr (target ⊆ pool) ⇒ the staged ratio stays ≤ 1e6 before
    normalization; the weight table never exceeds B rows."""
    rows = [
        (i, f"w{i} w{i + 1} w{i + 2} common words here", "en" if i % 2 else "de")
        for i in range(40)
    ]
    w = dsir_weights(_corpus(spark, rows), "doc_id", "text", F.col("lang") == "en", n_buckets=64)
    got = w.collect()
    assert len(got) <= 64
    for r in got:
        assert 0 <= r["ct"] <= r["cr"], r
        ratio_e6 = (r["ct"] + 1) * 1_000_000 // (r["cr"] + 1)
        assert ratio_e6 <= 1_000_000


def test_dsir_plan_shape(spark, sf_dir):
    """Weight table broadcasts into the scoring join; global top-k plans
    TakeOrderedAndProject; the only window runs over the ≤ k survivors
    (no corpus-sized SinglePartition sort)."""
    fn, _ = FULL_QUERIES["corpus_dsir_select"]
    a = audit_plan(fn(spark, sf_dir))
    assert a["num_broadcasts"] >= 1
    assert "TakeOrderedAndProject" in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_dsir_semantic_at_fixture_scale(spark, sf_dir):
    """At sf0.001 the English subset IS the target: English docs should
    dominate the selected top-100."""
    fn, _ = FULL_QUERIES["corpus_dsir_select"]
    sel = fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = sel.join(docs.select("doc_id", "lang"), "doc_id")
    n = joined.count()
    n_en = joined.filter(F.col("lang") == "en").count()
    share_en = docs.filter(F.col("lang") == "en").count() / docs.count()
    assert n_en / n > share_en, (n_en, n, share_en)


# ------------------------------------------------- event transition matrix


def test_transitions_hand_built_kernel(spark, tmp_path):
    import datetime as dt

    rows = [
        # user 1: a -> b -> a ; user 2: a -> b
        (1, dt.datetime(2026, 1, 1, 0, 0, 0), 10, "a"),
        (2, dt.datetime(2026, 1, 1, 0, 0, 1), 10, "b"),
        (3, dt.datetime(2026, 1, 1, 0, 0, 2), 10, "a"),
        (4, dt.datetime(2026, 1, 1, 0, 0, 0), 20, "a"),
        (5, dt.datetime(2026, 1, 1, 0, 0, 1), 20, "b"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    from sample_deepbook_margin_dune_dbt_spark.queries.eventseq import (
        q_events_transitions,
    )

    got = {
        (r["event_type"], r["next_type"]): r
        for r in q_events_transitions(spark, str(tmp_path)).collect()
    }
    assert got[("a", "b")]["n"] == 2 and got[("a", "b")]["p_e6"] == 1_000_000
    assert got[("b", "a")]["n"] == 1 and got[("b", "a")]["row_total"] == 1
    # no cross-user pair: user 2's trailing 'b' has no successor
    assert ("b", "b") not in got and len(got) == 2


def test_transitions_rows_sum_to_row_total(spark, sf_dir):
    fn, _ = FULL_QUERIES["events_transitions"]
    out = fn(spark, sf_dir)
    bad = (
        out.groupBy("event_type", "row_total")
        .agg(F.sum("n").alias("s"), F.sum("p_e6").alias("p"))
        .filter((F.col("s") != F.col("row_total")) | (F.col("p") > 1_000_000))
        .count()
    )
    assert bad == 0


def test_transitions_plan_no_corpus_single_partition(spark, sf_dir):
    """The lead window is per-user partitioned; the only unpartitioned
    pieces run over the ≤ |types|² aggregated kernel."""
    fn, _ = FULL_QUERIES["events_transitions"]
    plan = audit_plan(fn(spark, sf_dir))["plan"]
    assert "CartesianProduct" not in plan
    assert "lead" in plan


def test_dsir_feature_pass_spreads_before_arrow_udf(spark, sf_dir):
    """The CPU-heavy Arrow fingerprint batch must be preceded by a hash
    repartition on the id — file-split partitioning underfilled the
    cluster at the 100× fixture (58.6 → 8.4 s once spread; PERF.md r9
    continuation 4)."""
    from sample_deepbook_margin_dune_dbt_spark.operators.dsir import (
        _bucketed_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        _bucketed_features(docs, "doc_id", "text", 4096)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    arrow_at = plan.find("ArrowEvalPython")
    assert arrow_at != -1
    # the repartition exchange must sit BELOW (after in plan text) the
    # Arrow projection it feeds
    assert "hashpartitioning(doc_id" in plan[arrow_at:], plan[arrow_at:][:500]


# ---------------------------------------------------------- dataset card


def test_datasheet_planted_dup_rate_and_top_lang_tie(spark, tmp_path):
    rows = [
        (1, "same text here", "en", "s1"),
        (2, "same text here", "en", "s2"),   # exact dup of 1
        (3, "unique text one", "de", "s1"),
        (4, "tiny", "de", "s3"),             # short doc (< 100 chars)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    df = df.withColumn("n_chars", F.length("text").cast("long"))
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from sample_deepbook_margin_dune_dbt_spark.queries.profileq import (
        q_corpus_datasheet,
    )

    (r,) = q_corpus_datasheet(spark, str(tmp_path)).collect()
    assert r["n_docs"] == 4 and r["n_langs"] == 2 and r["n_sources"] == 3
    assert r["dup_rate_e6"] == 250_000  # 4 docs, 3 distinct contents
    assert r["short_share_e6"] == 1_000_000  # all fixture docs are short
    # en and de tie at 2 docs each -> largest lang string wins (both forms)
    assert r["top_lang"] == "en" and r["top_lang_share_e6"] == 500_000


# --------------------------------------------------- cluster-safe split


def test_cluster_safe_split_co_assigns_near_dups(spark):
    """A PARAPHRASE (near-dup, different fingerprint) must land in the
    same split as its original — the property the fingerprint-keyed
    split cannot give."""
    from sample_deepbook_margin_dune_dbt_spark.operators import dedup as D
    from sample_deepbook_margin_dune_dbt_spark.operators import sampling as SM

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("lazy", "sleepy")  # 3-gram jaccard well above 0.5
    rows = [(i, f"unrelated text number {i} with its own words entirely {i}")
            for i in range(3, 40)]
    docs = spark.createDataFrame([(1, base), (2, near)] + rows, ["doc_id", "text"])

    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got_pairs, "planted near-dup must pair"

    clusters = D.duplicate_clusters(pairs, algorithm="auto")
    keyed = docs.join(
        clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    split = {
        r["doc_id"]: r["split"]
        for r in SM.train_val_test_split(
            keyed, "cluster_id", val_fraction=0.3, test_fraction=0.3
        ).collect()
    }
    assert split[1] == split[2], "near-dups must never straddle splits"
    # and their CONTENT fingerprints differ — the exact-dup tier alone
    # could not have co-assigned them
    fps = docs.filter(F.col("doc_id") < 3).select(F.md5("text")).collect()
    assert fps[0][0] != fps[1][0]
