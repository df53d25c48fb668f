"""Unit + plan tests for the novelty / RRF / hard-negative / source-gate
family (``operators/novelty.py``, ``operators/retrieval.py::hybrid_rrf``,
``operators/similarity.py::cosine_hard_negatives``,
``queries/noveltyq.py``).

Oracle parity for the four query surfaces runs in
``tests/test_oracle_parity.py`` (registered in FULL_QUERIES); this file
pins the operator-level contracts the oracles can't see: novelty
set-semantics on hand-built corpora, RRF consensus arithmetic, the
hard-negative band edge, gate axis independence, and the
TakeOrderedAndProject plan shape that keeps the global rankers off a
corpus-sized single-partition window.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.operators import retrieval as R
from sample_deepbook_margin_dune_dbt_spark.operators.novelty import shingle_novelty
from sample_deepbook_margin_dune_dbt_spark.operators.similarity import (
    cosine_hard_negatives,
)
from sample_deepbook_margin_dune_dbt_spark.plans import audit_plan
from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES

# ---------------------------------------------------------------- novelty


def _novelty(spark, rows, **kw):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = shingle_novelty(df, "doc_id", "text", **kw)
    return {r["id"]: r for r in out.collect()}


def test_novelty_first_doc_fully_novel_exact_copy_zero(spark):
    rows = [
        (1, "a b c d e"),  # 3 shingles: abc bcd cde — all first-seen
        (2, "a b c d e"),  # exact copy → 0 novel
        (3, "x y z w"),  # disjoint → fully novel
    ]
    got = _novelty(spark, rows)
    assert got[1]["novelty_e6"] == 1_000_000 and got[1]["n_shingles"] == 3
    assert got[2]["novelty_e6"] == 0 and got[2]["n_novel"] == 0
    assert got[3]["novelty_e6"] == 1_000_000


def test_novelty_partial_overlap_counts_shingles_not_tokens(spark):
    # doc 2 shares exactly one shingle ("a b c") with doc 1 and adds two
    # new ones ("b c q", "c q r") → novelty 2/3
    rows = [(1, "a b c"), (2, "a b c q r")]
    got = _novelty(spark, rows)
    assert got[2]["n_shingles"] == 3 and got[2]["n_novel"] == 2
    assert got[2]["novelty_e6"] == 2_000_000 // 3


def test_novelty_order_is_min_doc_id(spark):
    # the LOWER doc_id owns the shingle regardless of row order
    rows = [(9, "p q r"), (4, "p q r")]
    got = _novelty(spark, rows)
    assert got[4]["novelty_e6"] == 1_000_000
    assert got[9]["novelty_e6"] == 0


def test_novelty_short_and_empty_docs(spark):
    # < n tokens → the whole text is the single shingle; two distinct
    # short docs don't collide, duplicate short docs do
    rows = [(1, "hi"), (2, "hi"), (3, "yo")]
    got = _novelty(spark, rows)
    assert got[1]["n_shingles"] == 1 and got[1]["novelty_e6"] == 1_000_000
    assert got[2]["novelty_e6"] == 0
    assert got[3]["novelty_e6"] == 1_000_000


# ------------------------------------------------------------------- RRF


def test_ql_density_prefers_short_on_topic(spark):
    docs = spark.createDataFrame(
        [(1, "spark spark"), (2, "spark filler filler filler")],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in R.ql_scores(docs, "doc_id", "text", ["spark"]).collect()}
    assert out[1]["ql_e6"] == 1_000_000  # all tokens are query terms
    assert out[2]["ql_e6"] == 250_000
    assert out[1]["rank"] == 1


def test_rrf_consensus_beats_single_list(spark):
    # doc 1: rank 1 on BM25 only (absent from QL top-k is impossible for
    # term-hitting docs, so build consensus the arithmetic way instead):
    # a doc mid-ranked on both lists must beat a doc that is top-1 on one
    # list but deep on the other when 2/(k+m) > 1/(k+1) + 1/(k+d).
    docs = spark.createDataFrame(
        [
            # doc 1: extreme density → QL rank 1, but bm25 saturates tf
            (1, "spark spark spark spark spark spark spark spark"),
            # docs 2-3: two distinct terms → strong BM25 (idf of 'table'
            # over two hits), moderate density
            (2, "spark table pad"),
            (3, "spark table pad pad"),
        ],
        ["doc_id", "text"],
    )
    out = R.hybrid_rrf(docs, "doc_id", "text", ["spark", "table"], k_each=10, k_out=10)
    rows = {r["id"]: r for r in out.collect()}
    # every hit doc appears in both lists here; the fused score must be
    # exactly the integer RRF sum of its two ranks
    for r in rows.values():
        expect = (1_000_000 // (60 + r["bm25_rank"]) if r["bm25_rank"] else 0) + (
            1_000_000 // (60 + r["ql_rank"]) if r["ql_rank"] else 0
        )
        assert r["rrf_e6"] == expect
    # doc 2 is rank-1 on BM25 (two terms, shortest) and rank-2 on QL —
    # it must fuse ahead of doc 1 (QL rank 1 but BM25 rank 3)
    assert rows[2]["rank"] < rows[1]["rank"]


def test_rrf_absent_rank_surfaces_zero(spark):
    # k_each=1 forces each list to keep only its own winner; the two
    # winners differ, so each fused row has exactly one zero rank
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark spark"),  # QL winner
            (2, "spark table"),  # BM25 winner (two terms)
        ],
        ["doc_id", "text"],
    )
    out = R.hybrid_rrf(docs, "doc_id", "text", ["spark", "table"], k_each=1, k_out=10)
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 2
    assert rows[2]["bm25_rank"] == 1 and rows[2]["ql_rank"] == 0
    assert rows[1]["bm25_rank"] == 0 and rows[1]["ql_rank"] == 1
    assert rows[2]["rrf_e6"] == rows[1]["rrf_e6"] == 1_000_000 // 61


# ---------------------------------------------------------- hard negatives


def test_hard_negatives_band_excludes_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),  # anchor
        (1, [2.0, 0.0, 0.0]),  # scaled copy: cosine 1 → excluded
        (2, [1.0, 0.2, 0.0]),  # cos ≈ 0.981 → excluded (≥ 0.98)
        (3, [1.0, 0.5, 0.0]),  # cos ≈ 0.894 → hardest negative
        (4, [0.0, 1.0, 0.0]),  # cos 0 → easy negative
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], ["vec_id", "embedding"]
    )
    q = df.filter(F.col("vec_id") == 0)
    out = cosine_hard_negatives(df, q, "vec_id", "embedding", "vec_id", k=3).collect()
    ids = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids == [3, 4]
    assert all(r["cosine_e6"] < 980_000 for r in out)


def test_hard_negatives_k_bound_and_rank_contract(spark):
    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(20)], ["vec_id", "embedding"]
    )
    q = df.filter(F.col("vec_id") == 0)
    out = cosine_hard_negatives(df, q, "vec_id", "embedding", "vec_id", k=4).collect()
    assert len(out) == 4
    assert sorted(r["rank"] for r in out) == [1, 2, 3, 4]
    # scores non-increasing in rank
    ordered = [r["cosine_e6"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ordered == sorted(ordered, reverse=True)


# -------------------------------------------------------------- source gate


def test_source_gate_axes_are_independent(spark, tmp_path):
    import pandas as pd

    rows = []
    # src_ok: long docs, no shorts, no dups
    for i in range(4):
        rows.append((100 + i, f"unique long document number {i} " + "pad " * 80, "en", "src_ok"))
    # src_short: every doc short → fails short-share axis only
    for i in range(4):
        rows.append((200 + i, f"tiny {i}", "en", "src_short"))
    # src_dup: long but all identical → fails dup axis only
    for i in range(4):
        rows.append((300 + i, "same long document " + "pad " * 80, "en", "src_dup"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    p = tmp_path / "documents.parquet"
    pdf.to_parquet(p)

    from sample_deepbook_margin_dune_dbt_spark.queries.noveltyq import (
        q_curation_source_gate,
    )

    out = {r["source"]: r for r in q_curation_source_gate(spark, str(tmp_path)).collect()}
    assert out["src_ok"]["passes"] == 1
    assert out["src_short"]["passes"] == 0 and out["src_short"]["short_share_e6"] == 1_000_000
    assert out["src_dup"]["passes"] == 0 and out["src_dup"]["dup_share_e6"] == 750_000
    assert out["src_dup"]["short_share_e6"] == 0  # fails ONLY the dup axis


# -------------------------------------------------------------- plan shapes


def test_global_rankers_take_ordered_not_global_window(spark, sf_dir):
    """The corpus-sized global top-k must plan TakeOrderedAndProject
    (per-partition heaps); only the ≤ k surviving rows are ranked,
    never the corpus (a single-partition rank window is the scale
    killer)."""
    for name in (
        "text_bm25_topk",
        "retrieval_rrf_fusion",
        "skew_hotness_report",
        "corpus_dsir_select",
    ):
        fn, _ = FULL_QUERIES[name]
        plan = audit_plan(fn(spark, sf_dir))["plan"]
        assert "TakeOrderedAndProject" in plan, name


def test_novelty_plan_no_global_exchange(spark, sf_dir):
    """Novelty partitions its window by the shingle key and its rollup by
    doc id — no SinglePartition stage, no cartesian anywhere."""
    fn, _ = FULL_QUERIES["text_novelty"]
    plan = audit_plan(fn(spark, sf_dir))["plan"]
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_source_gate_plan_partial_aggregation(spark, sf_dir):
    """Both gate aggregations must map-side combine (partial_count) and
    never broadcast-nested-loop; the join keys are the small source dim."""
    fn, _ = FULL_QUERIES["curation_source_gate"]
    a = audit_plan(fn(spark, sf_dir))
    assert "partial_count" in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_max_cosine_vs_anchors_edge_inputs(spark):
    """Edge contract: an empty anchor set raises (the crossJoin oracle
    returns zero rows — a silent -inf answer would diverge), and a null /
    dim-mismatched embedding gets NULL (pandas NaN → Arrow null) for THAT
    row only, not for every row sharing its Arrow batch."""
    import pytest

    from sample_deepbook_margin_dune_dbt_spark.operators.similarity import (
        max_cosine_vs_anchors,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [1.0, 2.0, 3.0])],
        "vec_id INT, v ARRAY<DOUBLE>",
    ).coalesce(1)  # one partition → one Arrow batch: the poisoning shape
    anchors = spark.createDataFrame([([1.0, 0.0],)], "av ARRAY<DOUBLE>")

    with pytest.raises(ValueError, match="empty anchor set"):
        max_cosine_vs_anchors(
            emb, anchors.filter(F.lit(False)), "vec_id", "v", "av"
        )

    got = {
        r["vec_id"]: r["max_cosine"]
        for r in max_cosine_vs_anchors(emb, anchors, "vec_id", "v", "av").collect()
    }
    assert got[1] == 1.0 and got[3] == 0.0
    assert got[2] is None and got[4] is None
