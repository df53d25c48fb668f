"""The corpus-curation DAG on the generic documents table (engine reuse)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore
from sample_deepbook_margin_dune_dbt_spark.sources import testdata_sources as load_testdata_sources
import sample_deepbook_margin_dune_dbt_spark.models_corpus as corpus  # noqa: F401


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    store = TableStore(spark, str(tmp_path_factory.mktemp("corpus_wh")))
    runner = Runner(spark, store, load_testdata_sources(sf_dir))
    runner.run("+corpus_stats_by_lang")
    return runner, store


def test_feature_model(built, spark, sf_dir):
    _, store = built
    feats = store.read("stg_document_features")
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert feats.count() == n_docs
    row = feats.first()
    assert row["n_tokens"] > 0 and 0.0 <= row["quality"] <= 1.0


def test_dedup_groups_consistent(built):
    _, store = built
    feats = store.read("stg_document_features")
    groups = store.read("corpus_dedup_groups")
    assert groups.agg(F.sum("dup_count")).first()[0] == feats.count()
    assert groups.filter(F.col("keep_doc_id").isNull()).count() == 0


def test_stats_rollup(built):
    _, store = built
    stats = store.read("corpus_stats_by_lang").collect()
    assert stats
    total = sum(r["n_docs"] for r in stats)
    assert total == store.read("stg_document_features").count()
    for r in stats:
        assert 0 <= r["n_unique_docs"] <= r["n_docs"]
        assert 0.0 <= r["high_quality_share"] <= 1.0


def test_incremental_doc_watermark(built, spark, sf_dir, tmp_path):
    """Re-running with the same sources ingests nothing new (doc_id
    watermark); assertions still pass."""
    runner, store = built
    before = store.read("stg_document_features").count()
    runner.run("+corpus_stats_by_lang")
    assert store.read("stg_document_features").count() == before
    assert runner.test("+corpus_stats_by_lang") == {}


def test_neardup_model(built, spark, sf_dir):
    runner, store = built
    runner.run("+corpus_neardup_candidates")
    cand = store.read("corpus_neardup_candidates")
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # candidates exist-or-not depending on corpus, but never the full cross
    assert cand.count() < n_docs * (n_docs - 1) / 2 * 0.05
    assert cand.filter(F.col("id_a") >= F.col("id_b")).count() == 0


def test_training_chunks_model(built, spark, sf_dir):
    """The chunks model keeps only dedup survivors with quality >= 0.5,
    every chunk carries a stable split, and the incremental re-run is a
    no-op (doc_id watermark)."""
    runner, store = built
    runner.run("+corpus_training_chunks")
    chunks = store.read("corpus_training_chunks")
    feats = store.read("stg_document_features")
    keep = store.read("corpus_dedup_groups")

    chunk_docs = {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()}
    eligible = {
        r["doc_id"]
        for r in feats.filter(F.col("quality") >= 0.5)
        .join(keep.select(F.col("keep_doc_id").alias("doc_id")), "doc_id", "left_semi")
        .collect()
    }
    assert chunk_docs == eligible and len(eligible) > 0

    # every chunk of a doc shares the doc's split; all three splits present
    per_doc = chunks.groupBy("doc_id").agg(F.count_distinct("split").alias("k"))
    assert per_doc.agg(F.max("k")).first()[0] == 1
    assert {r["split"] for r in chunks.select("split").distinct().collect()} <= {
        "train", "val", "test",
    }
    # chunk sizing: none over 64 tokens, ordering dense from 0
    assert chunks.agg(F.max("chunk_n_tokens")).first()[0] <= 64
    assert chunks.filter(F.col("chunk_index") == 0).count() == len(eligible)

    # incremental: nothing new → merge is a no-op
    n = chunks.count()
    runner.run("corpus_training_chunks")
    assert store.read("corpus_training_chunks").count() == n


def test_neardup_clusters_model(built):
    """Cluster labels are min-ids of their member sets and every member of
    a candidate pair is clustered."""
    runner, store = built
    runner.run("+corpus_neardup_clusters")
    cand = store.read("corpus_neardup_candidates")
    clusters = store.read("corpus_neardup_clusters")
    pair_ids = {
        i for r in cand.select("id_a", "id_b").collect() for i in (r["id_a"], r["id_b"])
    }
    labeled = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert set(labeled) == pair_ids
    for doc, lbl in labeled.items():
        assert lbl <= doc and labeled[lbl] == lbl, "label must be the cluster's min id"


def test_packed_sequences_model(built):
    """The packed manifest tiles the train-split token stream gaplessly and
    covers exactly the train chunks."""
    runner, store = built
    runner.run("+corpus_packed_sequences")
    train = store.read("corpus_training_chunks").filter(F.col("split") == "train")
    packed = store.read("corpus_packed_sequences")
    assert packed.count() == train.filter(F.col("chunk_n_tokens") > 0).count()
    rows = sorted(packed.collect(), key=lambda r: r["start_offset"])
    pos = 0
    for r in rows:
        assert r["start_offset"] == pos
        assert r["first_seq"] == r["start_offset"] // 256
        assert r["last_seq"] == (r["end_offset"] - 1) // 256
        pos = r["end_offset"]
    assert pos == train.agg(F.sum("chunk_n_tokens")).first()[0]


def test_embedding_index_models(spark, sf_dir, tmp_path):
    """Centroids train once and stay frozen; assignments merge in
    incrementally: a second embedding batch indexes only its new vectors
    against the SAME cells (full-refresh = rebuild the index)."""
    store = TableStore(spark, str(tmp_path / "wh"))
    src = tmp_path / "emb_src"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mid = emb.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    emb.filter(F.col("vec_id") <= mid).write.parquet(str(src))
    sources = dict(load_testdata_sources(sf_dir))
    sources["main.embeddings"] = str(src)
    runner = Runner(spark, store, sources)

    runner.run("+corpus_embedding_index")
    cent1 = {r["cell"]: r["center"] for r in store.read("corpus_index_centroids").collect()}
    idx1 = {r["vec_id"]: (r["cell"], r["codes"]) for r in store.read("corpus_embedding_index").collect()}
    assert len(cent1) == 16
    assert len(idx1) == emb.filter(F.col("vec_id") <= mid).count()
    assert all(0 <= c < 16 for c, _ in idx1.values())

    # batch 2 arrives; centroids must NOT move, batch-1 rows must NOT change
    emb.filter(F.col("vec_id") > mid).write.mode("append").parquet(str(src))
    runner.run("+corpus_embedding_index")
    cent2 = {r["cell"]: r["center"] for r in store.read("corpus_index_centroids").collect()}
    assert cent2 == cent1
    idx2 = {r["vec_id"]: (r["cell"], r["codes"]) for r in store.read("corpus_embedding_index").collect()}
    assert len(idx2) == emb.count()
    assert all(idx2[k] == v for k, v in idx1.items())
    assert runner.test("+corpus_embedding_index") == {}


def test_refresh_audit_detects_watermark_blindspots(spark, sf_dir, tmp_path):
    """corpus_refresh_audit must surface exactly the drift the doc_id
    watermark cannot ingest: rewritten text under existing ids ('changed')
    and source deletions ('removed')."""
    store = TableStore(spark, str(tmp_path / "wh"))
    runner = Runner(spark, store, load_testdata_sources(sf_dir))
    runner.run("+corpus_refresh_audit")
    clean = {r["status"]: r["n"] for r in store.read("corpus_refresh_audit").collect()}
    assert set(clean) == {"unchanged"}

    # drift the source: rewrite text for doc_id % 7 == 0, delete % 10 == 0
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    drifted = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" REV2")))
            .otherwise(F.col("text")),
        )
    )
    src_dir = str(tmp_path / "drifted")
    drifted.write.parquet(src_dir + "/documents.parquet")
    sources = dict(load_testdata_sources(sf_dir))
    sources["main.documents"] = src_dir + "/documents.parquet"

    runner2 = Runner(spark, store, sources)
    runner2.run("+corpus_refresh_audit")
    # watermark ingested nothing: no new doc_ids exist
    n_docs = docs.count()
    assert store.read("stg_document_features").count() == n_docs
    audit = {r["status"]: r["n"] for r in store.read("corpus_refresh_audit").collect()}
    n_removed = docs.filter(F.col("doc_id") % 10 == 0).count()
    n_changed = drifted.filter(F.col("doc_id") % 7 == 0).count()
    assert audit.get("removed", 0) == n_removed
    assert audit.get("changed", 0) == n_changed
    assert audit.get("added", 0) == 0
    assert audit["unchanged"] == n_docs - n_removed - n_changed


def test_bigram_lm_models_frozen_stats(spark, sf_dir, tmp_path):
    """Bigram counts train once and stay frozen; scores merge in
    incrementally: a second document batch scores only its new docs
    against the SAME counts, and batch-1 rows do not change."""
    store = TableStore(spark, str(tmp_path / "wh"))
    src = tmp_path / "doc_src"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    docs.filter(F.col("doc_id") <= mid).write.parquet(str(src))
    sources = dict(load_testdata_sources(sf_dir))
    sources["main.documents"] = str(src)
    runner = Runner(spark, store, sources)

    runner.run("+corpus_lm_scores")
    stats1 = {r["bigram_fp"]: r["c"] for r in store.read("corpus_bigram_stats").collect()}
    s1 = {r["doc_id"]: (r["familiar_sum"], r["oov_ppm"])
          for r in store.read("corpus_lm_scores").collect()}
    assert stats1 and s1
    # scored docs = batch-1 docs with >= 1 bigram
    assert set(s1) <= {r["doc_id"] for r in docs.filter(F.col("doc_id") <= mid).collect()}

    docs.filter(F.col("doc_id") > mid).write.mode("append").parquet(str(src))
    runner.run("+corpus_lm_scores")
    stats2 = {r["bigram_fp"]: r["c"] for r in store.read("corpus_bigram_stats").collect()}
    assert stats2 == stats1, "counts must stay frozen across incremental runs"
    s2 = {r["doc_id"]: (r["familiar_sum"], r["oov_ppm"])
          for r in store.read("corpus_lm_scores").collect()}
    assert all(s2[k] == v for k, v in s1.items()), "batch-1 scores must not change"
    assert len(s2) > len(s1)
    # batch-2 docs were scored against the frozen (batch-1) counts
    from sample_deepbook_margin_dune_dbt_spark.operators.ngram_lm import bigram_lm_score
    frozen = store.read("corpus_bigram_stats")
    expect = {
        r["doc_id"]: (r["familiar_sum"], r["oov_ppm"])
        for r in bigram_lm_score(
            docs.filter(F.col("doc_id") > mid), "doc_id", "text", frozen
        ).collect()
    }
    assert all(s2[k] == v for k, v in expect.items())
    assert runner.test("+corpus_lm_scores") == {}


def test_despanned_documents_model(spark, sf_dir, tmp_path):
    """One cleaned row per document; the fixture corpus's duplicated
    passages actually shrink; accounting balances; idempotent rebuild."""
    store = TableStore(spark, str(tmp_path / "wh"))
    runner = Runner(spark, store, load_testdata_sources(sf_dir))
    runner.run("+corpus_despanned_documents")
    out = store.read("corpus_despanned_documents")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert out.count() == docs.count()
    dropped = out.agg(F.sum("n_dropped")).first()[0]
    assert dropped > 0, "fixture corpus has duplicated passages to strip"
    assert out.filter(F.col("n_dropped") > F.col("n_tokens")).count() == 0
    before = {r["doc_id"]: r["text_clean"] for r in out.collect()}
    runner.run("+corpus_despanned_documents")
    after = {r["doc_id"]: r["text_clean"] for r in store.read("corpus_despanned_documents").collect()}
    assert after == before
    assert runner.test("+corpus_despanned_documents") == {}


def test_fp_bucketed_model_growth_mirror_and_plan(spark, sf_dir, tmp_path):
    """VERDICT r11 item 2: the shingle fingerprint projection as a DAG
    model. Pins (a) N incremental appends ≡ one full rebuild, and (d)
    pair output from the store table fed as ``fp_rows`` is identical to
    the inline-shingling path, for the self-join and the prefix tier."""
    from sample_deepbook_margin_dune_dbt_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cut = docs.agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY doc_id)")).first()[0]
    p1, p2 = str(tmp_path / "docs1"), str(tmp_path / "docs2")
    docs.filter(F.col("doc_id") <= cut).write.parquet(p1)
    docs.write.parquet(p2)

    store = TableStore(spark, str(tmp_path / "wh"))
    # growth: batch 1 (full create) then the full corpus (append)
    Runner(spark, store, {"main.documents": p1}).run("corpus_fp_bucketed")
    Runner(spark, store, {"main.documents": p2}).run("corpus_fp_bucketed")
    grown = sorted(map(tuple, store.read("corpus_fp_bucketed").collect()))

    # (a) N-growth ≡ full rebuild
    store_full = TableStore(spark, str(tmp_path / "wh_full"))
    Runner(spark, store_full, {"main.documents": p2}).run("corpus_fp_bucketed")
    rebuilt = sorted(map(tuple, store_full.read("corpus_fp_bucketed").collect()))
    assert grown == rebuilt and len(grown) > 0

    # (d) identical pairs vs the inline-shingling path (jaccard doubles
    # included: same integer inputs, same division)
    fp_rows = store.read("corpus_fp_bucketed").select("doc_id", "fp")
    inline = sorted(map(tuple, D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).collect()))
    fed = sorted(map(tuple, D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, fp_rows=fp_rows,
    ).collect()))
    assert fed == inline and len(fed) > 0
    fed_prefix = sorted(map(tuple, D.prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, fp_rows=fp_rows,
    ).collect()))
    assert fed_prefix == inline


def test_fp_bucketed_model_stays_in_the_store(spark, sf_dir, tmp_path):
    """Every table lives in the TableStore: building
    ``corpus_fp_bucketed`` (a create, then an append) adds nothing to
    Spark's session catalog or to ``spark.sql.warehouse.dir``."""
    import os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cut = docs.agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY doc_id)")).first()[0]
    p1, p2 = str(tmp_path / "docs1"), str(tmp_path / "docs2")
    docs.filter(F.col("doc_id") <= cut).write.parquet(p1)
    docs.write.parquet(p2)

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def session_state():
        tables = sorted(t.name for t in spark.catalog.listTables())
        entries = sorted(os.listdir(wh)) if os.path.isdir(wh) else []
        return tables, entries

    before = session_state()
    store = TableStore(spark, str(tmp_path / "wh"))
    Runner(spark, store, {"main.documents": p1}).run("corpus_fp_bucketed")
    Runner(spark, store, {"main.documents": p2}).run("corpus_fp_bucketed")
    assert store.read("corpus_fp_bucketed").count() > 0
    assert session_state() == before


def test_leakage_report_model_vars_and_cli(spark, sf_dir, tmp_path, capsys):
    """VERDICT r11 item 7: the eval-governance leakage audit as a
    CLI-drivable DAG node. Pins: τ comes from --vars and actually
    changes verdicts, rows carry the benchmark content stamp, the
    no-benchmark run emits the empty sentinel report, and the CLI
    drives it end-to-end."""
    from sample_deepbook_margin_dune_dbt_spark.__main__ import main
    from sample_deepbook_margin_dune_dbt_spark.operators.contamination import (
        benchmark_leakage,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_path = str(tmp_path / "bench")
    docs.filter(F.col("doc_id") % 97 == 0).write.parquet(bench_path)

    # CLI drive with a custom τ
    wh = str(tmp_path / "wh")
    main([
        "run", "--warehouse", wh,
        "--source", f"main.documents={sf_dir}/documents.parquet",
        "--source", f"main.benchmark_documents={bench_path}",
        "--vars", "{leakage_threshold_e6: 200000}",
        "--select", "corpus_leakage_report",
    ])
    assert "corpus_leakage_report" in capsys.readouterr().out
    store = TableStore(spark, wh)
    got = store.read("corpus_leakage_report")
    bench = spark.read.parquet(bench_path)
    assert got.count() == bench.count()  # every bench doc gets a row
    assert got.select("threshold_e6").distinct().first()[0] == 200_000
    assert got.select("benchmark_fp").distinct().count() == 1
    assert got.first()["benchmark_fp"] != "none_0"

    # τ must bind: the 200k report leaks at least as much as default
    # 500k (corpus side = the registered documents source, benchmark
    # members included — in this fixture bench ⊂ corpus, so every bench
    # doc at least self-leaks)
    strict = benchmark_leakage(docs, bench, "doc_id", "text", threshold_e6=500_000)
    loose_leaks = got.filter(F.col("leaked")).count()
    strict_leaks = strict.filter(F.col("leaked")).count()
    assert loose_leaks >= strict_leaks
    # and the var-fed report equals the operator at the same τ
    direct = benchmark_leakage(docs, bench, "doc_id", "text", threshold_e6=200_000)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, got.drop("benchmark_fp", "threshold_e6", "updated_at").collect())
    )

    # no registered benchmark → empty sentinel report
    wh2 = str(tmp_path / "wh2")
    Runner(spark, TableStore(spark, wh2),
           {"main.documents": f"{sf_dir}/documents.parquet"}).run("corpus_leakage_report")
    empty = TableStore(spark, wh2).read("corpus_leakage_report")
    assert empty.count() == 0
    assert "benchmark_fp" in empty.columns
