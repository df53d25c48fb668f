"""Benchmark decontamination: per-document n-gram overlap vs a held-out set.

The training-data hygiene step the big-model reports all describe
(GPT-3 appendix C, PaLM §6.2 style): a training document is
"contaminated" when too many of its word n-grams also occur in an
evaluation/benchmark corpus, and must be dropped (or flagged) before
training. Spark-first shape:

- the corpus side reuses ``dedup.shingles_vectorized`` — distinct
  n-grams built in one Arrow batch pass, exploded once, NO extra dedup
  shuffle (the array is already distinct per document);
- the benchmark side is collapsed to a distinct shingle set and
  broadcast — benchmark suites are tiny (thousands of documents)
  relative to a 100 TB corpus, so the membership probe is a map-side
  broadcast LEFT SEMI join: the corpus never shuffles on content;
- per-document totals/hits are map-side-combined counts keyed by the
  document id.

If a benchmark ever outgrew broadcast, the same plan degrades to a
shuffle equi-join on the shingle — the code path is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _spread, shingles_vectorized


def ngram_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-document overlap with the benchmark's n-gram shingle set.

    Output: (id, n_shingles, n_hits, overlap, contaminated) — overlap is
    the raw fraction of the document's DISTINCT shingles found in the
    benchmark set, and ``contaminated`` applies ``threshold`` to the raw
    value. (Query layers needing cross-engine-stable output emit
    ``floor(overlap * 10^k)`` — see ``queries/curation.py`` on why
    ``round`` diverges between Spark and DuckDB.)
    """
    bench_col = bench_text_col or text_col
    # repartition before the CPU-heavy shingle explode: small corpora
    # arrive as one file → one task (same guard as the dedup pipeline)
    doc_sh = _spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col),
        F.explode(shingles_vectorized(F.col(text_col), n)).alias("_s"),
    )
    bench_sh = F.broadcast(
        benchmark.select(
            F.explode(shingles_vectorized(F.col(bench_col), n)).alias("_s")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # ONE pass: broadcast LEFT join marks benchmark membership (bench set
    # is distinct → at most one match per shingle, cardinality preserved)
    # and a single map-side-combined groupBy counts totals and hits
    # together — the corpus shingles are exploded and scanned exactly once
    marked = doc_sh.join(bench_sh, "_s", "left")
    agg = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_hits"),
    )
    overlap = F.col("n_hits") / F.col("n_shingles")
    return (
        agg.withColumn("overlap", overlap)
        .withColumn("contaminated", F.col("overlap") >= threshold)
        .select(id_col, "n_shingles", "n_hits", "overlap", "contaminated")
    )


def benchmark_leakage(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_e6: int = 500_000,
    broadcast_bench: bool = True,
) -> DataFrame:
    """REVERSE-direction decontamination: per BENCHMARK document, the
    evidence that the training corpus leaks it.

    :func:`ngram_overlap` answers the corpus-side question ("which
    training docs must be dropped"); this answers the eval-governance
    one ("which benchmark items are compromised, and by whom") — the
    artifact an eval owner reads before trusting a score. For each
    benchmark document: how many corpus documents contain ≥
    ``threshold_e6``/1e6 of its distinct n-gram shingles (asymmetric
    containment ``|S_b ∩ S_c| · 1e6 div |S_b|`` — exact integer,
    cross-engine hash-stable), plus the worst offender (max containment,
    lowest corpus id on ties) and a ``leaked`` verdict. Benchmark rows
    with no leak still appear (n_leaking_docs = 0, top_doc_id = -1).

    Scale shape: the benchmark's (bench_id, shingle) rows broadcast
    (suites are bounded by nature — same contract as
    :func:`ngram_overlap`); the corpus streams map-side through the
    probe, so the only corpus-proportional exchange is the matched-row
    groupBy keyed (bench_id, corpus_id) — benchmark-bounded × dup
    factor. ``broadcast_bench=False`` is the measured fallback for
    benchmark sets that outgrow broadcast (the r10 fourth-decade finding
    on ``decontaminate_spans``): a shuffle-hash equi-join on the shingle
    with identical output, pinned by parity test.
    """
    bench_sh = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.explode(shingles_vectorized(F.col(text_col), n)).alias("_s"),
    )
    bench_sizes = bench_sh.groupBy("bench_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    corpus_sh = _spread(corpus.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("corpus_id"),
        F.explode(shingles_vectorized(F.col(text_col), n)).alias("_s"),
    )
    probe = F.broadcast(bench_sh) if broadcast_bench else bench_sh.hint("shuffle_hash")
    inter = (
        corpus_sh.join(probe, "_s")
        .groupBy("bench_id", "corpus_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    leaks = (
        inter.join(F.broadcast(bench_sizes), "bench_id")
        .withColumn(
            "containment_e6",
            F.expr("(n_inter * 1000000L) div n_shingles").cast("long"),
        )
        .filter(F.col("containment_e6") >= threshold_e6)
    )
    top_w = Window.partitionBy("bench_id").orderBy(
        F.desc("containment_e6"), F.asc("corpus_id")
    )
    per_bench = (
        leaks.withColumn("_rn", F.row_number().over(top_w))
        .groupBy("bench_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_leaking_docs"),
            F.max(
                F.when(F.col("_rn") == 1, F.col("corpus_id"))
            ).alias("top_doc_id"),
            F.max(
                F.when(F.col("_rn") == 1, F.col("containment_e6"))
            ).alias("top_containment_e6"),
        )
    )
    return (
        bench_sizes.join(per_bench, "bench_id", "left")
        .select(
            "bench_id",
            "n_shingles",
            F.coalesce("n_leaking_docs", F.lit(0)).cast("long").alias(
                "n_leaking_docs"
            ),
            F.coalesce("top_doc_id", F.lit(-1)).cast("long").alias("top_doc_id"),
            F.coalesce("top_containment_e6", F.lit(0)).cast("long").alias(
                "top_containment_e6"
            ),
            (F.coalesce("n_leaking_docs", F.lit(0)) > 0).alias("leaked"),
        )
    )
