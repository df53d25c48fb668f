"""Evaluation-governance query family (r11).

Two surfaces the training-data loop needs AFTER the rankers and the
decontaminators exist (reference parity n/a — the reference's Jinja-SQL
rollups, e.g. ``models/deepbook_margin/daily/fct_deepbook_margin_pool_daily.sql``,
have no retrieval/eval counterpart; these extend SURVEY §2.10):

- ``retrieval_eval_metrics`` — exact-integer IR metrics (recall@k /
  precision@k / MRR / MAP / nDCG@k) for a multi-query retrieval run
  against deterministic graded qrels (``operators/ir_eval.py``). The
  run is a query-likelihood density ranker over the ``documents``
  corpus; qrels grade by raw term frequency — deliberately a DIFFERENT
  ordering than the run scores, so the metrics are non-trivial.
- ``benchmark_leakage_report`` — reverse-direction decontamination
  (``operators/contamination.py::benchmark_leakage``): per benchmark
  document, how many corpus documents contain it (asymmetric shingle
  containment), the worst offender, and a ``leaked`` verdict — the
  eval-owner's "can I trust this score" artifact, complementing the
  corpus-side ``text_decontaminate``.

Scale shapes live in the operator docstrings; the run builder here adds
one note: the per-query top-k window partitions by the query id, so at
|Q| queries it parallelizes across queries and each partition holds only
one query's matched postings (term-filtered, not the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import contamination as C
from ..operators import ir_eval as IR
from ..operators.topk import topk
from .common import load

# one literal spec for the eval run and its oracle — Spark and DuckDB
# both derive from these, so editing keeps the two in lockstep
EVAL_TERMS = ("join", "merge", "window", "spark", "vector", "stream")
EVAL_K = 10
# graded judgments by raw tf: tf>=5 -> rel 2, tf>=3 -> rel 1
_REL2_TF = 5
_REL1_TF = 3

LEAK_N = 3
LEAK_THRESHOLD_E6 = 500_000


def _eval_run_and_qrels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Multi-query retrieval run + graded qrels over ``documents``.

    Run: per query term, documents ranked by query-likelihood DENSITY
    ``tf·1e6 div dl`` (short on-topic docs first), top-``EVAL_K``.
    Qrels: graded by RAW tf (``_REL1_TF``/``_REL2_TF``) — a different
    ordering, so recall/nDCG measure something real. Both derive from
    one tokenize pass; the term filter is a broadcast literal (the
    corpus never shuffles on content), tf/dl are map-side-combined
    grouped counts, and the top-k is grouped by query term.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word"),
    ).filter(F.col("word") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    tf = (
        toks.filter(F.col("word").isin(list(EVAL_TERMS)))
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    scored = tf.join(dl, "doc_id").withColumn(
        "score_e6", F.expr("(tf * 1000000L) div dl")
    )
    run = topk(scored, EVAL_K, "score_e6", "doc_id", by=["word"]).select(
        F.col("word").alias("query_id"), "doc_id", "rank"
    )
    qrels = (
        tf.filter(F.col("tf") >= _REL1_TF)
        .select(
            F.col("word").alias("query_id"),
            "doc_id",
            F.when(F.col("tf") >= _REL2_TF, F.lit(2))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("rel"),
        )
    )
    return run, qrels


def q_retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IR metrics at k=10 for the density run vs tf-graded
    qrels — all fixed-point 1e6 int64 (``operators/ir_eval.py`` for the
    arithmetic and the |Q|·k-bounded scale shape)."""
    run, qrels = _eval_run_and_qrels(spark, sf_dir)
    return IR.ir_metrics(run, qrels, k=EVAL_K).orderBy("query_id")


_TERMS_SQL = ", ".join(f"'{t}'" for t in EVAL_TERMS)

_RUN_CTE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        FROM toks WHERE word <> '' GROUP BY doc_id
    ),
    tf AS (
        SELECT word, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE word IN ({_TERMS_SQL}) GROUP BY word, doc_id
    ),
    scored AS (
        SELECT tf.word, tf.doc_id, (tf.tf * 1000000) // dl.dl AS score_e6
        FROM tf JOIN dl USING (doc_id)
    )
    SELECT word AS query_id, doc_id, CAST(rank AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY word ORDER BY score_e6 DESC, doc_id ASC
        ) AS rank
        FROM scored
    ) WHERE rank <= {EVAL_K}
"""

_QRELS_CTE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ),
    tf AS (
        SELECT word, doc_id, count(*) AS tf
        FROM toks WHERE word IN ({_TERMS_SQL}) GROUP BY word, doc_id
    )
    SELECT word AS query_id, doc_id,
           CAST(CASE WHEN tf >= {_REL2_TF} THEN 2 ELSE 1 END AS BIGINT) AS rel
    FROM tf WHERE tf >= {_REL1_TF}
"""

SQL_EVAL_METRICS = (
    IR.ir_metrics_sql(_RUN_CTE, _QRELS_CTE, k=EVAL_K) + " ORDER BY query_id"
)


# ------------------------------------------------- benchmark leakage


def q_benchmark_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-document leakage evidence: the held-out subset
    (doc_id % 97 == 0, the same convention as ``text_decontaminate``)
    audited against the REST of the corpus by asymmetric 3-gram
    containment ≥ 0.5 — count of leaking corpus docs, worst offender,
    verdict."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return C.benchmark_leakage(
        corpus,
        bench,
        "doc_id",
        "text",
        n=LEAK_N,
        threshold_e6=LEAK_THRESHOLD_E6,
    ).orderBy("bench_id")


SQL_BENCHMARK_LEAKAGE = f"""
WITH toks AS (
    SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(w) >= 3 THEN concat_ws(' ', w[i], w[i+1], w[i+2])
                ELSE array_to_string(w, ' ') END AS s
    FROM toks, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
    ) g
),
bench_sh AS (
    SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0
),
bench_sizes AS (
    SELECT bench_id, CAST(count(*) AS BIGINT) AS n_shingles
    FROM bench_sh GROUP BY bench_id
),
corpus_sh AS (
    SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 97 <> 0
),
inter AS (
    SELECT b.bench_id, c.corpus_id, CAST(count(*) AS BIGINT) AS n_inter
    FROM corpus_sh c JOIN bench_sh b USING (s)
    GROUP BY b.bench_id, c.corpus_id
),
leaks AS (
    SELECT i.bench_id, i.corpus_id,
           (i.n_inter * 1000000) // z.n_shingles AS containment_e6
    FROM inter i JOIN bench_sizes z USING (bench_id)
    WHERE (i.n_inter * 1000000) // z.n_shingles >= {LEAK_THRESHOLD_E6}
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY bench_id ORDER BY containment_e6 DESC, corpus_id ASC
    ) AS rn
    FROM leaks
),
per_bench AS (
    SELECT bench_id,
           CAST(count(*) AS BIGINT) AS n_leaking_docs,
           CAST(max(CASE WHEN rn = 1 THEN corpus_id END) AS BIGINT) AS top_doc_id,
           CAST(max(CASE WHEN rn = 1 THEN containment_e6 END) AS BIGINT)
               AS top_containment_e6
    FROM ranked GROUP BY bench_id
)
SELECT z.bench_id,
       z.n_shingles,
       CAST(coalesce(p.n_leaking_docs, 0) AS BIGINT) AS n_leaking_docs,
       CAST(coalesce(p.top_doc_id, -1) AS BIGINT) AS top_doc_id,
       CAST(coalesce(p.top_containment_e6, 0) AS BIGINT) AS top_containment_e6,
       coalesce(p.n_leaking_docs, 0) > 0 AS leaked
FROM bench_sizes z LEFT JOIN per_bench p USING (bench_id)
ORDER BY z.bench_id
"""


EVAL_QUERIES = {
    "retrieval_eval_metrics": (q_retrieval_eval_metrics, SQL_EVAL_METRICS),
    "benchmark_leakage_report": (q_benchmark_leakage_report, SQL_BENCHMARK_LEAKAGE),
}
