"""Sparse lexical retrieval: BM25 scoring over a document corpus.

The reference repo's analytical surface stops at SQL aggregation
(reference models are Jinja-SQL rollups, e.g.
``models/deepbook_margin/daily/fct_deepbook_margin_pool_daily.sql``); a
training-data pipeline additionally needs lexical retrieval to pull
topically-relevant documents out of a web-scale corpus (quality-biased
sampling, seed-document expansion, benchmark-neighbour mining). BM25 is
the standard first-stage ranker for that job.

Why fixed-point integers instead of floats: the corpus-side score must
hash-match a DuckDB oracle bit-for-bit, and ``ln``/``/`` route through
libm with engine-specific rounding. Every quantity here is exact int64
arithmetic — the Robertson idf and the tf saturation term are evaluated
as scaled rationals with integer division (``div``), identical on both
engines. Within a term the scaled rational is a monotone transform of
the real-valued score; ranks at the precision floor can differ from the
float formula only where the float formula itself is rounding-unstable.

Scale shape (100 TB corpus, 1000 executors):

- The query-term set is a literal broadcast (``isin`` over a handful of
  terms) — the corpus never shuffles on content for term matching; the
  tokenize → filter → (doc, term) count is map-side combined.
- Document length and the per-(doc, term) tf come out of one pass over
  the exploded tokens (grouped counts, partial aggregation); ``df`` is a
  grouped count over the tf rows — |terms in Q| rows total.
- The per-term stats (df) and the corpus scalars (N, Σdl) are tiny —
  broadcast back; the only shuffle of corpus-proportional data is the
  (doc_id, term) tf aggregation, equi-partitioned on doc_id.
- Nothing driver-side: the top-k is a global sort-limit (Spark's
  ``TakeOrderedAndProject``), k bounded.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .topk import topk

# k1 = 6/5 (1.2) and b = 3/4 (0.75) — the classic defaults, chosen as
# exact rationals so the saturation denominator clears to integers.
_IDF_SCALE = 10_000  # fixed-point 1e4 for the Robertson idf
_TF_SCALE = 10_000  # fixed-point 1e4 for the saturation term


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    top_k: int = 20,
) -> DataFrame:
    """Rank documents against ``query_terms`` with exact-integer BM25.

    Returns the global top-``top_k`` rows:
    ``(id, n_terms_hit, dl, bm25_e8, rank)`` where ``bm25_e8`` is the
    summed per-term product ``idf_e4 * tfnorm_e4`` (fixed point 1e8).

    Per-term arithmetic (all int64, k1=6/5, b=3/4):

    - ``idf_e4 = (2*(N - df) + 1) * 1e4 div (2*df + 1)`` — Robertson's
      ``(N - df + 0.5)/(df + 0.5)`` scaled by 2 to clear the halves.
    - ``dlr_e3 = dl * N * 1000 div Σdl`` — ``dl/avgdl`` at fixed-point
      1e3 (``avgdl = Σdl/N``).
    - ``tfnorm_e4 = 22000*tf * 1e4 div (10000*tf + 3000 + 9*dlr_e3)`` —
      ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` with every term
      scaled by 1e3.

    Magnitude audit (the property test pins it): ``dl·N·1000`` ≤ 1e18 at
    dl ≤ 1e6 tokens and N ≤ 1e9 docs; ``idf_e4·tfnorm_e4`` ≤ ~4.4e17 —
    int64-safe at web scale. A single-division form multiplying through
    by ``Σdl`` (10^13+ tokens) would overflow; the price of the staged
    form is ~1e-3 relative error on the length-normalization term,
    identical on both engines.
    """
    terms = [t.lower() for t in query_terms]
    sess = docs.sparkSession

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("word"),
    ).filter(F.col("word") != "")

    # one corpus pass → per-doc length; query-term tf is a filtered
    # grouped count (map-side combined; the isin filter is a broadcast
    # literal, no shuffle on content)
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    tf = (
        toks.filter(F.col("word").isin(terms))
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))

    # corpus scalars: one row, broadcast
    scalars = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )

    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "id")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "idf_e4",
            F.expr(f"((2 * (n_docs - df) + 1) * {_IDF_SCALE}L) div (2 * df + 1)"),
        )
        .withColumn("dlr_e3", F.expr("(dl * n_docs * 1000L) div sum_dl"))
        .withColumn(
            "tfnorm_e4",
            F.expr(
                f"(22000L * tf * {_TF_SCALE}L) div "
                "(10000L * tf + 3000L + 9L * dlr_e3)"
            ),
        )
        .withColumn("term_score_e8", F.expr("idf_e4 * tfnorm_e4"))
    )

    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.max("dl").cast("long").alias("dl"),
        F.sum("term_score_e8").cast("long").alias("bm25_e8"),
    )

    # global top-k: topk's orderBy+limit plans as TakeOrderedAndProject
    # (per-partition heaps, no full sort, no corpus-sized single-partition
    # window) — only the k survivors are ranked
    return topk(
        per_doc, top_k, "bm25_e8", "id", keep=["n_terms_hit", "dl"]
    ).select("id", "n_terms_hit", "dl", "bm25_e8", "rank")


def ql_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    top_k: int = 20,
) -> DataFrame:
    """Rank documents by query-term DENSITY (a query-likelihood ranker).

    ``ql_e6 = Σ_t tf(t, d) * 1e6 div dl(d)`` — the fraction of the
    document's tokens that are query terms, fixed-point 1e6, exact int64
    (Σtf ≤ dl ≤ 1e6 tokens ⇒ product ≤ 1e12). Deliberately length-biased
    the OPPOSITE way from BM25's saturation — short on-topic docs win —
    which is what makes it a useful second opinion for rank fusion
    (:func:`hybrid_rrf`): the two rankers disagree exactly where fusion
    has signal.

    Scale shape mirrors :func:`bm25_scores` (same tokenize pass, same
    broadcast term filter, map-side-combined counts, k-bounded top-k).
    """
    terms = [t.lower() for t in query_terms]
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("word"),
    ).filter(F.col("word") != "")
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    q_tf = (
        toks.filter(F.col("word").isin(terms))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("q_tf"))
    )
    scored = q_tf.join(dl, "id").withColumn(
        "ql_e6", F.expr("q_tf * 1000000L div dl")
    )
    return topk(scored, top_k, "ql_e6", "id", keep=["q_tf", "dl"]).select(
        "id", "q_tf", "dl", "ql_e6", "rank"
    )


def hybrid_rrf(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k_each: int = 50,
    k_out: int = 15,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 and
    query-likelihood rankings (the standard first-stage hybrid shape;
    in production the second list is usually a dense/ANN ranking — the
    fusion arithmetic is ranker-agnostic by design, consuming only
    (id, rank) pairs).

    ``rrf_e6(d) = Σ_lists 1e6 div (rrf_k + rank_list(d))`` over the
    lists where d appears (classic k=60), integer division so both
    engines agree bit-for-bit. Absent-from-list ranks surface as 0.

    Scale shape: each ranker is corpus-linear (see :func:`bm25_scores`);
    the fusion itself joins two ≤ ``k_each``-row frames — driver-free,
    broadcast-sized regardless of corpus size. Output: the global
    ``k_out`` best by fused score, ties broken by id.
    """
    bm25 = bm25_scores(docs, id_col, text_col, query_terms, top_k=k_each).select(
        "id", F.col("rank").alias("bm25_rank")
    )
    ql = ql_scores(docs, id_col, text_col, query_terms, top_k=k_each).select(
        "id", F.col("rank").alias("ql_rank")
    )
    fused = (
        bm25.join(ql, "id", "full_outer")
        .select(
            "id",
            F.coalesce("bm25_rank", F.lit(0)).cast("long").alias("bm25_rank"),
            F.coalesce("ql_rank", F.lit(0)).cast("long").alias("ql_rank"),
        )
        .withColumn(
            "rrf_e6",
            (
                F.when(
                    F.col("bm25_rank") > 0,
                    F.expr(f"1000000L div ({rrf_k} + bm25_rank)"),
                ).otherwise(F.lit(0).cast("long"))
                + F.when(
                    F.col("ql_rank") > 0,
                    F.expr(f"1000000L div ({rrf_k} + ql_rank)"),
                ).otherwise(F.lit(0).cast("long"))
            ).cast("long"),
        )
    )
    return topk(
        fused, k_out, "rrf_e6", "id", keep=["bm25_rank", "ql_rank"]
    ).select("id", "bm25_rank", "ql_rank", "rrf_e6", "rank")


def bm25_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    top_k: int = 20,
) -> str:
    """DuckDB oracle for :func:`bm25_scores` — same integer arithmetic."""
    terms = ", ".join(f"'{t.lower()}'" for t in query_terms)
    return f"""
WITH toks AS (
    SELECT {id_col} AS id,
           unnest(string_split(lower(trim({text_col})), ' ')) AS word
    FROM {table}
),
dl AS (
    SELECT id, CAST(count(*) AS BIGINT) AS dl
    FROM toks WHERE word <> '' GROUP BY id
),
tf AS (
    SELECT id, word, CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE word IN ({terms}) GROUP BY id, word
),
dfreq AS (
    SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
),
scalars AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl
    FROM dl
),
scored AS (
    SELECT tf.id, tf.tf, dl.dl, dfreq.df, s.n_docs, s.sum_dl,
           ((2 * (s.n_docs - dfreq.df) + 1) * {_IDF_SCALE}) // (2 * dfreq.df + 1)
               AS idf_e4,
           (22000 * tf.tf * {_TF_SCALE}) //
               (10000 * tf.tf + 3000 + 9 * ((dl.dl * s.n_docs * 1000) // s.sum_dl))
               AS tfnorm_e4
    FROM tf
    JOIN dfreq USING (word)
    JOIN dl USING (id)
    CROSS JOIN scalars s
),
per_doc AS (
    SELECT id,
           CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(max(dl) AS BIGINT) AS dl,
           CAST(sum(idf_e4 * tfnorm_e4) AS BIGINT) AS bm25_e8
    FROM scored GROUP BY id
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY bm25_e8 DESC, id ASC) AS rank
    FROM per_doc
)
SELECT id, n_terms_hit, dl, bm25_e8, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {top_k}
"""


def rrf_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k_each: int = 50,
    k_out: int = 15,
    rrf_k: int = 60,
) -> str:
    """DuckDB oracle for :func:`hybrid_rrf` — both rankers re-derived
    from the same token/tf/dl CTE text as :func:`bm25_sql`, fused with
    the identical integer reciprocal-rank arithmetic."""
    terms = ", ".join(f"'{t.lower()}'" for t in query_terms)
    return f"""
WITH toks AS (
    SELECT {id_col} AS id,
           unnest(string_split(lower(trim({text_col})), ' ')) AS word
    FROM {table}
),
dl AS (
    SELECT id, CAST(count(*) AS BIGINT) AS dl
    FROM toks WHERE word <> '' GROUP BY id
),
tf AS (
    SELECT id, word, CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE word IN ({terms}) GROUP BY id, word
),
dfreq AS (
    SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
),
scalars AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl
    FROM dl
),
scored AS (
    SELECT tf.id, tf.tf, dl.dl, dfreq.df, s.n_docs, s.sum_dl,
           ((2 * (s.n_docs - dfreq.df) + 1) * {_IDF_SCALE}) // (2 * dfreq.df + 1)
               AS idf_e4,
           (22000 * tf.tf * {_TF_SCALE}) //
               (10000 * tf.tf + 3000 + 9 * ((dl.dl * s.n_docs * 1000) // s.sum_dl))
               AS tfnorm_e4
    FROM tf
    JOIN dfreq USING (word)
    JOIN dl USING (id)
    CROSS JOIN scalars s
),
bm25_doc AS (
    SELECT id, CAST(sum(idf_e4 * tfnorm_e4) AS BIGINT) AS bm25_e8
    FROM scored GROUP BY id
),
bm25_top AS (
    SELECT id, rank AS bm25_rank FROM (
        SELECT id, row_number() OVER (ORDER BY bm25_e8 DESC, id ASC) AS rank
        FROM bm25_doc
    ) WHERE rank <= {k_each}
),
ql_doc AS (
    SELECT tf.id, (sum(tf.tf) * 1000000) // max(dl.dl) AS ql_e6
    FROM tf JOIN dl USING (id) GROUP BY tf.id
),
ql_top AS (
    SELECT id, rank AS ql_rank FROM (
        SELECT id, row_number() OVER (ORDER BY ql_e6 DESC, id ASC) AS rank
        FROM ql_doc
    ) WHERE rank <= {k_each}
),
fused AS (
    SELECT coalesce(b.id, q.id) AS id,
           CAST(coalesce(b.bm25_rank, 0) AS BIGINT) AS bm25_rank,
           CAST(coalesce(q.ql_rank, 0) AS BIGINT) AS ql_rank
    FROM bm25_top b FULL OUTER JOIN ql_top q ON b.id = q.id
),
rrf AS (
    SELECT id, bm25_rank, ql_rank,
           CAST((CASE WHEN bm25_rank > 0 THEN 1000000 // ({rrf_k} + bm25_rank) ELSE 0 END)
              + (CASE WHEN ql_rank > 0 THEN 1000000 // ({rrf_k} + ql_rank) ELSE 0 END)
              AS BIGINT) AS rrf_e6
    FROM fused
)
SELECT id, bm25_rank, ql_rank, rrf_e6, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (ORDER BY rrf_e6 DESC, id ASC) AS rank FROM rrf
) WHERE rank <= {k_out}
"""
