"""Retrieval + fuzzy-linkage query family.

Four capabilities the reference's SQL-rollup surface (reference
``models/deepbook_margin/*`` — Jinja-SQL aggregation models) has no
counterpart for, but a corpus-curation engine needs first-class:

- ``text_bm25_topk`` — sparse lexical retrieval (the seed-expansion /
  topical-sampling ranker), exact-integer BM25.
- ``dedup_edit_distance`` — near-dup verification by exact normalized
  Levenshtein over LSH-blocked candidates (approximate string matching
  as the verifier where set-Jaccard is too coarse: it catches
  REORDER-insensitive shingle matches that differ by true edits).
- ``dedup_canonical_select`` — keep-BEST-per-cluster survivor selection
  (quality-argmax, not min-id) over the connected-component closure.
- ``linkage_blocked_report`` — classic record-linkage blocking over a
  dimension's name column with per-block match statistics.

All four are exact-integer / exact-string formulations — every output
column hash-matches the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import linkage as L
from ..operators import retrieval as R
from .common import load
from .llmops import _SQL_CLUSTERS_CTES, _minhash_lsh_sql

# one query-term set for the BM25 driver query and its oracle — both
# derive from this list, so editing it keeps Spark and DuckDB in lockstep
BM25_TERMS = ("table", "merge", "window", "spark")
BM25_TOP_K = 20

# ------------------------------------------------------------------- BM25


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 documents by exact-integer BM25 against a fixed
    query-term set. See ``operators/retrieval.py`` for the fixed-point
    arithmetic and the 100 TB shape (broadcast term filter, one corpus
    tokenize pass, k-bounded TakeOrderedAndProject)."""
    docs = load(spark, sf_dir, "documents")
    return R.bm25_scores(docs, "doc_id", "text", list(BM25_TERMS), BM25_TOP_K)


SQL_BM25 = R.bm25_sql("documents", "doc_id", "text", list(BM25_TERMS), BM25_TOP_K)


# -------------------------------------------------- edit-distance verify


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein-verified near-duplicate pairs: minhash-LSH banding
    proposes candidates (8 hashes / 4 bands — the ``dedup_minhash_lsh``
    geometry), then the exact normalized edit distance keeps pairs within
    30% of the longer text. The blocked-then-verify contract keeps the
    O(len²) Levenshtein off the all-pairs path — it runs once per
    candidate, and candidates are band-bounded."""
    docs = load(spark, sf_dir, "documents")
    cand = D.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=8, band_size=2
    )
    return L.edit_distance_verify(docs, "doc_id", "text", cand, max_dist_pct=30)


SQL_EDIT_DISTANCE = f"""
WITH cand AS ({_minhash_lsh_sql()}),
t AS (
    SELECT doc_id, lower(trim(text)) AS txt FROM documents
),
verified AS (
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(ta.txt, tb.txt) AS BIGINT) AS dist,
           CAST(greatest(len(ta.txt), len(tb.txt)) AS BIGINT) AS max_len
    FROM cand c
    JOIN t ta ON ta.doc_id = c.id_a
    JOIN t tb ON tb.doc_id = c.id_b
)
SELECT id_a, id_b, dist, max_len,
       (dist * 1000000) // greatest(max_len, 1) AS dist_pct_e4
FROM verified
WHERE dist * 100 <= 30 * max_len
"""


# ------------------------------------------------- canonical selection


def q_dedup_canonical_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best survivor per duplicate cluster: connected components
    over the 3-gram Jaccard pair graph (the ``dedup_clusters`` closure),
    then per cluster the member with the most characters (min doc_id
    tie-break) — quality-argmax selection, the production alternative to
    arbitrary min-id keeps. The argmax is a max_by-shaped grouped
    aggregation (map-side combined), not a window — a degenerate giant
    cluster costs a combine tree, not one task's buffer."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    clusters = D.duplicate_clusters(pairs)
    out = D.keep_best_per_cluster(clusters, docs, "doc_id", "n_chars")
    return out.select(
        "cluster_id",
        "cluster_size",
        "canonical_doc_id",
        F.col("canonical_quality").cast("long").alias("canonical_chars"),
    )


SQL_CANONICAL = f"""
WITH {_SQL_CLUSTERS_CTES},
members AS (
    SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
),
ranked AS (
    SELECT m.cluster_id, m.id, d.n_chars,
           row_number() OVER (
               PARTITION BY m.cluster_id
               ORDER BY d.n_chars DESC, m.id ASC) AS rn,
           count(*) OVER (PARTITION BY m.cluster_id) AS sz
    FROM members m JOIN documents d ON d.doc_id = m.id
)
SELECT cluster_id,
       CAST(sz AS BIGINT) AS cluster_size,
       id AS canonical_doc_id,
       CAST(n_chars AS BIGINT) AS canonical_chars
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------- blocked linkage


def q_linkage_blocked_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage report over the part dimension: block on the name's
    last token (the noun), match within blocks at Levenshtein ≤ 2, and
    report per-block candidate statistics — the audit a linkage pipeline
    emits before committing merges. Exercises
    ``linkage.blocked_fuzzy_pairs`` end-to-end (block cap, equi-join
    blocking, JVM Levenshtein)."""
    part = load(spark, sf_dir, "part")
    pairs = L.blocked_fuzzy_pairs(
        part,
        "p_partkey",
        "p_name",
        ["element_at(split(p_name, ' '), -1)"],
        max_dist=2,
    )
    return pairs.groupBy("block_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("dist") == 0).cast("long")).cast("long").alias("n_exact"),
        F.sum((F.col("dist") > 0).cast("long")).cast("long").alias("n_fuzzy"),
        F.max("dist").cast("long").alias("max_dist"),
    )


SQL_LINKAGE_REPORT = """
WITH p AS (
    SELECT p_partkey AS k, p_name AS n,
           string_split(p_name, ' ')[-1] AS block_key
    FROM part
),
sizes AS (
    SELECT block_key, count(*) AS bsz FROM p GROUP BY block_key
),
bounded AS (
    SELECT p.* FROM p JOIN sizes USING (block_key) WHERE bsz <= 10000
),
pairs AS (
    SELECT a.block_key, levenshtein(a.n, b.n) AS dist
    FROM bounded a
    JOIN bounded b ON a.block_key = b.block_key AND a.k < b.k
    WHERE levenshtein(a.n, b.n) <= 2
)
SELECT block_key,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
       CAST(max(dist) AS BIGINT) AS max_dist
FROM pairs GROUP BY block_key
"""


# --------------------------------------------------- shingle containment


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs: ``|A∩B| / min(|A|,|B|)`` ≥ 0.8 over
    3-gram shingles — catches subset duplication (quote inclusion,
    truncated re-crawls) that symmetric Jaccard under-scores by the
    length ratio. Exact-integer ratio; see
    ``operators/dedup.py::shingle_containment_pairs``."""
    docs = load(spark, sf_dir, "documents")
    return D.shingle_containment_pairs(
        docs, "doc_id", "text", n=3, threshold_e6=800_000
    )


# the _SQL_CLUSTERS_CTES fragment already builds the distinct-shingle
# relation ``sh``; reuse just the shingle CTEs via the llmops fragment
from .llmops import _SQL_SHINGLES  # noqa: E402

SQL_CONTAINMENT = f"""
WITH {_SQL_SHINGLES.strip()},
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter,
       sa.sz AS size_a, sb.sz AS size_b,
       (n_inter * 1000000) // least(sa.sz, sb.sz) AS containment_e6
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE (n_inter * 1000000) // least(sa.sz, sb.sz) >= 800000
"""


# --------------------------------------------------- cluster trust


_TRUSTED_SOURCES = ("src0", "src5", "src10", "src15")


def q_dedup_cluster_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust propagation through duplicate closures
    (``operators/dedup.py::cluster_trust``): every document — singleton
    or clustered — inherits the trusted-source share of its whole
    near-dup cluster (3-gram Jaccard ≥ 0.5 graph, the ``dedup_clusters``
    closure). The cluster-level complement to the per-doc source gate:
    a mirror of trusted content scores 1e6 even though its OWN domain is
    unknown; a spam cluster with one trusted false-positive scores near
    0."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    clusters = D.duplicate_clusters(pairs)
    out = D.cluster_trust(
        clusters, docs, "doc_id", F.col("source").isin(*_TRUSTED_SOURCES)
    )
    return out.withColumnRenamed("id", "doc_id").orderBy("doc_id")


_TRUSTED_IN = ", ".join(f"'{s}'" for s in _TRUSTED_SOURCES)

SQL_CLUSTER_TRUST = f"""
WITH {_SQL_CLUSTERS_CTES},
members AS (
    SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
),
alld AS (
    SELECT d.doc_id AS id,
           coalesce(m.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN d.source IN ({_TRUSTED_IN}) THEN 1 ELSE 0 END AS tr
    FROM documents d LEFT JOIN members m ON m.id = d.doc_id
),
agg AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
           CAST(sum(tr) AS BIGINT) AS n_trusted
    FROM alld GROUP BY cluster_id
)
SELECT a.id AS doc_id, a.cluster_id, g.cluster_size, g.n_trusted,
       CAST(g.n_trusted * 1000000 // g.cluster_size AS BIGINT) AS trust_e6,
       a.tr = 1 AS is_trusted
FROM alld a JOIN agg g USING (cluster_id)
"""


RETRIEVAL_QUERIES = {
    "text_bm25_topk": (q_text_bm25_topk, SQL_BM25),
    "dedup_edit_distance": (q_dedup_edit_distance, SQL_EDIT_DISTANCE),
    "dedup_canonical_select": (q_dedup_canonical_select, SQL_CANONICAL),
    "linkage_blocked_report": (q_linkage_blocked_report, SQL_LINKAGE_REPORT),
    "dedup_containment": (q_dedup_containment, SQL_CONTAINMENT),
    "dedup_cluster_trust": (q_dedup_cluster_trust, SQL_CLUSTER_TRUST),
}
