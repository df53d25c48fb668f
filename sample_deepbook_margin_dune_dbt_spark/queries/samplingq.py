"""Driver queries for the deterministic sampling operators.

Every query is exactly reproducible in DuckDB because the sampling
variate is the md5-derived uniform (``operators/sampling.py``), not an
RNG — the oracles run the same hash arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sampling as SM
from .common import event_ts_us, load


def q_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25% reproducible Bernoulli sample of documents, keyed on doc_id."""
    docs = load(spark, sf_dir, "documents")
    return SM.hash_sample(docs, "doc_id", 0.25, salt="bench").select(
        "doc_id", "lang", "source"
    )


_SQL_BERNOULLI = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {SM.sql_hash_uniform('doc_id', salt='bench')} < 0.25
"""


def q_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split census: rows per (split, lang) under a 10/10 val/test split."""
    docs = load(spark, sf_dir, "documents")
    split = SM.train_val_test_split(docs, "doc_id", val_fraction=0.1, test_fraction=0.1)
    return split.groupBy("split", "lang").agg(F.count("*").alias("n"))


_U_SPLIT = SM.sql_hash_uniform("doc_id", salt="split")
_SQL_TVT = f"""
SELECT CASE WHEN {_U_SPLIT} < 0.1 THEN 'test'
            WHEN {_U_SPLIT} < 0.2 THEN 'val'
            ELSE 'train' END AS split,
       lang,
       count(*) AS n
FROM documents
GROUP BY 1, 2
"""


def q_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix balancing: at most 5 docs per (lang, source) cell,
    selected deterministically by hash order."""
    docs = load(spark, sf_dir, "documents")
    return SM.stratified_quota_sample(
        docs, ["lang", "source"], n_per_stratum=5, key_col="doc_id", salt="quota"
    ).select("lang", "source", "doc_id")


_U_QUOTA = SM.sql_hash_uniform("doc_id", salt="quota")
_SQL_QUOTA = f"""
SELECT lang, source, doc_id
FROM (
    SELECT lang, source, doc_id,
           row_number() OVER (
               PARTITION BY lang, source
               ORDER BY {_U_QUOTA} ASC, doc_id ASC
           ) AS qrn
    FROM documents
)
WHERE qrn <= 5
"""

def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted training mix: 10 docs per source, inclusion odds
    proportional to document length (Efraimidis–Spirakis keys) — longer
    docs preferred but the draw stays reproducible and without
    replacement."""
    docs = load(spark, sf_dir, "documents")
    return SM.weighted_sample(
        docs, key_col="doc_id", weight_col="n_chars", n=10, strata_cols=["source"]
    ).select("source", "doc_id", "n_chars")


_U_W = SM.sql_hash_uniform("doc_id", salt="wsample")
_SQL_WEIGHTED = f"""
SELECT source, doc_id, n_chars
FROM (
    SELECT source, doc_id, n_chars,
           row_number() OVER (
               PARTITION BY source
               ORDER BY pow({_U_W}, 1.0 / CAST(n_chars AS DOUBLE)) DESC, doc_id ASC
           ) AS wrn
    FROM documents WHERE n_chars > 0
)
WHERE wrn <= 10
"""

def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split variate is keyed on
    the CONTENT fingerprint, not the row id, so every copy of a
    duplicated document lands in the same split — a doc_id-keyed split
    would scatter near-identical training text into the eval sets (the
    classic train/test contamination channel). Planted duplicate docs
    (same non-vacuity pattern as the curation queries) make the
    co-assignment observable: ``n_docs > n_contents`` in whichever
    splits received a duplicated text, never a fingerprint straddling
    two splits (pinned in ``tests/test_sampling.py``).

    Scale shape: md5 + split assignment are a narrow map; the census is
    one grouped count. Fingerprint-keyed splitting needs no dedup pass
    first — the hash of equal content is equal, period.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    keyed = docs.unionByName(dups).withColumn("fp", F.md5("text"))
    split = SM.train_val_test_split(
        keyed, "fp", val_fraction=0.1, test_fraction=0.1
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_contents"),
    )


_U_FP = SM.sql_hash_uniform("fp", salt="split")
_SQL_LEAKAGE_SAFE = f"""
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20
),
keyed AS (SELECT doc_id, md5(text) AS fp FROM base),
s AS (
    SELECT doc_id, fp,
           CASE WHEN {_U_FP} < 0.1 THEN 'test'
                WHEN {_U_FP} < 0.2 THEN 'val'
                ELSE 'train' END AS split
    FROM keyed
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_contents
FROM s
GROUP BY 1
"""


def q_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-safe train/val/test split — the fuzzy tier above
    ``sample_split_leakage_safe``: the split variate is keyed on the
    NEAR-DUP CLUSTER id (3-gram Jaccard ≥ 0.5 closure), so a paraphrase
    or truncated re-crawl of a training document can never land in the
    eval split. The fingerprint-keyed split only co-assigns EXACT
    copies; fuzzy duplicates straddling train/eval are the subtler
    contamination channel (Lee et al. 2022 measure the resulting eval
    inflation), and closing it needs the closure, not the hash.

    Output: per-split census ``(split, n_docs, n_clusters)`` — the
    no-straddle property is structural (equal key ⇒ equal split) and
    pinned on planted near-dups (NOT exact copies) in
    ``tests/test_dsir_transitions.py``.

    Scale shape: the pair graph + contracted CC is the same machinery
    the dedup tiers already budget (and the incremental models
    maintain cross-run); the split itself is a narrow map keyed on the
    16-byte cluster row and the census one map-side-combined count.
    """
    from ..operators import dedup as D

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    clusters = D.duplicate_clusters(pairs)
    keyed = (
        docs.join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    split = SM.train_val_test_split(
        keyed, "cluster_id", val_fraction=0.1, test_fraction=0.1
    )
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
        .orderBy("split")
    )


def _sql_cluster_safe() -> str:
    from .llmops import _SQL_CLUSTERS_CTES

    u = SM.sql_hash_uniform("cluster_id", salt="split")
    return f"""
WITH {_SQL_CLUSTERS_CTES},
members AS (
    SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
),
keyed AS (
    SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN members m ON m.id = d.doc_id
),
s AS (
    SELECT doc_id, cluster_id,
           CASE WHEN {u} < 0.1 THEN 'test'
                WHEN {u} < 0.2 THEN 'val'
                ELSE 'train' END AS split
    FROM keyed
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
FROM s
GROUP BY 1
"""


def q_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (forecasting-safe) split audit: events before the 80%
    point of the corpus's own time range train, the rest are held out
    (``operators/sampling.py::temporal_split`` — exact-integer cutoff,
    no wall clock), reported per user: event counts per side and a
    ``straddles`` flag marking users whose history crosses the boundary
    — exactly the users a sequence model must NOT see whole (their
    holdout events are the future of their training events; the flag
    drives per-user truncation or exclusion downstream). The per-user
    rollup is one map-side-combined groupBy on user_id."""
    ev = load(spark, sf_dir, "events").withColumn("ts_us", event_ts_us())
    labeled = SM.temporal_split(ev, "ts_us", train_frac_e6=800_000)
    return (
        labeled.groupBy("user_id")
        .agg(
            F.sum((F.col("split") == "train").cast("long"))
            .cast("long")
            .alias("n_train"),
            F.sum((F.col("split") == "holdout").cast("long"))
            .cast("long")
            .alias("n_holdout"),
        )
        .withColumn(
            "straddles", (F.col("n_train") > 0) & (F.col("n_holdout") > 0)
        )
        .orderBy("user_id")
    )


_SQL_TEMPORAL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us FROM events
),
s AS (
    SELECT CAST(min(ts_us) AS BIGINT) AS mn, CAST(max(ts_us) AS BIGINT) AS mx
    FROM ev
),
lab AS (
    SELECT user_id,
           CASE WHEN ts_us < mn + ((mx - mn) // 1000000) * 800000
                         + (((mx - mn) % 1000000) * 800000) // 1000000
                THEN 'train' ELSE 'holdout' END AS split
    FROM ev CROSS JOIN s
)
SELECT user_id,
       CAST(count(*) FILTER (split = 'train') AS BIGINT) AS n_train,
       CAST(count(*) FILTER (split = 'holdout') AS BIGINT) AS n_holdout,
       count(*) FILTER (split = 'train') > 0
           AND count(*) FILTER (split = 'holdout') > 0 AS straddles
FROM lab
GROUP BY user_id
ORDER BY user_id
"""


SAMPLING_QUERIES = {
    "sample_hash_bernoulli": (q_hash_bernoulli, _SQL_BERNOULLI),
    "sample_split_leakage_safe": (q_split_leakage_safe, _SQL_LEAKAGE_SAFE),
    "sample_split_cluster_safe": (q_split_cluster_safe, _sql_cluster_safe()),
    "sample_train_val_test": (q_train_val_test, _SQL_TVT),
    "sample_stratified_quota": (q_stratified_quota, _SQL_QUOTA),
    "sample_weighted": (q_weighted_sample, _SQL_WEIGHTED),
    "sample_split_temporal": (q_split_temporal, _SQL_TEMPORAL),
}
