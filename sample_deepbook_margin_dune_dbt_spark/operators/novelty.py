"""Inter-document novelty scoring: what does each document ADD?

The reference repo's surface is SQL aggregation over exchange events
(reference ``models/deepbook_margin/daily/*.sql`` — Jinja-SQL rollups);
a training-data pipeline additionally wants an *information-contribution*
signal per document: what fraction of a document's content is FIRST SEEN
in that document, scanning the corpus in a deterministic order (doc_id —
in production, crawl timestamp). Low-novelty documents are rehashes of
earlier content even when no single earlier document is a near-duplicate
(the Jaccard/MinHash tiers in ``operators/dedup.py`` only catch pairwise
similarity; novelty is a set-cover-style corpus-cumulative signal, the
shape used for "new information" curation passes over web crawls).

Semantics: with S(d) the distinct word n-gram shingles of document d
(same shingle definition as every other shingle consumer —
``operators/dedup.py::shingles``), a shingle s is *novel in d* iff
``d = min{d' : s ∈ S(d')}``. Per document:

    novelty(d) = |{s ∈ S(d) : s novel in d}| / |S(d)|

The first document is fully novel by construction; an exact duplicate of
any earlier document scores 0.

Scale shape (100 TB corpus, 1000 executors):

- One pass computes per-doc shingle sets (Arrow-vectorized
  ``shingles_vectorized``, ~1 µs/shingle), explodes
  them, and fingerprints each shingle to 8 bytes (``xxhash64`` — the
  exchange-width discipline every shingle tier follows; the fingerprint
  never reaches the output).
- First owner per shingle is ``groupBy(s).agg(min(id))`` — a pure HASH
  aggregate with map-side partials. (The first formulation used a
  min-only window inside the shingle exchange; WindowExec SORTS its
  partition input even for an unordered frame, and that sort was the
  measured 100× floor. The hash-agg form also partially aggregates a
  boilerplate shingle shared by millions of docs on the map side
  instead of landing it whole in one window partition.)
- Novel counts are a second grouped count over the owners table
  (distinct-shingle-sized), per-doc totals a grouped count on doc_id,
  and the two meet in an id equi-join — every exchange carries int64s
  only, every aggregate map-side combines.
- Everything is exact integer output (counts and a fixed-point 1e6
  ratio), so the result hash-compares against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingles_vectorized


def shingle_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document first-occurrence novelty over word ``n``-gram shingles.

    Returns ``(id, n_shingles, n_novel, novelty_e6)`` — one row per input
    document; ``novelty_e6 = n_novel * 1e6 div n_shingles`` (fixed-point,
    exact in int64: n_novel ≤ n_shingles ≤ ~1e6 per doc). Shingles come
    from the Arrow twin ``shingles_vectorized``.
    """
    from .dedup import _spread

    # balance the CPU-heavy Arrow shingle batch across cores before BOTH
    # consumers below — file-split partitioning left the 100× fixture's
    # UDF pass 15-wide with a straggler (the same measured failure the
    # DSIR feature pass fixed; ~25 s/pass → ~4 s)
    base = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")), "id"
    )
    # ONE shingle-UDF execution feeds both consumers: the (id, fp-array)
    # projection is materialized via localCheckpoint — 8 bytes per
    # shingle (xxhash64 inside a transform lambda, the r7 span-tier /
    # r9 jaccard-join exchange discipline; the fingerprint never reaches
    # the output, so the string-keyed oracle stays exact up to 64-bit
    # collisions — none at the oracle scale factors). Without the
    # materialization Spark recomputes the Arrow batch once per branch
    # (the n_shingles scan AND the owners exchange), which doubled the
    # dominant cost at the 100× fixture. At warehouse scale the same
    # staging is a persisted projection table. DISK_ONLY (r10): the
    # default MEMORY_AND_DISK blocks pin the unified region against
    # downstream hash builds at the fourth decade — PERF.md r10
    # finding 2 (the jaccard staging hit it first; same shape here).
    from pyspark.storagelevel import StorageLevel

    staged = base.select(
        "id",
        F.transform(
            shingles_vectorized(F.col("_t"), n), lambda c: F.xxhash64(c)
        ).alias("_fps"),
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    sh = staged.select("id", F.explode("_fps").alias("s"))
    # first owner per shingle, then novel counts per owner — pure
    # HASH-aggregates, both map-side combined. The previous min-only
    # window formulation paid a full sort by shingle key inside the
    # exchange (WindowExec sorts its partition input even for an
    # unordered frame) — that sort, not the exchange width, was the
    # measured 100× floor. groupBy(min) gets the same first owner with
    # no sort anywhere; a boilerplate shingle shared by millions of
    # docs partially aggregates map-side instead of landing whole in
    # one window partition — strictly better skew behavior too.
    owners = sh.groupBy("s").agg(F.min("id").alias("owner"))
    novel = owners.groupBy(F.col("owner").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    # per-doc totals come from the ARRAY SIZE in a narrow scan — never
    # from a second explode+groupBy over the corpus-sized shingle rows
    # (that re-executed the whole Arrow pipeline and doubled the
    # dominant cost at the 100× fixture)
    per_doc = staged.select(
        "id", F.size("_fps").cast("long").alias("n_shingles")
    ).filter(F.col("n_shingles") > 0)
    return (
        per_doc.join(novel, "id", "left")
        .withColumn("n_novel", F.coalesce(F.col("n_novel"), F.lit(0)).cast("long"))
        .withColumn("novelty_e6", F.expr("n_novel * 1000000L div n_shingles"))
        .select("id", "n_shingles", "n_novel", "novelty_e6")
    )
