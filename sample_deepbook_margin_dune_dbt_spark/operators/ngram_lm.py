"""Corpus-trained n-gram LM familiarity scoring — the learned quality
filter tier (CCNet-style: Wenzek et al. 2020 filter CommonCrawl by the
perplexity of a LM trained on a reference corpus; here the reference is a
reproducible hash split of the corpus itself).

Deliberately integer-only: instead of log-probability perplexity (whose
``ln`` is libm-dependent and so not bit-reproducible across engines), a
document's quality signal is (a) the average corpus-wide occurrence count
of its bigrams — machine-generated or pathological text is built from
bigrams the training split never produced — and (b) its out-of-vocabulary
bigram rate. Both are exact integer arithmetic, so the DuckDB oracle
hash-matches.

Scale shape: the bigram count table is vocabulary-bounded (Heaps' law —
sublinear in corpus size, shuffled once with map-side combine); scoring is
a fingerprint equi-join (8-byte keys, AQE-skew-splittable — hot stopword
bigrams skew the probe side, and an equi-join splits where a count-over-
window would pin each hot fingerprint to one task); per-doc aggregation is
map-side combined. No driver-side collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint64
from .dedup import ws_tokens_exact
from .sampling import hash_sample


def _bigram_fps(text_col: str) -> F.Column:
    # guard: sequence(0, -1) is a DESCENDING sequence in Spark, so a
    # sub-bigram document must short-circuit to an empty array
    toks = ws_tokens_exact(text_col)
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: fingerprint64(F.concat_ws(" ", F.slice(toks, i + 1, 2))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def py_bigram_fps(text: str | None) -> list[int]:
    """Pure-Python twin of :func:`_bigram_fps` — element- and
    order-identical. Tokenization parity with ``ws_tokens_exact``
    (``split(lower(trim(x)), ' ')``: trim strips U+0020 only; the
    single-space split keeps empty tokens from space runs on both
    engines); fingerprint parity with ``fingerprint64``
    (``int(md5_hex[:15], 16)`` ≤ 60 bits, positive). A Catalyst NULL
    flows to the empty-array guard; ``None`` maps the same here."""
    import hashlib

    toks = (text if text is not None else "").strip(" ").lower().split(" ")
    if len(toks) < 2:
        return []
    return [
        int(hashlib.md5((a + " " + b).encode("utf-8")).hexdigest()[:15], 16)
        for a, b in zip(toks, toks[1:])
    ]


def bigram_fps_vectorized(text_col: str) -> F.Column:
    """Arrow twin of :func:`_bigram_fps` — identical ``array<bigint>``
    values and order, following the r9 ``shingles_vectorized`` precedent:
    the Catalyst form's per-bigram ``slice``/``concat_ws``/md5 HOF chain
    is CodegenFallback (~the same interpreted floor the shingle consumers
    paid); the Arrow batch computes md5 fingerprints in Python at
    ~1 µs/bigram. The Catalyst form stays the engine-portable
    oracle-shape reference; bit-parity is pinned by tests."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _f(s):  # type: ignore[no-untyped-def]
        return pd.Series([py_bigram_fps(t) for t in s])

    return _f(F.col(text_col))


def bigram_lm_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    train_frac: float = 0.5,
    salt: str = "lm",
) -> DataFrame:
    """Bigram occurrence counts over a reproducible hash split.

    The split is ``hash_uniform(id) < train_frac`` — stable across runs,
    engines, and repartitioning, so retraining on the same corpus always
    reproduces the same table. Returns ``(bigram_fp, c)``.
    """
    from .dedup import _spread

    # balance the CPU-heavy Arrow fingerprint batch across cores (small
    # corpora arrive as one file → one partition)
    train = _spread(
        hash_sample(df, id_col, train_frac, salt).select(id_col, text_col), id_col
    )
    # no token-count pre-filter: the fps builder already yields an empty
    # array for sub-bigram docs, which explode drops
    return (
        train.select(F.explode(bigram_fps_vectorized(text_col)).alias("bigram_fp"))
        .groupBy("bigram_fp")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stats: DataFrame,
) -> DataFrame:
    """Score every document (with >= 1 bigram) against trained counts.

    Output per doc: ``n_bigrams``, ``familiar_sum`` (sum of corpus counts
    over the doc's bigram occurrences), ``avg_bigram_count``
    (``familiar_sum div n_bigrams`` — low for unnatural text), and
    ``oov_ppm`` (parts-per-million of bigrams absent from the training
    split). Training docs score against counts that include their own
    contribution — the standard corpus-familiarity convention; pass a
    disjoint split to ``bigram_lm_stats`` for held-out scoring.
    """
    from .dedup import _spread

    occ = _spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col), F.explode(bigram_fps_vectorized(text_col)).alias("bigram_fp")
    )
    joined = occ.join(stats, "bigram_fp", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.coalesce("c", F.lit(0))).cast("long").alias("familiar_sum"),
        F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("_oov"),
    ).select(
        id_col,
        "n_bigrams",
        "familiar_sum",
        F.expr("familiar_sum div n_bigrams").cast("long").alias("avg_bigram_count"),
        F.expr("(_oov * 1000000) div n_bigrams").cast("long").alias("oov_ppm"),
    )
