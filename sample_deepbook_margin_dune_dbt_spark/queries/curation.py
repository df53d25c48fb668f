"""Corpus-curation queries: repetition metrics, PII scrub, int8 quantization.

Beyond-reference LLM-data-pipeline surface (SURVEY §2.10), same driver
contract as ``queries/llmops.py``: each Spark builder is paired with DuckDB
oracle SQL that reproduces values bit-for-bit.

Determinism notes specific to this module:

- Ratio metrics are reported as ``floor(x * 10^k)`` bigints, NOT
  ``round(x, k)``: Spark's ``round`` on a double routes through the decimal
  shortest-string representation (``BigDecimal.valueOf`` + HALF_UP) while
  DuckDB rounds the binary value, so a ratio whose shortest representation
  ends in 5 at the k-th place (e.g. 13/160 = 0.08125) rounds differently.
  Both engines compute bit-identical doubles from the same integer inputs,
  so ``floor`` of the scaled value is always identical.
- The testdata documents contain no newlines and no PII (verified at
  sf0.01), so the repetition and PII queries plant deterministic content
  inline — identically in Spark and the oracle — the same non-vacuity
  pattern as ``_augment_near_dups`` in ``queries/llmops.py``. A metric
  query whose answer is structurally all-zero would hash-match vacuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import pii as P
from ..functions import text as T
from ..operators import bloom as B
from ..operators import quantize as Q
from ..operators.topk import topk
from .common import load

_SQL_FP64 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

# DuckDB twin of operators.dedup.shingles (3-gram, distinct, lower/trim) —
# same CTE as queries/llmops._SQL_SHINGLES, kept local to this module
_SQL_SHINGLES = """
toks AS (
    SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(w) >= 3 THEN concat_ws(' ', w[i], w[i+1], w[i+2])
                ELSE array_to_string(w, ' ') END AS s
    FROM toks, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
    ) g
)
"""

# ------------------------------------------------------- repetition metrics


def _augment_dup_lines(docs: DataFrame) -> DataFrame:
    """Plant duplicated lines in every 5th doc (testdata has no newlines)."""
    head = F.substring(F.col("text"), 1, 40)
    planted = F.concat(
        F.col("text"), F.lit("\n"), head, F.lit("\n"), head
    )
    return docs.withColumn(
        "t2", F.when(F.col("doc_id") % 5 == 0, planted).otherwise(F.col("text"))
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition rules: dup-line fraction, dup-line char
    fraction (over planted-line text), top-bigram fraction (over raw text).

    Narrow map, no shuffle — per-document metrics in one Arrow-batched
    pass (the r8 production twins of the Catalyst rules; ~10× on the
    sf0.1 scan, value-identical and parity-pinned — PERF.md r8).
    """
    docs = _augment_dup_lines(load(spark, sf_dir, "documents"))
    # Arrow production twins of the Catalyst rules (value-identical,
    # parity-pinned; the interpreted-HOF expressions cost ~1 ms/doc —
    # PERF.md r8). The Catalyst pair remains the oracle-shape reference.
    line_stats = T.dup_line_stats_vectorized(F.col("t2"))
    return docs.select(
        "doc_id",
        F.floor(line_stats["dup_line_frac"] * 10000)
        .cast("long")
        .alias("dup_line_frac_e4"),
        F.floor(line_stats["dup_char_frac"] * 10000)
        .cast("long")
        .alias("dup_char_frac_e4"),
        F.floor(T.top_bigram_frac_vectorized(F.col("text")) * 10000)
        .cast("long")
        .alias("top_bigram_frac_e4"),
    )


SQL_TEXT_REPETITION = """
WITH aug AS (
    SELECT doc_id, text,
           CASE WHEN doc_id % 5 = 0
                THEN text || chr(10) || substr(text, 1, 40)
                          || chr(10) || substr(text, 1, 40)
                ELSE text END AS t2
    FROM documents
),
t AS (
    SELECT doc_id,
           string_split(t2, chr(10)) AS l,
           string_split(lower(trim(text)), ' ') AS w
    FROM aug
),
b AS (
    SELECT doc_id, l,
           CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE CAST([] AS VARCHAR[]) END AS bg,
           len(w) - 1 AS nb
    FROM t
)
SELECT doc_id,
       CAST(floor((CASE WHEN len(l) > 0
                        THEN 1.0 - len(list_distinct(l)) / len(l)
                        ELSE 0.0 END) * 10000) AS BIGINT) AS dup_line_frac_e4,
       CAST(floor((CASE WHEN list_sum(list_transform(l, x -> length(x))) > 0
                        THEN list_sum(list_transform(l, x ->
                                 CASE WHEN len(list_filter(l, y -> y = x)) > 1
                                      THEN length(x) ELSE 0 END))
                             / list_sum(list_transform(l, x -> length(x)))
                        ELSE 0.0 END) * 10000) AS BIGINT) AS dup_char_frac_e4,
       CAST(floor((CASE WHEN nb >= 1
                        THEN list_max(list_transform(list_distinct(bg),
                                 x -> len(list_filter(bg, y -> y = x)))) / nb
                        ELSE 0.0 END) * 10000) AS BIGINT) AS top_bigram_frac_e4
FROM b
"""

# ------------------------------------------------------------- PII scrub


def _augment_pii(docs: DataFrame) -> DataFrame:
    """Plant one email + IPv4 + phone in every 7th doc (testdata has none)."""
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example.com or 10.0.0."),
        (did % 250 + 1).cast("string"),
        F.lit(" call +1-415-555-"),
        (did % 9000 + 1000).cast("string"),
    )
    return docs.withColumn(
        "t2", F.when(did % 7 == 0, planted).otherwise(F.col("text"))
    )


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII hit counts + fingerprint of the redacted text.

    Counts and redaction are pure Catalyst regex (``functions/pii.py``) —
    a zero-shuffle scrub pass. The fingerprint proves byte-identical
    redaction output without shipping full text through the compare.
    """
    docs = _augment_pii(load(spark, sf_dir, "documents"))
    counts = P.pii_counts(F.col("t2"))
    return docs.select(
        "doc_id",
        counts["n_email"].cast("long").alias("n_email"),
        counts["n_ipv4"].cast("long").alias("n_ipv4"),
        counts["n_phone"].cast("long").alias("n_phone"),
        T.fingerprint64(P.pii_redact(F.col("t2"))).alias("redacted_fp"),
    )


SQL_TEXT_PII = f"""
WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or 10.0.0.'
                     || CAST(doc_id % 250 + 1 AS VARCHAR)
                     || ' call +1-415-555-'
                     || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                ELSE text END AS t2
    FROM documents
),
red AS (
    SELECT doc_id, t2,
           regexp_replace(
               regexp_replace(
                   regexp_replace(t2,
                       '{P.EMAIL_RE}', '[EMAIL]', 'g'),
                   '{P.IPV4_RE}', '[IP]', 'g'),
               '{P.PHONE_RE}', '[PHONE]', 'g') AS r
    FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t2, '{P.EMAIL_RE}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t2, '{P.IPV4_RE}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t2, '{P.PHONE_RE}')) AS BIGINT) AS n_phone,
       {_SQL_FP64.format(x='r')} AS redacted_fp
FROM red
"""

# ------------------------------------------------- int8 embedding quantize


def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization manifest (4× compression).

    scale/err surfaced as floor-scaled bigints (see module docstring);
    the codes array is fingerprinted so parity certifies every element.
    """
    emb = load(spark, sf_dir, "embeddings")
    q = Q.quantize_embeddings(emb, "vec_id", "embedding")
    codes_str = F.concat_ws(
        ",", F.transform(F.col("codes"), lambda x: x.cast("string"))
    )
    return q.select(
        "vec_id",
        F.floor(F.col("scale") * 1e6).cast("long").alias("scale_e6"),
        T.fingerprint64(codes_str).alias("codes_fp"),
        F.floor(F.col("max_abs_err") * 1e6).cast("long").alias("err_e6"),
    )


SQL_EMB_QUANTIZE = f"""
WITH t AS (
    SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
    FROM embeddings
),
s AS (
    SELECT vec_id, e,
           CASE WHEN list_max(list_transform(e, v -> abs(v))) > 0
                THEN list_max(list_transform(e, v -> abs(v))) / 127.0
                ELSE 1.0 END AS scale
    FROM t
),
q AS (
    SELECT vec_id, e, scale,
           list_transform(e, v ->
               CAST(greatest(-127, least(127, CAST(floor(v / scale + 0.5) AS INTEGER))) AS INTEGER)
           ) AS codes
    FROM s
)
SELECT vec_id,
       CAST(floor(scale * 1000000) AS BIGINT) AS scale_e6,
       {_SQL_FP64.format(x="array_to_string(codes, ',')")} AS codes_fp,
       CAST(floor(list_max(list_transform(range(1, len(e) + 1),
                i -> abs(e[i] - codes[i] * scale))) * 1000000) AS BIGINT) AS err_e6
FROM q
"""


# ------------------------------------------------- Bloom decontamination

_BLOOM_BITS = 1 << 15
_BLOOM_K = 3


def q_text_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter twin of ``text_decontaminate``: the held-out set
    (same deterministic doc_id % 97 benchmark stand-in) folds into a
    constant 4 KiB filter and the corpus probes it as a pure narrow map —
    no explode, no join shuffle on the corpus side (``operators/bloom.py``).

    The oracle reproduces the exact filter semantics — including any
    false positive — via the equivalent position-set formulation over the
    same md5 hash family.
    """
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return B.bloom_decontaminate(
        docs, "doc_id", "text", bench, n=3, n_bits=_BLOOM_BITS, k=_BLOOM_K
    )


# Kirsch–Mitzenmacher double hashing, mirroring operators/bloom.py:
# one md5 per shingle, h1/step from disjoint 60-bit digest slices
_SQL_BLOOM_H1 = f"(CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {_BLOOM_BITS})"
_SQL_BLOOM_STEP = (
    f"((CAST(concat('0x', substr(md5(s), 17, 15)) AS BIGINT) % {_BLOOM_BITS}) * 2 + 1)"
)
_SQL_BLOOM_POS = f"(({_SQL_BLOOM_H1} + i * {_SQL_BLOOM_STEP}) % {_BLOOM_BITS})"

SQL_BLOOM_DECONTAMINATE = f"""
WITH {_SQL_SHINGLES.strip()},
bench AS (
    SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
),
ks AS (
    SELECT unnest(range(0, {_BLOOM_K})) AS i
),
posset AS (
    SELECT DISTINCT {_SQL_BLOOM_POS} AS p FROM bench CROSS JOIN ks
),
probed AS (
    SELECT sh.doc_id, sh.s,
           bool_and({_SQL_BLOOM_POS} IN (SELECT p FROM posset)) AS inbloom
    FROM sh CROSS JOIN ks
    GROUP BY sh.doc_id, sh.s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (WHERE inbloom) AS BIGINT) AS n_hits_bloom,
       (count(*) FILTER (WHERE inbloom)) > 0 AS flagged
FROM probed
GROUP BY doc_id
"""


# ----------------------------------------------------------- heavy hitters


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: the 20 highest-document-frequency 3-gram
    shingles (deterministic tiebreak: df desc, shingle asc).

    The boilerplate-discovery pass of corpus curation (find template
    strings worth stripping). Scale shape: per-doc shingles are already
    distinct arrays, the explode feeds a two-level (map-side-combined)
    count, and the top-20 is a TakeOrdered — no global sort materializes.
    A sketch tier (count-min / SpaceSaving) would bound memory further,
    but Spark exposes no SQL-side CMS probe, and the exact two-level agg
    already scales: the reduce side carries one row per DISTINCT shingle,
    not per occurrence.
    """
    from ..operators.dedup import _spread, shingles_vectorized

    docs = _spread(load(spark, sf_dir, "documents"), "doc_id")
    sh = docs.select(F.explode(shingles_vectorized(F.col("text"), 3)).alias("shingle"))
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(20)
    )


SQL_HEAVY_HITTERS = f"""
WITH {_SQL_SHINGLES.strip()}
SELECT s AS shingle, CAST(count(*) AS BIGINT) AS doc_freq
FROM sh
GROUP BY s
ORDER BY doc_freq DESC, shingle ASC
LIMIT 20
"""


# ------------------------------------------------------------------- TF-IDF


def q_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 inverse-document-frequency-weighted terms per document — the
    keyword/topic-signal extraction pass of corpus curation (and the
    vectorization front end of classic BM25/TF-IDF retrieval).

    Scoring is the rational-idf variant ``tf * (N·10^6 div df)`` with
    integer division on both engines — cross-engine exact, unlike
    ``tf·ln(N/df)`` whose libm rounding could flip a rank at a floor
    boundary. Within a fixed term the rational idf is the same monotone
    ordering as log-idf; across terms it weights rare terms more steeply
    (documented trade for bit-exactness).

    Scale shape: tf is the (doc_id, word) grouped count; df is a grouped
    count OVER the tf rows (one row per containing doc), map-side
    combined so the reduce side of the hottest word ("the", df ≈ N)
    carries partial counts, not df rows; then tf re-joins the vocabulary
    table on word. The join is the deliberate choice over a window count
    per word partition: both shuffle tf on word, but the hot-key
    partition of a WINDOW must be buffered whole (df("the") rows in one
    task — the skew cliff), while the join's fat partitions AQE
    skew-splits across tasks because the vocabulary side is one row per
    key. The vocabulary table is NOT broadcast: web-scale vocabularies
    run to 10^8+ terms. Cost of the formulation: the tokenize→tf
    pipeline feeds both join sides, so the df branch recomputes it — at
    lake scale materialize tf once (the `corpus_features` model pattern)
    and both branches read the one copy. The final top-3 is a grouped
    ``topk`` over each doc's own term list (bounded by the doc's
    vocabulary); the corpus row count enters as a broadcast scalar.
    """
    from ..operators.dedup import _spread

    docs = _spread(load(spark, sf_dir, "documents"), "doc_id")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word"),
    ).filter(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    vocab = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(vocab, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.expr("tf * ((n_docs * 1000000L) div df)"))
    )
    return topk(scored, 3, "score", "word", by=["doc_id"], keep=["tf", "df"]).select(
        "doc_id", "word", "tf", "df", "score", "rank"
    )


SQL_TFIDF = """
WITH toks AS (
    SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
),
words AS (
    SELECT doc_id, unnest(w) AS word FROM toks
),
tf AS (
    SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
    FROM words WHERE word <> '' GROUP BY 1, 2
),
dfreq AS (
    SELECT *, CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS df FROM tf
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, word, tf, df,
           tf * ((n.n_docs * 1000000) // df) AS score
    FROM dfreq CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rn
    FROM scored
)
SELECT doc_id, word, tf, df, CAST(score AS BIGINT) AS score,
       CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 3
"""


# --------------------------------------------------- composed curation rollup


def q_corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation rollup in ONE statement: per source, document
    and unique-content counts, token mass, quality mean, PII hit volume
    (over the planted-PII corpus), and the count of repetition-gate
    failures — the composition a curation dashboard reads. One shuffle
    (map-side partial agg on the low-cardinality source key); every input
    column is a narrow-map expression from the curation operator set.
    """
    docs = _augment_pii(load(spark, sf_dir, "documents"))
    counts = P.pii_counts(F.col("t2"))
    per_doc = docs.select(
        "source",
        T.fingerprint64(F.col("text")).alias("fp"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.floor(T.quality_score(F.col("text")) * 10000).cast("long").alias("q_e4"),
        (counts["n_email"] + counts["n_ipv4"] + counts["n_phone"])
        .cast("long")
        .alias("pii_hits"),
        (T.top_bigram_frac_vectorized(F.col("text")) > 0.1).cast("int").alias("rep_fail"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_unique"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.floor(F.avg("q_e4")).cast("long").alias("avg_quality_e4"),
        F.sum("pii_hits").cast("long").alias("pii_hits"),
        F.sum("rep_fail").cast("long").alias("n_repetition_flagged"),
    )


_SW = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS["en"])

_SQL_QUALITY_EXPR = """
    0.25 * (CASE WHEN length(text) >= 50 AND length(text) <= 100000 THEN 1.0
                 WHEN length(text) > 0 THEN 0.5 ELSE 0.0 END)
  + 0.25 * (CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)
                 ELSE 0.0 END)
  + 0.25 * (CASE WHEN len(list_filter(w, x -> x IN ({sw}))) > 0 THEN 1.0 ELSE 0.0 END)
  + 0.25 * (1.0 - CASE WHEN len(w) > 0
                       THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                       ELSE 0.0 END)
"""

SQL_CURATION_REPORT = f"""
WITH aug AS (
    SELECT doc_id, source, text,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or 10.0.0.'
                     || CAST(doc_id % 250 + 1 AS VARCHAR)
                     || ' call +1-415-555-'
                     || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                ELSE text END AS t2
    FROM documents
),
t AS (
    SELECT source, text, t2,
           string_split(lower(trim(text)), ' ') AS w
    FROM aug
),
b AS (
    SELECT source, text, t2, w,
           CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE CAST([] AS VARCHAR[]) END AS bg
    FROM t
),
per_doc AS (
    SELECT source,
           {_SQL_FP64.format(x='text')} AS fp,
           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
           CAST(floor(({_SQL_QUALITY_EXPR.format(sw=_SW)}) * 10000) AS BIGINT) AS q_e4,
           CAST(len(regexp_extract_all(t2, '{P.EMAIL_RE}'))
              + len(regexp_extract_all(t2, '{P.IPV4_RE}'))
              + len(regexp_extract_all(t2, '{P.PHONE_RE}')) AS BIGINT) AS pii_hits,
           CASE WHEN len(w) >= 2
                 AND list_max(list_transform(list_distinct(bg),
                         x -> len(list_filter(bg, y -> y = x)))) / (len(w) - 1) > 0.1
                THEN 1 ELSE 0 END AS rep_fail
    FROM b
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(floor(avg(q_e4)) AS BIGINT) AS avg_quality_e4,
       CAST(sum(pii_hits) AS BIGINT) AS pii_hits,
       CAST(sum(rep_fail) AS BIGINT) AS n_repetition_flagged
FROM per_doc
GROUP BY source
"""


# ------------------------------------------------- unicode normalization


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization cleanup over planted-dirty text: decomposed
    Unicode (e + combining acute), tab/space runs, and a control byte are
    appended deterministically (same non-vacuity pattern as the PII
    query), then ``clean_text`` must NFC-compose, strip, and collapse —
    checked bit-for-bit against DuckDB's ``nfc_normalize``."""
    docs = load(spark, sf_dir, "documents")
    # planted decomposed on purpose (e + U+0301 - matches the oracle's
    # chr(769)) so raw lengths agree and NFC has real work to do
    dirty = F.concat(
        F.col("text"), F.lit("  café\t"), F.lit(chr(1)), F.lit("zz")
    )
    return docs.select(
        "doc_id",
        F.length(dirty).cast("long").alias("n_chars_raw"),
        T.clean_text(dirty).alias("text_clean"),
    ).withColumn("n_chars_clean", F.length("text_clean").cast("long"))


SQL_TEXT_NORMALIZE = """
WITH dirty AS (
    SELECT doc_id,
           text || '  cafe' || chr(769) || chr(9) || chr(1) || 'zz' AS t
    FROM documents
)
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_chars_raw,
       trim(regexp_replace(
           regexp_replace(nfc_normalize(t),
               '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
           '[ \\t\\n\\r]+', ' ', 'g')) AS text_clean,
       CAST(length(trim(regexp_replace(
           regexp_replace(nfc_normalize(t),
               '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
           '[ \\t\\n\\r]+', ' ', 'g'))) AS BIGINT) AS n_chars_clean
FROM dirty
"""


# -------------------------------------------------- curriculum buckets


def q_corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered curriculum assignment: exact global rank by
    (quality score, doc_id) via the distributed range-rank operator (no
    SinglePartition window), then 10 even buckets by integer arithmetic —
    the quality-tiered ordering curriculum-learning schedules consume."""
    from ..operators.ordering import global_value_rank

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.floor(T.quality_score(F.col("text")) * 10000).cast("long").alias("quality_e4"),
    ).localCheckpoint()  # materialize the narrow (id, score) projection
    # ONCE: the count probe, the range-partitioner's sampling pass, and
    # the rank pass would otherwise EACH re-evaluate the quality features
    # — i.e. re-read the corpus text (KBs/row) three times for a
    # 16-byte/row result. Checkpointing the projection is the scale play,
    # not just a local win (measured 1.65 → ~1.0 s at sf0.1)
    total = scored.count()  # one bounded scalar job; SQL twin: scalar subquery
    # range partitions sized to the data (~100k rows each, floor 8): the
    # global rank is exact under ANY partition count (window-equivalence
    # tested), so the count only tunes task granularity — a constant 64
    # paid 3 s of empty-task overhead at sf0.1 while a 100 TB corpus
    # wants thousands (cap keeps the offset collect bounded)
    n_parts = max(8, min(4096, total // 100_000 + 1))
    ranked = global_value_rank(
        scored, ["quality_e4", "doc_id"], n_partitions=n_parts, rank_col="rank"
    )
    return ranked.select(
        "doc_id",
        "quality_e4",
        "rank",
        # integer `div`, matching the oracle's `//` — a truncated double
        # quotient can differ from the exact integer result at scale
        F.expr(f"(rank - 1) * 10 div {int(total)}L").alias("bucket"),
    )


def _curriculum_sql() -> str:
    from .llmops import SQL_QUALITY

    return f"""
WITH q AS ({SQL_QUALITY}),
r AS (
    SELECT doc_id, quality_e4,
           CAST(row_number() OVER (ORDER BY quality_e4, doc_id) AS BIGINT) AS rank
    FROM q
)
SELECT doc_id, quality_e4, rank,
       CAST(((rank - 1) * 10) // (SELECT count(*) FROM q) AS BIGINT) AS bucket
FROM r
"""


# ------------------------------------------------------ snapshot diffing


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two deterministic corpus snapshots derived from ``documents``:
    docs with ``doc_id % 13 == 0`` exist only in the new snapshot
    (added), ``% 10 == 0`` only in the old (removed), ``% 7 == 0`` have
    uppercased text in the old (changed); the rest are unchanged."""
    from ..operators.snapshot import snapshot_diff

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    )
    new = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text", "lang")
    return snapshot_diff(old, new, "doc_id", ["text", "lang"])


# per-process cache for q_corpus_version_diff: abs sf_dir -> (warehouse, store)
_VDIFF_STORE_CACHE: dict[str, object] = {}


def q_corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-diff THROUGH the table store's commit history
    (VERDICT r10 item 4): the same two deterministic corpus snapshots as
    :func:`q_corpus_snapshot_diff`, but committed as VERSION 1 and
    VERSION 2 of one ``TableStore(history=True)`` table and diffed via
    ``store.diff(v_old=1, v_new=2)`` — the lakehouse "what changed in
    this commit?" audit as a consumer-facing query. The oracle is
    byte-identical to the path-pair variant's, so a driver/parity hash
    match pins ``diff(v1, v2) ≡ snapshot_diff`` of materialized copies.

    The tiny warehouse with history is cached per-process per sf_dir (same
    lifecycle discipline as ``q_corpus_shard_audit``): versions are
    immutable, so later invocations and earlier lazy DataFrames all read
    the same committed snapshots.
    """
    import atexit
    import os
    import shutil
    import tempfile

    from ..engine.materialize import TableStore

    key = os.path.abspath(sf_dir)
    store = _VDIFF_STORE_CACHE.get(key)
    if store is None:
        root = tempfile.mkdtemp(prefix="corpus_version_diff_")
        atexit.register(shutil.rmtree, root, True)
        store = TableStore(spark, root, history=True)
        docs = load(spark, sf_dir, "documents")
        old = docs.filter(F.col("doc_id") % 13 != 0).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text")))
            .otherwise(F.col("text"))
            .alias("text"),
            "lang",
        )
        new = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text", "lang")
        store.write_full(old, "corpus_snap")
        store.write_full(new, "corpus_snap")
        _VDIFF_STORE_CACHE[key] = store
    return store.diff("corpus_snap", "doc_id", ["text", "lang"], v_old=1, v_new=2)


SQL_SNAPSHOT_DIFF = """
WITH old AS (
    SELECT doc_id,
           md5(concat_ws(chr(31),
               CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END,
               lang)) AS old_fp
    FROM documents WHERE doc_id % 13 <> 0
),
new AS (
    SELECT doc_id, md5(concat_ws(chr(31), text, lang)) AS new_fp
    FROM documents WHERE doc_id % 10 <> 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_fp IS NULL THEN 'added'
            WHEN n.new_fp IS NULL THEN 'removed'
            WHEN o.old_fp <> n.new_fp THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.old_fp, n.new_fp
FROM old o FULL OUTER JOIN new n USING (doc_id)
"""


CURATION_QUERIES = {
    "text_normalize": (q_text_normalize, SQL_TEXT_NORMALIZE),
    "corpus_curriculum": (q_corpus_curriculum, _curriculum_sql()),
    "corpus_snapshot_diff": (q_corpus_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "corpus_version_diff": (q_corpus_version_diff, SQL_SNAPSHOT_DIFF),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "text_pii_redact": (q_text_pii_redact, SQL_TEXT_PII),
    "emb_quantize_int8": (q_emb_quantize_int8, SQL_EMB_QUANTIZE),
    "text_bloom_decontaminate": (
        q_text_bloom_decontaminate,
        SQL_BLOOM_DECONTAMINATE,
    ),
    "corpus_curation_report": (q_corpus_curation_report, SQL_CURATION_REPORT),
    "text_heavy_hitters": (q_text_heavy_hitters, SQL_HEAVY_HITTERS),
    "text_tfidf_topterms": (q_text_tfidf_topterms, SQL_TFIDF),
}
