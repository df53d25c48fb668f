"""Corpus-curation operators: repetition metrics, PII scrub, int8 quantize.

Unit semantics on crafted rows + the scale-critical invariants (error
bounds, full-redaction) the oracle parity check can't express.
Oracle value parity itself runs in test_oracle_parity.py (FULL_QUERIES).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.functions import pii as P
from sample_deepbook_margin_dune_dbt_spark.functions import text as T
from sample_deepbook_margin_dune_dbt_spark.operators import quantize as Q


def test_repetition_metrics_on_crafted_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),          # 3 lines, 'a b' twice
            (2, "x y z"),                  # no dup lines, no repeated bigram
            (3, "go go go go"),            # modal bigram 'go go' = 3/3
            (4, "solo"),                   # single token: no bigrams
        ],
        ["id", "t"],
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            T.dup_line_frac("t").alias("dl"),
            T.dup_line_char_frac("t").alias("dc"),
            T.top_bigram_frac("t").alias("tb"),
        ).collect()
    }
    assert out[1]["dl"] == pytest.approx(1 / 3)       # 2 distinct of 3
    assert out[1]["dc"] == pytest.approx(6 / 9)       # 'a b' chars 3+3 of 9
    assert out[2]["dl"] == 0.0 and out[2]["tb"] == pytest.approx(1 / 2)
    assert out[3]["tb"] == pytest.approx(1.0)         # 'go go' 3 of 3
    assert out[4]["tb"] == 0.0


def test_pii_redaction_removes_every_match(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@sub.example.co.uk now"),
            (2, "ip 10.0.0.255 and 1.2.3.4."),
            (3, "call +44-123-456-7890 twice +1-800-555-0100"),
            (4, "clean text, no pii at all"),
            (5, "mixed x@y.io 8.8.8.8 +1-222-333-4444"),
        ],
        ["id", "t"],
    )
    red = df.select(
        "id",
        P.pii_counts("t").alias("c"),
        P.pii_redact("t").alias("r"),
    )
    rows = {r["id"]: r for r in red.collect()}
    assert rows[1]["c"]["n_email"] == 1 and "[EMAIL]" in rows[1]["r"]
    assert rows[2]["c"]["n_ipv4"] == 2 and rows[2]["r"].count("[IP]") == 2
    assert rows[3]["c"]["n_phone"] == 2
    assert rows[4]["r"] == "clean text, no pii at all"
    # after redaction, a second scan must find nothing
    rescan = red.select(P.pii_counts("r").alias("c2")).collect()
    assert all(
        r["c2"]["n_email"] == 0 and r["c2"]["n_ipv4"] == 0 and r["c2"]["n_phone"] == 0
        for r in rescan
    )


def test_int8_quantize_error_bound_and_roundtrip(spark, sf_dir):
    """|v - q·scale| ≤ scale/2 for every element (symmetric scale ⇒ the
    clamp never binds), and all-zero vectors stay representable."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    zero = spark.createDataFrame(
        [(10_000_000, [0.0] * 8, 0)], ["vec_id", "embedding", "label"]
    ).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"), "label"
    )
    q = Q.quantize_embeddings(emb.unionByName(zero), "vec_id", "embedding")
    bad = q.where(F.col("max_abs_err") > F.col("scale") / 2 * (1 + 1e-9)).count()
    assert bad == 0
    z = q.where(F.col("vec_id") == 10_000_000).collect()[0]
    assert z["scale"] == 1.0 and set(z["codes"]) == {0} and z["max_abs_err"] == 0.0
    # codes stay in the symmetric int8 range
    rng = q.select(
        F.min(F.array_min("codes")).alias("lo"), F.max(F.array_max("codes")).alias("hi")
    ).collect()[0]
    assert rng["lo"] >= -127 and rng["hi"] <= 127


def test_quantize_compression_ratio(spark, sf_dir):
    """The manifest's codes are 1 byte/dim vs 4 — assert the logical 4×."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(1)
    row = Q.quantize_embeddings(emb, "vec_id", "embedding").collect()[0]
    dim = len(row["codes"])
    assert dim > 0  # int8 codes + one float64 scale vs float32*dim
    assert dim * 1 + 8 < dim * 4


def test_bloom_no_false_negatives_and_exact_hash_family(spark):
    """Every inserted value must probe true; probe results must equal an
    independent Python simulation of the same md5 position family
    (including false positives on a deliberately tiny filter)."""
    import hashlib

    from sample_deepbook_margin_dune_dbt_spark.operators import bloom as B

    n_bits, k = 256, 2  # tiny on purpose: false positives likely
    held = [f"value-{i}" for i in range(40)]
    probes = held + [f"other-{i}" for i in range(200)]
    held_df = spark.createDataFrame([(v,) for v in held], ["v"])
    probe_df = spark.createDataFrame([(v,) for v in probes], ["v"])

    bf = F.broadcast(B.bloom_build(held_df, "v", n_bits, k))
    got = {
        r["v"]: r["hit"]
        for r in probe_df.crossJoin(bf)
        .select("v", B.bloom_might_contain(F.col("bloom"), F.col("v"), n_bits, k).alias("hit"))
        .collect()
    }

    def pos(i, v):
        # Kirsch–Mitzenmacher double hashing over disjoint digest slices
        # (r8 family — one md5 per value; see operators/bloom.py)
        d = hashlib.md5(v.encode()).hexdigest()
        h1 = int(d[:15], 16) % n_bits
        step = (int(d[16:31], 16) % n_bits) * 2 + 1
        return (h1 + i * step) % n_bits

    bits = {pos(i, v) for v in held for i in range(k)}
    expect = {v: all(pos(i, v) in bits for i in range(k)) for v in probes}
    assert all(got[v] for v in held)                      # no false negatives
    assert got == expect                                  # bit-exact family
    assert any(expect[v] for v in probes if v not in held)  # FP case exercised


def test_clean_text_composes_strips_collapses(spark):
    from sample_deepbook_margin_dune_dbt_spark.functions.text import clean_text

    decomposed = "cafe\u0301"  # e + combining acute
    df = spark.createDataFrame(
        [(1, f"  a\t\tb \n {decomposed} \x01\x07ok  ")], "id long, t string"
    )
    got = df.select(clean_text("t").alias("c")).first()["c"]
    assert got == "a b caf\u00e9 ok"  # NFC-composed é, controls gone, ws collapsed


def test_vectorized_repetition_twins_match_catalyst(spark):
    """The Arrow production twins (r8: interpreted-HOF lambdas cost
    ~1 ms/doc — PERF.md) must reproduce the Catalyst expressions' doubles
    BIT-FOR-BIT, including the whitespace edge semantics: Spark trim()
    strips spaces only, Java regex \\s is ASCII-only, split keeps
    leading/trailing empty tokens."""
    from sample_deepbook_margin_dune_dbt_spark.functions import text as T

    rows = [
        (1, "a b a b a b c"),                      # modal bigram 'a b'
        (2, "x"),                                   # single token → 0.0
        (3, ""),                                    # empty
        (4, "  padded   with\tspaces  "),           # mixed ws, tab kept by trim
        (5, "l1\nl2\nl1\nl3\nl1"),                  # duplicated lines
        (6, "same\nsame\nsame"),
        (7, "\tleading tab"),                       # trim() keeps the tab → empty token
        (8, "trail space \t"),
        (9, "UPPER upper UPPER upper"),             # case folding
        (10, "solo\n"),                             # trailing empty line
        (11, "a  b  a  b"),                         # multi-space runs
        # exotic-locale case mappings (ADVICE r8): Python str.lower() vs
        # JVM lower() divergences would surface here, not at driver time
        (12, "Straße GROSS ẞ Straße GROSS ẞ"),      # ẞ (U+1E9E) → ß
        (13, "İstanbul İ İstanbul İ"),               # İ (U+0130) → i + combining dot
        (14, "ΑΣ ΒΣ ΑΣ ΒΣ κΣλ"),                    # final-sigma context rule
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = df.select(
        "id",
        T.top_bigram_frac("t").alias("bg_expr"),
        T.top_bigram_frac_vectorized("t").alias("bg_vec"),
        T.dup_line_frac("t").alias("dl_expr"),
        T.dup_line_char_frac("t").alias("dc_expr"),
        T.dup_line_stats_vectorized("t").alias("dl_vec"),
    ).collect()
    for r in got:
        assert r["bg_expr"] == r["bg_vec"], (r["id"], r["bg_expr"], r["bg_vec"])
        assert r["dl_expr"] == r["dl_vec"]["dup_line_frac"], r["id"]
        assert r["dc_expr"] == r["dl_vec"]["dup_char_frac"], r["id"]
    # and on the real fixture corpus (planted dup lines), floor(1e4) exact
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from sample_deepbook_margin_dune_dbt_spark.queries.curation import _augment_dup_lines

    aug = _augment_dup_lines(docs)
    mism = aug.select(
        (T.top_bigram_frac("text") != T.top_bigram_frac_vectorized("text")).alias("a"),
        (T.dup_line_frac("t2") != T.dup_line_stats_vectorized("t2")["dup_line_frac"]).alias("b"),
        (T.dup_line_char_frac("t2") != T.dup_line_stats_vectorized("t2")["dup_char_frac"]).alias("c"),
    ).agg(F.sum(F.col("a").cast("int") + F.col("b").cast("int") + F.col("c").cast("int"))).collect()[0][0]
    assert mism == 0


def test_vectorized_shingles_match_catalyst(spark):
    """The Arrow shingle twin (r9: ~20 µs/shingle of CodegenFallback HOF
    evaluation was the measured floor of every shingle consumer — VERDICT
    r8 item 1) must reproduce the Catalyst ``shingles()`` arrays
    ELEMENT- AND ORDER-identically: same tokenization (trim strips
    U+0020 only; Java ASCII ``\\s``; split keeps empty tokens), same
    keep-first ``array_distinct`` order, same short-text/NULL fallback,
    same case folding on exotic-locale characters."""
    from sample_deepbook_margin_dune_dbt_spark.operators import dedup as D

    rows = [
        (1, "one two three four five"),
        (2, "one two"),                           # shorter than n → single joined shingle
        (3, ""),                                  # empty → [""]
        (4, "   "),                               # spaces only → trim → [""]
        (5, "\ta b"),                             # tab survives trim → leading empty token
        (6, "a a a a a a"),                       # heavy dup → distinct order matters
        (7, None),                                # NULL → [""]
        (8, "Straße GROSS ẞ test İstanbul ΑΣ ΒΣ κΣλ x y"),  # exotic case folding
        (9, "w1  w2   w3 w1 w2 w3 w1 w2 w3"),     # multi-space + repeated trigrams
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    for n in (2, 3):
        got = df.select(
            "id",
            D.shingles(F.col("t"), n).alias("cat"),
            D.shingles_vectorized(F.col("t"), n).alias("vec"),
        ).collect()
        for r in got:
            assert r["cat"] == r["vec"], (n, r["id"], r["cat"], r["vec"])
    # and over the real fixture corpus: zero mismatching arrays
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mism = docs.select(
        (D.shingles(F.col("text"), 3) != D.shingles_vectorized(F.col("text"), 3))
        .cast("int").alias("m")
    ).agg(F.sum("m")).collect()[0][0]
    assert mism == 0


def test_bloom_vectorized_probe_plan_is_pure_narrow_map(spark):
    """The fused Arrow probe removes even the broadcast join: the corpus
    plan is scan → one repartition spread → ArrowEvalPython → project. No
    broadcast, no sort-merge, no shuffle beyond the single _spread."""
    from sample_deepbook_margin_dune_dbt_spark.operators import bloom as B

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = (
        B.bloom_decontaminate(docs, "doc_id", "text", bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan
    for marker in ("SortMergeJoin", "BroadcastNestedLoopJoin", "BroadcastHashJoin"):
        assert marker not in plan, marker


def test_vectorized_bigram_fps_match_catalyst(spark):
    """The Arrow bigram-fingerprint twin (r9, `ngram_lm.bigram_fps_vectorized`)
    must reproduce the Catalyst `_bigram_fps` arrays element- and
    order-identically: same `ws_tokens_exact` tokenization (single-space
    split keeps empty tokens; trim strips U+0020 only), same md5-60-bit
    fingerprints, same sub-bigram/NULL empty-array guard, same exotic-
    locale case folding."""
    from sample_deepbook_margin_dune_dbt_spark.operators import ngram_lm as L

    rows = [
        (1, "a b c d"),
        (2, "x"),                        # sub-bigram → []
        (3, ""),                         # empty → []
        (4, None),                       # NULL → []
        (5, "  double  space a b  "),    # space runs → empty tokens kept
        (6, "Straße GROSS ẞ İstanbul ΑΣ κΣλ x"),
        (7, "\ttab lead a b"),           # tab survives trim
        (8, "w w w w w"),                # repeated bigram occurrences kept (not distinct)
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = df.select(
        "id",
        L._bigram_fps("t").alias("cat"),
        L.bigram_fps_vectorized("t").alias("vec"),
    ).collect()
    for r in got:
        assert r["cat"] == r["vec"], (r["id"], r["cat"], r["vec"])
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mism = docs.select(
        (L._bigram_fps("text") != L.bigram_fps_vectorized("text")).cast("int").alias("m")
    ).agg(F.sum("m")).first()[0]
    assert mism == 0
