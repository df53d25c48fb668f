"""Bloom-filter membership: a constant-size set probe for 100 TB corpora.

``contamination.ngram_overlap`` probes benchmark membership with a
broadcast semi-join — right when the benchmark's distinct-shingle set
fits comfortably in a broadcast. This module is the next rung: the
held-out set is folded into a fixed ``n_bits``-bit Bloom filter (one
array<bigint> row, e.g. 4 KiB for 2^15 bits regardless of set size),
shipped once in the probe's task closure, and the corpus side becomes a
PURE NARROW MAP — no explode, no join, no shuffle; each document tests
its shingles against the bits in one Arrow batch pass. False-positive
rate is the classic (1 - e^{-kn/m})^k; false negatives are impossible.

Engine-portability contract (same as the rest of the repo): ONE md5 per
value, k positions by Kirsch–Mitzenmacher double hashing over two
disjoint 60-bit slices of the digest — ``h1 = digest[0:15 hex] mod m``,
``step = 2·(digest[16:31 hex] mod m) + 1``, ``pos_i = (h1 + i·step)
mod m`` — so the DuckDB oracle reproduces the exact bit positions
(including any false positive) via the equivalent position-set
formulation, no bit arrays needed on the oracle side. Double hashing
keeps the classic fp-rate bound (Kirsch & Mitzenmacher 2006) at a third
of the md5 cost of k independent hashes (md5 dominated the probe: the
r8 full-evaluation bench measured the k-md5 probe at 8.1 s for the
sf0.1 scan); the odd step makes a value's k positions DISTINCT when
``m`` is a power of two (the step generates the cyclic group mod 2^b).

Spark-specific notes:
- ``F.shiftleft``/``shiftright`` take only literal shift amounts, so bit
  masks come from a precomputed 64-entry powers-of-two literal array
  (bit 63 is the sign bit: -(2^63)).
- :func:`bloom_might_contain` is the Catalyst column form of the probe:
  a single-row filter joined via ``crossJoin(broadcast(...))`` → a
  BroadcastNestedLoopJoin against ONE row, which is a plain map over the
  corpus — the plan audit allows exactly this shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _spread, py_shingles, shingles_vectorized

DEFAULT_N_BITS = 1 << 15
DEFAULT_K = 3


def bloom_probe_vectorized(
    text_col: Column | str,
    bloom_words: list[int],
    n: int = 3,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> Column:
    """Arrow twin of the Catalyst probe, fused shingle+probe in ONE batch
    UDF: ``struct<n_shingles:bigint, n_hits_bloom:bigint>``.

    The filter travels in the UDF task closure (``n_bits/8`` bytes —
    4 KiB at the default geometry), serialized once per task, NOT per row
    and NOT through Arrow — at 100 TB the corpus side is a pure narrow
    map with zero joins and zero per-row filter transfer. Hash parity
    with :func:`_hash_positions` / the DuckDB oracle: one md5 per
    shingle over UTF-8 bytes, h1/step from the same disjoint 60-bit hex
    slices, k double-hashed positions. The r8 bench measured the
    Catalyst probe's floor at ~20 µs/shingle of CodegenFallback HOF
    evaluation (5.1–5.5 s for the sf0.1 scan); this path replaces it
    with ~1 µs/shingle of Python md5 + bit tests per Arrow batch.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # two's-complement view: Spark longs with bit 63 set arrive negative
    uwords = tuple(w & 0xFFFFFFFFFFFFFFFF for w in bloom_words)
    assert len(uwords) * 64 == n_bits, (len(uwords), n_bits)
    # same power-of-two contract as bloom_build/bloom_might_contain: the
    # odd double-hash step only guarantees k DISTINCT positions mod 2^b
    assert n_bits >= 64 and n_bits & (n_bits - 1) == 0, n_bits

    @pandas_udf("struct<n_shingles:bigint, n_hits_bloom:bigint>")
    def _f(s):  # type: ignore[no-untyped-def]
        ns, nh = [], []
        for t in s:
            sh = py_shingles(t, n)
            hits = 0
            for g in sh:
                d = hashlib.md5(g.encode("utf-8")).hexdigest()
                p = int(d[0:15], 16) % n_bits
                step = (int(d[16:31], 16) % n_bits) * 2 + 1
                ok = True
                for _ in range(k):
                    if not (uwords[p >> 6] >> (p & 63)) & 1:
                        ok = False
                        break
                    p = (p + step) % n_bits
                hits += ok
            ns.append(len(sh))
            nh.append(hits)
        return pd.DataFrame({"n_shingles": ns, "n_hits_bloom": nh})

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _f(c)


def _powers() -> Column:
    """powers[b+1] == the long with only bit b set (b in 0..63)."""
    vals = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]
    return F.array(*[F.lit(v).cast("long") for v in vals])


def _hash_positions(value: Column, n_bits: int, k: int) -> Column:
    """Array of k bit positions in [0, n_bits) for ``value`` — one md5,
    double-hashed (see module docstring)."""
    digest = F.md5(value)
    h1 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint") % n_bits
    step = (
        F.conv(F.substring(digest, 17, 15), 16, 10).cast("bigint") % n_bits
    ) * 2 + 1
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)), lambda i: (h1 + i * step) % n_bits
    )


def bloom_build(
    values: DataFrame,
    value_col: str,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Fold a value column into a single-row Bloom filter.

    Returns one row ``bloom: array<bigint>`` of ``n_bits/64`` words. The
    only shuffles are over the (small) build side: one k-way position
    explode and one ``bit_or`` groupBy on the word index.
    """
    assert n_bits >= 64 and n_bits & (n_bits - 1) == 0, (
        "n_bits must be a power of two >= 64: double hashing's k-distinct-"
        "position guarantee (odd step generates the cyclic group mod 2^b) "
        "and the documented fp bound both require power-of-two m"
    )
    n_words = n_bits // 64
    pos = values.select(
        F.explode(_hash_positions(F.col(value_col), n_bits, k)).alias("_p")
    )
    words = pos.select(
        F.floor(F.col("_p") / 64).cast("int").alias("_w"),
        F.element_at(_powers(), (F.col("_p") % 64).cast("int") + 1).alias("_m"),
    )
    entries = words.groupBy("_w").agg(F.bit_or("_m").alias("_bits"))
    return entries.agg(
        F.map_from_entries(F.collect_list(F.struct("_w", "_bits"))).alias("_map")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("_map"), i), F.lit(0).cast("long")
            ),
        ).alias("bloom")
    )


def bloom_might_contain(
    bloom: Column, value: Column, n_bits: int = DEFAULT_N_BITS, k: int = DEFAULT_K
) -> Column:
    """True iff all k bit positions for ``value`` are set (may false-positive)."""
    assert n_bits >= 64 and n_bits & (n_bits - 1) == 0, (
        "n_bits must be a power of two >= 64 (see bloom_build)"
    )
    pw = _powers()
    positions = _hash_positions(value, n_bits, k)
    return F.forall(
        positions,
        lambda p: (
            F.element_at(bloom, F.floor(p / 64).cast("int") + 1).bitwiseAND(
                F.element_at(pw, (p % 64).cast("int") + 1)
            )
            != 0
        ),
    )


def bloom_decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str | None = None,
    n: int = 3,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Flag documents sharing ANY word n-gram with the benchmark Bloom set.

    Output: (id, n_shingles, n_hits_bloom, flagged). The corpus side never
    explodes or shuffles — each document's distinct-shingle array is
    tested against the filter. Compare ``contamination.ngram_overlap``
    for the exact (semi-join) tier.

    The filter is materialized with ONE bounded job over the BENCHMARK
    side only (a single ``n_bits/64``-long row — the held-out set is
    small by definition; this is not the lazy-transform-recomputes-
    corpus-lineage pattern), then the corpus side runs the fused Arrow
    probe (:func:`bloom_probe_vectorized`): zero joins, zero exchanges,
    filter in the 4 KiB task closure. Hash-matches the DuckDB oracle.
    """
    bench_sh = (
        benchmark.select(
            F.explode(
                shingles_vectorized(F.col(bench_text_col or text_col), n)
            ).alias("_s")
        )
        .distinct()
    )
    words = list(bloom_build(bench_sh, "_s", n_bits, k).collect()[0]["bloom"])
    probe = bloom_probe_vectorized(F.col(text_col), words, n, n_bits, k)
    # _spread: hash-repartition the (id, text) projection before the
    # CPU-heavy probe — a small local corpus arrives as one file → one
    # partition, serializing the batch UDF on a single core; at cluster
    # scale the same repartition balances executors
    return (
        _spread(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), probe.alias("_p"))
        .select(
            F.col(id_col),
            F.col("_p.n_shingles").alias("n_shingles"),
            F.col("_p.n_hits_bloom").alias("n_hits_bloom"),
        )
        .withColumn("flagged", F.col("n_hits_bloom") > 0)
    )
