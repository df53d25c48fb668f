"""Distributed BPE (byte-pair-encoding) vocabulary induction.

The tokenizer-training step of an LLM data pipeline (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" — public
algorithm): repeatedly merge the most frequent adjacent symbol pair until
``n_merges`` merge rules exist. The classic formulation trains on the
WORD-FREQUENCY HISTOGRAM, not the raw corpus — and that is the whole scale
story here:

- the corpus is scanned ONCE, by :func:`word_histogram` (explode →
  map-side-combined count; the same two-level shape as the heavy-hitters
  query) producing a vocab-sized table (Heaps' law: ~10⁶–10⁸ rows for a
  web corpus, vs 10¹²⁺ corpus tokens);
- every training iteration then runs over the histogram only: a
  weighted pair count (grouped agg with partial aggregation — the hot
  pair is combined map-side, never collected as rows) and a TakeOrdered-1
  for the argmax (deterministic tie-break: count desc, pair asc);
- the merge application is the one place Python is warranted — an
  in-place adjacent-pair rewrite of each symbol array, Arrow-batched
  over the vocab-sized table (`pandas_udf`), left-to-right with
  non-overlap exactly like the reference algorithm;
- each round ``localCheckpoint``s the rewritten sequences so the lineage
  (and re-execution) doesn't grow with the merge count, and releases the
  previous round's checkpoint once the new one is materialized — the
  same loop discipline as the connected-components operator
  (``operators/dedup.py``). Only the returned sequences stay staged.

Driver state is ``n_merges`` merge rules and one argmax row per round —
bounded, never data-sized.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..engine.staging import release

__all__ = ["word_histogram", "learn_bpe", "bpe_merge_table", "bpe_encode"]

END_OF_WORD = "</w>"


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass → (word, freq). Lower/trim + whitespace split (the
    same tokenization as the text-analysis family)."""
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq"))


def _merge_udf(a: str, b: str):
    """Arrow-batched merge application: rewrite each symbol sequence,
    replacing adjacent (a, b) with a+b left-to-right without overlap —
    the reference algorithm's inner loop, vectorized per Arrow batch."""
    merged = a + b

    @F.pandas_udf(ArrayType(StringType()))
    def apply_merge(seqs: pd.Series) -> pd.Series:
        def rewrite(syms):
            out = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        return seqs.map(rewrite)

    return apply_merge


def learn_bpe(
    word_freqs: DataFrame, n_merges: int
) -> tuple[list[Row], DataFrame]:
    """Learn ``n_merges`` BPE merge rules from a (word, freq) histogram.

    Returns ``(rules, final_seqs)``: rules are Rows of (rank, left,
    right, merged, pair_freq); ``final_seqs`` is the histogram with each
    word's post-merge symbol sequence (the input to vocabulary/token-id
    assignment), a local checkpoint the caller owns. Stops early when no
    adjacent pair remains.
    """
    seqs = word_freqs.select(
        "word",
        "freq",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD))
        ).alias("syms"),
    ).localCheckpoint()

    rules: list[Row] = []
    for rank in range(n_merges):
        # size >= 2 guard matters: Spark's sequence(1, 0) is DESCENDING
        # ([1, 0]), so a fully-merged single-symbol word would otherwise
        # emit phantom NULL pairs
        pairs = (
            seqs.filter(F.size("syms") >= 2)
            .select(
                F.col("freq"),
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] AS a, syms[i] AS b))"
                    )
                ).alias("p"),
            )
            .select("freq", "p.a", "p.b")
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        best = top[0]
        rules.append(
            Row(
                rank=rank,
                left=best["a"],
                right=best["b"],
                merged=best["a"] + best["b"],
                pair_freq=int(best["pair_freq"]),
            )
        )
        merged = seqs.withColumn(
            "syms", _merge_udf(best["a"], best["b"])(F.col("syms"))
        ).localCheckpoint()
        release(seqs)
        seqs = merged
    return rules, seqs


def bpe_merge_table(spark, rules: list[Row]) -> DataFrame:
    schema = "rank long, left string, right string, merged string, pair_freq long"
    return spark.createDataFrame(
        [(r["rank"], r["left"], r["right"], r["merged"], r["pair_freq"]) for r in rules],
        schema,
    )


def bpe_encode(
    df: DataFrame,
    text_col: str,
    rules: list[Row],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply learned merge rules to tokenize text — the ENCODE side of
    the tokenizer (what the chunk/pack operators consume as real token
    counts). Standard greedy application: per word, repeatedly merge the
    present pair with the LOWEST merge rank until none applies — exactly
    how BPE tokenizers apply their merges file at inference.

    One Arrow-batched narrow map over the corpus; the rule table rides
    along as a closure constant (vocab-sized merges lists are broadcast
    with the serialized udf — for 10⁵⁺ rules ship them via
    ``spark.sparkContext.broadcast`` instead). Zero shuffles.
    """
    rank_of = {(r["left"], r["right"]): r["rank"] for r in rules}

    @F.pandas_udf(ArrayType(StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        def enc_word(word: str) -> list[str]:
            syms = list(word) + [END_OF_WORD]
            while len(syms) >= 2:
                best_i, best_rank = -1, None
                for i in range(len(syms) - 1):
                    rk = rank_of.get((syms[i], syms[i + 1]))
                    if rk is not None and (best_rank is None or rk < best_rank):
                        best_i, best_rank = i, rk
                if best_rank is None:
                    break
                syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            return syms

        def enc_text(t: str) -> list[str]:
            out: list[str] = []
            for w in t.strip().lower().split(" "):
                if w:
                    out.extend(enc_word(w))
            return out

        return texts.map(enc_text)

    return df.withColumn(out_col, encode(F.col(text_col)))
