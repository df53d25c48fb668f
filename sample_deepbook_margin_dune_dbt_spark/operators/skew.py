"""Skew-mitigation utilities: salting for hot keys (SURVEY §4 / 100 TB notes).

AQE's skew-join handling covers sort-merge joins, but two shapes still need
manual salting at scale:

- **Skewed aggregation**: one hot group (e.g. the empty-document
  fingerprint, a bot user_id) funnels through a single reduce task.
  ``salted_agg`` does a two-phase aggregate: partial per (key, salt), final
  per key. Works for any algebraic aggregate (sum/count/min/max).
- **Skewed join against a broadcastable-but-not-tiny side**:
  ``salted_join_left`` explodes the small side per salt and salts the big
  side's key, spreading a hot key over ``n_salts`` tasks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .topk import topk


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic row salt in [0, n_salts) — spreads rows without RNG
    (monotonically_increasing_id is partition-deterministic)."""
    return df.withColumn(salt_col, (F.monotonically_increasing_id() % n_salts).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Callable[[Column], Column], Callable[[Column], Column]]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    ``aggs`` maps output column → (partial_fn, merge_fn), e.g.
    ``{"total": (F.sum, F.sum), "n": (F.count, F.sum)}``. Phase 1 aggregates
    per (keys..., salt) — the hot key splits across ``n_salts`` reduce
    tasks; phase 2 merges the tiny per-salt partials per key.
    """
    salted = with_salt(df, n_salts)
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[pf(F.col(src)).alias(f"_p_{out}") for out, (pf, _mf, src) in _norm(aggs)]
    )
    return phase1.groupBy(*keys).agg(
        *[mf(F.col(f"_p_{out}")).alias(out) for out, (_pf, mf, _src) in _norm(aggs)]
    )


def _norm(aggs):
    """Normalize {out: (partial, merge)} or {out: (partial, merge, src)}."""
    out = []
    for name, spec in aggs.items():
        if len(spec) == 2:
            out.append((name, (spec[0], spec[1], name)))
        else:
            out.append((name, spec))
    return out


def salted_join_left(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``big`` has hot values of ``on``.

    ``big`` rows get a deterministic salt; ``small`` is exploded once per
    salt value, so every (key, salt) bucket finds its match. The hot key's
    rows spread over ``n_salts`` tasks instead of one. ``small`` grows
    ``n_salts``× — use only when that still fits the shuffle/broadcast
    budget (that's the trade).
    """
    big_s = with_salt(big, n_salts)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return big_s.join(small_s, on=[on, "_salt"], how=how).drop("_salt")


def hotness_report(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Key-distribution diagnostics: the measurement step before choosing
    a join/aggregation strategy (plain vs AQE skew-join vs salting).

    One row per top-``top_k`` hottest key with its count, exact
    parts-per-million share (integer arithmetic — cross-engine exact),
    and the corpus totals. Read it as: a key with share_ppm ≈ 500000
    funnels half the table through one reduce task — salt it with
    ~``share × parallelism`` salts, or confirm AQE's skew split engages.

    Two-level shape: the per-key count partial-aggregates map-side; the
    ungrouped ``topk`` is a bounded ORDER BY + LIMIT (TakeOrdered — no
    global sort) that ranks only the ≤ top_k survivors.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        topk(counts, top_k, "n", key_col)
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            key_col,
            F.col("n").cast("long").alias("n"),
            F.expr("n * 1000000L div total_rows").alias("share_ppm"),
            "total_rows",
            "n_keys",
        )
    )
