"""One top-k operator for every ranking in the engine.

``topk`` returns the ``k`` best rows per group, ties broken on ascending
id, a NULL score last in both directions (DuckDB's default), so it
equals the oracle's ``row_number() OVER (PARTITION BY by ORDER BY score
DESC, id) <= k``. The plan follows the input:

- **No group key**: ``orderBy(...).limit(k)``, which Spark plans as
  TakeOrderedAndProject (a size-k heap per partition, then a k-way
  merge); the rank window sees only the ≤ k survivors. An unpartitioned
  ``row_number`` window would move the whole input to one task.
- **Grouped**: a two-level bounded aggregation. Rows reduce within
  (group, salt-of-id) cells, each keeping its local top-k via
  ``slice(sort_array(collect_list(struct)))`` with map-side partials;
  the ≤ k·``N_SALTS`` survivors per group then merge to the final top-k.
  A ``row_number`` window would buffer a whole group in one task, which
  fails on a hot group (a hot query × a big bucket).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: salt cells per group in the first level of the grouped plan
N_SALTS = 32


def _grouped_top(
    df: DataFrame,
    k: int,
    score: str,
    id: str,
    by: Sequence[str],
    ascending: bool = False,
    keep: Sequence[str] = (),
) -> DataFrame:
    """``(by…, _top)``: each group's best ``k`` rows as a sorted
    ``array<struct<_null, _key, _id, _score, keep…>>``. The field order
    is the sort order: NULL scores last, the score (negated for a
    descending rank), then ascending id."""
    item = F.struct(
        F.col(score).isNull().alias("_null"),
        (F.col(score) if ascending else -F.col(score)).alias("_key"),
        F.col(id).alias("_id"),
        F.col(score).alias("_score"),
        *[F.col(c).alias(c) for c in keep],
    )
    first = (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col(id)), F.lit(N_SALTS)))
        .groupBy(*by, "_salt")
        .agg(F.slice(F.sort_array(F.collect_list(item)), 1, k).alias("_top"))
    )
    return first.groupBy(*by).agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("_top"))), 1, k).alias("_top")
    )


def topk(
    df: DataFrame,
    k: int,
    score: str,
    id: str,
    by: Sequence[str] = (),
    ascending: bool = False,
    keep: Sequence[str] = (),
) -> DataFrame:
    """The ``k`` best rows of ``df`` per ``by`` group by ``score``
    (highest first unless ``ascending``): ``(by…, id, score, keep…,
    rank)`` with a bigint ``rank`` from 1."""
    if not by:
        s = F.col(score)
        order = [s.asc_nulls_last() if ascending else s.desc_nulls_last(), F.col(id).asc()]
        rank = F.row_number().over(Window.orderBy(*order)).cast("long")
        return df.orderBy(*order).limit(k).select(id, score, *keep, rank.alias("rank"))
    return (
        _grouped_top(df, k, score, id, by, ascending, keep)
        .select(*by, F.posexplode("_top").alias("_pos", "_it"))
        .select(
            *by,
            F.col("_it._id").alias(id),
            F.col("_it._score").alias(score),
            *[F.col(f"_it.{c}").alias(c) for c in keep],
            (F.col("_pos") + 1).cast("long").alias("rank"),
        )
    )
