"""One top-k operator for every ranking in the engine.

``topk`` returns the ``k`` best rows per group, ties broken on ascending
id, a NULL score last in both directions (DuckDB's default) and NaN
above every number, so it equals the oracle's ``row_number() OVER
(PARTITION BY by ORDER BY score DESC, id) <= k``. The plan follows the
input:

- **No group key**: ``orderBy(...).limit(k)``, which Spark plans as
  TakeOrderedAndProject (a size-k heap per partition, then a k-way
  merge); one ``sort_array(collect_list(struct))`` aggregate over the
  ≤ k survivors numbers them, so the plan has no Window. An
  unpartitioned ``row_number`` window would move its input to one task.
- **Grouped**: a two-level bounded aggregation. Rows reduce within
  (group, salt-of-id) cells, each keeping its local top-k via
  ``slice(sort_array(collect_list(struct)))`` with map-side partials;
  the ≤ k·``N_SALTS`` survivors per group then merge to the final top-k.
  A ``row_number`` window would buffer a whole group in one task, which
  fails on a hot group (a hot query × a big bucket).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: salt cells per group in the first level of the grouped plan
N_SALTS = 32


def _item(score: str, id: str, ascending: bool, keep: Sequence[str]) -> Column:
    """One ranked row as ``struct<_null, _nan, _key, _id, _score, keep…>``.
    The field order is the sort order: NULL scores last, NaN above every
    number (as in Spark's and DuckDB's ORDER BY), the score (negated for
    a descending rank), then ascending id. It is one SQL expression, not
    a Column call per field: each Column call is a round trip to the JVM,
    and built field by field the struct about doubled the time PySpark
    spends building a ``topk`` plan."""
    s = f"`{score}`"
    nan, key = (f"isnan({s})", s) if ascending else (f"NOT isnan({s})", f"-{s}")
    fields = "".join(f", `{c}`" for c in keep)
    return F.expr(
        f"struct({s} IS NULL AS _null, {nan} AS _nan, {key} AS _key, "
        f"`{id}` AS _id, {s} AS _score{fields})"
    )


def _grouped_top(
    df: DataFrame,
    k: int,
    score: str,
    id: str,
    by: Sequence[str],
    ascending: bool = False,
    keep: Sequence[str] = (),
) -> DataFrame:
    """``(by…, _top)``: each group's best ``k`` rows as a sorted array of
    :func:`_item` structs."""
    item = _item(score, id, ascending, keep)
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
    if by:
        top = _grouped_top(df, k, score, id, by, ascending, keep)
    else:
        s = F.col(score)
        order = [s.asc_nulls_last() if ascending else s.desc_nulls_last(), F.col(id).asc()]
        top = (
            df.orderBy(*order)
            .limit(k)
            .agg(F.sort_array(F.collect_list(_item(score, id, ascending, keep))).alias("_top"))
        )
    fields = "".join(f", t.`{c}` AS `{c}`" for c in keep)
    return top.select(
        *by,
        F.expr(
            f"inline(transform(_top, (t, i) -> struct(t._id AS `{id}`, "
            f"t._score AS `{score}`{fields}, CAST(i + 1 AS BIGINT) AS rank)))"
        ),
    )
