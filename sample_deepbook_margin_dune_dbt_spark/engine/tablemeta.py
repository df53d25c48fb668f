"""``max(col)`` of a committed table read from its files, without a Spark job.

``max(col)`` over ``spark.read.parquet(dir)`` scans the column: Spark pushes
aggregates down only into V2 sources, and the parquet reader is V1. For the
types whose order and decoding are exact, the answer is already on disk
beside the data, so the store reads it on the driver instead (the Dremel
retrospective's split of metadata from immutable storage; Delta keeps the
same facts in its log):

- a partition column's values are the ``col=value`` directory names;
- each parquet footer holds per-row-group min/max statistics.

Which columns are partition columns, and every column's type, come from the
commit manifest (``TableStore``'s ``_v/v<N>.json``), which records the
schema and the partition layout of what the commit wrote.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
from pyspark.sql.types import (
    ByteType,
    DataType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# Footer min/max and directory values give Spark's max() only for types
# whose order and decoding are exact: no NaN (Spark sorts it above every
# double), no INT96 timestamps, no truncated or collated strings.
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_LEGACY_DATES = b"org.apache.spark.legacyDateTime"


class _NoStats:
    def __repr__(self) -> str:
        return "NO_STATS"


NO_STATS = _NoStats()
"""Returned by :func:`column_max` when metadata cannot answer."""


def partition_subdirs(d: str) -> set[str]:
    """Relative paths of the leaf partition directories holding data under ``d``."""
    out: set[str] = set()
    for root, _dirs, files in os.walk(d):
        if any(f.endswith(".parquet") for f in files):
            rel = os.path.relpath(root, d)
            if rel != ".":
                out.add(rel)
    return out


def _footer_max(d: str, field: StructField):
    """Max of the row-group statistics of ``field`` over every file under ``d``."""
    is_date = isinstance(field.dataType, DateType)
    if not (is_date or isinstance(field.dataType, _INTEGRAL)):
        return NO_STATS
    best = None
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(root, f))
            if is_date and _LEGACY_DATES in (md.metadata or {}):
                return NO_STATS  # values rebased to the hybrid calendar
            paths = [md.schema.column(i).path for i in range(md.num_columns)]
            if field.name not in paths:
                continue  # a file written before the column existed: all NULL
            idx = paths.index(field.name)
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(idx).statistics
                if st is None:
                    return NO_STATS
                if not st.has_min_max:
                    if st.has_null_count and st.null_count == rg.num_rows:
                        continue  # an all-NULL row group holds no max
                    return NO_STATS
                v = st.max
                if not isinstance(v, dt.date if is_date else int):
                    return NO_STATS
                best = v if best is None else max(best, v)
    return best


def _partition_max(d: str, column: str, dtype: DataType):
    """Max of ``column``'s directory values, parsed as Spark casts them to ``dtype``."""
    if isinstance(dtype, _INTEGRAL):
        parse = int
    elif isinstance(dtype, DateType):
        parse = dt.date.fromisoformat
    else:
        return NO_STATS
    values = {
        value
        for rel in partition_subdirs(d)
        for col, _, value in (part.partition("=") for part in rel.split(os.sep))
        if col == column and value != _HIVE_NULL
    }
    try:
        return max(map(parse, values), default=None)
    except ValueError:  # a spelling Spark's parser accepts and Python's does not
        return NO_STATS


def column_max(d: str, schema: StructType, partition_by: list[str], column: str):
    """``max(column)`` over the table files under ``d`` from metadata alone:
    the directory values for a partition column, the footer statistics for
    an integral or date data column. ``schema`` and ``partition_by`` are
    the commit's record. ``None`` when no row holds a value;
    :data:`NO_STATS` when metadata cannot answer (another type, a row group
    without statistics).
    """
    if column not in schema.names:
        return NO_STATS
    if column in partition_by:
        return _partition_max(d, column, schema[column].dataType)
    return _footer_max(d, schema[column])
