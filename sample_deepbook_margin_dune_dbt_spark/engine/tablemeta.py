"""Table metadata read from the files a store commit wrote, without Spark jobs.

A plain ``spark.read.parquet(dir)`` runs a Spark job to infer the schema
from a footer, and ``max(col)`` over it scans the column: Spark pushes
aggregates down only into V2 sources, and the parquet reader is V1. Both
answers are already on disk beside the data, so the store reads them on the
driver instead (the Dremel retrospective's split of metadata from immutable
storage; Delta keeps the same facts in its log):

- ``_schema.json``: every commit writes the data schema of what it wrote —
  the partition columns of the directory layout left out, so Spark still
  infers their types from the directory names — into the fresh directory,
  which commits atomically with the files (:func:`write_schema`);
- the partition values are the ``col=value`` directory names;
- each parquet footer holds per-row-group min/max statistics.

A directory without ``_schema.json`` (written before the store recorded
it, or by hand) has no metadata here: readers fall back to inference and
``column_max`` to the scan. Spark's file listing skips names that start
with ``_``, so the sidecar is never read as data.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
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

SCHEMA_FILE = "_schema.json"
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


def partition_columns(d: str | None) -> list[str]:
    """Partition columns of the on-disk ``col=value`` layout under ``d``."""
    cols: list[str] = []
    p = d
    while p and os.path.isdir(p):
        subs = [f for f in os.listdir(p) if "=" in f and os.path.isdir(os.path.join(p, f))]
        if not subs:
            break
        cols.append(subs[0].split("=")[0])
        p = os.path.join(p, subs[0])
    return cols


def write_schema(d: str, schema: StructType) -> None:
    """Record ``schema`` minus the partition columns of ``d``'s layout."""
    parts = set(partition_columns(d))
    data = StructType([f for f in schema.fields if f.name not in parts])
    with open(os.path.join(d, SCHEMA_FILE), "w") as f:
        json.dump(data.jsonValue(), f)


def read_schema(d: str | None) -> StructType | None:
    """The data schema recorded in ``d`` (``None``: no sidecar)."""
    if d is None:
        return None
    try:
        with open(os.path.join(d, SCHEMA_FILE)) as f:
            return StructType.fromJson(json.load(f))
    except (FileNotFoundError, NotADirectoryError):
        return None


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
    """Max of ``column``'s directory values, typed as Spark infers ``dtype``."""
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


def read(spark: SparkSession, d: str) -> DataFrame:
    """The parquet table under ``d``, read with its recorded schema when it
    has one (no inference job) and by inference otherwise."""
    schema = read_schema(d)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(d)


def column_max(spark: SparkSession, d: str | None, column: str):
    """``max(column)`` over the table files under ``d`` from metadata alone:
    the directory values for a partition column, the footer statistics for
    an integral or date data column. ``None`` when no row holds a value;
    :data:`NO_STATS` when metadata cannot answer (no sidecar, another type,
    a row group without statistics). Runs no Spark job: the partition
    column's type comes from the read schema, which only lists files.
    """
    schema = read_schema(d)
    if schema is None:
        return NO_STATS
    if column in schema.names:
        return _footer_max(d, schema[column])
    if column in partition_columns(d):
        return _partition_max(d, column, read(spark, d).schema[column].dataType)
    return NO_STATS
