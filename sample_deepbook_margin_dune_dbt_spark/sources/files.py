"""Text-format ingestion and the training-shard export sink.

Training corpora arrive as JSONL/CSV drops, not curated parquet; trained
models consume ordered, size-bounded shards. These close that loop:

- :func:`read_jsonl` / :func:`read_csv` — schema-mandatory readers with
  an explicit corrupt-record contract (PERMISSIVE + ``_corrupt_record``
  column by default, so dirty lines are *data*, quarantinable with one
  filter — never a job failure on line 3 billion). Schema inference is
  refused: it's an extra full pass and nondeterministic on dirty data.
- :func:`quarantine` / :func:`quarantine_scope` — split a permissive
  read into (clean, bad) once; the scope form releases the shared parse
  on exit.
- :func:`write_jsonl` — line-delimited JSON export (one object per line,
  the interchange format every tokenizer pipeline accepts).
- :func:`write_training_shards` — rank-range sharding: range-partition
  on the order column (``operators.ordering.epoch_shuffle``'s rank
  composes directly), sort within shards, cap records per file, and
  return a manifest (file, rows, rank span) by reading the shards back.

Scale: readers are line-splittable (Spark parallelizes a single huge
JSONL/CSV file by byte ranges); the shard writer's only shuffle is the
range partitioning, and the manifest aggregation reads only the order
column of what was just written (column pruning keeps it cheap).

SourceCatalog (``sources/catalog.py``) handles *named* sources; these
are the ad-hoc ingestion/export surfaces around it.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.staging import stage

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: str, corrupt_col: str) -> str:
    return f"{schema}, {corrupt_col} STRING"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    mode: str = "PERMISSIVE",
    corrupt_col: str = CORRUPT_COL,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read line-delimited JSON with an explicit dirty-line contract.

    ``mode='PERMISSIVE'`` (default) NULLs unparsable fields and stores the
    raw line in ``corrupt_col``; ``'DROPMALFORMED'`` silently drops bad
    lines; ``'FAILFAST'`` aborts on the first. Schema is a DDL string and
    is mandatory — pass the contract, don't infer it.
    """
    ddl = _with_corrupt(schema, corrupt_col) if mode.upper() == "PERMISSIVE" else schema
    reader = (
        spark.read.schema(ddl)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .options(**(options or {}))
    )
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_col: str = CORRUPT_COL,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """CSV twin of :func:`read_jsonl` (same corrupt-record contract)."""
    ddl = _with_corrupt(schema, corrupt_col) if mode.upper() == "PERMISSIVE" else schema
    reader = (
        spark.read.schema(ddl)
        .option("header", str(header).lower())
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .options(**(options or {}))
    )
    return reader.csv(path)


def quarantine(
    df: DataFrame, corrupt_col: str = CORRUPT_COL
) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE read into (clean rows sans marker, bad lines).

    Spark refuses plans over raw JSON/CSV scans that reference ONLY the
    corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the
    input is staged here — a lazy local checkpoint: the parse runs once,
    at the first action, and both halves read its rows. The checkpoint
    is owned by the returned frames and freed once they are unreachable;
    :func:`quarantine_scope` (preferred) frees its staged parse on exit
    instead. At warehouse scale, prefer writing the permissive read to a
    staging table and splitting from there; the semantics are identical.
    """
    return _split(df.localCheckpoint(eager=False), corrupt_col)


def _split(staged: DataFrame, corrupt_col: str) -> tuple[DataFrame, DataFrame]:
    clean = staged.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = staged.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return clean, bad


@contextmanager
def quarantine_scope(
    df: DataFrame, corrupt_col: str = CORRUPT_COL
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """:func:`quarantine` with a bounded lifetime: caches the parse, yields
    ``(clean, bad)`` and releases the cache on exit, so executor storage
    memory is handed back the moment the split is consumed."""
    with stage(df) as cached:
        yield _split(cached, corrupt_col)


def write_jsonl(df: DataFrame, path: str, mode: str = "error") -> None:
    """Write line-delimited JSON (one object per line, text-splittable)."""
    df.write.mode(mode).json(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    order_col: str,
    records_per_shard: int,
    mode: str = "error",
    format: str = "parquet",
) -> DataFrame:
    """Write the corpus as ordered, size-bounded shards + return a manifest.

    Range-partitions on ``order_col`` into ``ceil(N / records_per_shard)``
    shards, sorts within each, and caps ``maxRecordsPerFile`` so no file
    exceeds the shard size even if range sampling is off. Shard files are
    disjoint, internally ordered rank ranges — a trainer reading files in
    manifest order sees the exact global order (e.g. the epoch shuffle).

    Returns the manifest: (shard_file, n_rows, min_rank, max_rank),
    built by reading back only ``order_col`` grouped by file.

    The ``df.count()`` is one extra job over the input; pass a cached or
    cheap-to-recompute frame (at 100 TB: count from the upstream table's
    metadata instead and call with records_per_shard directly).
    """
    if records_per_shard < 1:
        raise ValueError(f"records_per_shard must be >= 1, got {records_per_shard}")
    n = df.count()
    n_shards = max(1, math.ceil(n / records_per_shard))
    (
        df.repartitionByRange(n_shards, F.col(order_col).asc())
        .sortWithinPartitions(F.col(order_col).asc())
        .write.option("maxRecordsPerFile", records_per_shard)
        .mode(mode)
        .format(format)
        .save(path)
    )
    back = df.sparkSession.read.format(format).load(path)
    return (
        back.groupBy(F.input_file_name().alias("shard_file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(order_col).alias("min_rank"),
            F.max(order_col).alias("max_rank"),
        )
        .orderBy("min_rank")
    )
