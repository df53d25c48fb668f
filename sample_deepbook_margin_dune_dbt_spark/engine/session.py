"""SparkSession factory.

Centralizes the configuration that the rest of the engine depends on:

- **UTC session timezone** — the reference's ``from_unixtime`` /
  ``date(from_unixtime(...))`` semantics (reference
  ``models/deepbook_margin/daily/fct_deepbook_margin_pool_daily.sql:29``) are
  evaluated on Dune's Trino in UTC; pinning UTC makes Spark's
  ``from_unixtime``/``to_date`` agree with both Trino and the DuckDB oracle.
- **ANSI off** — the reference uses Trino ``try_cast`` (NULL on failure,
  reference ``stg_deepbook_margin_pool_object.sql:51-89``); with ANSI off a
  plain Spark ``cast`` already NULL-fails, and ``try_cast`` is used explicitly
  in model code anyway. Pinning avoids behavior drift across Spark defaults.
- **AQE on** (+ skew join) — runtime re-planning; at 100 TB this converts
  skewed shuffle joins into split subjoins and coalesces tiny post-shuffle
  partitions without manual tuning.
- **Executor import path** — Python workers get the package's parent dir
  on ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so ``mapInPandas``
  and UDF code that imports the package works from any working directory.
- **Arrow** — every pandas interchange is Arrow-batched: the media
  operators all run on one per-payload map
  (``operators/multimodal.py::_map_payloads``), the batch-vectorized
  kernels on ``mapInPandas`` / ``applyInPandas``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on — a
    fixed fallback oversubscribes small boxes (32 task threads on 4 vCPUs)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "sample-deepbook-margin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[<local_cpus()>]`` locally; on a real
    cluster leave it unset and submit through spark-submit/YARN/K8s — every
    other config below is cluster-safe.
    """
    cpus = local_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    package_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pythonpath = os.pathsep.join(p for p in (package_root, os.environ.get("PYTHONPATH")) if p)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
        # tolerate TIMESTAMP(NANOS) parquet (surfaces as long ns); harmless
        # no-op on µs data — queries normalize either encoding via
        # queries.common.normalize_event_ts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local-scale default: the testdata ships as single ~1-10 MB files,
        # which the 128 MB default would scan on one core. On a real cluster
        # against TB-scale tables, raise via SPARK_GRAFT_MAX_PARTITION_BYTES
        # (128 MB is the right order there).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
