"""SCD2 snapshots: dbt's ``snapshot`` feature on the engine's TableStore.

The reference project declares the standard dbt ``snapshots/`` scaffold
(``dbt_project.yml``) without populating it; this module supplies the
capability so a user migrating a project that DOES use snapshots keeps
it: track every version of a mutable source row as
``(row columns..., valid_from, valid_to)``, where ``valid_to IS NULL``
marks the current version — the slowly-changing-dimension type-2
pattern.

Change detection strategies (dbt's two):

- ``check``: a version is new when any of ``check_cols`` differs from
  the current version (NULL-safe comparison).
- ``timestamp``: a version is new when the source's ``updated_at``
  exceeds the current version's ``valid_from``.

Scale shape: one equi-join of the source against the CURRENT slice on
the unique key (history rows join nothing), map-side change flags, and
one write. The parquet backend rewrites the table (closed + new rows
touch arbitrary files); the Delta seam turns the same plan into two
MERGEs. Partitioning history tables by ``valid_to IS NULL`` (current vs
closed) keeps the hot current slice prunable at scale.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import TableStore

VALID_FROM = "valid_from"
VALID_TO = "valid_to"


def snapshot_scd2(
    store: TableStore,
    source: DataFrame,
    name: str,
    unique_key: list[str],
    strategy: str = "check",
    check_cols: list[str] | None = None,
    updated_at: str | None = None,
    now: dt.datetime | None = None,
    invalidate_hard_deletes: bool = False,
) -> None:
    """Fold the source's current state into the ``name`` history table.

    ``now`` stamps ``valid_from``/``valid_to`` for this run (injectable
    for determinism, like the engine's ``fixed_now``; naive means UTC).
    """
    if strategy not in ("check", "timestamp"):
        raise ValueError(f"strategy={strategy!r}; expected 'check' or 'timestamp'")
    if strategy == "check" and not check_cols:
        raise ValueError("strategy='check' requires check_cols")
    if strategy == "timestamp" and not updated_at:
        raise ValueError("strategy='timestamp' requires updated_at")
    # a naive ``now`` is UTC (as in ``ModelContext.now_dt``): PySpark reads
    # a naive literal in the host's local zone
    now = now or dt.datetime.now(dt.timezone.utc)
    ts = F.lit(now if now.tzinfo else now.replace(tzinfo=dt.timezone.utc)).cast("timestamp")

    if not store.exists(name):
        store.write_full(
            source.withColumn(VALID_FROM, ts).withColumn(
                VALID_TO, F.lit(None).cast("timestamp")
            ),
            name,
        )
        return

    existing = store.read(name)
    history = existing.filter(F.col(VALID_TO).isNotNull())
    current = existing.filter(F.col(VALID_TO).isNull())

    src = source.select(*[F.col(c).alias(f"_s_{c}") for c in source.columns])
    key_cond = [F.col(k) == F.col(f"_s_{k}") for k in unique_key]
    joined = current.join(src, key_cond, "full_outer")

    in_src = F.col(f"_s_{unique_key[0]}").isNotNull()
    in_cur = F.col(unique_key[0]).isNotNull()
    if strategy == "check":
        diff = F.lit(False)
        for c in check_cols:
            # NULL-safe inequality: NULL<=>x is false unless both NULL
            diff = diff | ~F.col(c).eqNullSafe(F.col(f"_s_{c}"))
        changed = in_src & in_cur & diff
    else:
        changed = in_src & in_cur & (F.col(f"_s_{updated_at}") > F.col(VALID_FROM))

    brand_new = in_src & ~in_cur
    gone = in_cur & ~in_src

    # current versions that survive untouched
    unchanged = joined.filter(in_cur & in_src & ~changed).select(*existing.columns)
    # closed: superseded versions, plus hard-deleted keys if requested
    close_flag = changed | (F.lit(invalidate_hard_deletes) & gone)
    closed = joined.filter(close_flag).select(
        *[F.col(c) for c in source.columns],
        F.col(VALID_FROM),
        ts.alias(VALID_TO),
    )
    # new versions: changed rows' source values + brand-new keys
    new_rows = joined.filter(changed | brand_new).select(
        *[F.col(f"_s_{c}").alias(c) for c in source.columns],
        ts.alias(VALID_FROM),
        F.lit(None).cast("timestamp").alias(VALID_TO),
    )
    # keys gone from source and NOT invalidated stay open (dbt default)
    still_open_gone = joined.filter(gone & F.lit(not invalidate_hard_deletes)).select(
        *existing.columns
    )

    result = history.unionByName(unchanged).unionByName(closed).unionByName(
        new_rows
    ).unionByName(still_open_gone)
    store.write_full(result, name)
