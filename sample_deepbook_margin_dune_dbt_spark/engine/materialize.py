"""Incremental MERGE materialization over manifest-committed parquet tables.

Replaces the reference's dbt-trino incremental materializations (SURVEY §2.1
S6-S10; reference config blocks e.g.
``models/deepbook_margin/daily/fct_deepbook_margin_pool_daily.sql:1-8``
``materialized='incremental', unique_key=[...], incremental_strategy='merge'``).

Design for scale
----------------
The MERGE here is an **upsert on a composite natural key**. Without Delta Lake
in the environment, a table is a snapshot of parquet files and MERGE is
expressed as::

    kept = old.join(new, on=unique_key, how="left_anti")   # rows not replaced
    result = kept.unionByName(new)

Every sink (``write_full``, ``append``, ``insert_overwrite``, ``merge``,
``replace_scope``) is one DataFrame expression plus one commit,
``_commit(df, name, partition_by, op, keep)``, which writes ``df`` into the
table's next snapshot directory, hard-links the previous files the sink
keeps, and publishes. The publishing manifest is the table's one metadata
record: it also holds the schema of what the commit wrote and its partition
layout (``partition_by``). Reads use that schema instead of an inference
job (a STRING partition value ``"007"`` stays ``"007"``), ``merge`` picks
its path from the layout, and the high-water-mark probe answers
``max(col)`` from both plus the directory names and parquet footers
(``tablemeta.py``). ``keep`` says which previous files carry over:

- ``"none"``: full rewrite (``write_full``, ``replace_scope``, and a MERGE
  of an unpartitioned or schema-altering table, or one whose declared
  ``partition_by`` differs from the committed layout);
- ``"untouched"``: every partition the write did not produce
  (``insert_overwrite``, and the partitioned MERGE, whose ``df`` is the
  merged slice of the touched partitions only). New data for 7 days out
  of 5 years rewrites 7 partitions, not the table — the rewrite cost is
  proportional to the incremental slice (Delta's MERGE file pruning /
  Hive's insert-overwrite of touched partitions);
- ``"all"``: ``append``.

A commit that keeps files must declare the committed layout (two layouts
in one snapshot cannot be read) or raises ``ValueError`` before writing;
only a full rewrite changes the layout.

Only tables declaring ``partition_by`` get the slice-sized rewrite;
unpartitioned tables take the full anti-join rewrite, which is fine for
dimension-sized tables. No write lands in a live directory, so the
session's partition-overwrite mode never matters.

Commits: immutable snapshots and an atomic manifest
---------------------------------------------------
A table is immutable data plus an atomic metadata pointer, the lake-format
recipe (the Dremel retrospective, VLDB 2020). Layout per table::

    <base>/<name>/
        _v/LOCK               # the writer lock (flock), never deleted
        _v/v00000001.json     # commit manifests: version, ts, op, snapshot
        _v/v00000002.json     #  dir, schema, partition_by
        snap-00000001/        # immutable snapshot directories
        snap-00000002/        # (parquet files / col=value partition dirs)

A commit writes its snapshot directory first, then renames a complete
manifest into ``_v/``. The rename IS the commit (atomic on POSIX), so the
table reads its old or its new version at every instant, never neither.
Readers resolve ``_v/`` → newest manifest → snapshot directory and schema.
A failed commit removes its partial snapshot; a killed one leaves a
snapshot that no manifest references, invisible to readers and removed by
the next commit or :meth:`TableStore.vacuum`. A manifest names its snapshot relative to the
table directory, so a copied warehouse reads the same.

``history`` decides what a commit keeps:

- ``False`` (the default): one version. After the manifest rename the
  commit deletes every other manifest and snapshot of the table — the
  version it replaced and whatever a crashed commit left — so exactly one
  snapshot is on disk after each commit.
- ``True`` (CLI ``--versioned``): every version stays until ``vacuum``
  expires it, as in Dune's Delta tables (reference
  ``macros/dune_dbt_overrides/vacuum_table.sql:3`` retains 168 hours of
  versions). That gives time travel (``read(version=)``, ``as_of``,
  ``register_views``/``sql`` ``as_of_ts``, ``ModelContext.ref``),
  snapshot-isolated reads (a DataFrame opened before a MERGE reads the
  same rows after it) and :meth:`TableStore.diff` between versions.

A partition-pruned commit hard-links the files it keeps from the previous
snapshot (the local-filesystem analog of a lake manifest reusing unchanged
data files: no data copy, and deleting an old snapshot only drops link
counts).

Single-writer per table is the contract, as in dbt (the reference's runs
are serialized by its scheduler), and it enforces itself: every sink holds
``flock(_v/LOCK)`` from its first read of the table to the end of its
commit, so a racing second writer raises :class:`ConcurrentWriteError`
instead of orphaning a snapshot. The kernel releases the lock when its
holder exits, killed or not. Readers never take it.

On a cluster with Delta/Iceberg available, ``TableStore`` is the single seam
to swap: ``merge`` becomes ``MERGE INTO target USING updates ON <keys> WHEN
MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` and
``optimize``/``vacuum`` become the native table operations (reference
post-hooks ``macros/dune_dbt_overrides/optimize_table.sql:3``,
``vacuum_table.sql:3``).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import tablemeta
from .staging import stage


def _split_merge_scope(
    old: DataFrame, incremental_predicates: list[str] | None
) -> tuple[DataFrame, DataFrame | None]:
    """Split target rows into (in-scope, out-of-scope) under dbt-style
    ``incremental_predicates``. Out-of-scope rows (predicate false OR
    NULL, per SQL MERGE match semantics) bypass the key anti-join
    entirely — that bypass IS the scan-bounding the config exists for.
    Returns ``(old, None)`` when no predicates are configured.
    """
    if not incremental_predicates:
        return old, None
    scope = None
    for p in incremental_predicates:
        cond = F.expr(p)
        scope = cond if scope is None else (scope & cond)
    in_scope = F.coalesce(scope, F.lit(False))
    return old.filter(in_scope), old.filter(~in_scope)


def _upsert(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    scope_keys: DataFrame | None = None,
    incremental_predicates: list[str] | None = None,
) -> DataFrame:
    """``old`` minus every in-scope row whose ``key_cols`` tuple appears in
    ``scope_keys`` (default: ``new``'s keys), plus ``new`` aligned to
    ``old``'s columns — the merged content behind both ``merge`` and
    ``replace_scope``."""
    old, out_scope = _split_merge_scope(old, incremental_predicates)
    keys = (new if scope_keys is None else scope_keys).select(*key_cols).distinct()
    kept = old.join(keys, on=key_cols, how="left_anti")
    result = kept.unionByName(new.select(*old.columns))
    return result if out_scope is None else out_scope.unionByName(result)


def _touched_partition_predicate(touched_rows, partition_by: list[str]) -> F.Column:
    """OR-of-ANDs predicate selecting exactly the touched partitions.

    Uses NULL-SAFE equality (``<=>``): a NULL partition value lands in
    Hive's ``__HIVE_DEFAULT_PARTITION__`` directory and must select that
    partition's existing rows into the merge slice — plain ``=`` never
    matches NULL, which would exclude the null partition from the
    old-slice read while the commit still replaces its directory,
    silently dropping every non-updated key there (ADVICE r10). Catalyst
    prunes partitions on ``EqualNullSafe`` the same as on ``EqualTo``, so
    the predicate still reaches the scan as partition pruning.
    """
    pred = None
    for row in touched_rows:
        clause = None
        for c in partition_by:
            cond = F.col(c).eqNullSafe(F.lit(row[c]))
            clause = cond if clause is None else (clause & cond)
        pred = clause if pred is None else (pred | clause)
    return pred


def _link_tree(src: str, dst: str, skip_partition_dirs: set[str]) -> None:
    """Hard-link every parquet file under ``src`` into ``dst``, preserving
    the relative (partition) layout, skipping files whose partition
    subpath is in ``skip_partition_dirs``."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        rel = "" if rel == "." else rel
        if rel in skip_partition_dirs:
            continue
        for f in files:
            if not f.endswith(".parquet"):
                continue
            os.makedirs(os.path.join(dst, rel), exist_ok=True)
            os.link(os.path.join(root, f), os.path.join(dst, rel, f))


_VDIR = "_v"
_SNAP = "snap-"
_LOCK = "LOCK"


class ConcurrentWriteError(RuntimeError):
    """A second writer raced a table's commit window.

    The store is single-writer per table (dbt serializes runs); this error
    makes the contract enforce itself instead of letting the last manifest
    rename win and orphaning the loser's snapshot.
    """


class TableStore:
    """A named-table store rooted at a directory (see the module docstring).

    The store plays the role of the warehouse the reference writes into
    (Dune's ``delta_prod`` Delta Lake; SURVEY §2.1 S4/S11). ``schema_suffix``
    reproduces the reference's dev/prod/PR schema isolation
    (``macros/dune_dbt_overrides/get_custom_schema.sql:9-24``).
    ``history=True`` keeps every committed version until :meth:`vacuum`
    expires it; the default keeps only the current one. A store without
    history opened on a warehouse with history drops the older versions
    of each table it commits to.
    """

    def __init__(
        self, spark: SparkSession, root: str, schema_suffix: str = "", history: bool = False
    ):
        self.spark = spark
        self.root = root
        self.schema_suffix = schema_suffix
        self.history = history
        os.makedirs(self._base(), exist_ok=True)

    def _base(self) -> str:
        return os.path.join(self.root, self.schema_suffix) if self.schema_suffix else self.root

    def path(self, name: str) -> str:
        return os.path.join(self._base(), name)

    # ------------------------------------------------------------ metadata

    def _vdir(self, name: str) -> str:
        return os.path.join(self.path(name), _VDIR)

    def _manifests(self, name: str) -> list[int]:
        vdir = self._vdir(name)
        if not os.path.isdir(vdir):
            return []
        out = []
        for f in os.listdir(vdir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    out.append(int(f[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._vdir(name), f"v{version:08d}.json")

    def _load_manifest(self, name: str, version: int) -> dict:
        with open(self._manifest_path(name, version)) as f:
            return json.load(f)

    def current_version(self, name: str) -> int | None:
        vs = self._manifests(name)
        return vs[-1] if vs else None

    def versions(self, name: str) -> list[dict]:
        """Commit history, oldest first: [{version, ts, op}, ...]."""
        return [
            {"version": v, **{k: m[k] for k in ("ts", "op")}}
            for v in self._manifests(name)
            for m in (self._load_manifest(name, v),)
        ]

    def _snapshot(
        self, name: str, version: int | None = None
    ) -> tuple[str, StructType, list[str]] | None:
        """``(directory, schema, partition_by)`` of ``version`` (default: the
        current one), as its manifest records them (``None``: no table)."""
        if version is None:
            version = self.current_version(name)
            if version is None:
                return None
        m = self._load_manifest(name, version)
        d = os.path.join(self.path(name), m["snap"])
        return d, StructType.fromJson(m["schema"]), m["partition_by"]

    def _data_dir(self, name: str) -> str | None:
        """The current snapshot directory (``None``: no table)."""
        snap = self._snapshot(name)
        return snap[0] if snap else None

    # ------------------------------------------------------------- readers

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def read(
        self,
        name: str,
        version: int | None = None,
        as_of_ts: float | None = None,
    ) -> DataFrame:
        """Read the table at the newest version (default), at an explicit
        ``version``, or at the newest version committed at-or-before
        ``as_of_ts`` (epoch seconds) — Delta's ``VERSION AS OF`` /
        ``TIMESTAMP AS OF``. The version's manifest supplies the schema,
        so the read runs no schema-inference job."""
        if version is not None and as_of_ts is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        if as_of_ts is not None:
            eligible = [
                v for v in self._manifests(name)
                if self._load_manifest(name, v)["ts"] <= as_of_ts
            ]
            if not eligible:
                raise ValueError(
                    f"no version of {name!r} existed at or before ts={as_of_ts}"
                )
            version = eligible[-1]
        if version is None:
            version = self.current_version(name)
            if version is None:
                raise FileNotFoundError(f"table {name!r} has no committed version")
        elif version not in self._manifests(name):
            raise ValueError(
                f"version {version} of {name!r} not found "
                f"(have {self._manifests(name)} — vacuumed?)"
            )
        d, schema, _ = self._snapshot(name, version)
        return self.spark.read.schema(schema).parquet(d)

    def as_of(self, name: str, ts: float) -> DataFrame:
        return self.read(name, as_of_ts=ts)

    # -------------------------------------------------------------- commits

    @contextlib.contextmanager
    def _write_lock(self, name: str):
        """Exclusive per-table writer lock, held by every sink from its
        first read of the table to the end of its commit: a non-blocking
        ``flock`` on ``_v/LOCK``. The file is never deleted; the kernel
        drops the lock when the descriptor closes, also when the holder
        is killed. A second holder, in this process or another, raises
        :class:`ConcurrentWriteError`."""
        os.makedirs(self._vdir(name), exist_ok=True)
        fd = os.open(os.path.join(self._vdir(name), _LOCK), os.O_CREAT | os.O_WRONLY)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                raise ConcurrentWriteError(
                    f"table {name!r} is locked by another writer; the store is "
                    "single-writer per table — serialize the runs"
                ) from None
            yield
        finally:
            os.close(fd)

    def _stage(
        self, df: DataFrame, fresh: str, name: str, partition_by: list[str] | None, keep: str
    ) -> None:
        """Write ``df`` into the new directory ``fresh``, then hard-link the
        current files ``keep`` retains: ``"none"``, ``"untouched"`` (every
        partition the write did not produce, as Spark encoded it — never
        re-encoded in Python) or ``"all"``. A partitioned write of zero
        rows leaves no data file; the manifest's schema still reads it."""
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(fresh)
        if keep != "none":
            skip = tablemeta.partition_subdirs(fresh) if keep == "untouched" else set()
            _link_tree(self._data_dir(name), fresh, skip)

    def _commit(
        self, df: DataFrame, name: str, partition_by: list[str] | None, op: str, keep: str
    ) -> None:
        """Stage ``df`` (see :meth:`_stage`) into the next snapshot dir, then
        rename a complete manifest into ``_v/`` — the atomic commit point.
        The manifest records the layout and ``df``'s schema in the column
        order a read returns (partition columns last, in layout order).
        The previous snapshot's files are immutable, so ``df`` may read
        them while the new snapshot is written. A failure before the
        rename removes the partial snapshot; without ``history``, the
        commit then drops every other version of the table. ``op`` labels
        the commit in the history. Unless ``keep`` is ``"none"``,
        ``partition_by`` must be the committed layout."""
        parts = list(partition_by or [])
        if keep != "none":
            committed = self.partition_cols(name)
            if committed != parts:
                raise ValueError(
                    f"{op} into {name!r} declares partition_by={parts}, but the "
                    f"table's committed layout is {committed}; only a full "
                    "rewrite changes the layout"
                )
        schema = StructType(
            [f for f in df.schema.fields if f.name not in parts] + [df.schema[c] for c in parts]
        )
        version = (self.current_version(name) or 0) + 1
        rel = f"{_SNAP}{version:08d}"
        snap = os.path.join(self.path(name), rel)
        tmp = os.path.join(self._vdir(name), f".tmp-v{version:08d}.json")
        try:
            if os.path.isdir(snap):  # orphan from a crashed commit: discard
                shutil.rmtree(snap)
            self._stage(df, snap, name, partition_by, keep)
            with open(tmp, "w") as f:
                json.dump({
                    "version": version, "ts": time.time(), "op": op, "snap": rel,
                    "schema": schema.jsonValue(), "partition_by": parts,
                }, f)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, self._manifest_path(name, version))
        except BaseException:
            shutil.rmtree(snap, ignore_errors=True)
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            raise
        if not self.history:
            self._prune(name, [v for v in self._manifests(name) if v != version])

    def _prune(self, name: str, expired: list[int]) -> None:
        """Delete the manifests of the ``expired`` versions, then every
        snapshot directory no remaining manifest references — expired
        versions and what crashed commits left. Callers hold the writer
        lock, so no commit is in flight."""
        for v in expired:
            os.remove(self._manifest_path(name, v))
        live = {self._load_manifest(name, v)["snap"] for v in self._manifests(name)}
        tdir = self.path(name)
        for f in os.listdir(tdir):
            if f.startswith(_SNAP) and f not in live:
                shutil.rmtree(os.path.join(tdir, f))

    # ------------------------------------------------------------------ sinks

    def write_full(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        op: str = "overwrite",
    ) -> None:
        """CREATE TABLE AS (first run / full refresh; SURVEY §2.1 S7, C8).

        A full rewrite commit: ``df`` may read the table's current files,
        which stay in place until the commit publishes, so a failed job
        never leaves a half-written table (the reference gets this from
        Trino CTAS atomicity).

        ``op`` labels what the full rewrite IS semantically ("optimize",
        …); the commit manifest records it, so the history can tell it
        from a user full refresh (ADVICE r10).
        """
        with self._write_lock(name):
            self._commit(df, name, partition_by, op, "none")

    def append(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        """Pure insert-append incremental (SURVEY §2.1 S8): every current
        file is kept, the new ones are added."""
        with self._write_lock(name):
            if self.exists(name):
                self._commit(df, name, partition_by, "append", "all")
            else:
                self._commit(df, name, partition_by, "overwrite", "none")

    def merge(
        self,
        updates: DataFrame,
        name: str,
        unique_key: list[str],
        partition_by: list[str] | None = None,
        on_schema_change: str = "ignore",
        incremental_predicates: list[str] | None = None,
    ) -> None:
        """Upsert ``updates`` into table ``name`` on ``unique_key`` (S6).

        ``incremental_predicates`` (dbt's config of the same name) bound
        the TARGET side of the match: only target rows satisfying every
        predicate enter the key anti-join; the rest are carried through
        untouched without being compared. On a lake engine this is the
        knob that stops a MERGE from scanning years of target history
        (the predicates ride into the target scan as partition/file
        pruning). dbt's hazard is reproduced faithfully: an update whose
        key matches only an out-of-scope row counts as NOT MATCHED and
        is inserted — predicates must cover every window the build can
        emit. NULL-valued predicates count as out-of-scope (SQL MERGE
        match semantics).

        Semantics match dbt-trino's merge strategy: rows whose key matches an
        incoming row are replaced wholesale; new keys are inserted; rows
        outside the incoming key set are untouched. If ``updates`` contains
        several rows for one key, all are kept (same as the reference, whose
        MERGE sources are already key-unique by construction).

        A merge whose ``partition_by`` is the table's committed layout
        merges partition-pruned: the (small) set of partitions the slice
        touches — bounded by the lookback window, never by table size — is
        collected, only those partitions of the target are read and
        merged, and the commit keeps every other partition's files as they
        are. Any other merge rewrites the table in full, in the declared
        layout: an unpartitioned table or a changed ``partition_by``.

        ``on_schema_change`` mirrors dbt's contract for schema drift:
        ``'ignore'`` (default, the reference's effective setting) drops
        NEW source columns; ``'append_new_columns'`` widens the target
        for them, NULL-backfilling existing rows; ``'sync_all_columns'``
        additionally DROPS target columns the source no longer carries
        (full two-way sync — the one mode where a column missing from
        ``updates`` is legal); ``'fail'`` raises on any new column. Under
        every other mode a column MISSING from ``updates`` errors, as in
        dbt. A schema-altering merge always takes the full-rewrite path,
        even on partitioned tables — rewriting only the touched
        partitions would leave the directory with mixed file schemas,
        and a plain parquet read samples one footer (silently dropping
        the new column for readers without ``mergeSchema``). A lake
        format with real schema metadata (the Delta seam) alters without
        the rewrite.
        """
        modes = ("ignore", "append_new_columns", "fail", "sync_all_columns")
        if on_schema_change not in modes:
            # a typo must not silently behave as 'ignore' and drop columns
            raise ValueError(
                f"unsupported on_schema_change={on_schema_change!r}; "
                f"expected one of {modes}"
            )
        with self._write_lock(name):
            if not self.exists(name):
                self._commit(updates, name, partition_by, "overwrite", "none")
                return

            old = self.read(name)
            new_fields = [
                f for f in updates.schema.fields if f.name not in set(old.columns)
            ]
            if new_fields and on_schema_change == "fail":
                raise ValueError(
                    f"schema change on {name}: new column(s) "
                    f"{[f.name for f in new_fields]} with on_schema_change='fail'"
                )
            sync = on_schema_change == "sync_all_columns"
            gone_cols = (
                [c for c in old.columns if c not in set(updates.columns)] if sync else []
            )
            if any(k in gone_cols for k in unique_key):
                raise ValueError(
                    f"sync_all_columns would drop unique_key column(s) "
                    f"{[k for k in unique_key if k in gone_cols]} from {name}"
                )
            widen = bool(new_fields) and on_schema_change in (
                "append_new_columns",
                "sync_all_columns",
            )
            altering = widen or bool(gone_cols)

            if partition_by and list(partition_by) == self.partition_cols(name) and not altering:
                with stage(updates) as updates:
                    touched = updates.select(*partition_by).distinct().collect()
                    if touched:
                        old = old.filter(_touched_partition_predicate(touched, partition_by))
                        merged = _upsert(
                            old, updates, unique_key,
                            incremental_predicates=incremental_predicates,
                        )
                        self._commit(merged, name, partition_by, "merge", "untouched")
                return

            # unpartitioned, a changed layout, or a schema-altering
            # merge: full rewrite in the declared layout
            if gone_cols:
                old = old.drop(*gone_cols)
            if widen:
                for f in new_fields:
                    old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
            merged = _upsert(
                old, updates, unique_key, incremental_predicates=incremental_predicates
            )
            self._commit(merged, name, partition_by, "merge", "none")

    def replace_scope(
        self,
        updates: DataFrame,
        name: str,
        scope_keys: DataFrame,
        key_cols: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Delete-then-insert within a key scope, in ONE rewrite: drop every
        existing row whose ``key_cols`` tuple appears in ``scope_keys``,
        then insert ``updates`` (whose rows must lie inside the scope).

        This is the sink primitive for derived per-key DETAIL tables whose
        row COUNT per key can shrink: a plain MERGE keyed on (id, detail)
        upserts matching rows but cannot remove superseded ones — e.g. a
        re-dropped document whose new text has fewer contaminated spans
        would keep stale span rows forever (ADVICE r8,
        ``streaming/dedup.py::stream_decontaminate``). Scoped
        delete+insert keeps the table exactly equal to "recompute the
        detail for these keys", which is what makes an at-least-once
        foreachBatch replay idempotent.
        """
        with self._write_lock(name):
            if not self.exists(name):
                self._commit(updates, name, partition_by, "overwrite", "none")
                return
            merged = _upsert(self.read(name), updates, key_cols, scope_keys=scope_keys)
            self._commit(merged, name, partition_by, "replace_scope", "none")

    def insert_overwrite(
        self,
        updates: DataFrame,
        name: str,
        partition_by: list[str],
    ) -> None:
        """dbt's third incremental strategy: replace every partition
        present in ``updates`` WHOLESALE, leave the rest untouched.

        No key matching at all — the unit of idempotency is the
        partition, which is why this beats MERGE for append-mostly daily
        data at 100 TB: the writer streams straight into the new
        partitions (no anti-join, no old-slice read), and re-running a
        day reproduces it exactly. The trade: ``updates`` must carry the
        COMPLETE new content of each touched partition (a partial slice
        silently drops that partition's other rows — dbt's documented
        contract for the strategy).
        """
        if not partition_by:
            raise ValueError("insert_overwrite requires partition_by")
        with self._write_lock(name):
            if self.exists(name):
                self._commit(updates, name, partition_by, "insert_overwrite", "untouched")
            else:
                self._commit(updates, name, partition_by, "overwrite", "none")

    # ------------------------------------------------------------ maintenance

    def file_count(self, name: str) -> int:
        """Number of data files in the table (walked from the directory —
        no Spark job, no RDD conversion)."""
        d = self._data_dir(name)
        if d is None:
            return 0
        total = 0
        for _root, _dirs, files in os.walk(d):
            total += sum(1 for f in files if f.endswith(".parquet"))
        return total

    def partition_cols(self, name: str) -> list[str]:
        """The partition layout the current version was committed with
        (``[]``: unpartitioned or no table)."""
        snap = self._snapshot(name)
        return snap[2] if snap else []

    def column_max(self, name: str, column: str):
        """``max(column)`` of the current version from its manifest and
        files, or :data:`~.tablemeta.NO_STATS` (see
        :func:`.tablemeta.column_max`)."""
        snap = self._snapshot(name)
        return tablemeta.column_max(*snap, column) if snap else tablemeta.NO_STATS

    def optimize(
        self,
        name: str,
        target_files: int | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """File compaction (reference prod post-hook ``optimize_table.sql:1-6``,
        gated to the prod target there and to the Runner's prod profile here).

        Without Delta's OPTIMIZE, compaction = rewrite at a chosen file
        count, derived from the on-disk file count (a directory walk — not
        an RDD conversion, which would spin up a job just to pick a
        number). Partitioned tables keep their layout: rows are
        hash-repartitioned on the partition columns, so each partition
        compacts to one file in the full rewrite through ``write_full``.

        ``cluster_by`` is the Delta ``ZORDER``/``CLUSTER BY`` analog for
        range predicates: unpartitioned tables range-partition on the
        cluster columns and every file sorts on them, so each file covers
        a tight, near-disjoint min/max range and parquet footer stats
        prune whole files/row-groups on ``col BETWEEN``-style scans — the
        data-skipping layer that matters most at 100 TB. Partitioned
        tables keep their partition layout and sort within it.

        ``zorder_by`` (exactly two non-negative integer columns) is the
        multi-dimensional variant — Delta's ``OPTIMIZE ... ZORDER BY``:
        files lay out along the Morton curve of both columns
        (``operators/zorder.py``), so footer stats stay tight on BOTH
        dimensions instead of only the leading sort column. Mutually
        exclusive with ``cluster_by`` (one layout per table).
        """
        if not self.exists(name):
            return
        if cluster_by and zorder_by:
            raise ValueError("choose cluster_by OR zorder_by, not both")
        df = self.read(name)
        n = target_files or max(1, self.file_count(name) // 8)
        parts = self.partition_cols(name)
        if zorder_by:
            from ..operators.zorder import zvalue

            if len(zorder_by) != 2:
                raise ValueError("zorder_by takes exactly two columns")
            # zvalue interleaves the LOW bits only, so raw columns whose
            # range exceeds 2^bits would wrap (value mod 2^bits) and the
            # layout would silently degenerate. Normalize both columns
            # into [0, 2^bits) from their observed min/max first — one
            # scalar agg (footer-cheap), integer arithmetic throughout.
            bits = 10
            xc, yc = zorder_by
            b = df.agg(
                F.min(F.col(xc).cast("long")).alias("x0"),
                F.max(F.col(xc).cast("long")).alias("x1"),
                F.min(F.col(yc).cast("long")).alias("y0"),
                F.max(F.col(yc).cast("long")).alias("y1"),
            ).first()

            def _scaled(c: str, lo, hi) -> F.Column:
                if lo is None:  # all-null column: constant key
                    return F.lit(0).cast("long")
                span = max(1, int(hi) - int(lo))
                return F.expr(
                    f"CAST((CAST(`{c}` AS BIGINT) - {int(lo)}) * "
                    f"{(1 << bits) - 1} DIV {span} AS BIGINT)"
                )

            cluster = [
                zvalue(
                    _scaled(xc, b["x0"], b["x1"]),
                    _scaled(yc, b["y0"], b["y1"]),
                    bits,
                ).alias("_zval")
            ]
        else:
            cluster = [F.col(c) for c in (cluster_by or [])]
        if parts:
            out = df.repartition(n, *[F.col(c) for c in parts])
            if cluster:
                out = out.sortWithinPartitions(*[F.col(c) for c in parts], *cluster)
            self.write_full(out, name, parts, op="optimize")
        else:
            if cluster:
                out = df.repartitionByRange(n, *cluster).sortWithinPartitions(*cluster)
            else:
                out = df.repartition(n)
            self.write_full(out, name, op="optimize")

    def vacuum(self, name: str, retain_hours: int = 168) -> None:
        """Snapshot cleanup (reference ``vacuum_table.sql:1-6``, Delta
        ``VACUUM <table> RETAIN n HOURS``): under the writer lock, remove
        the manifests committed before the retention window — always
        keeping the current version — then every snapshot no surviving
        manifest references (expired versions, and orphans of crashed
        commits). Files hard-linked into surviving snapshots stay (their
        link count just drops)."""
        if not os.path.isdir(self.path(name)):
            return
        with self._write_lock(name):
            cur = self.current_version(name)
            cutoff = time.time() - retain_hours * 3600
            self._prune(name, [
                v for v in self._manifests(name)
                if v != cur and self._load_manifest(name, v)["ts"] < cutoff
            ])

    def drop(self, name: str) -> None:
        p = self.path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)

    def diff(
        self,
        name: str,
        id_col: str,
        content_cols: list[str],
        v_old: int | None = None,
        v_new: int | None = None,
    ) -> DataFrame:
        """Per-id diff between two committed versions (defaults: previous
        vs current) — the lakehouse "what changed in this commit?" audit,
        built on :func:`~..operators.snapshot.snapshot_diff` over the two
        immutable snapshots. Both sides reduce to (id, fingerprint)
        narrow maps before one full-outer equi-join; payloads never
        shuffle."""
        from ..operators.snapshot import snapshot_diff

        vs = self._manifests(name)
        if not vs:
            raise ValueError(f"table {name!r} has no committed versions to diff")
        if v_new is None:
            v_new = vs[-1]
        if v_old is None:
            older = [v for v in vs if v < v_new]
            if not older:
                raise ValueError(f"{name!r} has no version before {v_new}")
            v_old = older[-1]
        return snapshot_diff(
            self.read(name, version=v_old),
            self.read(name, version=v_new),
            id_col,
            content_cols,
        )

    # --------------------------------------------------------------- ad hoc

    def tables(self) -> list[str]:
        base = self._base()
        return sorted(
            f for f in os.listdir(base)
            if not f.startswith(".") and self.exists(f)  # readable tables only
        )

    def register_views(self, as_of_ts: float | None = None) -> list[str]:
        """Register every materialized table as a temp view for spark.sql —
        the ad-hoc SELECT layer (reference lifecycle entry point 3:
        ``dbt show --inline`` / Dune UI queries, ``DEVELOPMENT.md:149-151``).
        With ``as_of_ts`` every view reads its table as it was at that
        instant (Delta ``TIMESTAMP AS OF`` applied to the whole
        warehouse); a table with no version by then is skipped."""
        names: list[str] = []
        for name in self.tables():
            try:
                df = self.read(name, as_of_ts=as_of_ts)
            except ValueError:  # no version existed at that instant
                continue
            df.createOrReplaceTempView(name)
            names.append(name)
        return names

    def sql(self, query: str, as_of_ts: float | None = None) -> DataFrame:
        """Run ad-hoc SQL over the registered warehouse tables."""
        self.register_views(as_of_ts)
        return self.spark.sql(query)
