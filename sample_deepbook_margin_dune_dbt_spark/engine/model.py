"""Model registry: the engine's replacement for dbt's Jinja control plane.

Maps the reference's control-plane operators (SURVEY §2.9) onto plain Python:

- ``@model(...)``        ≈ ``{{ config(...) }}``          (C5)
- ``ctx.ref(name)``      ≈ ``{{ ref('name') }}``          (C1 — also declares
  the DAG edge; deps are declared statically on the decorator so the runner
  can topo-sort without executing builders)
- ``ctx.source(db, t)``  ≈ ``{{ source('db','t') }}``     (C2, with the
  database rebinding of ``macros/dune_dbt_overrides/source.sql`` replaced by
  the source catalog)
- ``ctx.is_incremental()``≈ ``is_incremental()``          (C3 — true iff the
  target table exists and we're not in full-refresh)
- ``ctx.this()``         ≈ ``{{ this }}``                 (C4 — the model's
  own previous materialization)
- ``ctx.watermark(col)`` ≈ ``select max(col) from {{ this }}`` (P4/A2/P6 —
  the one high-water-mark probe every incremental model reads; ``None`` on
  a full build or an empty target)
- ``ctx.now()``          ≈ ``now()``                      (F9 — injectable
  fixed clock so tests and golden hashes are deterministic; a naive
  ``fixed_now`` is UTC, the session time zone ``get_spark`` pins)

Each config dataclass (``ModelConfig``, ``ExposureConfig``, and
``engine.unittests.UnitTestConfig``) is the only place its fields and
defaults are written, and its ``__post_init__`` the only place they are
checked. The registrars ``model``, ``snapshot``, ``exposure`` and
``unit_test`` pass their keyword arguments straight through to it, so a
config built directly is validated exactly like a decorated one.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import SourceCatalog
from .materialize import TableStore
from .tablemeta import NO_STATS


@dataclass
class ModelConfig:
    name: str
    builder: Callable[["ModelContext"], DataFrame]
    unique_key: list[str] = field(default_factory=list)
    materialized: str = "incremental"  # 'incremental' | 'table'
    incremental_strategy: str = "merge"  # 'merge' | 'append' | 'insert_overwrite'
    # dbt's schema-drift contract for incremental MERGE models: 'ignore'
    # (reference default) | 'append_new_columns' | 'sync_all_columns' | 'fail'
    on_schema_change: str = "ignore"
    partition_by: list[str] | None = None
    deps: list[str] = field(default_factory=list)
    tags: list[str] = field(default_factory=list)
    # declarative data tests (dbt generic tests; C9). The reference uses
    # only not_null; the other three standard dbt tests are supported for
    # the extended engine:
    not_null: list[str] = field(default_factory=list)
    # columns (or the unique_key combination) that must be unique
    unique: list[str] = field(default_factory=list)
    # column → allowed value list
    accepted_values: dict[str, list] = field(default_factory=dict)
    # (column, other_model, other_column): every non-null value must exist
    # in the referenced model's column (dbt `relationships`)
    relationships: list[tuple[str, str, str]] = field(default_factory=list)
    # maintenance post-hooks run after a successful build. None → the
    # Runner's profile default (prod: ['optimize', 'vacuum'], matching the
    # reference's target.name == 'prod' gate in
    # macros/dune_dbt_overrides/optimize_table.sql:1-6 / vacuum_table.sql:1-6);
    # a list (possibly empty) overrides per model.
    post_hooks: list[str] | None = None
    # range-clustering columns applied by the optimize post-hook (Delta
    # ZORDER/CLUSTER BY analog): files sort on these so parquet footer
    # min/max stats prune range scans
    cluster_by: list[str] = field(default_factory=list)
    # two-column Morton layout applied by the optimize post-hook (Delta
    # OPTIMIZE ZORDER BY analog; operators/zorder.py) — tight footer
    # stats on BOTH columns; mutually exclusive with cluster_by
    zorder_by: list[str] = field(default_factory=list)
    # dbt model contract (`contract: {enforced: true}` + per-column
    # data_type): column name → Spark DDL type string. When set, the
    # built DataFrame's schema must carry EXACTLY these columns with
    # these types (order-insensitive, both directions) or the build
    # fails BEFORE materializing — downstream consumers never see a
    # drifted schema.
    contract: dict[str, str] | None = None
    # dbt `description:` — surfaces in the manifest for docs/lineage;
    # a description edit counts as modified for state:modified (the
    # conservative CI behavior)
    description: str = ""
    # SCD2 snapshot node config (materialized='snapshot'; dbt `dbt
    # snapshot`): change-detection strategy + its per-strategy column(s)
    snapshot_strategy: str = "check"  # 'check' | 'timestamp'
    check_cols: list[str] = field(default_factory=list)
    updated_at: str | None = None
    invalidate_hard_deletes: bool = False
    # dbt `incremental_predicates`: SQL predicates over TARGET rows that
    # bound the merge's match scope. Rows outside the predicate window
    # are carried through untouched WITHOUT entering the key anti-join —
    # on a real lake this is what keeps a MERGE from scanning years of
    # target history. dbt's documented hazard applies identically: an
    # update whose key matches only an out-of-scope row is treated as
    # NOT MATCHED and inserted, so predicates must cover every window
    # the incremental build can emit.
    incremental_predicates: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        """The one place a model's config is validated, whichever
        registrar (or test) constructs it."""
        name = self.name
        if self.materialized == "snapshot":
            if not self.unique_key:
                raise ValueError(f"snapshot {name!r}: unique_key is required")
            snap = self.snapshot_strategy
            if snap not in ("check", "timestamp"):
                raise ValueError(
                    f"snapshot {name!r}: strategy={snap!r}; expected 'check' or 'timestamp'"
                )
            if snap == "check" and not self.check_cols:
                raise ValueError(f"snapshot {name!r}: strategy='check' requires check_cols")
            if snap == "timestamp" and not self.updated_at:
                raise ValueError(f"snapshot {name!r}: strategy='timestamp' requires updated_at")
        elif self.materialized not in ("incremental", "table"):
            raise ValueError(
                f"model {name!r}: materialized={self.materialized!r}; expected "
                "'incremental' or 'table'"
            )
        strategy = self.incremental_strategy
        if strategy not in ("merge", "append", "insert_overwrite"):
            # an unknown strategy must not silently materialize as merge
            raise ValueError(
                f"model {name!r}: incremental_strategy={strategy!r}; "
                "expected 'merge', 'append', or 'insert_overwrite'"
            )
        if strategy == "insert_overwrite" and not self.partition_by:
            raise ValueError(
                f"model {name!r}: insert_overwrite replaces whole partitions — "
                "partition_by is required"
            )
        if self.on_schema_change not in (
            "ignore", "append_new_columns", "sync_all_columns", "fail"
        ):
            raise ValueError(
                f"model {name!r}: on_schema_change={self.on_schema_change!r}; "
                "expected 'ignore', 'append_new_columns', 'sync_all_columns', "
                "or 'fail'"
            )
        if self.cluster_by and self.zorder_by:
            raise ValueError(f"model {name!r}: choose cluster_by OR zorder_by, not both")
        if self.zorder_by and len(self.zorder_by) != 2:
            raise ValueError(f"model {name!r}: zorder_by takes exactly two columns")
        if self.incremental_predicates and strategy != "merge":
            raise ValueError(
                f"model {name!r}: incremental_predicates only apply to the "
                "'merge' strategy"
            )


_REGISTRY: dict[str, ModelConfig] = {}


def model(name: str, **config):
    """Register a model builder, ``(ctx) -> DataFrame``; ``config`` is any
    set of ``ModelConfig`` fields."""

    def deco(fn: Callable[["ModelContext"], DataFrame]):
        _REGISTRY[name] = ModelConfig(name=name, builder=fn, **config)
        return fn

    return deco


def snapshot(name: str, unique_key: list[str], strategy: str = "check", **config):
    """Register an SCD2 snapshot node (dbt ``{% snapshot %}`` / the
    ``dbt snapshot`` command; reference scaffold ``dbt_project.yml``
    ``snapshot-paths``). The builder returns the source's CURRENT state;
    the runner folds it into the ``(…, valid_from, valid_to)`` history
    table via ``engine.snapshots.snapshot_scd2``. Snapshot nodes live in
    the same registry/DAG as models — selectors, manifest, run-results,
    and ``build`` all see them — and are never dropped by
    ``--full-refresh`` (history is the point; dbt behaves the same).
    Unlike a model, a snapshot runs no post-hooks unless it lists them.
    """
    config.setdefault("post_hooks", [])
    return model(
        name,
        unique_key=unique_key,
        materialized="snapshot",
        snapshot_strategy=strategy,
        **config,
    )


@dataclass
class ExposureConfig:
    """dbt exposure: a declared DOWNSTREAM consumer of the DAG (a
    dashboard, an ML training job, an export feed). Metadata-only — it
    never executes — but it appears in the manifest for lineage tools
    and is selectable (``exposure:<name>`` resolves to its upstream
    closure), so CI can rebuild exactly what a consumer reads."""

    name: str
    depends_on: list[str]
    type: str = "application"  # dbt: dashboard|notebook|analysis|ml|application
    owner: str = ""
    url: str = ""
    description: str = ""

    def __post_init__(self) -> None:
        name = self.name
        if not self.depends_on:
            raise ValueError(f"exposure {name!r}: depends_on must be non-empty")
        if self.type not in _EXPOSURE_TYPES:
            raise ValueError(
                f"exposure {name!r}: type={self.type!r}; expected one of {_EXPOSURE_TYPES}"
            )
        missing = [d for d in self.depends_on if d not in _REGISTRY]
        if missing:
            raise ValueError(
                f"exposure {name!r}: depends_on names unregistered model(s) {missing}"
            )


_EXPOSURES: dict[str, ExposureConfig] = {}

_EXPOSURE_TYPES = ("dashboard", "notebook", "analysis", "ml", "application")


def exposure(name: str, **config) -> ExposureConfig:
    """Register a dbt-style exposure; returns its config."""
    cfg = _EXPOSURES[name] = ExposureConfig(name=name, **config)
    return cfg


def all_exposures() -> dict[str, ExposureConfig]:
    return dict(_EXPOSURES)


# common spellings → Spark simpleString() canonical names, so a contract
# can say 'long' for what simpleString reports as 'bigint'
_TYPE_ALIASES = {
    "long": "bigint",
    "integer": "int",
    "short": "smallint",
    "byte": "tinyint",
    "bool": "boolean",
}


def _canon_type(t: str) -> str:
    t = t.strip().lower().replace(" ", "")
    return _TYPE_ALIASES.get(t, t)


def enforce_contract(df: DataFrame, contract: dict[str, str], model_name: str) -> None:
    """dbt model-contract check: the DataFrame must carry exactly the
    contracted columns with the contracted types. Schema-only — no job
    runs; the check happens before any materialization so a violated
    contract never reaches storage. Raises ``ValueError`` listing every
    violation at once (missing / extra / mistyped)."""
    actual = {f.name: _canon_type(f.dataType.simpleString()) for f in df.schema.fields}
    want = {c: _canon_type(t) for c, t in contract.items()}
    problems = []
    for col, typ in want.items():
        if col not in actual:
            problems.append(f"missing contracted column {col!r} ({typ})")
        elif actual[col] != typ:
            problems.append(
                f"column {col!r} is {actual[col]}, contract says {typ}"
            )
    for col in actual:
        if col not in want:
            problems.append(f"uncontracted column {col!r} in model output")
    if problems:
        raise ValueError(
            f"model {model_name!r} violates its contract: " + "; ".join(problems)
        )


def get_model(name: str) -> ModelConfig:
    return _REGISTRY[name]


def all_models() -> dict[str, ModelConfig]:
    return dict(_REGISTRY)


def clear_registry() -> None:
    _REGISTRY.clear()


class ModelContext:
    """Execution context handed to each model builder."""

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        sources: dict[str, str],
        current: ModelConfig,
        full_refresh: bool = False,
        fixed_now: Optional[datetime] = None,
        backfill_days: int = 30,
        lookback_days: int = 7,
        lag_widen_days: int = 0,
        vars: dict[str, object] | None = None,
        defer_store: Optional[TableStore] = None,
    ):
        self.spark = spark
        self.store = store
        # dbt --defer: refs not materialized HERE fall back to another
        # environment's warehouse (a dev build of one model reads its
        # unbuilt upstreams from prod instead of rebuilding the world)
        self.defer_store = defer_store
        self._sources = sources
        self.current = current
        self.full_refresh = full_refresh
        self.fixed_now = fixed_now
        self._vars = dict(vars or {})
        # reference time-bounding knobs (BASELINE.md): 30-day first-run
        # backfill, 7-day late-data lookback
        self.backfill_days = backfill_days
        self.lookback_days = lookback_days
        # W3 slice-lag remedy (SURVEY §2.5 caveat): incremental models that
        # lag() over their output can widen their INPUT window by this many
        # days below the lookback floor and trim the extra days after the
        # window, so the slice's first in-window day sees its true
        # predecessor instead of NULL. 0 (default) reproduces the
        # reference's incremental behavior exactly.
        self.lag_widen_days = lag_widen_days

    # --------------------------------------------------------------- dbt-isms

    def source(self, database: str, table: str) -> DataFrame:
        """dbt ``source()``: the registered path or spec, read by
        :meth:`SourceCatalog.read`."""
        return SourceCatalog(self._sources).read(self.spark, database, table)

    def ref(
        self,
        name: str,
        as_of: float | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """dbt ``ref()``; on a store with history it additionally accepts the
        Delta time-travel selectors (``SELECT … TIMESTAMP AS OF`` /
        ``VERSION AS OF`` — the "build against yesterday's upstream"
        move): ``as_of`` (epoch seconds) or ``version``. On a store without
        history a time-travel request fails loudly rather than silently
        reading the current table."""
        if name not in self.current.deps:
            raise ValueError(
                f"model {self.current.name!r} refs {name!r} but does not declare it in deps"
            )
        if as_of is not None or version is not None:
            if not self.store.history:
                raise ValueError(
                    f"ref({name!r}, as_of/version=…) requires a versioned "
                    "store (run with --versioned); the plain TableStore "
                    "keeps no history"
                )
            return self.store.read(name, version=version, as_of_ts=as_of)
        if (
            self.defer_store is not None
            and not self.store.exists(name)
            and self.defer_store.exists(name)
        ):
            return self.defer_store.read(name)
        return self.store.read(name)

    def var(self, name: str, default=None):
        """dbt ``var()``: project-level variable with an optional default
        (``Runner(vars={...})`` / CLI ``--vars k=v``)."""
        return self._vars.get(name, default)

    def is_incremental(self) -> bool:
        return (not self.full_refresh) and self.store.exists(self.current.name)

    def this(self) -> DataFrame:
        return self.store.read(self.current.name)

    # ------------------------------------------------------------------ clock

    def now(self) -> F.Column:
        """``now()`` as a Column; fixed for deterministic tests (F9 caveat)."""
        if self.fixed_now is not None:
            return F.lit(self.now_dt()).cast("timestamp")
        return F.current_timestamp()

    def now_dt(self) -> datetime:
        """The run's clock, aware UTC: a naive ``fixed_now`` is read as UTC
        whatever the host's local time zone."""
        now = self.fixed_now or datetime.now(timezone.utc)
        return now if now.tzinfo else now.replace(tzinfo=timezone.utc)

    # ------------------------------------------------- incremental predicates

    def watermark(self, column: str):
        """``select max(col) from {{ this }}`` (SURVEY §2.2 P4/A2/P6): the
        high-water mark of the model's own previous materialization.

        ``None`` on a non-incremental run or when the target holds no
        non-null value, so a builder filters its input only when there is
        a mark. The store answers from its commit manifest, which records
        the schema and the partition layout (:meth:`TableStore.column_max`):
        the directory values of a partition column, the parquet footer
        statistics of an integral or date column — no Spark job. Any other
        column takes one aggregate job that scans the column: Spark pushes
        aggregates down only into V2 sources, and ``spark.read.parquet`` is
        V1.
        """
        if not self.is_incremental():
            return None
        wm = self._stored_max(column)
        if wm is NO_STATS:
            wm = self.this().agg(F.max(F.col(column)).alias("wm")).first()["wm"]
        return wm

    def _stored_max(self, column: str):
        """``max(column)`` of ``{{ this }}`` from the store's metadata, or
        :data:`NO_STATS`."""
        return self.store.column_max(self.current.name, column)

    def watermark_ms(self, column: str = "timestamp_ms") -> int:
        """``select coalesce(max(col), 0) from {{ this }}`` (SURVEY §2.2
        P4/A2), through :meth:`watermark`."""
        return int(self.watermark(column) or 0)

    def backfill_floor_ms(self) -> int:
        """First-run bound: ``to_unixtime(now() - interval '30' day) * 1000``
        (SURVEY §2.2 P5; reference ``deepbook_margin_loan_borrowed.sql:24``)."""
        return int(self.now_dt().timestamp() * 1000) - self.backfill_days * 86400_000

    def lookback_floor_date(self, date_column: str = "snapshot_date"):
        """``select date_add('day', -7, max(snapshot_date)) from {{ this }}``
        (SURVEY §2.2 P6). A python date, or None on a full build or an
        empty target."""
        wm = self.watermark(date_column)
        return None if wm is None else wm - timedelta(days=self.lookback_days)

    def lag_input_floor_date(self, floor_date):
        """The widened input bound for lag()-bearing incremental models:
        ``floor_date - lag_widen_days`` (or ``floor_date`` unchanged when
        widening is off / the target is empty). Rows in the widened margin
        exist only to seed the lag window; trim them with
        ``trim_to_floor`` before returning."""
        if floor_date is None or self.lag_widen_days <= 0:
            return floor_date
        return floor_date - timedelta(days=self.lag_widen_days)

    def trim_to_floor(self, df: DataFrame, floor_date, date_column: str) -> DataFrame:
        """Drop the widened lag-seed margin: keep rows ≥ the true floor."""
        if floor_date is None or self.lag_widen_days <= 0:
            return df
        return df.filter(F.col(date_column) >= F.lit(floor_date))
