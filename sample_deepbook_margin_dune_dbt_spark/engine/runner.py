"""DAG runner: topo-sort, graph-closure selection, full refresh.

Replaces ``dbt run --select +model`` / ``--full-refresh``
(SURVEY §2.9 C7/C8; reference ``README.md:46``, ``DEVELOPMENT.md:156-160``).
"""

from __future__ import annotations

import heapq
import time
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from datetime import datetime, timezone
from graphlib import TopologicalSorter
from typing import Callable, Optional

from pyspark.sql import SparkSession

from .materialize import TableStore
from .model import ModelConfig, ModelContext, all_models, enforce_contract


def _reach(seeds, edges: dict[str, list[str]]) -> set[str]:
    """``seeds`` plus every node reachable from them along ``edges``."""
    seen: set[str] = set()
    stack = list(seeds)
    while stack:
        m = stack.pop()
        if m not in seen:
            seen.add(m)
            stack.extend(edges[m])
    return seen


def _upstream(seeds) -> set[str]:
    """``seeds`` plus everything they transitively depend on."""
    return _reach(seeds, {m: cfg.deps for m, cfg in all_models().items()})


def _downstream(seeds) -> set[str]:
    """``seeds`` plus every registered model that transitively depends on
    one of them."""
    children: dict[str, list[str]] = {m: [] for m in all_models()}
    for m, cfg in all_models().items():
        for d in cfg.deps:
            if d in children:
                children[d].append(m)
    return _reach(seeds, children)


class _TestsFailed(RuntimeError):
    """``build``'s gate: the model built, but its data tests failed."""

    def __init__(self, name: str, failures: dict[str, int]):
        super().__init__(f"build stopped: tests failed on {name!r}: {failures}")
        self.failures = failures


class Runner:
    #: post-hooks applied by profile when a model doesn't override them.
    #: Mirrors the reference, which optimizes + vacuums every table/
    #: incremental model after a prod build and skips both elsewhere
    #: (macros/dune_dbt_overrides/optimize_table.sql:2, vacuum_table.sql:2).
    PROFILE_POST_HOOKS = {"prod": ["optimize", "vacuum"]}

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        sources: dict[str, str],
        fixed_now: Optional[datetime] = None,
        backfill_days: int = 30,
        lookback_days: int = 7,
        profile: str = "dev",
        vacuum_retain_hours: int = 168,  # the reference's '7d'
        lag_widen_days: int = 0,
        vars: dict[str, object] | None = None,
        state: Optional[str] = None,
        defer_store: Optional[TableStore] = None,
    ):
        self.spark = spark
        self.store = store
        #: dbt --defer: refs not materialized in this warehouse read from
        #: this fallback store (a prod environment) instead of failing
        self.defer_store = defer_store
        self.sources = sources
        self.fixed_now = fixed_now
        self.backfill_days = backfill_days
        self.lookback_days = lookback_days
        self.profile = profile
        self.vacuum_retain_hours = vacuum_retain_hours
        self.lag_widen_days = lag_widen_days
        #: dbt --vars: project-level variables handed to builders via
        #: ctx.var(name, default)
        self.vars = dict(vars or {})
        #: dbt --state: path to a prior manifest.json for state:modified
        self.state = state
        #: per-model outcomes of the most recent run/build/snapshot (see _record)
        self.last_run_results: list[dict] = []

    # ------------------------------------------------------------- selection

    def _closure(
        self,
        select: str | list[str] | None,
        exclude: str | list[str] | None = None,
    ) -> list[str]:
        """Resolve dbt-style selector(s) to an execution-ordered model list.

        ``None`` → all models; ``'+name'`` → name plus upstream closure;
        ``'name+'`` → name plus downstream closure (everything that
        depends on it — the rebuild-after-a-fix selector); ``'tag:x'`` →
        models carrying the tag; ``'name'`` → just that model; a list
        unions each selector's set. ``exclude`` takes the same selector
        syntax and removes its resolved set AFTER selection (dbt
        ``--exclude``); excluding a dependency of a still-selected model
        is allowed — the dependent reads whatever materialization the
        excluded model last produced, exactly dbt's semantics.
        """
        wanted = self._resolve(select)
        if exclude is not None:
            # non-strict: excluding a selector that matches nothing (e.g. a
            # tag no model carries anymore) removes nothing rather than
            # aborting the run — dbt's behavior for --exclude
            wanted -= self._resolve(exclude, strict=False)
        registry = all_models()
        ts = TopologicalSorter({m: [d for d in registry[m].deps if d in wanted] for m in wanted})
        return list(ts.static_order())

    def _resolve(
        self, select: str | list[str] | None, strict: bool = True
    ) -> set[str]:
        registry = all_models()
        if select is None:
            wanted = set(registry)
        else:
            selectors = [select] if isinstance(select, str) else list(select)
            wanted = set()

            def _known(name: str, sel: str) -> bool:
                # strict (--select): unknown names abort with an actionable
                # message instead of a bare KeyError deep in the traversal;
                # non-strict (--exclude): they match nothing, dbt-style
                if name in registry:
                    return True
                if strict:
                    known = ", ".join(sorted(registry))
                    raise KeyError(
                        f"selector {sel!r} names unknown model {name!r}; "
                        f"registered models: {known}"
                    )
                return False

            for sel in selectors:
                if sel == "state:modified":
                    wanted |= self._modified_models()
                elif sel.startswith("exposure:") or (
                    sel.startswith("+exposure:")
                ):
                    # an exposure selects its upstream closure (dbt
                    # `--select +exposure:x`; the bare form is the same —
                    # an exposure has no node of its own to build)
                    from .model import all_exposures

                    ename = sel.split("exposure:", 1)[1]
                    exposures = all_exposures()
                    if ename not in exposures:
                        if strict:
                            raise KeyError(
                                f"selector {sel!r} names unknown exposure "
                                f"{ename!r}; registered: {sorted(exposures)}"
                            )
                        continue
                    wanted |= _upstream(exposures[ename].depends_on)
                elif sel.startswith("tag:"):
                    tagged = {m for m, c in registry.items() if sel[4:] in c.tags}
                    if not tagged and strict:
                        raise KeyError(f"no models carry {sel!r}")
                    wanted |= tagged
                elif sel.startswith("+"):
                    if _known(sel[1:], sel):
                        wanted |= _upstream([sel[1:]])
                elif sel.endswith("+"):
                    if _known(sel[:-1], sel):
                        # downstream models still need their upstreams built
                        wanted |= _upstream(_downstream([sel[:-1]]))
                else:
                    if _known(sel, sel):
                        wanted.add(sel)
        return wanted

    def _modified_models(self) -> set[str]:
        """dbt ``state:modified`` (CI's build-only-what-changed selector):
        models that are NEW or whose manifest entry differs from the
        ``--state`` manifest — builder source hash included, so editing a
        builder body selects it even with identical config (the analog
        of dbt hashing compiled SQL). Requires ``Runner(state=...)``.
        """
        import json

        if not self.state:
            raise ValueError("state:modified requires Runner(state=<old manifest.json>)")
        with open(self.state) as f:
            old = json.load(f).get("models", {})
        current = self.manifest()["models"]
        return {
            name
            for name, entry in current.items()
            if name not in old or old[name] != entry
        }

    # ------------------------------------------------------------- execution

    def run(
        self,
        select: str | None = None,
        full_refresh: bool = False,
        threads: int = 1,
        exclude: str | list[str] | None = None,
        fail_fast: bool = True,
    ) -> list[str]:
        """Build the selected models in dependency order; returns the order.

        ``threads`` bounds how many models build at once (the reference's
        dbt profile runs 4 threads, ``profiles.yml:14``): the walk starts
        a model as soon as its deps complete and a thread is free, and
        ready models wait in DAG order, so ``threads=1`` builds exactly the
        selection order. Spark schedules jobs from multiple threads fine;
        each model is still one job chain. With ``threads > 1`` the
        returned list is the completion order.

        ``fail_fast=False`` is dbt's keep-going walk, at any thread count:
        a failing model marks its DOWNSTREAM closure ``skipped`` in
        run-results and the walk continues through independent branches,
        raising one summary error at the end — ``retry`` then resumes
        exactly the failed + skipped set. The default starts nothing after
        the first failure and re-raises it once the models in flight finish
        (the conservative CI behavior this engine has always had).
        """
        if threads < 1:
            raise ValueError(f"threads must be >= 1, got {threads}")
        return self._invoke(
            "run", select, exclude, full_refresh, self._build_one,
            threads=threads, fail_fast=fail_fast,
        )

    def snapshot(
        self,
        select: str | None = None,
        exclude: str | list[str] | None = None,
    ) -> list[str]:
        """dbt ``snapshot``: fold every selected SNAPSHOT node's current
        source state into its SCD2 history table. Only snapshot nodes
        execute (their non-snapshot upstreams must already be
        materialized — dbt's contract too); run-results record each with
        ``materialized='snapshot'``. Returns the executed order."""
        return self._invoke("snapshot", select, exclude, False, self._build_one)

    def retry(self) -> list[str]:
        """dbt ``retry``: resume the LAST recorded run/build/snapshot from
        its point of failure. Reads ``_artifacts/run_results.json``,
        replays the same command with the same selection, but EXCLUDES
        every model that already succeeded — their dependents read the
        existing materializations, so only the failed node and everything
        after it execute. Returns the re-executed order (empty when the
        last invocation fully succeeded)."""
        import json
        import os

        path = os.path.join(self.store.path("_artifacts"), "run_results.json")
        if not os.path.exists(path):
            raise ValueError("retry: no run_results.json — nothing was run yet")
        with open(path) as f:
            payload = json.load(f)
        args = payload.get("args")
        if not args:
            raise ValueError(
                "retry: run_results.json predates args recording — re-run "
                "the original command instead"
            )
        succeeded = [
            r["model"] for r in payload["results"] if r["status"] == "success"
        ]
        if not any(r["status"] != "success" for r in payload["results"]):
            # every attempted model succeeded AND the walk completed (an
            # aborted walk leaves unattempted models, which the replayed
            # closure-minus-successes below would still catch — but a fully
            # green artifact means there is nothing to resume)
            attempted = {r["model"] for r in payload["results"]}
            wanted = self._order(
                args["command"], args.get("select"), args.get("exclude")
            )
            if set(wanted) <= attempted:
                return []
        exclude = args.get("exclude")
        exclude = [exclude] if isinstance(exclude, str) else list(exclude or [])
        exclude += succeeded
        cmd = args["command"]
        steps = {
            "run": self._build_one,
            "build": self._build_gated,
            "snapshot": self._build_one,
        }
        if cmd not in steps:
            raise ValueError(f"retry: unknown recorded command {cmd!r}")
        # replay with the ORIGINAL invocation's vars (dbt retry reuses the
        # previous parameters) — a bare `retry` must not rebuild the failed
        # model with default var values
        prev_vars = self.vars
        if args.get("vars") is not None:
            self.vars = dict(args["vars"])
        try:
            return self._invoke(
                cmd, args.get("select"), exclude, bool(args.get("full_refresh")),
                steps[cmd], threads=int(args.get("threads") or 1),
                fail_fast=bool(args.get("fail_fast", True)),
            )
        finally:
            self.vars = prev_vars

    def seed(self, seed_dir: str, delimiter: str = ",") -> list[str]:
        """dbt ``seed``: load every ``*.csv`` under ``seed_dir`` into the
        warehouse as a full-refresh table named after the file. Types are
        inferred (dbt's agreed-value behavior for seeds); seeds are small
        reference data by contract, so the inference pass is cheap and the
        write is a single full create — no incremental machinery.
        """
        import glob as _glob
        import os as _os

        loaded = []
        for path in sorted(_glob.glob(_os.path.join(seed_dir, "*.csv"))):
            name = _os.path.splitext(_os.path.basename(path))[0]
            df = (
                self.spark.read.option("header", "true")
                .option("inferSchema", "true")
                .option("delimiter", delimiter)
                .csv(path)
            )
            self.store.write_full(df, name)
            loaded.append(name)
        return loaded

    def source_freshness(
        self, freshness: dict[str, dict]
    ) -> dict[str, dict]:
        """dbt ``source freshness``: age of each source's newest row vs
        warn/error thresholds.

        ``freshness`` maps ``"db.table"`` → ``{"loaded_at_field": col,
        "warn_after_s": n, "error_after_s": n}``. Returns per-source
        ``{"max_loaded_at", "age_s", "status"}`` with status
        pass/warn/error (error also when the source is empty — an empty
        feed is the stalest possible feed). The probe is one scalar MAX
        per source, which scans the whole column: a parquet source is a
        V1 source and Spark pushes aggregates down only into V2 sources.
        Sources are not committed by the store, so they have no commit
        manifest (schema, partition layout) for the watermark probe's
        metadata answer (``tablemeta.py``) to read. The clock is the
        context's UTC ``now_dt()`` (the runner's injectable ``fixed_now``
        when set, so tests are deterministic).
        """
        from pyspark.sql import functions as F

        probe_cfg = ModelConfig(name="_freshness_probe", builder=lambda ctx: None)
        ctx = self._context(probe_cfg)
        now = ctx.now_dt()
        out: dict[str, dict] = {}
        for key, cfg in freshness.items():
            db, table = key.split(".", 1)
            src = ctx.source(db, table)
            mx = src.agg(F.max(cfg["loaded_at_field"]).alias("m")).first()["m"]
            if mx is None:
                out[key] = {"max_loaded_at": None, "age_s": None, "status": "error"}
                continue
            if isinstance(mx, datetime):
                # PySpark collects a TIMESTAMP as a naive host-local datetime
                mx = mx.astimezone(timezone.utc)
            else:  # DATE column → midnight of that (session-UTC) day
                mx = datetime.combine(mx, datetime.min.time(), tzinfo=timezone.utc)
            age = (now - mx).total_seconds()
            if age > cfg["error_after_s"]:
                status = "error"
            elif age > cfg["warn_after_s"]:
                status = "warn"
            else:
                status = "pass"
            out[key] = {
                "max_loaded_at": mx.replace(tzinfo=None).isoformat(),
                "age_s": round(age, 3),
                "status": status,
            }
        return out

    def _order(
        self,
        command: str,
        select: str | list[str] | None,
        exclude: str | list[str] | None,
    ) -> list[str]:
        """The models ``command`` executes, in ``_closure`` order: the
        selection, narrowed to snapshot nodes for ``snapshot``."""
        order = self._closure(select, exclude)
        if command == "snapshot":
            registry = all_models()
            order = [n for n in order if registry[n].materialized == "snapshot"]
        return order

    def _invoke(
        self,
        command: str,
        select: str | list[str] | None,
        exclude: str | list[str] | None,
        full_refresh: bool,
        step: Callable[[ModelConfig, bool], None],
        threads: int = 1,
        fail_fast: bool = True,
    ) -> list[str]:
        """The one DAG walk behind ``run``, ``build`` and ``snapshot``.

        At most ``threads`` models are in flight on a thread pool; ready
        models wait in ``_closure`` order, so one thread builds exactly
        that order. ``step(cfg, full_refresh)`` builds one model, and each
        attempt records one run-results row. Under ``fail_fast`` the first
        failure stops new starts and is re-raised once the models in
        flight finish. Otherwise each model in a failed model's downstream
        closure is recorded ``skipped`` when its turn to start comes, and
        one summary error is raised at the end. Returns the built models in
        completion order; run-results are written whatever the outcome.
        """
        order = self._order(command, select, exclude)
        registry = all_models()
        rank = {m: i for i, m in enumerate(order)}
        self.last_run_results = []  # reset per invocation
        args = {"command": command, "select": select, "exclude": exclude}
        if command != "snapshot":
            args["full_refresh"] = full_refresh
        if command == "run":
            args.update(threads=threads, fail_fast=fail_fast)
        self._last_args = {**args, "vars": dict(self.vars)}

        ts = TopologicalSorter(
            {m: [d for d in registry[m].deps if d in rank] for m in order}
        )
        ts.prepare()
        ready: list[int] = []  # heap of the ready models' ranks
        running: dict[Future, str] = {}
        built: list[str] = []
        failed: dict[str, BaseException] = {}
        skip: set[str] = set()
        t0 = time.perf_counter()
        try:
            with ThreadPoolExecutor(max_workers=threads) as pool:
                while True:
                    for name in ts.get_ready():
                        heapq.heappush(ready, rank[name])
                    if ready and len(running) < threads and not (fail_fast and failed):
                        cfg = registry[order[heapq.heappop(ready)]]
                        if cfg.name in skip:
                            self._record(cfg, "skipped", 0.0, "upstream failure")
                            ts.done(cfg.name)
                        else:
                            fut = pool.submit(self._attempt, step, cfg, full_refresh)
                            running[fut] = cfg.name
                        continue
                    if not running:
                        break
                    finished, _ = wait(running, return_when=FIRST_COMPLETED)
                    for fut in sorted(finished, key=lambda f: rank[running[f]]):
                        name = running.pop(fut)
                        if fut.exception() is None:
                            built.append(name)
                        else:
                            failed[name] = fut.exception()
                            if fail_fast:
                                continue
                            skip |= _downstream([name]) - {name}
                        ts.done(name)
            if failed and fail_fast:
                raise next(iter(failed.values()))
            if failed:
                skipped = sorted(
                    r["model"] for r in self.last_run_results if r["status"] == "skipped"
                )
                raise RuntimeError(
                    f"{command} completed with failures: {list(failed)} "
                    f"(skipped downstream: {skipped}); "
                    "see run_results.json; `retry` resumes them"
                )
            return built
        finally:
            self._write_run_results(full_refresh, time.perf_counter() - t0)

    def _attempt(
        self,
        step: Callable[[ModelConfig, bool], None],
        cfg: ModelConfig,
        full_refresh: bool,
    ) -> None:
        """Run ``step`` on one model, recording its run-results row
        whatever the outcome."""
        t0 = time.perf_counter()
        try:
            step(cfg, full_refresh)
        except _TestsFailed as e:
            self._record(cfg, "test_failed", time.perf_counter() - t0, str(e.failures))
            raise
        except Exception as e:  # record, then surface
            self._record(
                cfg, "error", time.perf_counter() - t0, f"{type(e).__name__}: {e}"
            )
            raise
        self._record(cfg, "success", time.perf_counter() - t0)

    def _record(
        self,
        cfg: ModelConfig,
        status: str,
        seconds: float,
        error: Optional[str] = None,
    ) -> None:
        """Append one run-results row (dbt's run_results.json analog)."""
        row: dict = {"model": cfg.name, "status": status}
        if error is not None:
            row["error"] = error[:500]
        row["execution_time_s"] = round(seconds, 3)
        row["strategy"] = cfg.incremental_strategy
        row["materialized"] = cfg.materialized
        self.last_run_results.append(row)

    def _write_artifact(self, filename: str, payload: dict) -> str:
        """Write one JSON artifact to ``<warehouse>/_artifacts/<filename>``;
        returns its path. Metadata only, no Spark job."""
        import json
        import os

        art_dir = self.store.path("_artifacts")
        os.makedirs(art_dir, exist_ok=True)
        path = os.path.join(art_dir, filename)
        with open(path, "w") as f:
            # default=str: vars may carry non-JSON types (dates, paths);
            # stringifying keeps the artifact writable, and retry replays
            # the recorded form
            json.dump(payload, f, indent=1, default=str)
        return path

    def _write_run_results(self, full_refresh: bool, elapsed_s: float) -> None:
        """Persist the invocation's per-model results next to the tables
        (``<warehouse>/_artifacts/run_results.json``) — the artifact CI
        and orchestration read instead of scraping logs. ``elapsed_s`` is
        the invocation's wall time (dbt's ``elapsed_time``); bytes written
        are O(models), never data-scale."""
        self._write_artifact("run_results.json", {
            "generated_at_unix": round(time.time(), 3),
            "profile": self.profile,
            "full_refresh": full_refresh,
            # the invoking command + its selection, so `retry` can resume
            # the same invocation from its point of failure (dbt records
            # args in run_results.json for the same reason)
            "args": getattr(self, "_last_args", None),
            "elapsed_s": round(elapsed_s, 3),
            "results": self.last_run_results,
        })

    def _context(self, cfg: ModelConfig, full_refresh: bool = False) -> ModelContext:
        """The builder context for ``cfg`` under this runner's settings —
        the one place a runner hands its clock, windows, vars and defer
        store to a model."""
        return ModelContext(
            self.spark,
            self.store,
            self.sources,
            cfg,
            full_refresh=full_refresh,
            fixed_now=self.fixed_now,
            backfill_days=self.backfill_days,
            lookback_days=self.lookback_days,
            lag_widen_days=self.lag_widen_days,
            vars=self.vars,
            defer_store=self.defer_store,
        )

    def _build_one(self, cfg: ModelConfig, full_refresh: bool) -> None:
        ctx = self._context(cfg, full_refresh)
        if full_refresh and cfg.materialized != "snapshot":
            # snapshot history survives --full-refresh (dbt: snapshots are
            # append-only audit state, never rebuilt)
            self.store.drop(cfg.name)
        df = cfg.builder(ctx)
        if cfg.contract:
            enforce_contract(df, cfg.contract, cfg.name)
        if cfg.materialized == "snapshot":
            from .snapshots import snapshot_scd2

            snapshot_scd2(
                self.store,
                df,
                cfg.name,
                cfg.unique_key,
                strategy=cfg.snapshot_strategy,
                check_cols=cfg.check_cols,
                updated_at=cfg.updated_at,
                now=self.fixed_now,
                invalidate_hard_deletes=cfg.invalidate_hard_deletes,
            )
            self._post_hooks(cfg)
            return
        incremental_run = (
            cfg.materialized == "incremental"
            and ctx.store.exists(cfg.name)
            and not full_refresh
        )
        if incremental_run:
            if cfg.incremental_strategy == "append":
                self.store.append(df, cfg.name, cfg.partition_by)
            elif cfg.incremental_strategy == "insert_overwrite":
                self.store.insert_overwrite(df, cfg.name, cfg.partition_by)
            else:
                self.store.merge(
                    df,
                    cfg.name,
                    cfg.unique_key,
                    cfg.partition_by,
                    on_schema_change=cfg.on_schema_change,
                    incremental_predicates=cfg.incremental_predicates,
                )
        else:
            self.store.write_full(df, cfg.name, cfg.partition_by)
        self._post_hooks(cfg)

    def _post_hooks(self, cfg: ModelConfig) -> None:
        """Maintenance after a successful build: the reference's prod
        post-hooks (``alter table ... execute optimize`` + 7-day vacuum),
        profile-gated, per-model overridable via ``post_hooks=[...]``."""
        hooks = cfg.post_hooks
        if hooks is None:
            hooks = self.PROFILE_POST_HOOKS.get(self.profile, [])
        for hook in hooks:
            if hook == "optimize":
                self.store.optimize(cfg.name, cluster_by=cfg.cluster_by, zorder_by=cfg.zorder_by)
            elif hook == "vacuum":
                self.store.vacuum(cfg.name, retain_hours=self.vacuum_retain_hours)
            else:
                raise ValueError(f"unknown post-hook {hook!r} on model {cfg.name}")

    # ----------------------------------------------------------------- tests

    def manifest(
        self,
        select: str | list[str] | None = None,
        exclude: str | list[str] | None = None,
    ) -> dict:
        """The project manifest (dbt ``manifest.json`` analog): every
        selected model's declared config and DAG edges, as plain data —
        what docs generators, lineage tools, and CI diff checks consume.
        Driver-side metadata only; no Spark job runs."""
        import hashlib
        import inspect

        registry = all_models()
        models = {}
        for name in self._closure(select, exclude):
            cfg = registry[name]
            try:
                src = inspect.getsource(cfg.builder)
            except (OSError, TypeError):
                # builtins / REPL- or exec-defined builders without
                # retrievable source: a process-stable token, NOT repr()
                # (whose embedded memory address would make state:modified
                # select the model forever)
                src = (
                    f"{getattr(cfg.builder, '__module__', '?')}."
                    f"{getattr(cfg.builder, '__qualname__', repr(type(cfg.builder)))}"
                )
            models[name] = {
                # the state:modified fingerprint: a model counts as
                # modified when its BUILDER SOURCE changes (the analog of
                # dbt hashing the compiled SQL) or any declared config does
                "builder_sha": hashlib.md5(src.encode()).hexdigest(),
                "materialized": cfg.materialized,
                "incremental_strategy": cfg.incremental_strategy,
                "on_schema_change": cfg.on_schema_change,
                "unique_key": cfg.unique_key,
                "partition_by": cfg.partition_by or [],
                "cluster_by": cfg.cluster_by,
                "zorder_by": cfg.zorder_by,
                "contract": cfg.contract,
                "incremental_predicates": cfg.incremental_predicates,
                "depends_on": cfg.deps,
                "tags": cfg.tags,
                "description": cfg.description,
                "tests": {
                    "not_null": cfg.not_null,
                    "unique": cfg.unique,
                    "accepted_values": cfg.accepted_values,
                    "relationships": [list(r) for r in cfg.relationships],
                },
            }
            if cfg.materialized == "snapshot":
                # scoped to snapshot nodes so pre-existing model entries
                # (and their state:modified hashes) are unchanged
                models[name]["snapshot"] = {
                    "strategy": cfg.snapshot_strategy,
                    "check_cols": cfg.check_cols,
                    "updated_at": cfg.updated_at,
                    "invalidate_hard_deletes": cfg.invalidate_hard_deletes,
                }
        from .model import all_exposures

        return {
            "profile": self.profile,
            "sources": sorted(self.sources),
            "models": models,
            # exposures whose full upstream set is inside the selection —
            # lineage consumers see only consumers their view can serve
            "exposures": {
                e.name: {
                    "type": e.type,
                    "depends_on": e.depends_on,
                    "owner": e.owner,
                    "url": e.url,
                    "description": e.description,
                }
                for e in all_exposures().values()
                if set(e.depends_on) <= set(models)
            },
        }

    def write_manifest(
        self,
        select: str | list[str] | None = None,
        exclude: str | list[str] | None = None,
    ) -> str:
        """Persist the manifest next to run_results.json; returns the path."""
        return self._write_artifact("manifest.json", self.manifest(select, exclude))

    def catalog(
        self,
        select: str | list[str] | None = None,
        exclude: str | list[str] | None = None,
    ) -> dict:
        """dbt ``catalog.json``: what is ACTUALLY materialized — per table
        the storage schema (column name/type/nullable) and row count,
        as opposed to the manifest's declared config. Models not yet
        built are listed with ``exists: false``. Schema comes from the
        parquet footers (metadata-cheap); the row count is one
        footer-level count per table."""
        tables: dict[str, dict] = {}
        for name in self._closure(select, exclude):
            if not self.store.exists(name):
                tables[name] = {"exists": False}
                continue
            df = self.store.read(name)
            tables[name] = {
                "exists": True,
                "columns": [
                    {
                        "name": f.name,
                        "type": f.dataType.simpleString(),
                        "nullable": f.nullable,
                    }
                    for f in df.schema.fields
                ],
                "row_count": df.count(),
            }
        return {"tables": tables}

    def write_catalog(
        self,
        select: str | list[str] | None = None,
        exclude: str | list[str] | None = None,
    ) -> str:
        """Persist the catalog next to manifest.json; returns the path."""
        return self._write_artifact("catalog.json", self.catalog(select, exclude))

    def build(
        self,
        select: str | None = None,
        full_refresh: bool = False,
        exclude: str | list[str] | None = None,
    ) -> list[str]:
        """dbt ``build``: run each selected model in DAG order and gate
        its DOWNSTREAM on its data tests — a model's test failure stops
        the walk before dependents consume bad data (the semantic
        difference from ``run`` + ``test``, which tests only after
        everything built). Returns the build order; raises on the first
        test failure, with the failing checks in the message.
        """
        return self._invoke("build", select, exclude, full_refresh, self._build_gated)

    def _build_gated(self, cfg: ModelConfig, full_refresh: bool) -> None:
        """``build``'s step: build the model, then gate on its data tests."""
        self._build_one(cfg, full_refresh)
        failures = self.test(cfg.name)
        if failures:
            raise _TestsFailed(cfg.name, failures)

    def test(
        self,
        select: str | list[str] | None = None,
        store_failures: bool = False,
        exclude: str | list[str] | None = None,
    ) -> dict[str, int]:
        """Run declared data tests (``dbt test``; SURVEY §5 item 1 + the
        standard dbt generic-test set).

        Returns {model.test_description: offending_row_count}, failures only.
        ``store_failures`` (dbt config of the same name) additionally
        materializes each failing test's OFFENDING ROWS to an audit table
        ``_test_failures__<model>__<test>`` in the warehouse, so a failure
        is debuggable from storage instead of re-querying — and a test
        that PASSES drops its stale audit table, so the audit surface
        always reflects the latest run (dbt's rewritten-per-run contract).
        """
        from pyspark.sql import functions as F

        def _store(bad_df, model: str, test_id: str, failed: bool) -> None:
            if not store_failures:
                return
            table = f"_test_failures__{model}__{test_id}"
            if failed:
                self.store.write_full(bad_df, table)
            elif self.store.exists(table):
                self.store.drop(table)

        failures: dict[str, int] = {}
        for name in self._closure(select, exclude):
            cfg = all_models()[name]
            if not self.store.exists(name):
                continue
            has_tests = cfg.not_null or cfg.unique or cfg.accepted_values or cfg.relationships
            if not has_tests:
                continue
            df = self.store.read(name)

            if cfg.not_null:
                # one pass for all null checks, not one scan per column
                aggs = [
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(c)
                    for c in cfg.not_null
                ]
                row = df.agg(*aggs).first()
                for c in cfg.not_null:
                    failed = bool(row[c] and row[c] > 0)
                    if failed:
                        failures[f"{name}.{c}"] = int(row[c])
                    _store(df.filter(F.col(c).isNull()), name, f"not_null_{c}", failed)

            for c in cfg.unique:
                dup_keys = df.groupBy(c).count().filter(F.col("count") > 1)
                dup = dup_keys.count()
                if dup:
                    failures[f"{name}.unique:{c}"] = int(dup)
                _store(
                    df.join(dup_keys.select(c), on=c, how="left_semi"),
                    name,
                    f"unique_{c}",
                    bool(dup),
                )

            for c, allowed in cfg.accepted_values.items():
                bad_rows = df.filter(~F.col(c).isin(allowed) & F.col(c).isNotNull())
                bad = bad_rows.count()
                if bad:
                    failures[f"{name}.accepted_values:{c}"] = int(bad)
                _store(bad_rows, name, f"accepted_values_{c}", bool(bad))

            for c, other_model, other_col in cfg.relationships:
                if not self.store.exists(other_model):
                    failures[f"{name}.relationships:{c}->{other_model}.{other_col}"] = -1
                    continue
                other = self.store.read(other_model).select(
                    F.col(other_col).alias(c)
                ).distinct()
                orphan_rows = df.filter(F.col(c).isNotNull()).join(
                    other, on=c, how="left_anti"
                )
                orphans = orphan_rows.count()
                if orphans:
                    failures[f"{name}.relationships:{c}->{other_model}.{other_col}"] = int(orphans)
                _store(
                    orphan_rows, name, f"relationships_{c}__{other_model}", bool(orphans)
                )
        return failures
