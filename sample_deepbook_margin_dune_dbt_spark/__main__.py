"""CLI for the engine — the dbt command surface re-expressed (SURVEY §2.9).

    python -m sample_deepbook_margin_dune_dbt_spark run \
        --warehouse /tmp/wh \
        --source sui.events=/data/sui_events.parquet \
        --source sui.objects=/data/sui_objects.parquet \
        --source prices.day=/data/prices_day.parquet \
        --select +fct_deepbook_margin_pool_daily [--full-refresh]

    python -m sample_deepbook_margin_dune_dbt_spark test --warehouse /tmp/wh ...
    python -m sample_deepbook_margin_dune_dbt_spark ls

Maps: ``run --select +m`` ≈ ``dbt run --select +m`` (C7), ``--full-refresh``
≈ C8, ``test`` ≈ ``dbt test`` (C9), ``--schema-suffix`` ≈ the dev/PR schema
isolation macro (S11).
"""

from __future__ import annotations

import argparse
import sys

from .engine import Runner, TableStore, all_models, get_spark
from . import models_deepbook  # noqa: F401  (registers the 7 reference models)
from . import models_corpus  # noqa: F401  (registers the corpus-curation DAG)
from . import models_events  # noqa: F401  (registers the event-analytics DAG)


def _parse_sources(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs:
        key, _, path = p.partition("=")
        if not path:
            raise SystemExit(f"--source expects db.table=path, got {p!r}")
        out[key] = path
    return out


def _parse_as_of(raw: str) -> float:
    """``--as-of`` value → epoch seconds: a float literal passes through;
    otherwise ISO-8601 (a naive timestamp is read as UTC, matching the
    engine's pinned session timezone)."""
    try:
        return float(raw)
    except ValueError:
        pass
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(raw)
    except ValueError:
        raise SystemExit(
            f"--as-of expects epoch seconds or ISO-8601, got {raw!r}"
        ) from None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _parse_vars(pairs: list[str]) -> dict[str, object]:
    """dbt ``--vars``: either repeatable ``key=value`` pairs (values stay
    strings) or a single ``'{k: v}'`` YAML/JSON mapping literal (values
    keep their parsed types — ints, lists, nested dicts). YAML is used
    when available; JSON — a YAML subset, dbt's documented common case —
    otherwise."""
    out: dict[str, object] = {}
    for v in pairs:
        stripped = v.strip()
        if stripped.startswith("{"):
            try:
                import yaml  # type: ignore
            except ImportError:
                yaml = None
            if yaml is not None:
                try:
                    parsed = yaml.safe_load(stripped)
                except yaml.YAMLError as e:
                    raise SystemExit(
                        f"--vars mapping literal is not valid YAML ({e}); "
                        "use '{k: v}' syntax or key=value pairs"
                    )
            else:
                import json

                try:
                    parsed = json.loads(stripped)
                except json.JSONDecodeError as e:
                    raise SystemExit(
                        f"--vars mapping literal is not valid JSON ({e}); "
                        "with PyYAML unavailable, use JSON syntax or key=value pairs"
                    )
            if not isinstance(parsed, dict):
                raise SystemExit(f"--vars literal must be a mapping, got {parsed!r}")
            out.update(parsed)
        elif "=" in v:
            k, val = v.split("=", 1)
            out[k] = val
        else:
            raise SystemExit(f"--vars expects key=value or a '{{k: v}}' literal, got {v!r}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sample_deepbook_margin_dune_dbt_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def add_common(p):
        p.add_argument("--warehouse", required=True, help="table store root directory")
        p.add_argument("--source", action="append", default=[], help="db.table=path (repeatable)")
        p.add_argument(
            "--select",
            default=None,
            help="model, +model (upstream closure), model+ (downstream), or tag:x",
        )
        p.add_argument(
            "--exclude",
            action="append",
            default=None,
            help="selector(s) to remove AFTER selection (dbt --exclude; repeatable)",
        )
        p.add_argument(
            "--vars",
            action="append",
            default=[],
            help="project variable key=value for ctx.var() (dbt --vars; repeatable)",
        )
        p.add_argument(
            "--state",
            default=None,
            help="path to a prior manifest.json enabling --select state:modified",
        )
        p.add_argument(
            "--defer-warehouse",
            default=None,
            help="fallback warehouse for unbuilt refs (dbt --defer): a dev "
            "build of one model reads its unbuilt upstreams from here",
        )
        p.add_argument("--schema-suffix", default="", help="dev/PR schema isolation suffix")
        p.add_argument(
            "--versioned",
            action="store_true",
            help="keep every table version (Delta-style history: time "
            "travel, snapshot-isolated reads, retention vacuum — "
            "engine/materialize.py)",
        )
        p.add_argument("--backfill-days", type=int, default=30)
        p.add_argument("--lookback-days", type=int, default=7)
        p.add_argument(
            "--profile",
            default="dev",
            help="dbt-style target profile; 'prod' enables optimize/vacuum post-hooks",
        )
        p.add_argument(
            "--lag-widen-days",
            type=int,
            default=0,
            help="widen lag() inputs below the lookback floor by N days so "
            "incremental slice-boundary deltas match full refresh (0 = "
            "reference-exact incremental lag)",
        )

    run_p = sub.add_parser("run", help="build models (incremental by default)")
    add_common(run_p)
    run_p.add_argument("--full-refresh", action="store_true")
    run_p.add_argument("--threads", type=int, default=1, help="parallel model builds")
    run_p.add_argument(
        "--keep-going",
        action="store_true",
        help="dbt keep-going walk: a failure marks downstream 'skipped' in "
        "run-results and independent branches continue; one summary error "
        "at the end (retry resumes the failed + skipped set)",
    )

    test_p = sub.add_parser(
        "test",
        help="run declared data tests (not_null, unique, accepted_values, "
        "relationships)",
    )
    add_common(test_p)
    test_p.add_argument(
        "--store-failures",
        action="store_true",
        help="materialize each failing test's offending rows to a "
        "_test_failures__<model>__<test> audit table (dbt store_failures)",
    )

    build_p = sub.add_parser(
        "build", help="run models in DAG order, gating downstream on each model's tests"
    )
    add_common(build_p)
    build_p.add_argument("--full-refresh", action="store_true")

    compile_p = sub.add_parser(
        "compile", help="resolve a model's plan without materializing (dbt compile)"
    )
    add_common(compile_p)

    ut_p = sub.add_parser(
        "unit-test",
        help="run registered dbt-style unit tests (mocked refs/sources vs "
        "expected rows; no warehouse state touched)",
    )
    ut_p.add_argument(
        "--select", default=None,
        help="test name, model:<model>, or tag:<tag> (default: all)",
    )

    retry_p = sub.add_parser(
        "retry",
        help="resume the last run/build/snapshot from its point of failure "
        "(dbt retry; reads _artifacts/run_results.json)",
    )
    add_common(retry_p)

    snap_p = sub.add_parser(
        "snapshot",
        help="fold selected SCD2 snapshot nodes' source state into their "
        "history tables (dbt snapshot)",
    )
    add_common(snap_p)

    show_p = sub.add_parser("show", help="ad-hoc SQL over the warehouse tables")
    show_p.add_argument("--warehouse", required=True)
    show_p.add_argument("--schema-suffix", default="")
    show_p.add_argument("--inline", required=True, help="SQL to run")
    show_p.add_argument("--limit", type=int, default=20)
    show_p.add_argument(
        "--versioned",
        action="store_true",
        help="read a warehouse that keeps table history (enables --as-of)",
    )
    show_p.add_argument(
        "--as-of",
        default=None,
        help="time-travel: run the SQL against every table AS OF this "
        "instant (epoch seconds or ISO-8601, naive = UTC) — Delta "
        "TIMESTAMP AS OF over the whole warehouse; requires --versioned",
    )

    ls_p = sub.add_parser("ls", help="list registered models")
    ls_p.add_argument("--select", default=None, help="selector (same syntax as run)")
    ls_p.add_argument("--exclude", action="append", default=None)

    clean_p = sub.add_parser(
        "clean", help="remove the warehouse _artifacts directory (dbt clean)"
    )
    clean_p.add_argument("--warehouse", required=True)
    clean_p.add_argument("--schema-suffix", default="")

    fresh_p = sub.add_parser(
        "source-freshness",
        help="grade each source's newest-row age (dbt source freshness)",
    )
    fresh_p.add_argument("--warehouse", required=True)
    fresh_p.add_argument("--schema-suffix", default="")
    fresh_p.add_argument("--source", action="append", default=[], help="db.table=path")
    fresh_p.add_argument(
        "--freshness",
        action="append",
        required=True,
        help="db.table=loaded_at_col:warn_after_s:error_after_s (repeatable)",
    )

    seed_p = sub.add_parser(
        "seed", help="load *.csv reference data into the warehouse (dbt seed)"
    )
    seed_p.add_argument("--warehouse", required=True)
    seed_p.add_argument("--schema-suffix", default="")
    seed_p.add_argument("--seed-dir", required=True, help="directory of *.csv files")
    seed_p.add_argument("--delimiter", default=",")

    docs_p = sub.add_parser(
        "docs", help="write the project manifest (dbt manifest.json analog)"
    )
    add_common(docs_p)

    args = ap.parse_args(argv)

    if args.cmd == "unit-test":
        from .engine import run_unit_tests
        from .engine.unittests import select_unit_tests

        spark = get_spark(app_name="engine-unit-test")
        spark.sparkContext.setLogLevel("ERROR")
        n = len(select_unit_tests(args.select))
        failures = run_unit_tests(spark, args.select)
        if failures:
            for name, probs in failures.items():
                for p in probs:
                    print(f"FAIL {p}", file=sys.stderr)
            return 1
        print(f"all {n} selected unit tests passed")
        return 0

    if args.cmd == "ls":
        registry = all_models()
        names = sorted(registry)
        if args.select or args.exclude:
            # selector resolution is driver-side metadata: a store-less
            # Runner resolves the closure without a Spark session
            resolver = Runner(None, None, {})
            wanted = set(resolver._closure(args.select, args.exclude))
            names = [n for n in names if n in wanted]
        for name in names:
            cfg = registry[name]
            print(f"{name}  key={cfg.unique_key}  strategy={cfg.incremental_strategy}  deps={cfg.deps}")
        return 0

    if args.cmd == "clean":
        # artifacts live at <warehouse>[/<schema_suffix>]/_artifacts —
        # TableStore's path rules, reproduced without a Spark session
        import os as _os
        import shutil

        base = (
            _os.path.join(args.warehouse, args.schema_suffix)
            if args.schema_suffix
            else args.warehouse
        )
        path = _os.path.join(base, "_artifacts")
        if _os.path.isdir(path):
            shutil.rmtree(path)
            print(f"cleaned {path}")
        else:
            print(f"nothing to clean at {path}")
        return 0

    spark = get_spark(app_name=f"engine-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    store = TableStore(
        spark,
        args.warehouse,
        schema_suffix=args.schema_suffix,
        history=getattr(args, "versioned", False),
    )

    if args.cmd == "docs":
        # dbt docs generate: manifest (declared DAG) + catalog (what is
        # actually materialized: storage schema + row counts)
        runner = Runner(
            spark, store, _parse_sources(args.source), state=args.state
        )
        print(runner.write_manifest(args.select, exclude=args.exclude))
        print(runner.write_catalog(args.select, exclude=args.exclude))
        return 0

    if args.cmd == "show":
        # reference lifecycle entry point 3: dbt show --inline / ad-hoc SELECT
        as_of = getattr(args, "as_of", None)
        if as_of is not None:
            if not getattr(args, "versioned", False):
                print("--as-of requires --versioned (a store without history "
                      "keeps one version)")
                return 2
            store.sql(args.inline, as_of_ts=_parse_as_of(as_of)).show(
                args.limit, truncate=False
            )
            return 0
        store.sql(args.inline).show(args.limit, truncate=False)
        return 0

    if args.cmd == "source-freshness":
        runner = Runner(spark, store, _parse_sources(args.source))
        spec = {}
        for f in args.freshness:
            key, rest = f.split("=", 1)
            col, warn_s, err_s = rest.split(":")
            spec[key] = {
                "loaded_at_field": col,
                "warn_after_s": int(warn_s),
                "error_after_s": int(err_s),
            }
        results = runner.source_freshness(spec)
        worst = 0
        for key, r in results.items():
            print(f"{key}: {r['status']} (age_s={r['age_s']}, max={r['max_loaded_at']})")
            worst = max(worst, {"pass": 0, "warn": 1, "error": 2}[r["status"]])
        return 0 if worst < 2 else 1

    if args.cmd == "seed":
        runner = Runner(spark, store, {})
        for name in runner.seed(args.seed_dir, delimiter=args.delimiter):
            print(f"seeded {name}")
        return 0

    defer_wh = getattr(args, "defer_warehouse", None)
    runner = Runner(
        spark,
        store,
        _parse_sources(args.source),
        backfill_days=args.backfill_days,
        lookback_days=args.lookback_days,
        profile=args.profile,
        lag_widen_days=args.lag_widen_days,
        vars=_parse_vars(getattr(args, "vars", [])),
        state=getattr(args, "state", None),
        defer_store=TableStore(spark, defer_wh) if defer_wh else None,
    )

    if args.cmd == "compile":
        # the reference's cheap correctness gate (`dbt compile`,
        # DEVELOPMENT.md:146-148): resolve refs/sources, build the DataFrame,
        # print schema + optimized plan — no execution, no writes
        from .engine.model import get_model
        from .plans import explain_str

        target = (args.select or "").lstrip("+")
        if not target:
            print("compile requires --select <model>", file=sys.stderr)
            return 2
        cfg = get_model(target)
        ctx = runner._context(cfg)
        df = cfg.builder(ctx)
        print(f"model: {target}")
        print(f"unique_key: {cfg.unique_key}  strategy: {cfg.incremental_strategy}")
        print(f"incremental: {ctx.is_incremental()}")
        df.printSchema()
        print(explain_str(df, "simple"))
        return 0

    if args.cmd == "retry":
        # selection comes from the recorded invocation, not the CLI
        order = runner.retry()
        for name in order:
            print(f"retried {name}")
        if not order:
            print("nothing to retry — last invocation succeeded")
        return 0

    if args.cmd == "snapshot":
        order = runner.snapshot(args.select, exclude=args.exclude)
        for name in order:
            print(f"snapshotted {name}")
        if not order:
            print("no snapshot nodes selected")
        return 0

    if args.cmd == "run":
        order = runner.run(
            args.select,
            full_refresh=args.full_refresh,
            threads=args.threads,
            exclude=args.exclude,
            fail_fast=not args.keep_going,
        )
        for name in order:
            print(f"built {name}")
        return 0

    if args.cmd == "build":
        order = runner.build(
            args.select, full_refresh=args.full_refresh, exclude=args.exclude
        )
        for name in order:
            print(f"built+tested {name}")
        return 0

    failures = runner.test(
        args.select,
        store_failures=getattr(args, "store_failures", False),
        exclude=args.exclude,
    )
    if failures:
        for key, n in failures.items():
            print(f"FAIL {key}: {n}", file=sys.stderr)
        return 1
    print("all assertions passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
