"""Lifecycle benchmark for the incremental DeepBook pipeline.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. One run:

1. set-up: starts the engine's SparkSession (``local[N]``, N = CPUs in the
   affinity mask), lands the seeded history feed, builds the template
   warehouse with a cold full refresh, and copies it to the working one;
2. measures for ``--seconds`` (at least one cycle): land one new day, run
   the 7-model DAG, read the dashboard three times, re-run the DAG with no
   new data;
3. times a full refresh (``threads=1``) of the same feed into a second
   warehouse;
4. checks, outside every timed region: row counts against the generator's
   exact counts, the cycled warehouse against the refreshed one, and every
   dashboard item against its DuckDB twin.

The result is the last line of stdout, one JSON object; everything else
(including Spark's and the JVM's output) goes to stderr. ``--trace 1``
reports the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from datetime import datetime, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import DASHBOARD  # noqa: E402

MODELS = [
    "deepbook_margin_loan_borrowed",
    "deepbook_margin_loan_repaid",
    "deepbook_margin_deposit_collateral",
    "deepbook_margin_pool_asset_supplied",
    "deepbook_margin_pool_asset_withdrawn",
    "stg_deepbook_margin_pool_object",
    "fct_deepbook_margin_pool_daily",
]
STG = "stg_deepbook_margin_pool_object"
MB = 1024 * 1024

# history_days: days in the template warehouse (day 0 lies before the
# backfill floor, so it is landed but never loaded)
WORKLOADS = {
    "daily_cycle": {"history_days": 8, "events_per_day": 1500, "objects_per_day": 24},
    "bulk_feed": {"history_days": 2, "events_per_day": 20000, "objects_per_day": 500},
}
MAX_CYCLES = 30
DRIVER_MEM = "1g"
DAG_KINDS = ("incr", "noop", "refresh")
KINDS = DAG_KINDS + ("read",)
SPARK_KEYS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "input_mb",
              "shuffle_write_mb", "output_mb")

END_TO_END = {
    "setup_s": "s", "incr_run_s": "s", "noop_run_s": "s", "dashboard_read_s": "s",
    "refresh_s": "s", "bytes_written_per_source_byte": "ratio", "warehouse_mb": "MB",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    u: dict[str, str] = {}
    for k in DAG_KINDS:
        for m in MODELS:
            u[f"runner.{k}.model_s.{m}"] = "s"
    for k in ("incr", "noop"):
        u[f"model.{k}.probe_s"] = "s"
        u[f"model.{k}.probes"] = "count"
    for k in DAG_KINDS:
        u[f"builder.{k}.self_s"] = "s"
        for x, unit in (("merge_s", "s"), ("write_full_s", "s"), ("files_written", "count"),
                        ("bytes_written_mb", "MB"), ("tables_rewritten", "count"),
                        ("rows_written", "count")):
            u[f"store.{k}.{x}"] = unit
    u["store.incr.rows_rewritten_per_new_row"] = "ratio"
    u["store.files_per_table"] = "count"
    for k in KINDS:
        for x in SPARK_KEYS:
            u[f"spark.{k}.{x}"] = "s" if x.endswith("_s") else "MB" if x.endswith("_mb") else "count"
    for m in MODELS:
        u[f"spark.noop.jobs.{m}"] = "count"
    u[f"spark.refresh.cpu_s.{STG}"] = "s"
    u[f"spark.refresh.input_mb.{STG}"] = "MB"
    for q in DASHBOARD:
        u[f"query_s.{q}"] = "s"
        u[f"spark.read.stages.{q}"] = "count"
        u[f"spark.read.task_s.{q}"] = "s"
    u["session.start_s"] = "s"
    u["gen_s"] = "s"
    for name in ("setup_s", "incr_run_s", "noop_run_s", "dashboard_read_s", "refresh_s"):
        u[f"traced.{name}"] = "s"
    return u


# ----------------------------------------------------------------- output


def render(result: dict) -> str:
    """The result as the last ``\\n``-terminated line of stdout. The leading
    newline ends any partial line (a ``\\r`` progress bar) already on it."""
    return "\n" + json.dumps(result, separators=(",", ":")) + "\n"


def last_line(captured: str) -> dict:
    """What a reader of the stream gets: the last non-empty line, parsed."""
    return json.loads([ln for ln in captured.split("\n") if ln.strip()][-1])


def self_test() -> int:
    """The output contract, and BENCHMARK.json naming exactly these metrics."""
    result = {"correct": True, "attempted": 3, "failed": 0,
              "metrics": {"setup_s": {"value": 12.5, "unit": "s"}}}
    progress = "\r[Stage 3:=====>            (2 + 2) / 4]\r[Stage 4:>   (0 + 4) / 4]"
    assert last_line(progress + render(result)) == result
    assert last_line("log line\n" + progress + render(result) + "\n") == result
    try:  # without the leading newline the line would carry the bar
        last_line(progress + json.dumps(result))
    except json.JSONDecodeError:
        pass
    else:
        raise AssertionError("a progress-bar prefix must break an unguarded line")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    print("self-test ok", file=sys.stderr)
    return 0


# ------------------------------------------------------------ machine state


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two /proc/stat reads."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) and len(d) > 7 else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


# --------------------------------------------------------------- the run


class Ops:
    """Counts operations and checks; a raised exception or a failed check is
    a failure. Exceptions are logged to stderr and the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn, *a, **k):
        self.attempted += 1
        try:
            return fn(*a, **k)
        except Exception:
            self.failed += 1
            print(f"perfbench: {label} failed", file=sys.stderr)
            traceback.print_exc()
            return None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check {label} failed {detail}", file=sys.stderr)


def run(workload: str, seed: int, seconds: float, trace: bool, root: str, work: str) -> dict:
    shape = WORKLOADS[workload]
    ncpu = len(os.sched_getaffinity(0))
    threads = min(4, ncpu)
    load_pre = os.getloadavg()
    ticks0 = cpu_ticks()

    t_setup = time.perf_counter()
    from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore, get_spark
    from sample_deepbook_margin_dune_dbt_spark import models_deepbook  # noqa: F401  registers

    import checks
    import layers as tracing
    from feed import Feed, day_start_ms

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # a fixed heap (-Xms = spark.driver.memory) keeps peak RSS from
        # following GC timing
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    events_dir = os.path.join(work, "events")
    if trace:
        os.makedirs(events_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + events_dir})
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    jvm = spark.sparkContext._gateway.proc

    hist = shape["history_days"]
    now = datetime(2026, 1, 1) + timedelta(days=hist + MAX_CYCLES)
    backfill_days = hist + MAX_CYCLES - 1  # floor = start of day 1
    t = time.perf_counter()
    feed = Feed(os.path.join(work, "feed"), seed, shape["events_per_day"],
                shape["objects_per_day"], floor_ms=day_start_ms(1))
    for d in range(hist):
        feed.land(d)
    gen_s = time.perf_counter() - t

    tracer = tracing.Tracer(spark, MODELS) if trace else None

    def kind(k: str) -> None:
        if tracer:
            tracer.kind = k

    def group(name: str) -> None:
        if tracer:
            tracer.group(name)

    def runner(store):
        return Runner(spark, store, feed.sources(), fixed_now=now, backfill_days=backfill_days)

    template = TableStore(spark, os.path.join(work, "template"))
    runner(template).run(full_refresh=True, threads=threads)  # cold: JIT and caches
    shutil.copytree(template.root, os.path.join(work, "wh"))
    store = TableStore(spark, os.path.join(work, "wh"))
    dag = runner(store)
    setup_s = time.perf_counter() - t_setup

    ops = Ops()
    times: dict[str, list[float]] = {k: [] for k in ("incr", "noop", "read", "refresh")}
    item_s: dict[str, list[float]] = {q: [] for q in DASHBOARD}
    model_s: dict[str, list[float]] = {}
    ratios, rows_read = [], {}
    runs_of = {k: 0 for k in KINDS}
    new_rows = 0

    def dag_run(k: str, r, **kw) -> None:
        kind(k)
        runs_of[k] += 1
        t = time.perf_counter()
        if ops.run(f"{k} run", r.run, **kw) is not None:
            times[k].append(time.perf_counter() - t)
        for res in r.last_run_results:
            model_s.setdefault(f"runner.{k}.model_s.{res['model']}", []).append(
                res["execution_time_s"])

    t_loop = time.perf_counter()
    for cycle in range(MAX_CYCLES):
        before_counts = sum(feed.expected_counts().values())
        new_bytes = feed.land(hist + cycle)
        new_rows += sum(feed.expected_counts().values()) - before_counts
        before = tracing.data_files(store.root)

        dag_run("incr", dag, threads=threads)
        kind("read")
        runs_of["read"] += 1
        t = time.perf_counter()
        for q in DASHBOARD:
            group(q)
            tq = time.perf_counter()
            rows = ops.run(f"read {q}", checks.read_item, store, q)
            item_s[q].append(time.perf_counter() - tq)
            if rows is not None:
                rows_read[q] = rows
        times["read"].append(time.perf_counter() - t)
        dag_run("noop", dag, threads=threads)

        after = tracing.data_files(store.root)
        _, nbytes = tracing.written(before, after)
        ratios.append(nbytes / new_bytes)
        if cycle == 0:  # sizes at a fixed point: history plus one day
            warehouse_mb = sum(v[1] for v in after.values()) / MB
            files_per_table = len(after) / len(MODELS)
        if time.perf_counter() - t_loop >= seconds:
            break

    t_refresh = time.perf_counter()
    full = TableStore(spark, os.path.join(work, "full"))
    dag_run("refresh", runner(full), full_refresh=True, threads=1)

    # ---- checks, outside every timed region
    t_checks = time.perf_counter()
    kind("check")
    group("check")
    failed = ops.run("warehouse checks", checks.warehouse_checks, store, full,
                     feed.expected_counts())
    for m in MODELS:
        for what in ("rows", "schema", "equal"):
            label = f"{what} {m}"
            ops.check(label, failed is not None and label not in failed,
                      (failed or {}).get(label, ""))
    oracle = ops.run("dashboard oracle", checks.dashboard_oracle, store, MODELS) or {}
    for q in DASHBOARD:
        ops.check(f"dashboard {q} == duckdb", q in rows_read and q in oracle
                  and checks.rows_match(rows_read[q], oracle[q]))

    rss = peak_rss_mb([os.getpid(), jvm.pid])

    t_stop = time.perf_counter()
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)

    machine = {"workload": workload, "seed": seed, "trace": int(trace), "cpus": ncpu,
               "loadavg_pre": load_pre, "steal_share": steal_share(ticks0, cpu_ticks()),
               "cycles": len(times["incr"]), "at": time.time(),
               "phase_s": {"setup": setup_s, "loop": t_refresh - t_loop,
                           "refresh": t_checks - t_refresh, "checks": t_stop - t_checks,
                           "stop": time.perf_counter() - t_stop}}
    print("perfbench: machine " + json.dumps(machine), file=sys.stderr)

    med = statistics.median
    e2e = {
        "setup_s": setup_s,
        "incr_run_s": med(times["incr"]),
        "noop_run_s": med(times["noop"]),
        "dashboard_read_s": med(times["read"]),
        "refresh_s": med(times["refresh"]),
        "bytes_written_per_source_byte": med(ratios),
        "warehouse_mb": warehouse_mb,
        "peak_rss_mb": rss,
    }
    if trace:
        values = layer_values(tracer, tracing.fold_event_log(events_dir), runs_of, model_s,
                              item_s, new_rows, files_per_table, e2e,
                              {"session.start_s": session_start_s, "gen_s": gen_s})
        metrics = {n: {"value": values[n], "unit": u} for n, u in per_layer_units().items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    record = {"machine": machine, "metrics": {n: m["value"] for n, m in metrics.items()}}
    with open(os.path.join(root, ".perfbench_runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return {"correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
            "metrics": metrics}


def layer_values(tracer, groups, runs_of, model_s, item_s, new_rows, files_per_table,
                 e2e, extra) -> dict[str, float]:
    """Fold the tracer's counters and the event log into per-run values."""
    v: dict[str, float] = dict(extra)
    med = statistics.median
    for name, xs in model_s.items():
        v[name] = med(xs)
    spark_by_kind = {k: {x: 0.0 for x in SPARK_KEYS + ("rows_written",)} for k in KINDS}
    for g, c in groups.items():
        k, _, name = g.partition(":")
        if k in spark_by_kind:
            for x in spark_by_kind[k]:
                spark_by_kind[k][x] += c[x]
        if k == "noop":
            v[f"spark.noop.jobs.{name}"] = c["jobs"] / runs_of["noop"]
        if k == "refresh" and name == STG:
            v[f"spark.refresh.cpu_s.{STG}"] = c["cpu_s"] / runs_of["refresh"]
            v[f"spark.refresh.input_mb.{STG}"] = c["input_mb"] / runs_of["refresh"]
        if k == "read":
            v[f"spark.read.stages.{name}"] = c["stages"] / runs_of["read"]
            v[f"spark.read.task_s.{name}"] = c["task_s"] / runs_of["read"]
    for k in KINDS:
        n = runs_of[k]
        for x in SPARK_KEYS:
            v[f"spark.{k}.{x}"] = spark_by_kind[k][x] / n
        c = tracer.c[k]
        if k in DAG_KINDS:
            v[f"builder.{k}.self_s"] = c["builder.self_s"] / n
            for x in ("merge_s", "write_full_s", "files_written", "bytes_written_mb",
                      "tables_rewritten"):
                v[f"store.{k}.{x}"] = c[f"store.{x}"] / n
            v[f"store.{k}.rows_written"] = spark_by_kind[k]["rows_written"] / n
        if k in ("incr", "noop"):
            v[f"model.{k}.probe_s"] = c["model.probe_s"] / n
            v[f"model.{k}.probes"] = c["model.probes"] / n
    v["store.incr.rows_rewritten_per_new_row"] = (
        spark_by_kind["incr"]["rows_written"] / max(1, new_rows))
    v["store.files_per_table"] = files_per_table
    for q, xs in item_s.items():
        v[f"query_s.{q}"] = med(xs)
    for name in ("setup_s", "incr_run_s", "noop_run_s", "dashboard_read_s", "refresh_s"):
        v[f"traced.{name}"] = e2e[name]
    return {n: float(v.get(n, 0.0)) for n in per_layer_units()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if args.self_test:
        return self_test()
    if not args.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "sample_deepbook_margin_dune_dbt_spark")):
        print("perfbench: run from the repository root (engine package not found)",
              file=sys.stderr)
        return 2
    # the result owns stdout; anything else written to fd 1 (the JVM's
    # output, stray prints) goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    time.tzset()
    sys.path.insert(0, root)
    # a terminated run still removes its work dir and stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    os.write(result_fd, render(result).encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
