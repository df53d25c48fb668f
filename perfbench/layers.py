"""Per-layer accounting for the traced run.

Spans are taken from the benchmark's side of each layer boundary, by
wrapping the engine's public functions for the life of the process:

- ``engine.model``: ``ModelContext.watermark_ms`` / ``lookback_floor_date``
  (the incremental probes), timed and counted;
- ``models_deepbook``: every registered builder, timed, minus the probes it
  made (driver-side plan building); each builder call also tags its thread's
  Spark jobs with the job group ``<run kind>:<model>``;
- ``engine.materialize``: ``TableStore.merge`` / ``write_full``, timed, with
  a walk of the table directory before and after each call (outside the
  span) for files and bytes written.

Spark's own work comes from its uncompressed event log, folded per job group
after the session stops.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import threading
import time

from sample_deepbook_margin_dune_dbt_spark.engine import ModelContext, TableStore, get_model

MB = 1024 * 1024


def data_files(path: str) -> dict[str, tuple[int, int, int]]:
    """``{file: (inode, size, mtime_ns)}`` for the parquet files under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that ``before`` did not hold."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return len(new), sum(v[1] for v in new)


class Tracer:
    """Accumulates layer counters per run kind (``incr``, ``noop``, ...)."""

    def __init__(self, spark, models: list[str]):
        self.spark = spark
        self.kind = "setup"
        self.models = models
        self.c: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._install()

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.c[self.kind][key] += value

    def group(self, name: str) -> None:
        """Tag this thread's following Spark jobs ``<kind>:<name>``."""
        self.spark.sparkContext.setJobGroup(f"{self.kind}:{name}", name)

    def _install(self) -> None:
        tracer = self

        def probe(fn):
            def wrapped(ctx, *a, **k):
                t0 = time.perf_counter()
                try:
                    return fn(ctx, *a, **k)
                finally:
                    dt = time.perf_counter() - t0
                    tracer._local.probe_s = getattr(tracer._local, "probe_s", 0.0) + dt
                    tracer.add("model.probe_s", dt)
                    tracer.add("model.probes", 1)
            return wrapped

        ModelContext.watermark_ms = probe(ModelContext.watermark_ms)
        ModelContext.lookback_floor_date = probe(ModelContext.lookback_floor_date)

        for name in self.models:
            cfg = get_model(name)

            def builder(ctx, _fn=cfg.builder, _name=name):
                tracer.group(_name)
                tracer._local.probe_s = 0.0
                t0 = time.perf_counter()
                out = _fn(ctx)
                tracer.add("builder.self_s", time.perf_counter() - t0 - tracer._local.probe_s)
                return out

            cfg.builder = builder

        def sink(fn, label):
            def wrapped(store, df, name, *a, **k):
                depth = getattr(tracer._local, "sink_depth", 0)
                if depth:  # a write_full inside a merge belongs to the merge
                    return fn(store, df, name, *a, **k)
                before = data_files(store.path(name))
                tracer._local.sink_depth = 1
                t0 = time.perf_counter()
                try:
                    return fn(store, df, name, *a, **k)
                finally:
                    dt = time.perf_counter() - t0
                    tracer._local.sink_depth = 0
                    after = data_files(store.path(name))
                    files, nbytes = written(before, after)
                    tracer.add(f"store.{label}_s", dt)
                    tracer.add("store.files_written", files)
                    tracer.add("store.bytes_written_mb", nbytes / MB)
                    if before and not set(before) & set(after):
                        tracer.add("store.tables_rewritten", 1)
            return wrapped

        TableStore.merge = sink(TableStore.merge, "merge")
        TableStore.write_full = sink(TableStore.write_full, "write_full")


def fold_event_log(log_dir: str) -> dict[str, collections.Counter]:
    """Spark work per job group, from the (stopped) session's event log."""
    groups: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    stage_group: dict[int, str] = {}
    # Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` (rolling log)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "other"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid, "other")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = groups[stage_group.get(ev["Stage ID"], "other")]
                    g["tasks"] += 1
                    g["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                    g["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
                    )
                    out = m.get("Output Metrics") or {}
                    g["output_mb"] += out.get("Bytes Written", 0) / MB
                    g["rows_written"] += out.get("Records Written", 0)
    return groups
