"""The runner's one DAG walk, driven without Spark: ``Runner._build_one``
is replaced by a sleep, so these tests pin scheduling only (in-flight
bound, fail-fast stop, wall-clock ``elapsed_s``, thread-count check)."""

from __future__ import annotations

import json
import threading
import time

import pytest

from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore, model
from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY


@pytest.fixture
def register():
    names = []

    def _register(name, deps=()):
        model(name, materialized="table", deps=list(deps))(lambda ctx: None)
        names.append(name)

    yield _register
    for n in names:
        _REGISTRY.pop(n, None)


@pytest.fixture
def runner(tmp_path):
    return Runner(None, TableStore(None, str(tmp_path / "wh")), {})


def _sleeps(monkeypatch, seconds, fail=()):
    """Patch the per-model build to sleep ``seconds[name]`` (0 if absent)
    and raise for names in ``fail``; returns the started names."""
    started = []
    lock = threading.Lock()

    def fake_build(self, cfg, full_refresh):
        with lock:
            started.append(cfg.name)
        time.sleep(seconds.get(cfg.name, 0.0))
        if cfg.name in fail:
            raise RuntimeError(f"{cfg.name} failed")

    monkeypatch.setattr(Runner, "_build_one", fake_build)
    return started


def test_fail_fast_starts_nothing_after_first_failure(
    runner, register, monkeypatch
):
    threads = 2
    children = [f"ff_child{i}" for i in range(5)]
    register("ff_boom")
    register("ff_a")
    for c in children:
        register(c, deps=["ff_a"])
    started = _sleeps(
        monkeypatch, {"ff_boom": 0.2, **{c: 0.3 for c in children}}, fail={"ff_boom"}
    )
    with pytest.raises(RuntimeError, match="ff_boom failed"):
        runner.run(["ff_boom", "ff_a", *children], threads=threads)
    assert len([c for c in started if c in children]) <= threads - 1
    assert len(runner.last_run_results) == len(started)
    assert {r["model"]: r["status"] for r in runner.last_run_results}["ff_boom"] == "error"


def test_elapsed_s_is_wall_time(runner, register, monkeypatch, tmp_path):
    register("el_x")
    register("el_y")
    _sleeps(monkeypatch, {"el_x": 0.5, "el_y": 0.5})
    runner.run(["el_x", "el_y"], threads=2)
    with open(tmp_path / "wh" / "_artifacts" / "run_results.json") as f:
        art = json.load(f)
    assert art["elapsed_s"] < sum(r["execution_time_s"] for r in art["results"])


def test_threads_below_one_rejected(runner):
    with pytest.raises(ValueError, match="threads must be >= 1"):
        runner.run(threads=0)
