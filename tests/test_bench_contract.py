"""Artifact-contract pins for bench.py's stdout line.

The driver captures only the last 2000 chars of bench stdout and JSON-parses
the final line; rounds 6 and 7 both shipped lines that overflowed the window
and recorded ``parsed: null`` (VERDICT r7 item 1 — the only unmet directive
two rounds running). These pins make any regression of that contract a local
test failure instead of a silent driver-side truncation:

- the rendered line stays under ``STDOUT_LINE_BUDGET`` (< 2000 with headroom)
  even if every query's median hit 9.999 s (4-char ms values — no bench
  query has ever exceeded 5 s at sf0.1);
- the line is valid single-line JSON whose ``q`` dict carries every bench
  query by its inventory name;
- every bench name resolves in ``FULL_QUERIES`` (a renamed query breaks the
  bench at import time, not at driver time);
- every driver-window query (``DRIVER_QUERY_ORDER``) holds a bench row, so a
  plan regression in any driver family is visible round-over-round (the
  r6 alignment policy, now pinned instead of prose).

No SparkSession is started: ``render_stdout_line`` is a pure function.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from sample_deepbook_margin_dune_dbt_spark.queries import (  # noqa: E402
    DRIVER_QUERY_ORDER,
    FULL_QUERIES,
)


def test_stdout_line_fits_driver_capture_worst_case():
    # simulate inventory growth far past today's count: 120 headline
    # queries, every value at the 4-char ms worst case. The stdout dict is
    # capped to the driver window (≤ 50 by construction), so the line must
    # keep ≥10% headroom under the 2000-char capture regardless (r9
    # contract, VERDICT r8 item 4).
    inflated = {name: 9.999 for name in bench.BENCH_QUERIES}
    inflated.update({f"future_query_with_a_long_name_{i:02d}": 9.999 for i in range(120 - len(inflated))})
    line = bench.render_stdout_line(
        sum(inflated.values()),
        inflated,
        stdout_names=DRIVER_QUERY_ORDER,
        # worst-case load rendering: a 3-digit centi-load int ("load":99999
        # would need load 999.99 — 5 digits covers any real box)
        load=999.99,
    )
    assert "\n" not in line
    assert len(line) < bench.STDOUT_LINE_BUDGET, (
        f"bench stdout line is {len(line)} chars at 4-char worst-case values; "
        f"budget {bench.STDOUT_LINE_BUDGET} (driver tail capture is 2000). "
        "The driver window grew past what the line can carry — shrink keys."
    )
    assert bench.STDOUT_LINE_BUDGET <= 1800, (
        "budget must leave >=10% headroom under the 2000-char driver capture"
    )


def test_stdout_line_is_flat_ms_integer_json():
    timings = {name: 0.4567 for name in bench.BENCH_QUERIES}
    parsed = json.loads(
        bench.render_stdout_line(
            12.3456, timings, stdout_names=DRIVER_QUERY_ORDER, load=1.53
        )
    )
    assert set(parsed) == {"total", "nq", "load", "q"}
    assert parsed["total"] == 12346
    assert parsed["nq"] == len(bench.BENCH_QUERIES)
    # pre-warmup 1-min loadavg as a centi-load integer (VERDICT r14 item
    # 2): the parsed line itself says whether the box was contended
    assert parsed["load"] == 153
    # stdout carries exactly the driver-window queries that hold bench rows
    assert set(parsed["q"]) == {n for n in DRIVER_QUERY_ORDER if n in timings}
    assert all(isinstance(v, int) for v in parsed["q"].values())
    assert parsed["q"][DRIVER_QUERY_ORDER[0]] == 457


def test_stdout_line_without_load_keeps_legacy_shape():
    # the load field is additive: a caller that doesn't pass it gets the
    # exact pre-r15 line, so round-over-round parsers never break
    timings = {name: 0.4567 for name in bench.BENCH_QUERIES}
    parsed = json.loads(
        bench.render_stdout_line(12.3456, timings, stdout_names=DRIVER_QUERY_ORDER)
    )
    assert set(parsed) == {"total", "nq", "q"}


def test_stdout_line_without_subset_carries_all_queries():
    timings = {"a": 0.1, "b": 0.2}
    parsed = json.loads(bench.render_stdout_line(0.3, timings))
    assert parsed == {"total": 300, "nq": 2, "q": {"a": 100, "b": 200}}


def test_stdout_line_survives_an_unterminated_progress_bar(capsys):
    # Spark's console progress bar redraws with "\r" and never ends its
    # line; a result printed right after it would be glued onto the bar
    # and a last-line JSON parse would fail
    sys.stdout.write("\r[Stage 3:=============>               (2 + 2) / 8]")
    line = bench.render_stdout_line(0.3, {"a": 0.1, "b": 0.2}, load=0.5)
    bench.emit_stdout_line(line)
    out = capsys.readouterr().out
    last = out.rstrip("\n").split("\n")[-1]
    assert json.loads(last) == {"total": 300, "nq": 2, "load": 50, "q": {"a": 100, "b": 200}}


def test_bench_names_resolve_and_are_unique():
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
    missing = [n for n in bench.BENCH_QUERIES + bench.DEMO_QUERIES if n not in FULL_QUERIES]
    assert not missing, missing


def test_every_driver_window_query_has_a_bench_row():
    uncovered = [n for n in DRIVER_QUERY_ORDER if n not in bench.BENCH_QUERIES]
    assert not uncovered, (
        f"driver-window queries without a bench row: {uncovered} — the r6 "
        "alignment policy requires each CORRECTNESS family to be timed "
        "round-over-round"
    )
