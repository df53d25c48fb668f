"""Event sessionization: gap-based session assignment as pure window algebra.

The classic stream-analytics operator (session windows) expressed for batch:
a new session starts when the gap to the user's previous event exceeds the
threshold; the session id is a running count of session starts. Two window
passes over (user, time) — both on the same partitioning, so Catalyst plans
ONE shuffle on user_id and evaluates both windows in a single sort pass.

The streaming twin is ``F.session_window`` in Structured Streaming; this
batch form is what the reference-style incremental pipeline would run, and
its output is deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap: int,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Assign session ids: (user, ts units) with a new session when the gap
    to the previous event exceeds ``gap`` (same units as ``ts_col``).

    Output: input columns + ``session_id`` (1-based per user).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    is_start = F.when(
        prev.isNull() | ((F.col(ts_col) - prev) > gap), F.lit(1)
    ).otherwise(F.lit(0))
    out_cols = [user_col, ts_col] + (extra_cols or [])
    return (
        df.select(*out_cols)
        .withColumn("_start", is_start)
        .withColumn(
            "session_id",
            F.sum("_start").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .drop("_start")
    )


def session_stats_native(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    value_col: str | None = None,
) -> DataFrame:
    """Per-session aggregates via Spark's NATIVE ``F.session_window`` — the
    built-in-operator-first twin of ``session_stats``.

    ``session_window`` is a single groupBy whose window key merges
    overlapping [ts, ts+gap) intervals per group — one shuffle, no window
    functions, and the SAME operator works unchanged in Structured
    Streaming with a watermark (where the custom
    ``streaming/stateful.py`` sessionizer exists only for semantics the
    built-in can't express, e.g. emitting per-event state transitions).
    ``ts_col`` must be a timestamp column; gap is wall-clock seconds.

    Boundary note: the native window is [ts, ts + gap), so a gap EXACTLY
    equal to ``gap_seconds`` starts a new session (exclusive), while the
    window-algebra form closes on ``diff > gap`` (inclusive). On
    integer-second data, ``session_stats(gap=G)`` ≡
    ``session_stats_native(gap_seconds=G+1)`` — asserted in
    ``tests/test_operators.py``.
    """
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(12,2)")).cast("double").alias("session_value")
        )
    return (
        df.groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds"),
        )
        .agg(*aggs)
        .drop("session_window")
    )


def session_stats(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap: int,
    value_col: str | None = None,
) -> DataFrame:
    """Per-session aggregates: bounds, event count, optional value sum."""
    s = sessionize(df, user_col, ts_col, gap, extra_cols=[value_col] if value_col else [])
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col:
        aggs.append(F.sum(F.col(value_col).cast("decimal(12,2)")).cast("double").alias("session_value"))
    return s.groupBy(user_col, "session_id").agg(*aggs)
