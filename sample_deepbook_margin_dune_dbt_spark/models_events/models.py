"""Event-analytics models (see package docstring)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine.model import ModelContext, model
from ..queries.common import normalize_event_ts


@model(
    "events_user_reach_daily",
    unique_key=["d"],
    materialized="incremental",
    incremental_strategy="merge",
    tags=["events"],
    not_null=["d", "n_exact", "user_sketch"],
)
def events_user_reach_daily(ctx: ModelContext) -> DataFrame:
    """Per-day user-reach row: mergeable HLL sketch + exact daily distinct.

    Incremental on the date watermark with the reference's
    reprocess-the-boundary pattern (``fct_deepbook_margin_pool_daily.sql:34``):
    days ``>= max(d)`` rebuild from source and MERGE, so late events
    landing on the current day update its sketch instead of being lost.
    The sketch column is what makes the table re-aggregatable: any date
    range's distinct-user count is one ``hll_union_agg`` over the stored
    rows (see :func:`total_reach`) — constant work per day, no history
    re-scan, which summed daily exacts cannot provide (returnees double
    count; the table stores both so the gap is observable).
    """
    ev = normalize_event_ts(ctx.source("main", "events"))
    daily = ev.select(F.to_date("ts").alias("d"), "user_id")
    wm = ctx.watermark("d")
    if wm is not None:
        daily = daily.filter(F.col("d") >= F.lit(wm))
    return daily.groupBy("d").agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(14)).alias("user_sketch"),
        F.count_distinct("user_id").cast("long").alias("n_exact"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ).withColumn("updated_at", ctx.now())


@model(
    "events_user_first_seen",
    unique_key=["user_id"],
    materialized="incremental",
    incremental_strategy="merge",
    tags=["events"],
    not_null=["user_id", "first_date", "last_seen"],
)
def events_user_first_seen(ctx: ModelContext) -> DataFrame:
    """Incremental user-activity dimension: (user_id, first_date,
    last_seen) — the cohort key every retention/LTV rollup joins.

    The MERGE-a-dimension pattern: each run scans only events at or
    after ``max(last_seen)`` (boundary-day reprocess, as the reach
    model), aggregates per-user min/max over the slice, then corrects
    against the existing row with ``least``/``greatest`` — so the MERGE
    replaces a matched user with the true lifetime extremes, never with
    slice-local ones. Users absent from the slice are untouched. An
    event arriving EARLIER than history already processed (cohort-moving
    late data) is the documented full-refresh case, same class as the
    reference's 7-day-lookback boundary (``corpus_refresh_audit`` is the
    detector on the corpus DAG).
    """
    ev = normalize_event_ts(ctx.source("main", "events"))
    act = ev.select("user_id", F.to_date("ts").alias("d"))
    incremental = ctx.is_incremental()
    wm = ctx.watermark("last_seen")
    if wm is not None:
        act = act.filter(F.col("d") >= F.lit(wm))
    mins = act.groupBy("user_id").agg(
        F.min("d").alias("first_date"), F.max("d").alias("last_seen")
    )
    if incremental:
        old = ctx.this().select(
            "user_id",
            F.col("first_date").alias("_of"),
            F.col("last_seen").alias("_ol"),
        )
        mins = (
            mins.join(old, "user_id", "left")
            .select(
                "user_id",
                F.least(F.col("first_date"), F.coalesce("_of", "first_date")).alias(
                    "first_date"
                ),
                F.greatest(F.col("last_seen"), F.coalesce("_ol", "last_seen")).alias(
                    "last_seen"
                ),
            )
        )
    return mins.withColumn("updated_at", ctx.now())


@model(
    "events_retention_daily",
    unique_key=["cohort_date", "day_offset"],
    materialized="incremental",
    incremental_strategy="merge",
    deps=["events_user_first_seen"],
    tags=["events"],
    not_null=["cohort_date", "day_offset", "n_users"],
)
def events_retention_daily(ctx: ModelContext) -> DataFrame:
    """Incremental cohort-retention fact: one row per (cohort_date,
    day_offset) with distinct actives and the ppm share of the CURRENT
    cohort size.

    Joins (user, activity-day) pairs against the first-seen dimension
    (``ref`` — the DAG edge), watermarks on ``activity_date`` (stored
    precisely so the watermark probe is a scalar MAX on this table), and
    reprocesses the boundary day. A late event inside the current day
    updates its row via MERGE; cohort sizes denominate from the LIVE
    dimension, so reprocessed rows always carry the corrected size.
    """
    ev = normalize_event_ts(ctx.source("main", "events"))
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = ctx.ref("events_user_first_seen").select(
        "user_id", F.col("first_date").alias("cohort_date")
    )
    wm = ctx.watermark("activity_date")
    if wm is not None:
        ud = ud.filter(F.col("d") >= F.lit(wm))
    sizes = first.groupBy("cohort_date").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return (
        ud.join(first, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("d", "cohort_date").cast("long").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
        .join(F.broadcast(sizes), "cohort_date")
        .select(
            "cohort_date",
            "day_offset",
            F.expr("date_add(cohort_date, CAST(day_offset AS INT))").alias(
                "activity_date"
            ),
            "n_users",
            "cohort_size",
            F.expr("n_users * 1000000L div cohort_size").alias("retention_ppm"),
        )
        .withColumn("updated_at", ctx.now())
    )


def total_reach(reach_table: DataFrame) -> DataFrame:
    """Distinct-user estimate over any slice of ``events_user_reach_daily``
    rows: union the stored sketches. Filter the input first for a date
    range ("reach last 30 days") — the union cost is rows-in-range, not
    corpus size."""
    return reach_table.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("user_sketch")))
        .cast("long")
        .alias("est_total_users"),
        F.sum("n_exact").cast("long").alias("sum_daily_exact"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
