"""``fct_deepbook_margin_pool_daily`` — daily pool-level fact.

Reference: ``models/deepbook_margin/daily/fct_deepbook_margin_pool_daily.sql``.
Grain: one row per (margin_pool_id, snapshot_date). Semantics reproduced:

- 4 per-(day, pool) grouped SUM volume aggregates (A1, ``:27-76``) aligned
  by a zero-filled FULL OUTER join chain (J1, ``:78-90``), each restricted
  to the 7-day lookback on incremental runs (P6, ``:34,47,60,73``) — built
  as ONE ``groupBy`` over the kind-tagged union of the event refs with
  ``sum(when(kind = …, amount))``; a kind with no rows sums to NULL, which
  the volumes join's ``coalesce(x, 0)`` zero-fills as the FOJ's did
- ``row_number()`` dedup to the latest object state per (pool, day)
  (W1, ``:92-119``) and the latest price per (day, symbol) (W2, ``:122-135``)
- LEFT joins base→volumes (J2, ``:203-205``) and base→prices on
  case-insensitive symbol (J3, ``:206-208``; pre-uppercased equi-key)
- stablecoin price override CASE (P10, ``:150-153``), decimal-normalized
  and USD volume measures (F15/F16, ``:163-185``)
- ``lag()`` day-over-day deltas (W3, ``:188-196``) — computed over exactly
  the rows this run produces, reproducing the reference's incremental
  behavior (on an incremental run the lag window sees only the 7-day
  slice; the slice's first day gets NULL deltas that MERGE writes over —
  SURVEY §2.5 W3 caveat, reproduced deliberately for parity). With the
  engine's ``lag_widen_days=N`` knob the input window widens N days below
  the floor purely to seed the lag, and the margin rows are trimmed
  before MERGE — incremental deltas then equal full-refresh deltas for
  pools whose snapshot gaps are ≤ N days.
- final sort (O1, ``:210``), which also writes each day as one file

Scale notes: the volumes are one partial-aggregated (map-side combine)
hash aggregate shuffled once on (date, pool); the pools×days cardinality
is tiny relative to events. The price dim after dedup is days×symbols —
broadcast. The W1 dedup shuffles the staging table on (pool, day) — the
dominant shuffle, proportional to object mutations in the lookback window,
not table history, thanks to the P6 filter reaching the parquet scan.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.model import ModelContext, model

_STABLE = ("USDC", "USDT", "AUSD")


def _daily_volumes(ctx: ModelContext, floor_date) -> DataFrame:
    """A1 + J1: the four volumes as one aggregate over a kind-tagged union."""
    day = F.to_date(F.timestamp_seconds(F.col("timestamp_ms") / F.lit(1000)))
    kinds = {  # volume column -> (event model, amount column); reference :27-76
        "supply_volume": ("deepbook_margin_pool_asset_supplied", "supply_amount"),
        "withdraw_volume": ("deepbook_margin_pool_asset_withdrawn", "withdraw_amount"),
        "borrow_volume": ("deepbook_margin_loan_borrowed", "loan_amount"),
        "repay_volume": ("deepbook_margin_loan_repaid", "repay_amount"),
    }
    events = functools.reduce(DataFrame.union, [
        ctx.ref(ref).select(day.alias("snapshot_date"), "margin_pool_id",
                            F.lit(kind).alias("kind"), F.col(amount).alias("amount"))
        for kind, (ref, amount) in kinds.items()
    ])
    if floor_date is not None:
        events = events.filter(F.col("snapshot_date") >= F.lit(floor_date))
    return events.groupBy("snapshot_date", "margin_pool_id").agg(
        *[F.sum(F.when(F.col("kind") == kind, F.col("amount"))).alias(kind) for kind in kinds]
    )


@model(
    "fct_deepbook_margin_pool_daily",
    unique_key=["margin_pool_id", "snapshot_date"],
    materialized="incremental",
    incremental_strategy="merge",
    partition_by=["snapshot_date"],
    deps=[
        "deepbook_margin_pool_asset_supplied",
        "deepbook_margin_pool_asset_withdrawn",
        "deepbook_margin_loan_borrowed",
        "deepbook_margin_loan_repaid",
        "stg_deepbook_margin_pool_object",
    ],
    tags=["deepbook_margin", "daily"],
    not_null=["snapshot_date", "margin_pool_id"],
)
def fct_deepbook_margin_pool_daily(ctx: ModelContext) -> DataFrame:
    floor_date = ctx.lookback_floor_date("snapshot_date")
    # inputs read from the (possibly widened) lag-seed floor; output rows
    # below the true floor are trimmed at the end
    input_floor = ctx.lag_input_floor_date(floor_date)

    # --- latest pool object state per (pool, day) (W1) ---------------------
    stg = ctx.ref("stg_deepbook_margin_pool_object").select(
        "snapshot_date",
        "margin_pool_id",
        "asset_type",
        "coin_symbol",
        "coin_decimals",
        "total_borrow_normalized",
        "total_supply_normalized",
        "utilization_rate",
        "available_liquidity_normalized",
        "active_positions_count",
        "timestamp_ms",
        F.col("version").alias("last_object_version"),
    )
    if input_floor is not None:
        stg = stg.filter(F.col("snapshot_date") >= F.lit(input_floor))
    w1 = Window.partitionBy("margin_pool_id", "snapshot_date").orderBy(
        F.desc("timestamp_ms"), F.desc("last_object_version")
    )
    pool_daily_base = (
        stg.withColumn("rn", F.row_number().over(w1)).filter(F.col("rn") == 1).drop("rn")
    )

    # --- latest price per (day, symbol) (W2) -------------------------------
    prices = (
        ctx.source("prices", "day")
        .filter((F.col("blockchain") == "sui") & F.col("symbol").isin("SUI", "USDC", "DEEP"))
        .select(
            F.to_date("timestamp").alias("price_date"),
            "symbol",
            F.col("price").alias("price_usd"),
            F.col("timestamp"),
        )
    )
    w2 = Window.partitionBy("price_date", "symbol").orderBy(F.desc("timestamp"))
    daily_prices = (
        prices.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("price_date", F.upper("symbol").alias("symbol_u"), "price_usd")
    )

    # --- final join + measures (J2/J3/P10/F15/F16/W3) ----------------------
    p = pool_daily_base.alias("p")
    v = _daily_volumes(ctx, input_floor).alias("v")
    joined = p.join(v, on=["snapshot_date", "margin_pool_id"], how="left").join(
        F.broadcast(daily_prices),
        (F.col("price_date") == F.col("snapshot_date"))
        & (F.col("symbol_u") == F.upper(F.col("coin_symbol"))),
        "left",
    )

    eff_price = F.when(F.upper(F.col("coin_symbol")).isin(*_STABLE), F.lit(1.0)).otherwise(
        F.coalesce(F.col("price_usd"), F.lit(0.0))
    )
    scale = F.pow(F.lit(10.0), F.coalesce(F.col("coin_decimals"), F.lit(9)))
    lag_w = Window.partitionBy("margin_pool_id").orderBy("snapshot_date")

    def vol_norm(c: str) -> F.Column:
        return F.coalesce(F.col(c), F.lit(0.0)) / scale

    out = joined.select(
        F.col("snapshot_date"),
        F.col("margin_pool_id"),
        F.col("coin_symbol"),
        F.col("total_supply_normalized"),
        F.col("total_borrow_normalized"),
        F.col("available_liquidity_normalized"),
        F.col("utilization_rate"),
        F.col("active_positions_count"),
        eff_price.alias("price_usd"),
        (F.col("total_supply_normalized") * eff_price).alias("total_supply_usd"),
        (F.col("total_borrow_normalized") * eff_price).alias("total_borrow_usd"),
        vol_norm("supply_volume").alias("daily_supply_volume"),
        vol_norm("withdraw_volume").alias("daily_withdraw_volume"),
        vol_norm("borrow_volume").alias("daily_borrow_volume"),
        vol_norm("repay_volume").alias("daily_repay_volume"),
        (vol_norm("supply_volume") * eff_price).alias("daily_supply_volume_usd"),
        (vol_norm("withdraw_volume") * eff_price).alias("daily_withdraw_volume_usd"),
        (vol_norm("borrow_volume") * eff_price).alias("daily_borrow_volume_usd"),
        (vol_norm("repay_volume") * eff_price).alias("daily_repay_volume_usd"),
        (
            F.col("total_supply_normalized")
            - F.lag("total_supply_normalized").over(lag_w)
        ).alias("daily_supply_change"),
        (
            F.col("total_borrow_normalized")
            - F.lag("total_borrow_normalized").over(lag_w)
        ).alias("daily_borrow_change"),
        (F.col("utilization_rate") - F.lag("utilization_rate").over(lag_w)).alias(
            "daily_utilization_change"
        ),
        F.col("asset_type"),
        ctx.now().alias("updated_at"),
    )
    # drop the lag-seed margin (no-op unless lag_widen_days > 0): those days
    # are already correct in the target and were read only to feed lag()
    out = ctx.trim_to_floor(out, floor_date, "snapshot_date")
    # not cosmetic: the range sort keeps each snapshot_date in one file
    return out.orderBy(F.desc("snapshot_date"), F.desc_nulls_last("total_supply_normalized"))
