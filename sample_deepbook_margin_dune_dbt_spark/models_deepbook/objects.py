"""``stg_deepbook_margin_pool_object`` — versioned pool-state staging model.

Reference: ``models/deepbook_margin/objects/stg_deepbook_margin_pool_object.sql``.
Grain: one row per (object_id, version). Semantics reproduced:

- LIKE prefix filter on the generic Move type (P3, ``:95``)
- incremental watermark / 30-day backfill on ``timestamp_ms`` (P4/P5, ``:96-101``)
- generic-type-parameter extraction via ``regexp_extract('<(.+)>$', 1)`` (F12, ``:45``)
- ~30 deep JSON-path extractions with ``try_cast`` (F1/F4, ``:48-92``)
- 5-row coin-metadata seed dimension (S5, ``:22-33``) broadcast-joined with the
  SUI short-form address normalized *before* the join (J4, ``:202-209``) — the
  CASE-on-join-key is rewritten as a precomputed key column + equi-join, which
  is the Spark-idiomatic plan (broadcast hash join, no shuffle).
- decimal normalization / share price / utilization derived metrics (P10,
  F15-F17, ``:132-162``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine.model import ModelContext, model
from ..functions.json import json_extract
from .common import PACKAGE, decode_json_fields, slice_floor_ms

# (output column, json path, cast type | None) — reference :48-92
_JSON_FIELDS: list[tuple[str, str, str | None]] = [
    ("margin_pool_id", "$.id.id", None),
    ("total_borrow", "$.state.total_borrow", "double"),
    ("total_supply", "$.state.total_supply", "double"),
    ("borrow_shares", "$.state.borrow_shares", "double"),
    ("supply_shares", "$.state.supply_shares", "double"),
    ("last_update_timestamp_ms", "$.state.last_update_timestamp", "bigint"),
    ("vault_balance", "$.vault", "double"),
    ("fees_per_share", "$.protocol_fees.fees_per_share", "double"),
    ("maintainer_fees", "$.protocol_fees.maintainer_fees", "double"),
    ("protocol_fees", "$.protocol_fees.protocol_fees", "double"),
    ("protocol_fee_total_shares", "$.protocol_fees.total_shares", "double"),
    ("referrals_count", "$.protocol_fees.referrals.size", "bigint"),
    ("active_positions_count", "$.positions.positions.size", "bigint"),
    ("positions_table_id", "$.positions.positions.id.id", None),
    ("interest_base_rate", "$.config.interest_config.base_rate", "double"),
    ("interest_base_slope", "$.config.interest_config.base_slope", "double"),
    ("interest_excess_slope", "$.config.interest_config.excess_slope", "double"),
    ("interest_optimal_utilization", "$.config.interest_config.optimal_utilization", "double"),
    ("max_utilization_rate", "$.config.margin_pool_config.max_utilization_rate", "double"),
    ("min_borrow", "$.config.margin_pool_config.min_borrow", "double"),
    ("protocol_spread", "$.config.margin_pool_config.protocol_spread", "double"),
    ("supply_cap", "$.config.margin_pool_config.supply_cap", "double"),
    ("rate_limit_enabled", "$.config.margin_pool_config.rate_limit_enabled", "boolean"),
    ("rate_limit_capacity", "$.config.margin_pool_config.rate_limit_capacity", "double"),
    ("rate_limiter_available", "$.rate_limiter.available", "double"),
    ("rate_limiter_capacity", "$.rate_limiter.capacity", "double"),
    ("rate_limiter_enabled", "$.rate_limiter.enabled", "boolean"),
    ("rate_limiter_last_updated_ms", "$.rate_limiter.last_updated_ms", "bigint"),
]

# coin-metadata seed (S5; reference :22-33)
SUI_LONG = "0x0000000000000000000000000000000000000000000000000000000000000002::sui::SUI"
COIN_METADATA_ROWS = [
    (SUI_LONG, "SUI", 9, "Sui"),
    ("0x2::sui::SUI", "SUI", 9, "Sui"),
    (
        "0xdba34672e30cb065b1f93e3ab55318768fd6fef66c15942c9f7cb846e2f900e7::usdc::USDC",
        "USDC",
        6,
        "USD Coin",
    ),
    (
        "0x5d4b302506645c37ff133b98c4b50a5ae14841659738d6d733d59d0d217a93bf::coin::COIN",
        "wUSDC",
        6,
        "Wormhole USDC",
    ),
    (
        "0xdeeb7a4662eec9f2f3def03fb937a663dddaa2e215b8078a284d026b7946c270::deep::DEEP",
        "DEEP",
        6,
        "DeepBook Token",
    ),
]
COIN_METADATA_SCHEMA = "coin_type string, coin_symbol string, coin_decimals int, coin_name string"


def coin_metadata(spark) -> DataFrame:
    return spark.createDataFrame(COIN_METADATA_ROWS, COIN_METADATA_SCHEMA)


def _norm_decimals(amount: F.Column, decimals: F.Column) -> F.Column:
    """``case when decimals is not null then amount / power(10, decimals) end``
    (reference :132-141)."""
    return F.when(decimals.isNotNull(), amount / F.pow(F.lit(10.0), decimals)).otherwise(
        F.lit(None)
    )


@model(
    "stg_deepbook_margin_pool_object",
    unique_key=["object_id", "version"],
    materialized="incremental",
    incremental_strategy="merge",
    tags=["deepbook_margin"],
    not_null=["object_id", "version"],
)
def stg_deepbook_margin_pool_object(ctx: ModelContext) -> DataFrame:
    raw = ctx.source("sui", "objects").filter(
        F.col("type_").like(f"{PACKAGE}::margin_pool::MarginPool<%")
    )
    raw = raw.filter(F.col("timestamp_ms") >= F.lit(slice_floor_ms(ctx)))
    m = raw.select(
        F.col("object_id").cast("string").alias("object_id"),
        F.col("version"),
        F.col("type_").alias("type"),
        F.col("object_status"),
        F.col("timestamp_ms"),
        F.regexp_extract(F.col("type_"), "<(.+)>$", 1).alias("asset_type"),
        *decode_json_fields("object_json", _JSON_FIELDS),
        # JSON array kept serialized (F2/F3; reference :92)
        json_extract(F.col("object_json"), "$.allowed_deepbook_pools.contents").alias(
            "allowed_deepbook_pools_json"
        ),
    )

    # J4: CASE-normalized join key precomputed, then broadcast equi-join
    # (reference :202-209). 5-row dim → broadcast hash join, zero shuffle.
    m = m.withColumn(
        "_coin_join_key",
        F.when(F.col("asset_type") == "0x2::sui::SUI", F.lit(SUI_LONG)).otherwise(
            F.col("asset_type")
        ),
    )
    cm = F.broadcast(coin_metadata(ctx.spark))
    j = m.join(cm, m["_coin_join_key"] == cm["coin_type"], "left")

    ts_sec = F.col("timestamp_ms") / F.lit(1000)
    dec = F.col("coin_decimals")
    return j.select(
        F.col("timestamp_ms"),
        F.timestamp_seconds(ts_sec).alias("block_timestamp"),
        F.to_date(F.timestamp_seconds(ts_sec)).alias("snapshot_date"),
        F.col("object_id"),
        F.col("version"),
        F.col("type"),
        F.col("object_status"),
        F.col("margin_pool_id"),
        F.col("asset_type"),
        F.coalesce(F.col("coin_symbol"), F.lit("UNKNOWN")).alias("coin_symbol"),
        F.coalesce(dec, F.lit(9)).alias("coin_decimals"),
        F.coalesce(F.col("coin_name"), F.lit("Unknown")).alias("coin_name"),
        F.col("total_borrow"),
        F.col("total_supply"),
        F.col("borrow_shares"),
        F.col("supply_shares"),
        F.col("last_update_timestamp_ms"),
        F.timestamp_seconds(F.col("last_update_timestamp_ms") / F.lit(1000)).alias(
            "last_update_timestamp"
        ),
        F.col("vault_balance"),
        # normalized metrics use the *raw* (nullable) dim decimals, matching the
        # reference's `cm.coin_decimals is not null` guard (:132-141)
        _norm_decimals(F.col("total_borrow"), dec).alias("total_borrow_normalized"),
        _norm_decimals(F.col("total_supply"), dec).alias("total_supply_normalized"),
        _norm_decimals(F.col("vault_balance"), dec).alias("vault_balance_normalized"),
        F.when(
            F.col("supply_shares") > 0, F.col("total_supply") / F.col("supply_shares")
        ).alias("supply_share_price"),
        F.when(
            F.col("borrow_shares") > 0, F.col("total_borrow") / F.col("borrow_shares")
        ).alias("borrow_share_price"),
        F.when(F.col("total_supply") > 0, F.col("total_borrow") / F.col("total_supply"))
        .otherwise(F.lit(0.0))
        .alias("utilization_rate"),
        (F.col("total_supply") - F.col("total_borrow")).alias("available_liquidity"),
        _norm_decimals(F.col("total_supply") - F.col("total_borrow"), dec).alias(
            "available_liquidity_normalized"
        ),
        F.col("fees_per_share"),
        F.col("maintainer_fees"),
        F.col("protocol_fees"),
        F.col("protocol_fee_total_shares"),
        F.col("referrals_count"),
        F.col("active_positions_count"),
        F.col("positions_table_id"),
        F.col("interest_base_rate"),
        F.col("interest_base_slope"),
        F.col("interest_excess_slope"),
        F.col("interest_optimal_utilization"),
        F.col("max_utilization_rate"),
        F.col("min_borrow"),
        F.col("protocol_spread"),
        F.col("supply_cap"),
        F.col("rate_limit_enabled"),
        F.col("rate_limit_capacity"),
        F.col("rate_limiter_available"),
        F.col("rate_limiter_capacity"),
        F.col("rate_limiter_enabled"),
        F.col("rate_limiter_last_updated_ms"),
        F.timestamp_seconds(F.col("rate_limiter_last_updated_ms") / F.lit(1000)).alias(
            "rate_limiter_last_updated_timestamp"
        ),
        F.col("allowed_deepbook_pools_json"),
        ctx.now().alias("updated_at"),
    )
