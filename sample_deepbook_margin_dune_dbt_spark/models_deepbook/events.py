"""The 5 event-decoding models (reference ``models/deepbook_margin/events/*.sql``).

Each is the same shape — scan ``sui.events``, filter one fully-qualified Move
event type (SURVEY §2.2 P2), apply the incremental watermark or 30-day
backfill bound (P4/P5), JSON-decode the payload (F1), safe-cast numerics
(F4) — differing only in event type and field map. Declared here as a spec
table + one factory, so the decode plan is uniformly JVM-side Catalyst
expressions (``get_json_object`` + ``try_cast``; no Python in the row path).

Scale notes: the event_type equality filter and the watermark range filter
are plain column predicates, so Catalyst pushes both into the parquet scan
(``PushedFilters``) — on a date-partitioned 100 TB events table the watermark
additionally prunes partitions. The decode itself is a narrow map: no
shuffle anywhere in these 5 models.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine.model import ModelContext, model
from .common import PACKAGE, decode_json_fields, slice_floor_ms

# (model name, event type suffix, [(out_col, json_path, cast_type | None)])
# Field maps mirror the reference SELECT lists:
#   deepbook_margin_loan_borrowed.sql:34-38, loan_repaid.sql:36-40,
#   deposit_collateral.sql:34-39, pool_asset_supplied.sql:36-41,
#   pool_asset_withdrawn.sql:36-41
EVENT_SPECS: list[tuple[str, str, list[tuple[str, str, str | None]]]] = [
    (
        "deepbook_margin_loan_borrowed",
        "margin_manager::LoanBorrowedEvent",
        [
            ("loan_amount", "$.loan_amount", "double"),
            ("loan_shares", "$.loan_shares", "double"),
            ("margin_manager_id", "$.margin_manager_id", None),
            ("margin_pool_id", "$.margin_pool_id", None),
            ("event_timestamp", "$.timestamp", "bigint"),
        ],
    ),
    (
        "deepbook_margin_loan_repaid",
        "margin_manager::LoanRepaidEvent",
        [
            ("margin_manager_id", "$.margin_manager_id", None),
            ("margin_pool_id", "$.margin_pool_id", None),
            ("repay_amount", "$.repay_amount", "double"),
            ("repay_shares", "$.repay_shares", "double"),
            ("event_timestamp", "$.timestamp", "bigint"),
        ],
    ),
    (
        "deepbook_margin_deposit_collateral",
        "margin_manager::DepositCollateralEvent",
        [
            ("amount", "$.amount", "double"),
            ("asset_name", "$.asset.name", None),
            ("margin_manager_id", "$.margin_manager_id", None),
            ("pyth_decimals", "$.pyth_decimals", "bigint"),
            ("pyth_price", "$.pyth_price", "double"),
            ("event_timestamp", "$.timestamp", "bigint"),
        ],
    ),
    (
        "deepbook_margin_pool_asset_supplied",
        "margin_pool::AssetSupplied",
        [
            ("margin_pool_id", "$.margin_pool_id", None),
            ("supplier_cap_id", "$.supplier_cap_id", None),
            ("asset_type", "$.asset_type.name", None),
            ("supply_amount", "$.supply_amount", "double"),
            ("supply_shares", "$.supply_shares", "double"),
            ("event_timestamp", "$.timestamp", "bigint"),
        ],
    ),
    (
        "deepbook_margin_pool_asset_withdrawn",
        "margin_pool::AssetWithdrawn",
        [
            ("margin_pool_id", "$.margin_pool_id", None),
            ("supplier_cap_id", "$.supplier_cap_id", None),
            ("asset_type", "$.asset_type.name", None),
            ("withdraw_amount", "$.withdraw_amount", "double"),
            ("withdraw_shares", "$.withdraw_shares", "double"),
            ("event_timestamp", "$.timestamp", "bigint"),
        ],
    ),
]


def _build_event_model(ctx: ModelContext, type_suffix: str, fields) -> DataFrame:
    raw = ctx.source("sui", "events").filter(
        F.col("event_type") == f"{PACKAGE}::{type_suffix}"
    )
    raw = raw.filter(F.col("timestamp_ms") >= F.lit(slice_floor_ms(ctx)))
    return raw.select(
        F.col("transaction_digest"),
        F.col("event_index"),
        F.col("timestamp_ms"),
        F.col("sender"),
        F.col("event_type"),
        *decode_json_fields("event_json", fields),
        ctx.now().alias("updated_at"),
    )


def _register(name: str, type_suffix: str, fields) -> None:
    @model(
        name,
        unique_key=["transaction_digest", "event_index"],
        materialized="incremental",
        incremental_strategy="merge",
        tags=["deepbook"],
        not_null=["transaction_digest", "event_index", "timestamp_ms"],
        # prod optimize range-clusters on the watermark column: the
        # incremental max(timestamp_ms) probe and every time-bounded scan
        # then prune to the tail files via parquet footer stats
        cluster_by=["timestamp_ms"],
    )
    def _m(ctx: ModelContext, _suffix=type_suffix, _fields=fields) -> DataFrame:
        return _build_event_model(ctx, _suffix, _fields)

    _m.__name__ = name


for _name, _suffix, _fields in EVENT_SPECS:
    _register(_name, _suffix, _fields)
