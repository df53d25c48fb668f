"""Unit tests for the reference-parity DAG (dbt ``unit_tests:`` analog):
the event-decode builder verified against literal mocked ``sui.events``
rows — type filter, JSON extraction, try_cast null-on-garbage, the
30-day backfill bound on first runs, and the watermark bound on
incremental runs (via the ``this`` mock); and the daily fact's volume
measures against literal event, pool-state and price rows."""

from __future__ import annotations

import datetime as dt
import json

from ..engine import unit_test
from .common import PACKAGE

_EV_SCHEMA = (
    "transaction_digest string, event_index bigint, timestamp_ms bigint, "
    "sender string, event_type string, event_json string"
)

_BORROW = f"{PACKAGE}::margin_manager::LoanBorrowedEvent"
_NOW = dt.datetime(2026, 2, 1)
_NOW_MS = int(_NOW.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
_DAY = 86_400_000


def _ev(digest, idx, ts_ms, etype, payload):
    return (digest, idx, ts_ms, "0xsender", etype, json.dumps(payload))


# first run: type filter + 30-day backfill bound + JSON decode; the
# malformed amount try_casts to NULL instead of failing the build
unit_test(
    "loan_borrowed_first_run_decode",
    model="deepbook_margin_loan_borrowed",
    given={
        "source:sui.events": (
            _EV_SCHEMA,
            [
                _ev("0xd1", 0, _NOW_MS - _DAY,
                    _BORROW, {"loan_amount": 5.5, "loan_shares": 2.0,
                              "margin_manager_id": "0xmm", "margin_pool_id": "0xmp",
                              "timestamp": 1700000000}),
                # wrong event type: filtered out
                _ev("0xd2", 0, _NOW_MS - _DAY,
                    f"{PACKAGE}::margin_manager::LoanRepaidEvent",
                    {"repay_amount": 1.0}),
                # older than the 30-day backfill bound: filtered out
                _ev("0xd3", 0, _NOW_MS - 31 * _DAY, _BORROW, {"loan_amount": 1.0}),
                # malformed amount: row kept, amount NULL (try_cast)
                _ev("0xd4", 1, _NOW_MS - 2 * _DAY,
                    _BORROW, {"loan_amount": "not-a-number",
                              "margin_pool_id": "0xmp2"}),
            ],
        ),
    },
    expect=(
        "transaction_digest string, event_index bigint, "
        "loan_amount double, margin_pool_id string",
        [
            ("0xd1", 0, 5.5, "0xmp"),
            ("0xd4", 1, None, "0xmp2"),
        ],
    ),
    fixed_now=_NOW,
    tags=["deepbook"],
)

# incremental run: rows below max(timestamp_ms) of `this` are skipped
# (the P4 watermark), even inside the 30-day window
unit_test(
    "loan_borrowed_incremental_watermark",
    model="deepbook_margin_loan_borrowed",
    given={
        "source:sui.events": (
            _EV_SCHEMA,
            [
                _ev("0xold", 0, _NOW_MS - 5 * _DAY, _BORROW, {"loan_amount": 1.0}),
                _ev("0xnew", 0, _NOW_MS - 1 * _DAY, _BORROW, {"loan_amount": 9.0}),
            ],
        ),
        "this": ("timestamp_ms bigint", [(_NOW_MS - 2 * _DAY,)]),
    },
    expect=(
        "transaction_digest string, loan_amount double",
        [("0xnew", 9.0)],
    ),
    incremental=True,
    fixed_now=_NOW,
    tags=["deepbook"],
)

# daily fact volumes (A1/J1/J2/P10): each pool-day sums its own events per
# kind, NULL amounts are skipped, a missing kind is 0.0, an event day with
# no pool-state row makes no fact row, and stablecoins price at 1.0
_D1, _D2, _D3 = dt.date(2026, 1, 20), dt.date(2026, 1, 21), dt.date(2026, 1, 22)


def _utc(day, hour=12):
    return dt.datetime(day.year, day.month, day.day, hour, tzinfo=dt.timezone.utc)


def _ms(day, hour=12):
    return int(_utc(day, hour).timestamp() * 1000)


def _vol_ref(amount_col, rows):
    return (f"timestamp_ms bigint, margin_pool_id string, {amount_col} double", rows)


def _pool(day, pool, symbol, decimals):
    return (day, pool, "0x2::coin::X", symbol, decimals, 1.0, 2.0, 0.5, 1.0, 3, _ms(day), 1)


unit_test(
    "pool_daily_volume_semantics",
    model="fct_deepbook_margin_pool_daily",
    given={
        "ref:deepbook_margin_pool_asset_supplied": _vol_ref("supply_amount", [
            (_ms(_D2, 1), "0xsui", 1e9), (_ms(_D2, 2), "0xsui", 3e9),  # summed
            (_ms(_D3), "0xsui", 7e9),  # no pool-state row on _D3: dropped
        ]),
        "ref:deepbook_margin_pool_asset_withdrawn": _vol_ref("withdraw_amount", [
            (_ms(_D2), "0xusdc", 5e6),
        ]),
        "ref:deepbook_margin_loan_borrowed": _vol_ref("loan_amount", [
            (_ms(_D2), "0xsui", 1e9), (_ms(_D2), "0xsui", None),  # NULL skipped
        ]),
        "ref:deepbook_margin_loan_repaid": _vol_ref("repay_amount", [
            (_ms(_D1), "0xsui", 2e9),  # the pool-day's only event
        ]),
        "ref:stg_deepbook_margin_pool_object": (
            "snapshot_date date, margin_pool_id string, asset_type string, "
            "coin_symbol string, coin_decimals int, total_borrow_normalized double, "
            "total_supply_normalized double, utilization_rate double, "
            "available_liquidity_normalized double, active_positions_count bigint, "
            "timestamp_ms bigint, version bigint",
            [
                _pool(_D1, "0xsui", "SUI", 9), _pool(_D2, "0xsui", "SUI", 9),
                _pool(_D1, "0xusdc", "USDC", 6),  # no events: all zeros
                _pool(_D2, "0xusdc", "USDC", 6),
            ],
        ),
        "source:prices.day": (
            "blockchain string, symbol string, price double, timestamp timestamp",
            [
                ("sui", "SUI", 9.0, _utc(_D1, 6)), ("sui", "SUI", 2.0, _utc(_D1)),  # latest wins
                ("sui", "SUI", 4.0, _utc(_D2)),
                ("sui", "USDC", 0.99, _utc(_D1)), ("sui", "USDC", 0.99, _utc(_D2)),  # overridden
            ],
        ),
    },
    expect=(
        "snapshot_date date, margin_pool_id string, price_usd double, "
        "daily_supply_volume double, daily_withdraw_volume double, "
        "daily_borrow_volume double, daily_repay_volume double, "
        "daily_supply_volume_usd double, daily_withdraw_volume_usd double, "
        "daily_borrow_volume_usd double, daily_repay_volume_usd double",
        [
            (_D1, "0xsui", 2.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0, 0.0, 4.0),
            (_D2, "0xsui", 4.0, 4.0, 0.0, 1.0, 0.0, 16.0, 0.0, 4.0, 0.0),
            (_D1, "0xusdc", 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
            (_D2, "0xusdc", 1.0, 0.0, 5.0, 0.0, 0.0, 0.0, 5.0, 0.0, 0.0),
        ],
    ),
    fixed_now=_NOW,
    tags=["deepbook"],
)
