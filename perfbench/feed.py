"""Seeded synthetic DeepBook feed, written one parquet file per day.

The feed has the shape of the engine's test fixtures, scaled up:

- ``sui.events``: the 5 margin event types, about as many unrelated event
  types, a few malformed payloads, and 2 events per transaction digest;
- ``sui.objects``: MarginPool<T> versions, several per pool per day, with
  uneven (Zipf) pool popularity, plus non-matching object types;
- ``prices.day``: intraday duplicate prices, missing DEEP days, a
  mixed-case symbol and a wrong-chain row.

Every day's rows come from a ``Random`` seeded with (seed, day), so a day can be
generated on its own and always reads the same. ``Feed`` also keeps the
exact row counts each model must hold for the rows landed so far, which the
benchmark checks the warehouse against.
"""

from __future__ import annotations

import json
import os
import random
from datetime import date, datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

PACKAGE = "0x97d9473771b01f77b0940c589484184b49f6444627ec121314fae6a6d36fb86b"
DAY_MS = 86_400_000
EPOCH = date(2026, 1, 1)

EVENT_TYPES = {
    "deepbook_margin_loan_borrowed": f"{PACKAGE}::margin_manager::LoanBorrowedEvent",
    "deepbook_margin_loan_repaid": f"{PACKAGE}::margin_manager::LoanRepaidEvent",
    "deepbook_margin_deposit_collateral": f"{PACKAGE}::margin_manager::DepositCollateralEvent",
    "deepbook_margin_pool_asset_supplied": f"{PACKAGE}::margin_pool::AssetSupplied",
    "deepbook_margin_pool_asset_withdrawn": f"{PACKAGE}::margin_pool::AssetWithdrawn",
}
OTHER_TYPES = [f"0xother{i}::module::Event{i}" for i in range(4)]

# (pool id, coin type); listed most popular first
POOLS = [
    ("0xpool_sui", "0x2::sui::SUI"),
    ("0xpool_usdc", "0xdba34672e30cb065b1f93e3ab55318768fd6fef66c15942c9f7cb846e2f900e7::usdc::USDC"),
    ("0xpool_deep", "0xdeeb7a4662eec9f2f3def03fb937a663dddaa2e215b8078a284d026b7946c270::deep::DEEP"),
    ("0xpool_wusdc", "0x5d4b302506645c37ff133b98c4b50a5ae14841659738d6d733d59d0d217a93bf::coin::COIN"),
    ("0xpool_sui_long", "0x0000000000000000000000000000000000000000000000000000000000000002::sui::SUI"),
    ("0xpool_myst", "0xmystery::coin::MYST"),
    ("0xpool_rare", "0xrare::coin::RARE"),
]
POOL_WEIGHTS = [1.0 / (i + 1) ** 1.2 for i in range(len(POOLS))]

SOURCES = {"sui.events": "sui_events", "prices.day": "prices_day", "sui.objects": "sui_objects"}


def day_start_ms(day: int) -> int:
    return int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp() * 1000) + day * DAY_MS


def day_date(day: int) -> date:
    return EPOCH + timedelta(days=day)


def _event_payload(kind: str, rng: random.Random, pool: str, coin: str, ts: int) -> dict:
    amount = str(float(rng.randint(10**6, 5 * 10**9)))
    shares = str(float(rng.randint(10**6, 5 * 10**9)))
    mgr = f"0xmgr{rng.randint(0, 499)}"
    if kind == "deepbook_margin_loan_borrowed":
        return {"loan_amount": amount, "loan_shares": shares, "margin_manager_id": mgr,
                "margin_pool_id": pool, "timestamp": str(ts)}
    if kind == "deepbook_margin_loan_repaid":
        return {"margin_manager_id": mgr, "margin_pool_id": pool, "repay_amount": amount,
                "repay_shares": shares, "timestamp": str(ts)}
    if kind == "deepbook_margin_deposit_collateral":
        return {"amount": amount, "asset": {"name": coin}, "margin_manager_id": mgr,
                "pyth_decimals": str(rng.choice([6, 8, 9])),
                "pyth_price": str(round(rng.uniform(0.5, 5.0), 4)), "timestamp": str(ts)}
    side = "supply" if kind.endswith("supplied") else "withdraw"
    return {"margin_pool_id": pool, "supplier_cap_id": f"0xcap{rng.randint(0, 49)}",
            "asset_type": {"name": coin}, f"{side}_amount": amount,
            f"{side}_shares": shares, "timestamp": str(ts)}


def _object_blob(rng: random.Random, pool: str, ts: int) -> str:
    supply = float(rng.randint(0, 10**13))
    borrow = round(supply * rng.uniform(0.0, 0.9), 0)
    supply_shares = 0.0 if rng.random() < 0.05 else supply * 0.98
    return json.dumps({
        "id": {"id": pool},
        "state": {"total_borrow": str(borrow), "total_supply": str(supply),
                  "borrow_shares": str(round(borrow * 0.97, 0)),
                  "supply_shares": str(supply_shares), "last_update_timestamp": str(ts)},
        "vault": str(round(supply - borrow, 0)),
        "protocol_fees": {"fees_per_share": str(round(rng.uniform(0, 0.01), 6)),
                          "maintainer_fees": str(rng.randint(0, 10**6)),
                          "protocol_fees": str(rng.randint(0, 10**6)),
                          "total_shares": str(round(supply_shares, 0)),
                          "referrals": {"size": str(rng.randint(0, 50))}},
        "positions": {"positions": {"size": str(rng.randint(0, 200)), "id": {"id": f"0xtbl{pool}"}}},
        "config": {
            "interest_config": {"base_rate": "50000000", "base_slope": "100000000",
                                "excess_slope": "2000000000", "optimal_utilization": "800000000"},
            "margin_pool_config": {"max_utilization_rate": "950000000", "min_borrow": "1000000",
                                   "protocol_spread": "100000000", "supply_cap": str(10**15),
                                   "rate_limit_enabled": rng.choice(["true", "false"]),
                                   "rate_limit_capacity": str(10**12)}},
        "rate_limiter": {"available": str(rng.randint(0, 10**12)), "capacity": str(10**12),
                         "enabled": rng.choice(["true", "false"]), "last_updated_ms": str(ts)},
        "allowed_deepbook_pools": {"contents": [f"0xdb{i}" for i in range(3)]},
    })


class Feed:
    """A growing feed directory: ``<root>/<source>/<yyyy-mm-dd>.parquet``.

    ``events_per_day`` counts every event row of a day (margin and
    unrelated); ``objects_per_day`` is the mean number of pool versions a
    day. ``floor_ms`` is the first-run backfill bound the runner applies;
    rows before it are landed but must not reach the warehouse.
    """

    def __init__(self, root: str, seed: int, events_per_day: int, objects_per_day: int,
                 floor_ms: int):
        self.root = root
        self.seed = seed
        self.events_per_day = events_per_day
        self.objects_per_day = objects_per_day
        self.floor_ms = floor_ms
        self.counts = {name: 0 for name in EVENT_TYPES}
        self.counts["stg_deepbook_margin_pool_object"] = 0
        self._pool_days: set[tuple[str, date]] = set()
        for d in SOURCES.values():
            os.makedirs(os.path.join(root, d), exist_ok=True)

    def sources(self) -> dict[str, str]:
        return {k: os.path.join(self.root, d) for k, d in SOURCES.items()}

    def expected_counts(self) -> dict[str, int]:
        out = dict(self.counts)
        out["fct_deepbook_margin_pool_daily"] = len(self._pool_days)
        return out

    def land(self, day: int) -> int:
        """Write one day of every source; returns the bytes written."""
        rng = random.Random(self.seed * 1_000_003 + day)
        t0 = day_start_ms(day)
        tables = {
            "sui_events": self._events(rng, day, t0),
            "sui_objects": self._objects(rng, day, t0),
            "prices_day": self._prices(rng, day),
        }
        total = 0
        for d, table in tables.items():
            path = os.path.join(self.root, d, f"{day_date(day).isoformat()}.parquet")
            pq.write_table(table, path)
            total += os.path.getsize(path)
        return total

    def _events(self, rng: random.Random, day: int, t0: int) -> pa.Table:
        kinds = list(EVENT_TYPES)
        cols = {k: [] for k in ("transaction_digest", "event_index", "timestamp_ms",
                                "sender", "event_type", "event_json")}
        in_window = t0 >= self.floor_ms
        for i in range(self.events_per_day):
            ts = t0 + rng.randrange(DAY_MS)
            r = rng.random()
            if r < 0.5:
                kind = rng.choice(kinds)
                pool, coin = rng.choices(POOLS, POOL_WEIGHTS)[0]
                if r < 0.002:  # malformed payload: try_cast must yield NULL
                    kind = "deepbook_margin_loan_borrowed"
                    payload = {"loan_amount": "not-a-number", "margin_pool_id": pool}
                else:
                    payload = _event_payload(kind, rng, pool, coin, ts)
                etype = EVENT_TYPES[kind]
                if in_window:
                    self.counts[kind] += 1
            else:
                etype = rng.choice(OTHER_TYPES)
                payload = {"x": rng.randint(0, 9)}
            cols["transaction_digest"].append(f"0xd{day}_{i // 2}")
            cols["event_index"].append(i % 2)
            cols["timestamp_ms"].append(ts)
            cols["sender"].append(f"0xsender{rng.randint(0, 999)}")
            cols["event_type"].append(etype)
            cols["event_json"].append(json.dumps(payload))
        return pa.table({
            "transaction_digest": pa.array(cols["transaction_digest"], pa.string()),
            "event_index": pa.array(cols["event_index"], pa.int64()),
            "timestamp_ms": pa.array(cols["timestamp_ms"], pa.int64()),
            "sender": pa.array(cols["sender"], pa.string()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "event_json": pa.array(cols["event_json"], pa.string()),
        })

    def _objects(self, rng: random.Random, day: int, t0: int) -> pa.Table:
        cols = {k: [] for k in ("object_id", "version", "type_", "object_status",
                                "object_json", "timestamp_ms")}
        scale = self.objects_per_day / sum(POOL_WEIGHTS)
        in_window = t0 >= self.floor_ms
        version = day * 1_000_000
        for (pool, coin), w in zip(POOLS, POOL_WEIGHTS):
            n = max(1, round(rng.uniform(0.5, 1.5) * w * scale))
            for _ in range(n):
                version += 1
                ts = t0 + rng.randrange(DAY_MS)
                cols["object_id"].append(pool)
                cols["version"].append(version)
                cols["type_"].append(f"{PACKAGE}::margin_pool::MarginPool<{coin}>")
                cols["object_status"].append("Exists")
                cols["object_json"].append(_object_blob(rng, pool, ts))
                cols["timestamp_ms"].append(ts)
            if in_window:
                self.counts["stg_deepbook_margin_pool_object"] += n
                self._pool_days.add((pool, day_date(day)))
        for i in range(3):  # non-matching types, filtered by the LIKE
            version += 1
            cols["object_id"].append(f"0xnoise{i}")
            cols["version"].append(version)
            cols["type_"].append("0xother::module::Whatever<T>")
            cols["object_status"].append("Exists")
            cols["object_json"].append(json.dumps({"id": {"id": f"0xnoise{i}"}}))
            cols["timestamp_ms"].append(t0 + rng.randrange(DAY_MS))
        return pa.table({
            "object_id": pa.array(cols["object_id"], pa.string()),
            "version": pa.array(cols["version"], pa.int64()),
            "type_": pa.array(cols["type_"], pa.string()),
            "object_status": pa.array(cols["object_status"], pa.string()),
            "object_json": pa.array(cols["object_json"], pa.string()),
            "timestamp_ms": pa.array(cols["timestamp_ms"], pa.int64()),
        })

    def _prices(self, rng: random.Random, day: int) -> pa.Table:
        start = datetime.combine(day_date(day), datetime.min.time())
        rows = []
        for sym, base in (("SUI", 3.5), ("USDC", 1.0002), ("DEEP", 0.15), ("Sui", 3.4)):
            if sym == "DEEP" and day % 5 == 0:
                continue  # missing price day
            for hour in (0, 12, 23):  # intraday duplicates
                rows.append((start + timedelta(hours=hour), sym,
                             round(base * rng.uniform(0.95, 1.05), 6), "sui"))
        rows.append((start, "SUI", 99.9, "ethereum"))  # wrong chain
        ts, sym, price, chain = zip(*rows)
        return pa.table({
            "timestamp": pa.array(ts, pa.timestamp("us")),
            "symbol": pa.array(sym, pa.string()),
            "price": pa.array(price, pa.float64()),
            "blockchain": pa.array(chain, pa.string()),
        })
