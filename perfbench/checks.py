"""The dashboard read set and the output checks.

The dashboard is what a user of the warehouse reads after each daily run:
three SQL reads through ``TableStore.sql`` and one session rollup through
the ``operators.sessions`` operator. Every item has a DuckDB twin over the
same parquet files; ``dashboard_oracle`` runs them for the check.
"""

from __future__ import annotations

import math
import os

FACT = "fct_deepbook_margin_pool_daily"
SESSION_GAP_MS = 3_600_000

# name -> (Spark SQL over the registered warehouse views, DuckDB twin)
DASHBOARD_SQL = {
    "pool_tvl": (
        f"""SELECT snapshot_date, coin_symbol, SUM(total_supply_usd) AS supply_usd,
                   SUM(total_borrow_usd) AS borrow_usd, AVG(utilization_rate) AS util,
                   SUM(daily_borrow_volume_usd) AS borrow_volume_usd
            FROM {FACT} GROUP BY snapshot_date, coin_symbol""",
        f"""SELECT CAST(snapshot_date AS DATE), coin_symbol, SUM(total_supply_usd),
                   SUM(total_borrow_usd), AVG(utilization_rate),
                   SUM(daily_borrow_volume_usd)
            FROM {FACT} GROUP BY ALL""",
    ),
    "top_borrowers": (
        """SELECT margin_manager_id, COUNT(*) AS n, SUM(loan_amount) AS borrowed
           FROM deepbook_margin_loan_borrowed WHERE loan_amount IS NOT NULL
           GROUP BY margin_manager_id ORDER BY borrowed DESC, margin_manager_id LIMIT 25""",
        """SELECT margin_manager_id, COUNT(*), SUM(loan_amount)
           FROM deepbook_margin_loan_borrowed WHERE loan_amount IS NOT NULL
           GROUP BY ALL ORDER BY 3 DESC, 1 LIMIT 25""",
    ),
    "pool_net_flow": (
        """SELECT s.margin_pool_id, s.supplied, w.withdrawn, s.supplied - w.withdrawn AS net
           FROM (SELECT margin_pool_id, SUM(supply_amount) AS supplied
                 FROM deepbook_margin_pool_asset_supplied GROUP BY margin_pool_id) s
           JOIN (SELECT margin_pool_id, SUM(withdraw_amount) AS withdrawn
                 FROM deepbook_margin_pool_asset_withdrawn GROUP BY margin_pool_id) w
           ON s.margin_pool_id = w.margin_pool_id""",
        """SELECT s.margin_pool_id, s.supplied, w.withdrawn, s.supplied - w.withdrawn
           FROM (SELECT margin_pool_id, SUM(supply_amount) AS supplied
                 FROM deepbook_margin_pool_asset_supplied GROUP BY ALL) s
           JOIN (SELECT margin_pool_id, SUM(withdraw_amount) AS withdrawn
                 FROM deepbook_margin_pool_asset_withdrawn GROUP BY ALL) w
           USING (margin_pool_id)""",
    ),
}

# the operator item's twin: gap sessions per margin manager over repayments
SESSIONS_ORACLE = f"""
WITH e AS (
  SELECT margin_manager_id AS u, timestamp_ms AS t,
         CASE WHEN LAG(timestamp_ms) OVER (PARTITION BY margin_manager_id ORDER BY timestamp_ms)
                   IS NULL
                OR timestamp_ms - LAG(timestamp_ms) OVER (
                       PARTITION BY margin_manager_id ORDER BY timestamp_ms) > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS s
  FROM deepbook_margin_loan_repaid WHERE margin_manager_id IS NOT NULL),
k AS (SELECT u, t, SUM(s) OVER (PARTITION BY u ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM e)
SELECT u, CAST(sid AS BIGINT), MIN(t), MAX(t), COUNT(*) FROM k GROUP BY u, sid
"""

DASHBOARD = [*DASHBOARD_SQL, "manager_sessions"]


def read_item(store: TableStore, name: str) -> list[tuple]:
    """Run one dashboard item to completion and return its rows."""
    from pyspark.sql import functions as F

    from sample_deepbook_margin_dune_dbt_spark.operators.sessions import session_stats

    if name == "manager_sessions":
        repaid = store.read("deepbook_margin_loan_repaid").filter(
            F.col("margin_manager_id").isNotNull()
        )
        df = session_stats(repaid, "margin_manager_id", "timestamp_ms", SESSION_GAP_MS)
    else:
        df = store.sql(DASHBOARD_SQL[name][0])
    return [tuple(r) for r in df.collect()]


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Same multiset of rows, doubles compared with a relative tolerance."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((v is None, str(v) if not isinstance(v, float) else "") for v in r)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
            return False
    return True


def _scan(store: TableStore, name: str) -> str:
    glob_ = os.path.join(store.path(name), "**", "*.parquet")
    return f"read_parquet('{glob_}', hive_partitioning = true)"


def dashboard_oracle(store: TableStore, names: list[str]) -> dict[str, list[tuple]]:
    """DuckDB answers for the dashboard items, over the warehouse's files."""
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(store, t)}")
    out = {name: con.execute(sql[1]).fetchall() for name, sql in DASHBOARD_SQL.items()}
    out["manager_sessions"] = con.execute(SESSIONS_ORACLE).fetchall()
    con.close()
    return out


LAG_COLS = ("daily_supply_change", "daily_borrow_change", "daily_utilization_change")
KEYS = {FACT: ["margin_pool_id", "snapshot_date"],
        "stg_deepbook_margin_pool_object": ["object_id", "version"]}
EVENT_KEY = ["transaction_digest", "event_index"]


def warehouse_checks(cycled: TableStore, refreshed: TableStore, expected: dict[str, int]
                     ) -> dict[str, str]:
    """Failed checks, by label, comparing the two warehouses in DuckDB:

    - each cycled table holds exactly the generator's row count;
    - each cycled table equals the refreshed one row for row (by key), on
      every column except ``updated_at`` and the fact's lag deltas, which
      legitimately differ at an incremental slice's first day. Doubles
      compare with a relative tolerance of 1e-9.
    """
    import duckdb

    con = duckdb.connect()
    failed = {}
    for name, n in expected.items():
        got = con.execute(f"SELECT count(*) FROM {_scan(cycled, name)}").fetchone()[0]
        if got != n:
            failed[f"rows {name}"] = f"{got} rows, expected {n}"
        keys = KEYS.get(name, EVENT_KEY)
        types = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM {_scan(cycled, name)}").fetchall()}
        other = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM {_scan(refreshed, name)}").fetchall()}
        if types != other:
            failed[f"schema {name}"] = f"{types} != {other}"
            continue
        cols = [c for c in types if c not in keys and c != "updated_at" and c not in LAG_COLS]
        differs = ["l._k IS NULL", "r._k IS NULL"]
        for c in cols:
            if types[c] == "DOUBLE":
                differs.append(
                    f"NOT coalesce(abs(l.{c} - r.{c}) <= greatest(1e-6, abs(l.{c}) * 1e-9)"
                    f" OR (l.{c} IS NULL AND r.{c} IS NULL), false)")
            else:
                differs.append(f"l.{c} IS DISTINCT FROM r.{c}")
        on = " AND ".join(f"l.{k} = r.{k}" for k in keys)
        sql = (f"SELECT count(*) FROM (SELECT *, 1 AS _k FROM {_scan(cycled, name)}) l "
               f"FULL OUTER JOIN (SELECT *, 1 AS _k FROM {_scan(refreshed, name)}) r "
               f"ON {on} WHERE {' OR '.join(differs)}")
        bad = con.execute(sql).fetchone()[0]
        if bad:
            failed[f"equal {name}"] = f"{bad} rows differ from the full refresh"
    con.close()
    return failed
