"""Reference-parity operator queries (SURVEY §2) over the driver testdata.

Each query exercises one (or a few related) operator semantics from the
reference inventory, re-pointed at the generic tables: the ``events`` table
plays the role of ``sui.events`` (typed event stream with a JSON payload
column), orders/lineitem/part/etc. exercise joins, aggregates and filters.

Float discipline: every floating aggregate is wrapped in ``round(x, n)`` on
BOTH engines so summation-order noise (≈1e-9 relative) can't flip the
driver's value hash. Count/size outputs are cast to bigint on both sides
(DuckDB's count/sum would otherwise surface as HUGEINT/INT32 variants).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import dec2, dsum2, event_ts, event_ts_us, load

DAY_US = 86_400_000_000

# ---------------------------------------------------------------- S1/P1: scan


def q_s1_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source scan + projection/aliasing (S1, P1) incl. ns→µs time handling."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        event_ts().alias("event_time"),
        "user_id",
        "event_type",
        "value",
    )


SQL_S1 = """
SELECT event_id, ts AS event_time, user_id, event_type, value FROM events
"""

# ------------------------------------------------------------- P2: eq filter


def q_p2_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant equality predicate (P2) — the event-type filter pattern."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )


SQL_P2 = """
SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
"""

# ------------------------------------------------------------ P3: like prefix


def q_p3_like_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE prefix predicate (P3) + regexp capture-group extraction (F12)."""
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select(
            "p_partkey",
            "p_name",
            F.regexp_extract(F.col("p_brand"), "Brand#(\\d+)", 1)
            .try_cast("bigint")
            .alias("brand_num"),
        )
    )


SQL_P3 = """
SELECT p_partkey, p_name,
       TRY_CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS brand_num
FROM part WHERE p_name LIKE 'red%'
"""

# ------------------------------------- P4/A2: watermark via scalar aggregate


def q_p4_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental watermark: range predicate from a scalar MAX (P4/A2).

    Engine-style: the scalar aggregate is computed first (one tiny job),
    then parameterizes the scan filter — exactly how the incremental models
    discover their watermark, and how it must work at 100 TB (the filter
    reaches the parquet scan as a pushed-down constant).
    """
    ev = load(spark, sf_dir, "events")
    wm_us = ev.agg(F.max(event_ts_us())).first()[0]
    floor = wm_us - 7 * DAY_US
    # re-load with the raw-encoding scan bound: the same floor reaches the
    # parquet scan below the normalization cast, so row-group stats prune;
    # the normalized filter stays on top as the exact predicate
    ev = load(spark, sf_dir, "events", ts_min_us=floor)
    return (
        ev.filter(event_ts_us() >= F.lit(floor))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum2(F.col("value")), 2).alias("sum_value"),
        )
    )


SQL_P4 = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
GROUP BY event_type
"""

# --------------------------------------------------------------- P7: in-list


def q_p7_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list predicate (P7) + grouped agg."""
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(dsum2(F.col("c_acctbal")), 2).alias("total_acctbal"),
        )
    )


SQL_P7 = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_acctbal
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
GROUP BY c_mktsegment
"""

# -------------------------------------------- P8/W1: row_number dedup filter


def q_w1_rownum_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per (user, day): row_number dedup with 2-level tiebreak
    (P8/W1) — the 'latest object version per pool-day' pattern."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        event_ts_us().alias("ts_us"),
        F.to_date(event_ts()).alias("event_date"),
    )
    w = Window.partitionBy("user_id", "event_date").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_date", "event_id", "event_type", "value")
    )


SQL_W1 = """
SELECT user_id, event_date, event_id, event_type, value FROM (
    SELECT user_id, CAST(ts AS DATE) AS event_date, event_id, event_type, value,
           row_number() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
) WHERE rn = 1
"""

# ------------------------------------------------------------- P10/P12: case


def q_p10_case_trycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searched CASE (P10), JSON extraction (F1) and try_cast (P12/F4).

    ``props`` plays ``event_json``; the malformed-cast arm exercises
    NULL-on-failure semantics.
    """
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return ev.select(
        "event_id",
        k.try_cast("bigint").alias("k_num"),
        F.col("event_type").try_cast("bigint").alias("bad_cast"),
        F.when(F.upper(F.col("event_type")) == "PURCHASE", F.lit("buy"))
        .when(F.col("event_type").isin("view", "click"), F.lit("browse"))
        .otherwise(F.lit("other"))
        .alias("event_class"),
    )


SQL_P10 = """
SELECT event_id,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
       TRY_CAST(event_type AS BIGINT) AS bad_cast,
       CASE WHEN upper(event_type) = 'PURCHASE' THEN 'buy'
            WHEN event_type IN ('view', 'click') THEN 'browse'
            ELSE 'other' END AS event_class
FROM events
"""

# ------------------------------------------------- J1/A1: FOJ volume chain


def q_j1_foj_volume_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 per-(day,user) grouped sums FULL OUTER joined with key coalescing
    and zero-filled measures (J1 + A1 + F14) — the daily_volume_agg pattern."""
    ev = load(spark, sf_dir, "events").select(
        F.to_date(event_ts()).alias("event_date"), "user_id", "event_type", "value"
    )

    def vol(etype: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("event_date", "user_id")
            .agg(F.sum(dec2(F.col("value"))).alias(alias))
        )

    parts = [
        vol("view", "view_volume"),
        vol("click", "click_volume"),
        vol("purchase", "purchase_volume"),
        vol("error", "error_volume"),
    ]
    joined = functools.reduce(
        lambda l, r: l.join(r, on=["event_date", "user_id"], how="full_outer"), parts
    )
    return joined.select(
        "event_date",
        "user_id",
        F.round(F.coalesce(F.col("view_volume").cast("double"), F.lit(0.0)), 2).alias("view_volume"),
        F.round(F.coalesce(F.col("click_volume").cast("double"), F.lit(0.0)), 2).alias("click_volume"),
        F.round(F.coalesce(F.col("purchase_volume").cast("double"), F.lit(0.0)), 2).alias("purchase_volume"),
        F.round(F.coalesce(F.col("error_volume").cast("double"), F.lit(0.0)), 2).alias("error_volume"),
    )


SQL_J1 = """
WITH v AS (SELECT CAST(ts AS DATE) AS event_date, user_id, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS view_volume
           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
     c AS (SELECT CAST(ts AS DATE) AS event_date, user_id, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS click_volume
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
     p AS (SELECT CAST(ts AS DATE) AS event_date, user_id, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS purchase_volume
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
     e AS (SELECT CAST(ts AS DATE) AS event_date, user_id, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS error_volume
           FROM events WHERE event_type = 'error' GROUP BY 1, 2)
SELECT coalesce(v.event_date, c.event_date, p.event_date, e.event_date) AS event_date,
       coalesce(v.user_id, c.user_id, p.user_id, e.user_id) AS user_id,
       round(coalesce(v.view_volume, 0), 2) AS view_volume,
       round(coalesce(c.click_volume, 0), 2) AS click_volume,
       round(coalesce(p.purchase_volume, 0), 2) AS purchase_volume,
       round(coalesce(e.error_volume, 0), 2) AS error_volume
FROM v
FULL OUTER JOIN c ON v.event_date = c.event_date AND v.user_id = c.user_id
FULL OUTER JOIN p ON coalesce(v.event_date, c.event_date) = p.event_date
                 AND coalesce(v.user_id, c.user_id) = p.user_id
FULL OUTER JOIN e ON coalesce(v.event_date, c.event_date, p.event_date) = e.event_date
                 AND coalesce(v.user_id, c.user_id, p.user_id) = e.user_id
"""

# ------------------------------------------------------------- J2: left join


def q_j2_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join fact→agg with NULL→0 fill (J2) — orders without items keep 0."""
    orders = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("item_count"),
            F.sum(
                dec2(F.col("l_extendedprice"))
                * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
            ).alias("rev"),
        )
    )
    return orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"], "left"
    ).select(
        "o_orderkey",
        F.col("o_totalprice"),
        F.coalesce("item_count", F.lit(0)).cast("long").alias("item_count"),
        # no round(…, 2): the sum is exact at scale 4 and scale-4 values can
        # sit exactly on the 2-decimal midpoint, where Spark (HALF_UP) and
        # DuckDB disagree; the unrounded decimal→double cast is identical
        F.coalesce(F.col("rev").cast("double"), F.lit(0.0)).alias("revenue"),
    )


SQL_J2 = """
SELECT o_orderkey,
       o_totalprice,
       CAST(coalesce(li.item_count, 0) AS BIGINT) AS item_count,
       CAST(coalesce(li.rev, 0) AS DOUBLE) AS revenue
FROM orders
LEFT JOIN (
    SELECT l_orderkey, count(*) AS item_count,
           sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS rev
    FROM lineitem GROUP BY l_orderkey
) li ON orders.o_orderkey = li.l_orderkey
"""

# --------------------------------- J3/J4/S5/O4: seed dim + case-insensitive


SEED_ROWS = [
    ("africa", "AF"),
    ("america", "AM"),
    ("asia", "AS"),
    ("europe", "EU"),
]


def q_j4_seed_ci_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline literal seed dimension (S5/O4) broadcast-joined to a table on a
    case-insensitive key (J3/J4/F13), with coalesced default (F14)."""
    seed = spark.createDataFrame(SEED_ROWS, "region_name string, region_code string")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    n = nation.join(region, nation["n_regionkey"] == region["r_regionkey"], "inner")
    return (
        n.join(
            F.broadcast(seed),
            F.upper(n["r_name"]) == F.upper(seed["region_name"]),
            "left",
        )
        .groupBy(
            F.col("r_name").alias("region_name_out"),
            F.coalesce("region_code", F.lit("??")).alias("region_code"),
        )
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


SQL_J4 = """
WITH seed(region_name, region_code) AS (
    VALUES ('africa', 'AF'), ('america', 'AM'), ('asia', 'AS'), ('europe', 'EU')
)
SELECT r_name AS region_name_out,
       coalesce(seed.region_code, '??') AS region_code,
       CAST(count(*) AS BIGINT) AS n_nations
FROM nation
JOIN region ON nation.n_regionkey = region.r_regionkey
LEFT JOIN seed ON upper(region.r_name) = upper(seed.region_name)
GROUP BY 1, 2
"""

# ------------------------------------------------- W2: latest-per-group dedup


def q_w2_latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest value per (day, type) — the daily_prices dedup (W2)."""
    ev = load(spark, sf_dir, "events").select(
        F.to_date(event_ts()).alias("event_date"),
        "event_type",
        "value",
        event_ts_us().alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("event_date", "event_type").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_date", "event_type", F.col("value").alias("last_value"))
    )


SQL_W2 = """
SELECT event_date, event_type, value AS last_value FROM (
    SELECT CAST(ts AS DATE) AS event_date, event_type, value,
           row_number() OVER (
               PARTITION BY CAST(ts AS DATE), event_type
               ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
) WHERE rn = 1
"""

# ------------------------------------------------------ W3: lag daily deltas


def q_w3_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day deltas via lag() (W3) + the ``lag_widen_days``
    resolution of the SURVEY §2.5 W3 caveat, oracle-checked (VERDICT r2
    #8): ``dod_change`` is the full-refresh truth; ``inc_dod_change``
    recomputes the same lag over ONLY a 7-day incremental slice widened
    one day below its floor (the engine knob's widen-then-trim mechanics,
    ``Runner(lag_widen_days=…)`` / ``ModelContext.lag_input_floor_date``
    and ``trim_to_floor``, declared as a query); ``deltas_agree`` exposes incremental ≡
    full-refresh per row, so the hash match certifies the mechanism, not
    just the window function."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date(event_ts()).alias("event_date"), F.col("event_type"))
        .agg(F.round(dsum2(F.col("value")), 2).alias("volume"))
    )
    w = Window.partitionBy("event_type").orderBy("event_date")
    full = daily.select(
        "event_type",
        "event_date",
        "volume",
        F.round(F.col("volume") - F.lag("volume").over(w), 2).alias("dod_change"),
    )
    mx = daily.agg(F.max("event_date").alias("_mx"))
    inc = (
        daily.crossJoin(F.broadcast(mx))
        .filter(F.col("event_date") >= F.date_sub("_mx", 8))  # floor − 1 widen day
        .select(
            "event_type",
            "event_date",
            "_mx",
            F.round(F.col("volume") - F.lag("volume").over(w), 2).alias("inc_dod_change"),
        )
    )
    return (
        full.join(inc, ["event_type", "event_date"])
        .filter(F.col("event_date") >= F.date_sub("_mx", 7))  # trim to floor
        .select(
            "event_type",
            "event_date",
            "volume",
            "dod_change",
            "inc_dod_change",
            F.col("inc_dod_change").eqNullSafe(F.col("dod_change")).alias("deltas_agree"),
        )
    )


SQL_W3 = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS volume
    FROM events GROUP BY 1, 2
),
mx AS (SELECT max(event_date) AS mx FROM daily),
full_d AS (
    SELECT event_type, event_date, volume,
           round(volume - lag(volume) OVER (PARTITION BY event_type ORDER BY event_date), 2)
               AS dod_change
    FROM daily
),
inc AS (
    SELECT event_type, event_date,
           round(volume - lag(volume) OVER (PARTITION BY event_type ORDER BY event_date), 2)
               AS inc_dod_change
    FROM daily, mx WHERE event_date >= mx - 8
)
SELECT f.event_type, f.event_date, f.volume, f.dod_change, i.inc_dod_change,
       (i.inc_dod_change IS NOT DISTINCT FROM f.dod_change) AS deltas_agree
FROM full_d f
JOIN inc i USING (event_type, event_date), mx
WHERE f.event_date >= mx - 7
"""

# ----------------------------------------------------- A2: ungrouped scalars


def q_a2_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped scalar aggregates (A2) incl. time min/max."""
    return load(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.min(event_ts()).alias("first_ts"),
        F.max(event_ts()).alias("last_ts"),
        F.round(dsum2(F.col("value")), 2).alias("total_value"),
    )


SQL_A2 = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       min(ts) AS first_ts,
       max(ts) AS last_ts,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_value
FROM events
"""

# -------------------------------------------------------- A5: rollup (extended)


def q_a5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (A5 — beyond-reference, built-in in Spark)."""
    return (
        load(spark, sf_dir, "events")
        .rollup(F.to_date(event_ts()).alias("event_date"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum2(F.col("value")), 2).alias("sum_value"),
        )
    )


SQL_A5 = """
SELECT CAST(ts AS DATE) AS event_date, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY ROLLUP (1, 2)
"""

# ---------------------------------------------------------- F6-F11: time fns


def q_f_time_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time function surface: epoch↔timestamp, date trunc, date arithmetic,
    interval (F6/F7/F8/F10/F11)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date(event_ts()).alias("event_date"),
        F.unix_millis(event_ts()).alias("epoch_ms"),
        F.date_sub(F.to_date(event_ts()), 7).alias("week_before"),
        F.hour(event_ts()).cast("long").alias("event_hour"),
    )


SQL_F_TIME = """
SELECT event_id,
       CAST(ts AS DATE) AS event_date,
       epoch_ms(ts) AS epoch_ms,
       CAST(CAST(ts AS DATE) - INTERVAL 7 DAY AS DATE) AS week_before,
       CAST(hour(ts) AS BIGINT) AS event_hour
FROM events
"""

# ------------------------------------------------------------- O4: union all


def q_o4_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of heterogeneous aggregates (O4)."""
    orders = load(spark, sf_dir, "orders").agg(
        F.lit("orders").alias("src"), F.count(F.lit(1)).alias("n")
    )
    li = load(spark, sf_dir, "lineitem").agg(
        F.lit("lineitem").alias("src"), F.count(F.lit(1)).alias("n")
    )
    ev = load(spark, sf_dir, "events").agg(
        F.lit("events").alias("src"), F.count(F.lit(1)).alias("n")
    )
    return orders.unionAll(li).unionAll(ev)


SQL_O4 = """
SELECT 'orders' AS src, CAST(count(*) AS BIGINT) AS n FROM orders
UNION ALL
SELECT 'lineitem' AS src, CAST(count(*) AS BIGINT) AS n FROM lineitem
UNION ALL
SELECT 'events' AS src, CAST(count(*) AS BIGINT) AS n FROM events
"""

# -------------------------------------------- flagship: daily user fact


def q_flagship_daily_user_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's fct-daily shape on generic tables: FOJ volume chain +
    latest-state dedup + left joins + lag deltas + presentation sort.

    Composite of J1+W1+J2+W3+O1 — the engine's flagship query (also used by
    ``entry()``).
    """
    ev = load(spark, sf_dir, "events").select(
        F.to_date(event_ts()).alias("event_date"),
        "user_id",
        "event_type",
        "value",
        event_ts_us().alias("ts_us"),
        "event_id",
    )

    def vol(etype: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("event_date", "user_id")
            .agg(F.sum(dec2(F.col("value"))).alias(alias))
        )

    volumes = functools.reduce(
        lambda l, r: l.join(r, on=["event_date", "user_id"], how="full_outer"),
        [
            vol("view", "view_volume"),
            vol("click", "click_volume"),
            vol("purchase", "purchase_volume"),
            vol("error", "error_volume"),
        ],
    )
    # "state": the day's last signup value per user plays the object snapshot
    w = Window.partitionBy("user_id", "event_date").orderBy(F.desc("ts_us"), F.desc("event_id"))
    state = (
        ev.filter(F.col("event_type") == "signup")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_date", "user_id", F.col("value").alias("state_value"))
    )
    lag_w = Window.partitionBy("user_id").orderBy("event_date")
    return (
        state.join(volumes, on=["event_date", "user_id"], how="left")
        .select(
            "event_date",
            "user_id",
            F.round("state_value", 2).alias("state_value"),
            F.round(F.coalesce("view_volume", F.lit(0.0)), 2).alias("view_volume"),
            F.round(F.coalesce("click_volume", F.lit(0.0)), 2).alias("click_volume"),
            F.round(F.coalesce("purchase_volume", F.lit(0.0)), 2).alias("purchase_volume"),
            F.round(F.coalesce("error_volume", F.lit(0.0)), 2).alias("error_volume"),
            F.round(
                F.col("state_value") - F.lag("state_value").over(lag_w), 2
            ).alias("state_change"),
        )
        .orderBy(F.desc("event_date"), F.desc_nulls_last("state_value"))
    )


SQL_FLAGSHIP = """
WITH ev AS (
    SELECT CAST(ts AS DATE) AS event_date, user_id, event_type, value, ts, event_id
    FROM events
),
v AS (SELECT event_date, user_id, sum(value) AS view_volume FROM ev WHERE event_type='view' GROUP BY 1,2),
c AS (SELECT event_date, user_id, sum(value) AS click_volume FROM ev WHERE event_type='click' GROUP BY 1,2),
p AS (SELECT event_date, user_id, sum(value) AS purchase_volume FROM ev WHERE event_type='purchase' GROUP BY 1,2),
e AS (SELECT event_date, user_id, sum(value) AS error_volume FROM ev WHERE event_type='error' GROUP BY 1,2),
volumes AS (
    SELECT coalesce(v.event_date, c.event_date, p.event_date, e.event_date) AS event_date,
           coalesce(v.user_id, c.user_id, p.user_id, e.user_id) AS user_id,
           v.view_volume, c.click_volume, p.purchase_volume, e.error_volume
    FROM v
    FULL OUTER JOIN c ON v.event_date = c.event_date AND v.user_id = c.user_id
    FULL OUTER JOIN p ON coalesce(v.event_date, c.event_date) = p.event_date
                     AND coalesce(v.user_id, c.user_id) = p.user_id
    FULL OUTER JOIN e ON coalesce(v.event_date, c.event_date, p.event_date) = e.event_date
                     AND coalesce(v.user_id, c.user_id, p.user_id) = e.user_id
),
state AS (
    SELECT event_date, user_id, value AS state_value FROM (
        SELECT event_date, user_id, value,
               row_number() OVER (PARTITION BY user_id, event_date ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE event_type = 'signup'
    ) WHERE rn = 1
)
SELECT s.event_date, s.user_id,
       round(CAST(s.state_value AS DOUBLE), 2) AS state_value,
       round(CAST(coalesce(vol.view_volume, 0) AS DOUBLE), 2) AS view_volume,
       round(CAST(coalesce(vol.click_volume, 0) AS DOUBLE), 2) AS click_volume,
       round(CAST(coalesce(vol.purchase_volume, 0) AS DOUBLE), 2) AS purchase_volume,
       round(CAST(coalesce(vol.error_volume, 0) AS DOUBLE), 2) AS error_volume,
       round(s.state_value - lag(s.state_value) OVER (PARTITION BY s.user_id ORDER BY s.event_date), 2)
           AS state_change
FROM state s
LEFT JOIN volumes vol ON vol.event_date = s.event_date AND vol.user_id = s.user_id
"""




# ------------------------------------------------- O3: deterministic top-N


def q_o3_topn_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT (O3) with a unique tiebreak key so the top-N set is
    deterministic and hash-comparable across engines."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


SQL_O3 = """
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""

# ---------------------------------------------- O5: INTERSECT / EXCEPT


def q_o5_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT (O5 — beyond-reference, built-in): customers with
    purchases but no errors (EXCEPT), unioned with users present in both
    (INTERSECT), labeled."""
    ev = load(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    only_buy = buyers.exceptAll(erring).select(
        F.col("user_id"), F.lit("buy_only").alias("segment")
    )
    both = buyers.intersect(erring).select(
        F.col("user_id"), F.lit("buy_and_error").alias("segment")
    )
    return only_buy.unionAll(both)


SQL_O5 = """
SELECT user_id, 'buy_only' AS segment FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
)
UNION ALL
SELECT user_id, 'buy_and_error' AS segment FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
)
"""

# ----------------------------------- P11/F15: CASE join key + power norm


def q_p11_case_join_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-normalized join key (P11) rewritten Spark-idiomatically as a
    precomputed key + equi-join (the stg model's SUI short-form pattern),
    plus power(10, n) decimal normalization (F15)."""
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    # pretend nationkey 0 has a legacy alias -1 in a dimension
    dim = spark.createDataFrame(
        [(-1, "LEGACY_ZERO", 2), (1, "NATION_1", 3), (2, "NATION_2", 4)],
        "dim_key int, dim_name string, scale_digits int",
    )
    norm_key = F.when(F.col("dim_key") == -1, F.lit(0)).otherwise(F.col("dim_key"))
    dim_n = dim.withColumn("norm_key", norm_key)
    j = cust.join(
        F.broadcast(dim_n), cust["c_nationkey"] == dim_n["norm_key"], "inner"
    )
    return j.select(
        "c_custkey",
        "dim_name",
        (F.col("c_acctbal") / F.pow(F.lit(10.0), F.col("scale_digits"))).alias(
            "acctbal_scaled"
        ),
    )


SQL_P11 = """
WITH dim(dim_key, dim_name, scale_digits) AS (
    VALUES (-1, 'LEGACY_ZERO', 2), (1, 'NATION_1', 3), (2, 'NATION_2', 4)
)
SELECT c_custkey, dim_name,
       c_acctbal / power(10, scale_digits) AS acctbal_scaled
FROM customer
JOIN dim ON c_nationkey = (CASE WHEN dim_key = -1 THEN 0 ELSE dim_key END)
"""




# -------------------------------------------------- sessions: gap windows


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session stats — the
    session-window operator as batch window algebra (both window passes
    share one shuffle on user_id)."""
    from ..operators.sessions import session_stats

    ev = load(spark, sf_dir, "events").select(
        "user_id", event_ts_us().alias("ts_us"), "value"
    )
    out = session_stats(ev, "user_id", "ts_us", gap=30 * 60 * 1_000_000, value_col="value")
    return out.select(
        "user_id",
        "session_id",
        F.expr("timestamp_micros(session_start)").alias("session_start"),
        F.expr("timestamp_micros(session_end)").alias("session_end"),
        F.col("n_events"),
        F.col("session_value"),
    )


SQL_SESSIONIZE = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
),
marked AS (
    SELECT user_id, ts_us, value,
           CASE WHEN lag(ts_us) OVER w IS NULL
                  OR ts_us - lag(ts_us) OVER w > 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS is_start
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sess AS (
    SELECT user_id, ts_us, value,
           CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM marked
)
SELECT user_id, session_id,
       make_timestamp(min(ts_us)) AS session_start,
       make_timestamp(max(ts_us)) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
FROM sess
GROUP BY user_id, session_id
"""

# ------------------------------------------ tumbling event-time windows


def q_w_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour event-time window aggregation via the built-in
    ``F.window`` — the batch form of the streaming windowed-agg operator
    (same grouping expression both modes). Oracle: DuckDB ``time_bucket``."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(event_ts(), "6 hours").start.alias("bucket_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(dsum2(F.col("value")), 2).alias("volume"),
        )
    )


SQL_W_TUMBLING = """
SELECT time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS volume
FROM events
GROUP BY 1, 2
"""


def q_w_hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) 6-hour windows every 3 hours: each event counts
    in width/hop = 2 overlapping windows — the overlap-smoothing form of
    the windowed agg. Oracle: enumerate each row's 2 containing windows
    from its 3-hour bucket and unnest."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(event_ts(), "6 hours", "3 hours").start.alias("bucket_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum2(F.col("value")), 2).alias("volume"),
        )
    )


SQL_W_HOPPING = """
WITH ev AS (
    SELECT time_bucket(INTERVAL 3 HOUR, ts) AS hop, event_type, value FROM events
),
expanded AS (
    SELECT unnest([hop, hop - INTERVAL 3 HOUR]) AS bucket_start,
           event_type, value
    FROM ev
)
SELECT bucket_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS volume
FROM expanded
GROUP BY 1, 2
"""

# --------------------------------------- date-spine gap fill + LOCF


def q_w_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: per-user daily purchase totals are
    sparse (most user-days have no purchase); build each user's dense
    date spine with the ``sequence`` generator + explode, LEFT-join the
    observed days on, and forward-fill gaps with last-observation-
    carried-forward (``last(..., ignorenulls=True)`` over an unbounded-
    preceding running frame) — the standard sparse→dense prep before
    lag/rolling analytics (a gap day would otherwise silently shift
    every offset-based window).

    Scale shape: the spine explode is a narrow map over one row per user
    (span bounded by the calendar, not the event count), the join and
    the LOCF window both shuffle on user_id only, and nothing global is
    sorted. The observed-day aggregate is rebuilt for the spine branch —
    one extra events pass; at lake scale feed both branches from a
    materialized daily rollup instead.
    """
    daily = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date(event_ts()).alias("d"))
        .agg(F.round(dsum2(F.col("value")), 2).alias("day_value"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "d"], "left")
        .withColumn("filled_value", F.last("day_value", ignorenulls=True).over(w))
        .withColumn("is_gap", F.col("day_value").isNull().cast("boolean"))
        .select("user_id", "d", "day_value", "filled_value", "is_gap")
    )


SQL_GAP_FILL = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS day_value
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
spine AS (
    SELECT user_id,
           CAST(unnest(generate_series(min(d), max(d), INTERVAL 1 DAY)) AS DATE) AS d
    FROM daily GROUP BY user_id
)
SELECT s.user_id, s.d, daily.day_value,
       last_value(daily.day_value IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       daily.day_value IS NULL AS is_gap
FROM spine s
LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d
"""

# ------------------------------------------------------------- A5: cube


def q_a5_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (A5 — beyond-reference, built-in in Spark)."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(dsum2(F.col("o_totalprice")), 2).alias("total"),
        )
    )


SQL_A5_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""




# -------------------------------------------------- temporal: as-of join


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each purchase gets the user's latest signup
    value at or before it — the quote-to-trade / price-to-event pattern.
    Spark plan: union + one window pass per user (no join node at all);
    oracle: DuckDB's native ASOF LEFT JOIN."""
    from ..operators.temporal import asof_join

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", event_ts_us().alias("ts_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts_us"), "value"
    )
    # right side made key-unique per (user, ts) so ties can't arise
    w = Window.partitionBy("user_id", "ts_us").orderBy(F.desc("event_id"))
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts_us").alias("sig_ts"), F.col("value").alias("signup_value"))
    )
    out = asof_join(
        purchases, signups, "ts_us", "sig_ts", by=["user_id"], value_cols=["signup_value"]
    )
    return out.select(
        "event_id", "user_id", F.col("value"), F.col("signup_value")
    )


SQL_ASOF = """
WITH p AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
    FROM events WHERE event_type = 'purchase'
),
s AS (
    SELECT user_id, sig_ts, signup_value FROM (
        SELECT user_id, epoch_us(ts) AS sig_ts, value AS signup_value,
               row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'signup'
    ) WHERE rn = 1
)
SELECT p.event_id, p.user_id, p.value, s.signup_value
FROM p ASOF LEFT JOIN s
  ON p.user_id = s.user_id AND p.ts_us >= s.sig_ts
"""

# ------------------------------------------------ temporal: range join


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join: error events falling inside each user's daily
    activity window [first view, last view]. The inequality join becomes a
    bin equi-join + exact refine; the oracle uses the raw range predicate."""
    from ..operators.temporal import range_join_binned

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", event_ts_us().alias("ts_us"),
        F.to_date(event_ts()).alias("event_date"),
    )
    windows = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "event_date")
        .agg(F.min("ts_us").alias("win_start"), F.max("ts_us").alias("win_end"))
    )
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts_us")
    joined = range_join_binned(
        errors, windows, "ts_us", "win_start", "win_end",
        bin_size=6 * 3600 * 1_000_000, by=["user_id"],
    )
    return joined.select("event_id", "user_id", "event_date", "win_start", "win_end")


SQL_RANGE = """
WITH w AS (
    SELECT user_id, CAST(ts AS DATE) AS event_date,
           min(epoch_us(ts)) AS win_start, max(epoch_us(ts)) AS win_end
    FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
e AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us
    FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id, w.event_date, w.win_start, w.win_end
FROM e JOIN w
  ON e.user_id = w.user_id AND e.ts_us >= w.win_start AND e.ts_us <= w.win_end
"""

# -------------------------------------------------- percentile aggregates


def q_a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, verified bit-identical)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
    )


SQL_PERCENTILES = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type
"""




def q_a5_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (A5): chosen subtotal combinations only."""
    load(spark, sf_dir, "events").createOrReplaceTempView("_ev_gs")
    return spark.sql(
        """
        SELECT event_type, CAST(unix_micros(ts) DIV 86400000000 AS BIGINT) AS day_num,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM _ev_gs
        GROUP BY GROUPING SETS ((event_type), (day_num), (event_type, day_num))
        """
    )


SQL_GROUPING_SETS = """
SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_num,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events
GROUP BY GROUPING SETS ((event_type), (day_num), (event_type, day_num))
"""




# ------------------------------------------- semi/anti joins (extended)


def q_j_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (beyond-reference): customers with orders
    vs never-ordered customers, labeled and unioned."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    with_orders = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", F.lit("active").alias("status"))
    without = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", F.lit("dormant").alias("status"))
    return with_orders.unionAll(without)


SQL_SEMI_ANTI = """
SELECT c_custkey, 'active' AS status FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, 'dormant' AS status FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""

# --------------------------------------------- scalar subquery predicate


def q_p_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter against an ungrouped scalar aggregate (the engine computes the
    scalar first and parameterizes the filter — the watermark pattern applied
    to a value threshold)."""
    cust = load(spark, sf_dir, "customer")
    avg_bal = cust.agg(
        (F.sum(dec2(F.col("c_acctbal"))).cast("double") / F.count(F.lit(1))).alias("a")
    ).first()["a"]
    return cust.filter(F.col("c_acctbal") > F.lit(avg_bal)).select(
        "c_custkey", "c_name", "c_acctbal"
    )


SQL_SCALAR_SUBQUERY = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) FROM customer
)
"""


def q_a_pivot(spark, sf_dir):
    """PIVOT (beyond-reference A-family op): per-user event-type counts as
    columns. Spark's native ``groupBy().pivot(col, values)`` with an
    explicit value list — the list keeps the schema static (no extra
    distinct-values job, deterministic columns at any scale); DuckDB
    oracle expresses the same thing as conditional aggregation."""
    from .common import load

    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .count()
        .select(
            "user_id",
            F.coalesce("click", F.lit(0)).alias("n_click"),
            F.coalesce("view", F.lit(0)).alias("n_view"),
            F.coalesce("purchase", F.lit(0)).alias("n_purchase"),
            F.coalesce("error", F.lit(0)).alias("n_error"),
        )
    )


SQL_PIVOT = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events
GROUP BY user_id
"""


def q_a_unpivot(spark, sf_dir):
    """UNPIVOT/melt (beyond-reference O-family op): wide per-user counts
    back to long (user_id, event_type, n) — Spark's native
    ``DataFrame.unpivot`` (stack); DuckDB oracle uses UNION ALL."""
    wide = q_a_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["user_id"],
        values=["n_click", "n_view", "n_purchase", "n_error"],
        variableColumnName="event_kind",
        valueColumnName="n",
    ).filter(F.col("n") > 0)


SQL_UNPIVOT = f"""
WITH wide AS ({SQL_PIVOT})
SELECT user_id, event_kind, n FROM (
    SELECT user_id, 'n_click' AS event_kind, n_click AS n FROM wide
    UNION ALL SELECT user_id, 'n_view', n_view FROM wide
    UNION ALL SELECT user_id, 'n_purchase', n_purchase FROM wide
    UNION ALL SELECT user_id, 'n_error', n_error FROM wide
)
WHERE n > 0
"""


PARITY_QUERIES = {
    "s1_scan_project": (q_s1_scan_project, SQL_S1),
    "p2_filter_eq": (q_p2_filter_eq, SQL_P2),
    "p3_like_prefix": (q_p3_like_prefix, SQL_P3),
    "p4_watermark": (q_p4_watermark, SQL_P4),
    "p7_in_list": (q_p7_in_list, SQL_P7),
    "w1_rownum_dedup": (q_w1_rownum_dedup, SQL_W1),
    "p10_case_trycast": (q_p10_case_trycast, SQL_P10),
    "j1_foj_volume_chain": (q_j1_foj_volume_chain, SQL_J1),
    "j2_left_join": (q_j2_left_join, SQL_J2),
    "j4_seed_ci_join": (q_j4_seed_ci_join, SQL_J4),
    "w2_latest_per_group": (q_w2_latest_per_group, SQL_W2),
    "w3_lag_delta": (q_w3_lag_delta, SQL_W3),
    "a2_scalar_agg": (q_a2_scalar_agg, SQL_A2),
    "a5_rollup": (q_a5_rollup, SQL_A5),
    "a5_cube": (q_a5_cube, SQL_A5_CUBE),
    "a5_grouping_sets": (q_a5_grouping_sets, SQL_GROUPING_SETS),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "w_tumbling_agg": (q_w_tumbling_agg, SQL_W_TUMBLING),
    "w_hopping_agg": (q_w_hopping_agg, SQL_W_HOPPING),
    "w_gap_fill_locf": (q_w_gap_fill_locf, SQL_GAP_FILL),
    "asof_join": (q_asof_join, SQL_ASOF),
    "range_join": (q_range_join, SQL_RANGE),
    "a_percentiles": (q_a_percentiles, SQL_PERCENTILES),
    "f_time_functions": (q_f_time_functions, SQL_F_TIME),
    "o4_union_all": (q_o4_union_all, SQL_O4),
    "o3_topn_limit": (q_o3_topn_limit, SQL_O3),
    "o5_set_ops": (q_o5_set_ops, SQL_O5),
    "p11_case_join_key": (q_p11_case_join_key, SQL_P11),
    "j_semi_anti": (q_j_semi_anti, SQL_SEMI_ANTI),
    "p_scalar_subquery": (q_p_scalar_subquery, SQL_SCALAR_SUBQUERY),
    "a_pivot": (q_a_pivot, SQL_PIVOT),
    "a_unpivot": (q_a_unpivot, SQL_UNPIVOT),
    "flagship_daily_user_fact": (q_flagship_daily_user_fact, SQL_FLAGSHIP),
}
