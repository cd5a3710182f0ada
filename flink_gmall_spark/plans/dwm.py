"""DWM layer — derived wide streams (OrderWideApp / PaymentWideApp /
UniqueVisitApp / UserJumpDetailApp semantics).

Covers SURVEY §2.4 J1-J3 (interval + dimension joins) and §2.6 T1-T3
(keyed-state operators, expressed here as their exact batch equivalents;
``streaming.state`` carries the ``applyInPandasWithState`` versions).

Table adapter (FIXTURES.md §7): ``orders``→order_info, ``lineitem``→
order_detail, ``customer``→dim_user_info, ``nation``/``region``→
dim_base_province, ``events``→page/payment log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_gmall_spark.sources import load

# gmall UserJumpDetailApp.java:84-92 uses within(10s) on session starts; our
# events are minutes apart, so the analog gaps are 30 min (session) / 10 min
# (jump) — the operator shape (lag/lead keyed state) is identical.
SESSION_GAP_US = 1800 * 1_000_000
JUMP_GAP_US = 600 * 1_000_000

#: J1 interval-join window, inclusive both ends like Flink's between()
#: (OrderWideApp.java:98: -5s..+5s around the order event).
DETAIL_JOIN_DAYS = 90
#: J2 payment window: payment within [order, order+15min] scaled to the
#: events table's cadence (PaymentWideApp.java:89: -15min..0).
PAYMENT_JOIN_DAYS = 7


def order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 star-schema enrichment: fact left-joins broadcast dims.

    gmall does per-record async Redis/Phoenix lookups against 6 dim tables
    (DimAsyncFunction.java:32-52, applied OrderWideApp.java:109-214); the
    Spark-native equivalent is a chain of broadcast hash left joins — the
    fact side never shuffles. Left (not inner) because the reference passes
    records through when a lookup misses (DimAsyncFunction.java:41-49).
    The acctbal tier mirrors the derived-field pattern (birthday→age,
    OrderWideApp.java:118-126).
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    wide = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
    )
    return wide.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("province_name"),
        F.col("r_name").alias("region_name"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("total_amount"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("create_date"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("bal_tier"),
    )


ORACLE_ORDER_WIDE = """
SELECT o.o_orderkey AS order_id,
       o.o_custkey AS user_id,
       c.c_name AS user_name,
       c.c_mktsegment AS segment,
       n.n_name AS province_name,
       r.r_name AS region_name,
       o.o_orderstatus AS order_status,
       o.o_totalprice AS total_amount,
       strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
       CASE WHEN c.c_acctbal < 0 THEN 'debt'
            WHEN c.c_acctbal < 5000 THEN 'standard'
            ELSE 'premium' END AS bal_tier
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""


def order_detail_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 event-time interval join, inclusive bounds both ends.

    gmall: orderInfo.intervalJoin(orderDetail).between(-5s, +5s)
    (OrderWideApp.java:96-105). Expressed as an equi-join on the order key
    plus a symmetric-range predicate on event time; in streaming mode the
    same predicate + watermarks is Spark's native stream-stream interval
    join. The ship-delay derivation mirrors P8 (OrderWideApp.java:73-93).
    """
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    lo = F.col("o_orderdate") - F.expr(f"INTERVAL {DETAIL_JOIN_DAYS} DAYS")
    hi = F.col("o_orderdate") + F.expr(f"INTERVAL {DETAIL_JOIN_DAYS} DAYS")
    joined = lineitem.join(
        orders,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= lo)
        & (F.col("l_shipdate") <= hi),
        "inner",
    )
    return joined.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").cast("long").alias("detail_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("l_extendedprice").alias("split_total_amount"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("ship_delay_days"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("create_date"),
    )


ORACLE_ORDER_DETAIL_WIDE = f"""
SELECT l.l_orderkey AS order_id,
       CAST(l.l_linenumber AS BIGINT) AS detail_id,
       l.l_partkey AS sku_id,
       o.o_custkey AS user_id,
       l.l_extendedprice AS split_total_amount,
       CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS BIGINT)
           AS ship_delay_days,
       strftime(o.o_orderdate, '%Y-%m-%d') AS create_date
FROM lineitem l
JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate - INTERVAL {DETAIL_JOIN_DAYS} DAY
 AND l.l_shipdate <= o.o_orderdate + INTERVAL {DETAIL_JOIN_DAYS} DAY
"""


def payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 one-sided interval join: payment joined back to its order stream
    within [order_ts, order_ts + window] (PaymentWideApp.java:88-96).

    Adapter: per user, each 'purchase' event is the payment, the preceding
    'signup' event is the order-side record.
    """
    ev = load(spark, sf_dir, "events")
    pay = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("payment_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("pay_ts"),
        F.col("value").alias("payment_amount"),
    )
    base = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("order_id"),
        F.col("user_id").alias("base_user"),
        F.col("ts").alias("order_ts"),
    )
    hi = F.col("order_ts") + F.expr(f"INTERVAL {PAYMENT_JOIN_DAYS} DAYS")
    joined = pay.join(
        base,
        (F.col("user_id") == F.col("base_user"))
        & (F.col("pay_ts") >= F.col("order_ts"))
        & (F.col("pay_ts") <= hi),
        "inner",
    )
    return joined.select(
        "payment_id",
        "order_id",
        "user_id",
        "payment_amount",
        F.date_format("pay_ts", "yyyy-MM-dd HH:mm:ss").alias("callback_time"),
        F.date_format("order_ts", "yyyy-MM-dd HH:mm:ss").alias("create_time"),
    )


ORACLE_PAYMENT_WIDE = f"""
SELECT p.event_id AS payment_id,
       s.event_id AS order_id,
       p.user_id AS user_id,
       p.value AS payment_amount,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS callback_time,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS create_time
FROM events p
JOIN events s
  ON p.user_id = s.user_id
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL {PAYMENT_JOIN_DAYS} DAY
WHERE p.event_type = 'purchase' AND s.event_type = 'signup'
"""


def visit_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 new-visitor flag repair (keyed ValueState, BaseLogApp.java:56-90).

    Batch semantics: the first event per device keeps is_new='1', every
    later event is rewritten to '0'. One shuffle on the key — the same
    hash partitioning the reference's keyBy(mid) performs.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.when(F.row_number().over(w) == 1, "1").otherwise("0").alias("is_new"),
    )


ORACLE_VISIT_FLAG = """
SELECT event_id,
       user_id,
       CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
            THEN '1' ELSE '0' END AS is_new
FROM events
"""


def daily_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 daily first-visit dedup (UniqueVisitApp.java:67-106).

    The reference keeps a per-mid last-seen-date ValueState with a 1-day
    TTL; batch-equivalently: dropDuplicates on (user, date) then count.
    dropDuplicates is the same partial-dedup-then-shuffle plan a streaming
    dedup would produce.
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.select(
        F.col("user_id"), F.date_format("ts", "yyyy-MM-dd").alias("dt")
    ).dropDuplicates(["user_id", "dt"])
    return firsts.groupBy("dt").agg(F.count(F.lit(1)).alias("uv_ct"))


# FIXTURE INVARIANT (pinned by tests/test_sources.py): events.ts has no
# NULLs. A NULL ts would form a NULL-dt group here while the streaming
# twin's state machine (streaming.state._t2_fn) drops day-less rows —
# the guard test fails loudly on a regenerated fixture before the driver
# could record a silent hash mismatch. Same invariant backs
# ORACLE_COHORT_RETENTION and ORACLE_ROLLING_ACTIVITY_7D (plans/ads.py).
ORACLE_DAILY_UV = """
SELECT strftime(ts, '%Y-%m-%d') AS dt,
       count(DISTINCT user_id) AS uv_ct
FROM events
GROUP BY 1
"""


def jump_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 CEP jump-out detection (UserJumpDetailApp.java:84-123).

    Flink CEP pattern: a session-start event followed within 10s by another
    session-start, OR timing out with no follow-up, emits the first event.
    Batch ground truth (SURVEY §7.3 rank 1): lag/lead over the keyed
    timeline — an event is a jump-out iff it starts a session (no prior
    event within SESSION_GAP) and nothing follows within JUMP_GAP.
    Integer epoch-micros keep the gap comparisons exact in both engines.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        us.alias("us"),
        F.lag(us).over(w).alias("prev_us"),
        F.lead(us).over(w).alias("next_us"),
    )
    jumps = flagged.filter(
        (F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > SESSION_GAP_US))
        & (F.col("next_us").isNull() | (F.col("next_us") - F.col("us") > JUMP_GAP_US))
    )
    return jumps.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


ORACLE_JUMP_OUT = f"""
WITH s AS (
    SELECT event_id, user_id, ts,
           epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
    FROM events
)
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM s
WHERE (prev_us IS NULL OR us - prev_us > {SESSION_GAP_US})
  AND (next_us IS NULL OR next_us - us > {JUMP_GAP_US})
"""
