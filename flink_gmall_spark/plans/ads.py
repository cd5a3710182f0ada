"""ADS layer — the interactive batch query surface.

Reproduces the semantics of every gmall-publisher MyBatis mapper query
(SURVEY §2.5 A5-A12, §2.8 sorts/limits) over the driver tables, then
extends the layer with the standard product-analytics batch: cohort
retention, event-transition (Markov) matrices, RFM segmentation,
market-basket co-purchase + association rules, time-constrained funnels,
behavioral time-series similarity, and integer-exact PageRank. Each is a
pure function (spark, sf_dir) → DataFrame; the reference's HTTP/JSON shell
is a non-goal (SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_gmall_spark.functions.parity import MONEY, half_up_x100
from flink_gmall_spark.sources import load

TOP_BRANDS_LIMIT = 10
USER_SCORES_LIMIT = 20

# A9 weighted scoring (KeywordStatsMapper.java:13-18 multiIf: SEARCH 10,
# ORDER 3, CART 2, CLICK 1) mapped onto event types.
SCORE_WEIGHTS = {"purchase": 10, "signup": 3, "click": 2, "view": 1}


def gmv_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 batch sum keyed by day (ProductStatsMapper.java:15-17:
    sum(order_amount) where toYYYYMMDD(stt)=date)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt")
    ).agg(
        F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias("gmv"),
        F.count(F.lit(1)).alias("order_ct"),
    )


ORACLE_GMV_BY_DATE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
       CAST(count(*) AS BIGINT) AS order_ct
FROM orders
GROUP BY 1
"""


def top_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 group-by + HAVING + ORDER BY + LIMIT top-N
    (ProductStatsMapper.java:35-40, trademark variant). Catalyst plans the
    global sort+limit as TakeOrderedAndProject — no full sort at scale.
    Tiebreak on brand keeps the limit total-ordered.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .groupBy(F.col("p_brand").alias("tm_name"))
        .agg(F.sum(F.col("l_extendedprice").cast(MONEY)).alias("amount_dec"))
        .filter(F.col("amount_dec") > 0)
    )
    return (
        agg.select("tm_name", F.col("amount_dec").cast("double").alias("order_amount"))
        .orderBy(F.desc("order_amount"), F.asc("tm_name"))
        .limit(TOP_BRANDS_LIMIT)
    )


ORACLE_TOP_BRANDS = f"""
SELECT p.p_brand AS tm_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
HAVING sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) > 0
ORDER BY order_amount DESC, tm_name ASC
LIMIT {TOP_BRANDS_LIMIT}
"""


def hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 conditional sum by hour (VisitorStatsMapper.java:19-22:
    sum(if(is_new='1', uv_ct, 0)) ... group by toHour(stt))."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").cast("long").alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("pv_ct"),
        F.countDistinct("user_id").alias("uv_ct"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast(MONEY))
            .otherwise(F.lit(0).cast(MONEY))
        )
        .cast("double")
        .alias("purchase_amount"),
    )


ORACLE_HOURLY_STATS = """
SELECT CAST(hour(ts) AS BIGINT) AS hr,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
       count(DISTINCT user_id) AS uv_ct,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_amount
FROM events
GROUP BY 1
"""


def status_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 group-by flag with sums (VisitorStatsMapper.java:13-16) + an
    average derived as exact-decimal-sum / count (no float re-rounding)."""
    orders = load(spark, sf_dir, "orders")
    agg = orders.groupBy(F.col("o_orderstatus").alias("order_status")).agg(
        F.count(F.lit(1)).alias("order_ct"),
        F.sum(F.col("o_totalprice").cast(MONEY)).alias("amount_dec"),
    )
    return agg.select(
        "order_status",
        "order_ct",
        F.col("amount_dec").cast("double").alias("total_amount"),
        (F.col("amount_dec").cast("double") / F.col("order_ct")).alias("avg_amount"),
    )


ORACLE_STATUS_STATS = """
SELECT o_orderstatus AS order_status,
       CAST(count(*) AS BIGINT) AS order_ct,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_amount
FROM orders
GROUP BY 1
"""


def user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 weighted scoring agg + top-N (KeywordStatsMapper.java:13-18)."""
    ev = load(spark, sf_dir, "events")
    expr = None
    for etype, wgt in SCORE_WEIGHTS.items():
        expr = (
            F.when(F.col("event_type") == etype, wgt)
            if expr is None
            else expr.when(F.col("event_type") == etype, wgt)
        )
    score = expr.otherwise(0)
    return (
        ev.groupBy("user_id")
        .agg(F.sum(score).cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("user_id"))
        .limit(USER_SCORES_LIMIT)
    )


_SCORE_CASE = " ".join(
    f"WHEN event_type = '{e}' THEN {w}" for e, w in SCORE_WEIGHTS.items()
)

ORACLE_USER_SCORES = f"""
SELECT user_id,
       CAST(sum(CASE {_SCORE_CASE} ELSE 0 END) AS BIGINT) AS score
FROM events
GROUP BY 1
ORDER BY score DESC, user_id ASC
LIMIT {USER_SCORES_LIMIT}
"""


def totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 batch counts (VisitorStatsMapper.java:24-30: count of non-null)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("ev_ct"),
        F.countDistinct("user_id").alias("uv_ct"),
        F.count("value").alias("value_ct"),
        F.countDistinct("event_type").alias("type_ct"),
    )


ORACLE_TOTALS = """
SELECT CAST(count(*) AS BIGINT) AS ev_ct,
       count(DISTINCT user_id) AS uv_ct,
       CAST(count(value) AS BIGINT) AS value_ct,
       count(DISTINCT event_type) AS type_ct
FROM events
"""


def province_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 province rollup (ProvinceStatsMapper.java:13-16:
    sum(order_amount) group by province) through the full dim chain."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("province_name"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias("order_amount"),
            F.count(F.lit(1)).alias("order_ct"),
        )
    )


ORACLE_PROVINCE_ROLLUP = """
SELECT r.r_name AS region_name,
       n.n_name AS province_name,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
       CAST(count(*) AS BIGINT) AS order_ct
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


ORDER_STATUSES = ["O", "F", "P"]


def monthly_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/wide-table surface (beyond the reference — Catalyst plans it
    as one pass of conditional aggregates, which is also exactly how the
    DuckDB oracle states it)."""
    orders = load(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .pivot("o_orderstatus", ORDER_STATUSES)
        .agg(F.sum(F.col("o_totalprice").cast(MONEY)))
    )
    return pivoted.select(
        "month",
        *[
            F.coalesce(F.col(s).cast("double"), F.lit(0.0)).alias(f"amount_{s.lower()}")
            for s in ORDER_STATUSES
        ],
    )


_PIVOT_COLS = ",\n       ".join(
    f"CAST(coalesce(sum(CASE WHEN o_orderstatus = '{s}' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS amount_{s.lower()}"
    for s in ORDER_STATUSES
)

ORACLE_MONTHLY_STATUS_PIVOT = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       {_PIVOT_COLS}
FROM orders
GROUP BY 1
"""


KEYWORD_SOURCE_WEIGHTS = {"src0": 10, "src1": 3, "src2": 2}  # else 1
KEYWORD_LIMIT = 20


def keyword_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 literal shape (KeywordStatsMapper.java:13-18): keyword counts
    weighted per source via multiIf, summed, top-N with tiebreak."""
    from flink_gmall_spark.plans.dws import keyword_stats

    kw = keyword_stats(spark, sf_dir)
    weight = None
    for src, wgt in KEYWORD_SOURCE_WEIGHTS.items():
        weight = (
            F.when(F.col("source") == src, wgt)
            if weight is None
            else weight.when(F.col("source") == src, wgt)
        )
    weight = weight.otherwise(1)
    return (
        kw.groupBy("keyword")
        .agg(F.sum(F.col("ct") * weight).cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("keyword"))
        .limit(KEYWORD_LIMIT)
    )


_KW_CASE = " ".join(
    f"WHEN source = '{s}' THEN {w}" for s, w in KEYWORD_SOURCE_WEIGHTS.items()
)

ORACLE_KEYWORD_WEIGHTED = f"""
WITH kw AS (
    SELECT u.keyword, u.source, count(*) AS ct
    FROM (
        SELECT doc_id, source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  t -> t <> '')) AS keyword
        FROM documents
    ) u
    GROUP BY 1, 2
)
SELECT keyword,
       CAST(sum(ct * CASE {_KW_CASE} ELSE 1 END) AS BIGINT) AS score
FROM kw
GROUP BY 1
ORDER BY score DESC, keyword ASC
LIMIT {KEYWORD_LIMIT}
"""


TOP_PER_BRAND = 3


def top_sku_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (windowed rank) — the per-group variant of the
    reference's global top-N mappers; planned as one shuffle on the group
    key + per-partition rank, no global sort."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    sku = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(MONEY)).alias("amount_dec"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("amount_dec"), F.asc("l_partkey")
    )
    return (
        sku.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_PER_BRAND)
        .select(
            F.col("p_brand").alias("tm_name"),
            F.col("l_partkey").alias("sku_id"),
            "rank",
            F.col("amount_dec").cast("double").alias("order_amount"),
        )
    )


ORACLE_TOP_SKU_PER_BRAND = f"""
WITH sku AS (
    SELECT p.p_brand, l.l_partkey,
           sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS amount_dec
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT p_brand, l_partkey, amount_dec,
           row_number() OVER (PARTITION BY p_brand
                              ORDER BY amount_dec DESC, l_partkey ASC) AS rank
    FROM sku
)
SELECT p_brand AS tm_name, l_partkey AS sku_id,
       CAST(rank AS BIGINT) AS rank,
       CAST(amount_dec AS DOUBLE) AS order_amount
FROM ranked WHERE rank <= {TOP_PER_BRAND}
"""


def status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup over (status, priority) — all grouping-set subtotals in
    one pass (Expand + hash agg). Beyond the reference surface; NULL
    grouping markers normalize to 'ALL' for a stable string contract."""
    orders = load(spark, sf_dir, "orders")
    agg = orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_ct"),
        F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias("order_amount"),
    )
    return agg.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("order_status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("order_priority"),
        "order_ct",
        "order_amount",
    )


ORACLE_STATUS_PRIORITY_CUBE = """
SELECT coalesce(o_orderstatus, 'ALL') AS order_status,
       coalesce(o_orderpriority, 'ALL') AS order_priority,
       CAST(count(*) AS BIGINT) AS order_ct,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the 100 TB pressure valves for exact
    distinct/quantiles (HyperLogLog++ and GK quantile sketches, both
    mergeable so they partial-aggregate like any sum).

    Raw sketch values are engine-specific by design, so instead of a
    rows-only contract the query is SELF-VALIDATING: it computes the
    exact statistics alongside the sketches IN THE SAME aggregation and
    emits (a) the exact UV, hash-checked against DuckDB, and (b) one
    boolean per sketch asserting its published error bound held —
    HLL++ within 3*rsd of exact, percentile_approx inside the exact
    [q-0.02, q+0.02] quantile envelope (eps = 1/accuracy = 1e-4 plus
    interpolation slack — 0.02 dominates at any n). The oracle pins the
    booleans to TRUE, so a sketch drifting out of tolerance is a HASH
    MISMATCH, not a silent pass. Raw-value tolerances are additionally
    exercised in tests/test_approx.py.
    """
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_uv"),
        F.percentile_approx("value", 0.5, 10_000).alias("p50_approx"),
        F.percentile_approx("value", 0.95, 10_000).alias("p95_approx"),
        F.countDistinct("user_id").alias("exact_uv"),
        F.expr("percentile(value, 0.48)").alias("p50_lo"),
        F.expr("percentile(value, 0.52)").alias("p50_hi"),
        F.expr("percentile(value, 0.93)").alias("p95_lo"),
        F.expr("percentile(value, 0.97)").alias("p95_hi"),
    )
    return agg.select(
        "event_type",
        "exact_uv",
        (
            F.abs(F.col("approx_uv") - F.col("exact_uv"))
            <= 3 * 0.02 * F.col("exact_uv")
        ).alias("uv_ok"),
        F.col("p50_approx").between(F.col("p50_lo"), F.col("p50_hi")).alias("p50_ok"),
        F.col("p95_approx").between(F.col("p95_lo"), F.col("p95_hi")).alias("p95_ok"),
    )


ORACLE_APPROX_STATS = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_uv,
       TRUE AS uv_ok,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM events
GROUP BY event_type
"""


def visitor_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 post-aggregation derived ratios with HALF_UP 2dp parity
    (gmall-publisher bean/VisitorStats.java:33-62: ujRate, pvPerSv...).

    The ratio is computed with the integer HALF_UP trick (functions.parity)
    so Spark and DuckDB agree bit-for-bit — never round() on doubles.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("pv_ct"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("purchase_ct"),
        F.countDistinct("user_id").alias("uv_ct"),
    )
    return daily.select(
        "dt",
        "pv_ct",
        "purchase_ct",
        "uv_ct",
        F.expr(half_up_x100("pv_ct", "uv_ct", "DIV")).alias("pv_per_uv"),
        F.expr(half_up_x100("100 * purchase_ct", "pv_ct", "DIV")).alias("conversion_pct"),
    )


ORACLE_VISITOR_RATIOS = f"""
WITH daily AS (
    SELECT strftime(ts, '%Y-%m-%d') AS dt,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_ct,
           count(DISTINCT user_id) AS uv_ct
    FROM events
    GROUP BY 1
)
SELECT dt, pv_ct, purchase_ct, uv_ct,
       {half_up_x100("pv_ct", "uv_ct", "//")} AS pv_per_uv,
       {half_up_x100("100 * purchase_ct", "pv_ct", "//")} AS conversion_pct
FROM daily
"""


def gmv_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily GMV — the trailing-window trend line
    every ADS dashboard adds over gmv_by_date. One aggregation shuffle on
    date plus one window over the (tiny) daily series; decimal daily sums
    keep partition-order independence, and the moving mean divides by the
    actual frame size so the leading edge is exact."""
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt")
    ).agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias("gmv_dec"))
    w = Window.orderBy("dt").rowsBetween(-6, 0)
    return daily.select(
        "dt",
        F.col("gmv_dec").cast("double").alias("gmv"),
        F.round(
            F.sum("gmv_dec").over(w).cast("double") / F.count(F.lit(1)).over(w), 6
        ).alias("gmv_ma7"),
    )


ORACLE_GMV_MOVING_AVG = """
WITH daily AS (
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS gmv_dec
    FROM orders GROUP BY 1
)
SELECT dt,
       CAST(gmv_dec AS DOUBLE) AS gmv,
       round(CAST(sum(gmv_dec) OVER w AS DOUBLE)
             / count(*) OVER w, 6) AS gmv_ma7
FROM daily
WINDOW w AS (ORDER BY dt ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


PCTLS = [0.25, 0.50, 0.75, 0.90, 0.99]


def amount_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-amount percentiles per order status — the latency/SLA
    style quantile query ads_approx_stats answers with sketches, here in
    its exact form (Spark `percentile`, linear interpolation over the
    sorted set — identical definition to DuckDB quantile_cont; inputs are
    exact decimals cast to double so interpolation arithmetic is
    bit-reproducible). Exact percentiles need the full value multiset per
    group: the sketch variant stays the 100 TB default, this is the
    ground-truth/backfill path.
    """
    orders = load(spark, sf_dir, "orders")
    amt = F.col("o_totalprice").cast(MONEY).cast("double")
    qs = ", ".join(str(p) for p in PCTLS)
    agg = orders.select("o_orderstatus", amt.alias("amt")).groupBy(
        "o_orderstatus"
    ).agg(
        F.expr(f"percentile(amt, array({qs}))").alias("p"),
        F.count(F.lit(1)).alias("order_ct"),
    )
    cols = [
        F.round(F.element_at("p", i + 1), 4).alias(f"p{int(p * 100)}")
        for i, p in enumerate(PCTLS)
    ]
    return agg.select("o_orderstatus", *cols, "order_ct")


_DUCK_PCTL_COLS = ",\n       ".join(
    f"round(quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), {p}), 4)"
    f" AS p{int(p * 100)}"
    for p in PCTLS
)

ORACLE_AMOUNT_PERCENTILES = f"""
SELECT o_orderstatus,
       {_DUCK_PCTL_COLS},
       CAST(count(*) AS BIGINT) AS order_ct
FROM orders
GROUP BY o_orderstatus
"""


# --- Set operations (year-over-year cohort segmentation) ---------------------

RETAIN_YEAR_A, RETAIN_YEAR_B = 1999, 2000


def customer_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer segmentation via set operations: the
    customers active in both years (INTERSECT), only the first year
    (EXCEPT — churned), and only the second (EXCEPT — acquired). The
    reference surface has no set ops (SURVEY §2.7: unions only); this
    completes the engine's set-operator family. Each branch plans as a
    left-semi/anti-style hash aggregate over the same two pruned scans —
    no full-table materialization."""
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == RETAIN_YEAR_A).select("o_custkey")
    b = orders.filter(F.year("o_orderdate") == RETAIN_YEAR_B).select("o_custkey")

    def seg(df: DataFrame, label: str) -> DataFrame:
        return df.select(
            F.lit(label).alias("segment"), F.col("o_custkey").alias("custkey")
        )

    return (
        seg(a.intersect(b), "retained")
        .unionByName(seg(a.subtract(b), "churned"))
        .unionByName(seg(b.subtract(a), "acquired"))
    )


ORACLE_CUSTOMER_RETENTION = f"""
WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = {RETAIN_YEAR_A}),
     b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = {RETAIN_YEAR_B})
SELECT 'retained' AS segment, o_custkey AS custkey
FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
UNION ALL
SELECT 'churned', o_custkey
FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
UNION ALL
SELECT 'acquired', o_custkey
FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
"""


def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals (region → nation → grand total) over the
    customer dimension chain — the multi-level aggregation companion to
    the CUBE entry (ads_status_priority_cube). One expand + one hash agg;
    both dims ride broadcast joins so the fact side never shuffles before
    the rollup. Subtotal rows label their collapsed level 'ALL'."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    j = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    agg = j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("order_ct"),
        F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias("revenue"),
    )
    return agg.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("n_name", F.lit("ALL")).alias("nation"),
        "order_ct",
        "revenue",
    )


ORACLE_REGION_NATION_ROLLUP = """
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       CAST(count(*) AS BIGINT) AS order_ct,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface: customers that never ordered, rolled up per
    nation. The anti join plans as a broadcast/shuffled hash join with
    NO result materialization of the big side's payload — the idiomatic
    existence-complement at any scale (reference has no semi/anti ops;
    SURVEY §2.4 'Catalyst provides them for free')."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    inactive = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        inactive.join(F.broadcast(nation), inactive.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("inactive_ct"))
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT n_name, CAST(count(*) AS BIGINT) AS inactive_ct
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n_name
"""


def yoy_spend_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer-join surface: per-customer spend in two adjacent years,
    keeping customers present in either year (nulls coalesced to 0) with
    the year-over-year delta — the join type the retention set-op query
    cannot express (it loses the measures)."""
    orders = load(spark, sf_dir, "orders")

    def spend(year: int, alias: str) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias(alias))
        )

    a = spend(RETAIN_YEAR_A, "spend_a").withColumnRenamed("o_custkey", "ck_a")
    b = spend(RETAIN_YEAR_B, "spend_b").withColumnRenamed("o_custkey", "ck_b")
    j = a.join(b, a.ck_a == b.ck_b, "full_outer")
    zero = F.lit(0).cast(MONEY)
    return j.select(
        F.coalesce("ck_a", "ck_b").alias("custkey"),
        F.coalesce("spend_a", zero).cast("double").alias("spend_a"),
        F.coalesce("spend_b", zero).cast("double").alias("spend_b"),
        (F.coalesce("spend_b", zero) - F.coalesce("spend_a", zero))
        .cast("double")
        .alias("delta"),
    )


ORACLE_YOY_SPEND_FULL_OUTER = f"""
WITH a AS (
    SELECT o_custkey AS ck, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
    FROM orders WHERE year(o_orderdate) = {RETAIN_YEAR_A} GROUP BY 1
),
b AS (
    SELECT o_custkey AS ck, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
    FROM orders WHERE year(o_orderdate) = {RETAIN_YEAR_B} GROUP BY 1
)
SELECT coalesce(a.ck, b.ck) AS custkey,
       CAST(coalesce(a.spend, 0) AS DOUBLE) AS spend_a,
       CAST(coalesce(b.spend, 0) AS DOUBLE) AS spend_b,
       CAST(coalesce(b.spend, 0) - coalesce(a.spend, 0) AS DOUBLE) AS delta
FROM a FULL OUTER JOIN b ON a.ck = b.ck
"""


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: per user, view → click-after-view →
    purchase-after-that-click, each stage requiring an event strictly
    after the previous stage's earliest satisfying event (the sequential
    pattern Flink would express in CEP and warehouses as min-timestamp
    chaining). One shuffle on the user key; stages are conditional mins
    over the same pass. Output: one row per funnel stage with the user
    count that reached it."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")
    )
    t_click = (
        per_user.join(
            clicks,
            (F.col("user_id") == F.col("c_uid")) & (F.col("c_ts") > F.col("t_view")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.min("c_ts").alias("t_click"),
        )
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    funnel = (
        t_click.join(
            buys,
            (F.col("user_id") == F.col("p_uid")) & (F.col("p_ts") > F.col("t_click")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.min("p_ts").alias("t_buy"),
        )
    )
    return funnel.select(
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("viewed"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("clicked_after_view"),
        F.sum(F.when(F.col("t_buy").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("purchased_after_click"),
    )


ORACLE_CONVERSION_FUNNEL = """
WITH v AS (
    SELECT user_id, min(ts) AS t_view
    FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT v.user_id, min(e.ts) AS t_click
    FROM v JOIN events e
      ON e.user_id = v.user_id AND e.event_type = 'click' AND e.ts > v.t_view
    GROUP BY 1
),
p AS (
    SELECT c.user_id, min(e.ts) AS t_buy
    FROM c JOIN events e
      ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t_click
    GROUP BY 1
)
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS viewed,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS clicked_after_view,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS purchased_after_click
"""


def amount_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile window function: orders bucketed into amount quartiles per
    status, rolled up to quartile boundaries + counts. ntile is only
    deterministic under a TOTAL order — the amount sort carries the
    order key as tiebreak, the discipline every ranking query here
    follows."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    q = orders.withColumn("quartile", F.ntile(4).over(w))
    return q.groupBy("o_orderstatus", "quartile").agg(
        F.count(F.lit(1)).alias("order_ct"),
        F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias("amount_sum"),
        F.max(F.col("o_totalprice")).alias("upper_bound"),
    )


ORACLE_AMOUNT_QUARTILES = """
WITH q AS (
    SELECT o_orderstatus, o_totalprice,
           ntile(4) OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
    FROM orders
)
SELECT o_orderstatus,
       CAST(quartile AS INT) AS quartile,
       CAST(count(*) AS BIGINT) AS order_ct,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount_sum,
       max(o_totalprice) AS upper_bound
FROM q
GROUP BY 1, 2
"""


TS_DIM = 24  # hourly activity vector width
TS_QUERIES = 8  # the TS_QUERIES smallest user_ids are the query series
TS_TOPK = 5


def user_activity_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over behavioral series (the
    distributed-similarity-search shape of EDBT 2019's streaming
    time-series work, PAPERS.md): each user's event history featurizes
    into a fixed 24-dim hourly-activity count vector, and the TS_QUERIES
    lowest-id users retrieve their TS_TOPK nearest neighbors by exact
    squared L2 — INTEGER arithmetic end to end (counts, not floats), so
    the ranking is hash-exact against the oracle.

    Scale shape (100 TB of events): featurization is one partial-agg
    pass to (user, hour) counts + one bounded-key (user) vector
    assembly; the query side is TS_QUERIES rows — broadcast — so scoring
    streams the user-vector table once, exactly the brute-force-ANN
    topology (`ann_topk`) applied to derived features. At larger query
    sets the IVF/LSH/PQ bucketing from operators.ann applies unchanged —
    featurize once, then every ANN serving shape is available.
    """
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.col("user_id"), F.hour("ts").cast("int").alias("h")
    ).agg(F.count(F.lit(1)).alias("ct"))
    vec = counts.groupBy("user_id").agg(
        F.expr(
            f"transform(sequence(0, {TS_DIM - 1}), x ->"
            " coalesce(element_at(map_from_entries(collect_list(struct(h, ct))), x),"
            " cast(0 as bigint)))"
        ).alias("v")
    )
    q = vec.orderBy("user_id").limit(TS_QUERIES).select(
        F.col("user_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = F.broadcast(q).join(vec, F.col("query_id") != F.col("user_id"))
    scored = pairs.withColumn(
        "d2",
        F.expr(
            "aggregate(zip_with(qv, v, (x, y) -> (x - y) * (x - y)),"
            " cast(0 as bigint), (acc, x) -> acc + x)"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("user_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TS_TOPK)
        .select("query_id", F.col("user_id").alias("neighbor_id"), "rank", "d2")
    )


ORACLE_USER_ACTIVITY_SIMILARITY = f"""
WITH counts AS (
    SELECT user_id, CAST(hour(ts) AS INT) AS h, CAST(count(*) AS BIGINT) AS ct
    FROM events GROUP BY 1, 2
),
vec AS (
    SELECT u.user_id, list(COALESCE(c.ct, CAST(0 AS BIGINT)) ORDER BY hx.x) AS v
    FROM (SELECT DISTINCT user_id FROM counts) u
    CROSS JOIN (SELECT unnest(range(0, {TS_DIM})) AS x) hx
    LEFT JOIN counts c ON c.user_id = u.user_id AND c.h = hx.x
    GROUP BY u.user_id
),
q AS (
    SELECT user_id AS query_id, v AS qv FROM vec
    ORDER BY user_id LIMIT {TS_QUERIES}
),
scored AS (
    SELECT q.query_id, vec.user_id AS neighbor_id,
           list_reduce(list_transform(range(1, {TS_DIM} + 1),
                       i -> (q.qv[i] - vec.v[i]) * (q.qv[i] - vec.v[i])),
                       (acc, x) -> acc + x) AS d2
    FROM q JOIN vec ON q.query_id <> vec.user_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, CAST(d2 AS BIGINT) AS d2
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TS_TOPK}
"""


COPURCHASE_TOP_N = 50
COPURCHASE_MIN_CT = 2


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence — the item-item collaborative-filtering
    count table behind every "customers also bought" surface: pairs of
    parts appearing in the SAME order, counted across orders, top-N by
    support. The missing recommendation-family member of the ADS layer.

    Scale shape (100 TB of lineitems): the self-join is keyed on the
    ORDER (an equi-join whose fan-out is bounded by basket size squared —
    baskets are small by nature, so per-key work is constant); counts
    partial-aggregate, and top-N is TakeOrderedAndProject. Contrast with
    the naive item-keyed join, which would be user-history-quadratic on
    hot items. A support floor prunes the singleton tail before the
    count shuffle.
    """
    # Basket semantics: collect_set dedups parts per order, so an order
    # holding the same part on two lines counts the pair once — the same
    # support definition association_rules uses (one basket, one vote).
    # r15: pairs generate map-side from the basket set (see
    # _basket_pair_rows) instead of the order-keyed self-join — one
    # partial-aggregated basket exchange replaces the distinct + join
    # shuffles.
    pairs = _basket_pair_rows(
        _order_baskets(spark, sf_dir), "part_a", "part_b", canonical=True
    )
    counted = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("ct"))
        .filter(F.col("ct") >= COPURCHASE_MIN_CT)
    )
    return counted.orderBy(
        F.desc("ct"), F.asc("part_a"), F.asc("part_b")
    ).limit(COPURCHASE_TOP_N)


ORACLE_COPURCHASE_PAIRS = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS ct
FROM baskets a
JOIN baskets b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= {COPURCHASE_MIN_CT}
ORDER BY ct DESC, part_a ASC, part_b ASC
LIMIT {COPURCHASE_TOP_N}
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-retention MATRIX — the standard product-analytics
    rollup the reference's visitor stats feed into dashboards: users
    cohort by their FIRST active day; each later active day increments
    cell (cohort_day, day_offset). Diagonal reads are day-N retention.

    Scale shape: first-activity is one partial-agg min per user; the
    activity set is one dropDuplicates on (user, day) — both shuffle on
    the user key once (exchange reuse applies), the offset join is
    user-keyed equi, and the matrix is a bounded-key (cohort, offset)
    count. No windows over raw events, no per-user sorts.
    """
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).dropDuplicates(["user_id", "d"])
    firsts = days.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    j = days.join(firsts, "user_id")
    return (
        j.groupBy(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort_d").cast("long").alias("day_offset"),
        )
        # plain count: the input is already distinct per (user, day) and
        # day_offset is a function of the day, so each user appears at most
        # once per (cohort_day, day_offset) group — matches the oracle's
        # count(*) without a redundant distinct-aggregation pass.
        .agg(F.count(F.lit(1)).alias("users"))
    )


# FIXTURE INVARIANT: events.ts has no NULLs (guard test in
# tests/test_sources.py) — the streaming twin's state machine drops
# day-less rows while this SQL would group them under a NULL day; see
# the fuller note above ORACLE_DAILY_UV (plans/dwm.py).
ORACLE_COHORT_RETENTION = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
firsts AS (
    SELECT user_id, min(d) AS cohort_d FROM days GROUP BY user_id
)
SELECT strftime(f.cohort_d, '%Y-%m-%d') AS cohort_day,
       CAST(datediff('day', f.cohort_d, days.d) AS BIGINT) AS day_offset,
       CAST(count(*) AS BIGINT) AS users
FROM days JOIN firsts f USING (user_id)
GROUP BY 1, 2
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-to-event TRANSITION counts — the Markov/path matrix
    behind flow ("Sankey") analysis and the generalization of the
    reference's T3 jump-out detector (which is exactly the
    view→no-follow-up transition): for each user's event sequence in
    (ts, event_id) order, count each (prev_type → type) step corpus-wide.

    Scale shape: ONE window shuffle keyed on the user (per-user state is
    a single lag, the same per-key discipline as the T1-T3 state
    machines), then a bounded-key (from_type, to_type) partial-agg count
    — |types|² output rows regardless of corpus size.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    return steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("transitions"),
        F.countDistinct("user_id").alias("users"),
    )


ORACLE_EVENT_TRANSITIONS = """
WITH steps AS (
    SELECT user_id,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
           event_type AS to_type
    FROM events
)
SELECT from_type, to_type,
       CAST(count(*) AS BIGINT) AS transitions,
       count(DISTINCT user_id) AS users
FROM steps
WHERE from_type IS NOT NULL
GROUP BY 1, 2
"""


RFM_BUCKETS = 4


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value cube: per customer,
    Recency (days since last order), Frequency (order count), Monetary
    (total spend) each quartile-bucketed by ntile, concatenated into the
    segment label ("4-4-4" = best). Deterministic: every ntile ordering
    carries the customer key as tiebreak, so equal metrics cannot float
    between buckets across engines or runs.

    Scale shape: one partial-agg pass to per-customer RFM; the three
    ntile windows are GLOBAL orderings, which Spark executes on a single
    partition — acceptable because the input is the already-reduced
    per-customer table, but at extreme customer counts the production
    swap is quantile thresholds from approx_percentile (or the
    histogram-quantile plan of curation_adaptive_quality_filter) applied
    as a narrow map; the segment semantics are unchanged. Final segment
    rollup is a bounded-key count.
    """
    orders = load(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast(MONEY)).alias("mon_dec"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("mx", "last_d").cast("long").alias("recency_days"),
            "freq",
            "mon_dec",
        )
    )
    wr = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    wf = Window.orderBy(F.desc("freq"), F.asc("o_custkey"))
    wm = Window.orderBy(F.desc("mon_dec"), F.asc("o_custkey"))
    scored = per.select(
        "o_custkey",
        F.ntile(RFM_BUCKETS).over(wr).alias("r"),
        F.ntile(RFM_BUCKETS).over(wf).alias("f"),
        F.ntile(RFM_BUCKETS).over(wm).alias("m"),
    )
    return (
        scored.groupBy(
            F.concat_ws("-", "r", "f", "m").alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.min("o_custkey").alias("sample_cust"),
        )
    )


ORACLE_RFM_SEGMENTS = f"""
WITH per AS (
    SELECT o_custkey,
           datediff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders)) AS recency_days,
           count(*) AS freq,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT o_custkey,
           ntile({RFM_BUCKETS}) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r,
           ntile({RFM_BUCKETS}) OVER (ORDER BY freq DESC, o_custkey ASC) AS f,
           ntile({RFM_BUCKETS}) OVER (ORDER BY mon_dec DESC, o_custkey ASC) AS m
    FROM per
)
SELECT concat(r, '-', f, '-', m) AS segment,
       CAST(count(*) AS BIGINT) AS customers,
       min(o_custkey) AS sample_cust
FROM scored
GROUP BY 1
"""


NEG_SEED = "neg11:"
NEG_K = 2  # negatives drawn per positive pair
NEG_USER_CAP = 100  # deterministic user slice keeping the output bounded


def negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING — the missing half of every
    implicit-feedback recommender training set: for each (user, part)
    purchase positive, draw NEG_K parts the user did NOT buy. Candidates
    come from a seeded md5 of (user, part, k) mapped onto a dense part
    rank — so retries, re-partitions, and both engines produce the SAME
    negatives (rand() cannot) — and accidental positives are removed by
    an anti-join against the user's purchase set.

    Scale shape: positives are one equi-join + distinct; the candidate
    fan-out is a narrow map (explode k=1..K, one md5 each, no shuffle);
    the rank→part mapping is a BROADCAST join against the ranked part
    dim (the only window is row_number over that bounded dim table,
    never over facts); the positive filter is a keyed anti-join. Output
    is capped to a deterministic user slice (o_custkey < NEG_USER_CAP) —
    at production scale you drop the cap and the plan is unchanged.
    Collision note: a drawn candidate that hits a positive is DROPPED,
    not redrawn (expected loss |positives|·K/|parts| — negligible), so
    the pipeline stays one-pass.
    """
    pos_all = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    pos = pos_all.filter(F.col("user_id") < NEG_USER_CAP)
    parts = load(spark, sf_dir, "part").select("p_partkey")
    n_parts = parts.agg(F.count(F.lit(1)).alias("n_parts"))
    wrank = Window.orderBy("p_partkey")  # bounded dim table: global sort is fine
    ranked = parts.select(
        (F.row_number().over(wrank) - 1).cast("long").alias("rnk"), "p_partkey"
    )
    cand = (
        pos.select("user_id", "part", F.explode(F.expr(f"sequence(1, {NEG_K})")).alias("k"))
        .crossJoin(F.broadcast(n_parts))
        .select(
            "user_id",
            "part",
            "k",
            F.expr(
                f"cast(conv(substring(md5(concat('{NEG_SEED}',"
                f" CAST(user_id AS STRING), ':', CAST(part AS STRING), ':',"
                f" CAST(k AS STRING))), 1, 12), 16, 10) as bigint) % n_parts"
            ).alias("rnk"),
        )
    )
    with_part = cand.join(F.broadcast(ranked), "rnk").select(
        "user_id", "part", "k", F.col("p_partkey").alias("neg_part")
    )
    return with_part.join(
        pos_all.select(
            F.col("user_id").alias("u2"), F.col("part").alias("p2")
        ),
        (F.col("user_id") == F.col("u2")) & (F.col("neg_part") == F.col("p2")),
        "left_anti",
    ).select("user_id", "part", "k", "neg_part")


ORACLE_NEGATIVE_SAMPLES = f"""
WITH pos_all AS (
    SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS part
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
pos AS (SELECT * FROM pos_all WHERE user_id < {NEG_USER_CAP}),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part),
ranked AS (
    SELECT CAST(row_number() OVER (ORDER BY p_partkey) - 1 AS BIGINT) AS rnk,
           p_partkey
    FROM part
),
cand AS (
    SELECT user_id, part, k,
           CAST(('0x' || substring(md5('{NEG_SEED}' || CAST(user_id AS VARCHAR)
                || ':' || CAST(part AS VARCHAR) || ':' || CAST(k AS VARCHAR)),
                1, 12))::UBIGINT % n.n_parts AS BIGINT) AS rnk
    FROM pos, n, (SELECT unnest(range(1, {NEG_K} + 1)) AS k)
)
SELECT c.user_id, c.part, CAST(c.k AS BIGINT) AS k, r.p_partkey AS neg_part
FROM cand c
JOIN ranked r ON c.rnk = r.rnk
WHERE NOT EXISTS (
    SELECT 1 FROM pos_all p
    WHERE p.user_id = c.user_id AND p.part = r.p_partkey
)
"""


ATTR_WINDOW_S = 3600  # last-touch lookback: 1h, same bound as the timed funnel


def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION — the standard marketing rollup the timed
    funnel feeds: every purchase is credited to the user's most recent
    prior NON-purchase event (the touchpoint) if it landed within
    ATTR_WINDOW_S; otherwise 'direct'. Output is the per-channel ledger:
    conversions and attributed revenue cents (integer-exact).

    Scale shape: ONE per-user window (the carry of the latest touchpoint
    type/time over a strictly-prior frame) and a bounded-key channel
    rollup — the same union-sort-carry discipline as the PIT feature
    join, never a per-purchase range join back into the event stream.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_type = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    touch_us = F.last(
        F.when(F.col("event_type") != "purchase", F.col("us")),
        ignorenulls=True,
    ).over(w)
    attributed = (
        ev.select(
            "user_id",
            "event_type",
            "us",
            "cents",
            touch_type.alias("t_type"),
            touch_us.alias("t_us"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("t_us") >= F.col("us") - ATTR_WINDOW_S * 1_000_000,
                F.col("t_type"),
            )
            .otherwise("direct")
            .alias("channel"),
            "cents",
        )
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("conversions"),
        F.sum("cents").alias("revenue_cents"),
    )


ORACLE_LAST_TOUCH_ATTRIBUTION = f"""
WITH ev AS (
    SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events
),
carried AS (
    SELECT user_id, event_type, us, cents,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                      IGNORE NULLS) OVER w AS t_type,
           last_value(CASE WHEN event_type <> 'purchase' THEN us END
                      IGNORE NULLS) OVER w AS t_us
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT CASE WHEN t_us >= us - {ATTR_WINDOW_S * 1_000_000} THEN t_type
            ELSE 'direct' END AS channel,
       CAST(count(*) AS BIGINT) AS conversions,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM carried
WHERE event_type = 'purchase'
GROUP BY 1
"""


SESSION_GAP_S = 1800  # same 30-min gap as dws.session_stats


def session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SCOPED transition matrix — event_transitions with the
    correct flow-analysis boundary: a step only counts when both events
    belong to the SAME session (gap ≤ 30 min), so an overnight return
    does not fabricate a yesterday→today "path". This is what Sankey /
    flow UIs actually draw; the unscoped matrix overcounts exactly at
    session edges.

    Scale shape: ONE per-user sort carries all three windows (gap flag
    lag, session-id running sum, the within-session lag) — Spark plans
    them over a single (user_id)-keyed exchange; then the bounded-key
    (from, to) rollup. Same cost as the unscoped matrix.
    """
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.lag(us).over(w).isNull()
            | ((us - F.lag(us).over(w)) > SESSION_GAP_S * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("sid", F.sum("is_start").over(wcum))
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    steps = sess.select(
        "user_id",
        F.lag("event_type").over(ws).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    return steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("transitions"),
        F.countDistinct("user_id").alias("users"),
    )


ORACLE_SESSION_TRANSITIONS = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_S * 1_000_000}
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM flagged
),
steps AS (
    SELECT user_id,
           lag(event_type) OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS from_type,
           event_type AS to_type
    FROM sess
)
SELECT from_type, to_type,
       CAST(count(*) AS BIGINT) AS transitions,
       count(DISTINCT user_id) AS users
FROM steps
WHERE from_type IS NOT NULL
GROUP BY 1, 2
"""


PATHS_TOP_N = 20


def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event TRIGRAM paths — the 3-step generalization of the
    transition matrix (what Sankey/path-exploration UIs actually draw):
    per user, each consecutive (a -> b -> c) step triple in (ts,
    event_id) order, counted corpus-wide, top-N by support.

    Scale shape: the SAME single per-user window shuffle as
    event_transitions (two lags ride one sort), a bounded-key
    (|types|³ ceiling) partial-agg count, and TakeOrderedAndProject.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.lag("event_type", 2).over(w).alias("step1"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.col("event_type").alias("step3"),
    ).filter(F.col("step1").isNotNull())
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("ct"))
        .orderBy(F.desc("ct"), F.asc("step1"), F.asc("step2"), F.asc("step3"))
        .limit(PATHS_TOP_N)
    )


ORACLE_TOP_EVENT_PATHS = f"""
WITH tri AS (
    SELECT lag(event_type, 2) OVER w AS step1,
           lag(event_type, 1) OVER w AS step2,
           event_type AS step3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS ct
FROM tri
WHERE step1 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY ct DESC, step1 ASC, step2 ASC, step3 ASC
LIMIT {PATHS_TOP_N}
"""


def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature join — the feature-store primitive every
    leakage-free ML training set needs: for each order (the training
    example), attach the customer's behavioral features (view count,
    purchase count, event-value cents) computed over events STRICTLY
    BEFORE the order date. Joining "features as of label time" naively
    (plain user join + time filter) recomputes per-order aggregates;
    joining current features leaks the future into training.

    Scale shape — the union-sort-carry as-of plan, not a range join:
    events partial-aggregate to one row per (user, day); a per-user
    window turns those into cumulative features (one keyed shuffle);
    order probes UNION with the feature rows and a single per-user
    window carries the last cumulative row forward onto each probe
    (probes sort BEFORE the same day's feature row, so a day-d order
    sees features through day d-1 — the leakage boundary, pinned by a
    hand test). Total cost: two keyed shuffles, zero range joins, zero
    per-order re-aggregation; the same plan at 100 TB is the standard
    "combine and carry" as-of used by feature stores. Customers with no
    telemetry coalesce to zero-features rather than dropping rows.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("dv"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("dp"),
        F.sum(F.col("value").cast(MONEY)).alias("dval"),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    feats = daily.select(
        "user_id",
        "d",
        F.lit(1).alias("kind"),  # feature rows sort AFTER same-day probes
        F.lit(None).cast("long").alias("o_orderkey"),
        F.sum("dv").over(wcum).alias("cv"),
        F.sum("dp").over(wcum).alias("cp"),
        F.expr("cast(sum(dval) OVER (PARTITION BY user_id ORDER BY d"
               " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
               " * 100 as bigint)").alias("cval_cents"),
    )
    probes = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.to_date("o_orderdate").alias("d"),
        F.lit(0).alias("kind"),
        "o_orderkey",
        F.lit(None).cast("long").alias("cv"),
        F.lit(None).cast("long").alias("cp"),
        F.lit(None).cast("long").alias("cval_cents"),
    )
    wcarry = (
        Window.partitionBy("user_id")
        .orderBy("d", "kind", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = feats.unionByName(probes).select(
        "user_id",
        "kind",
        "o_orderkey",
        F.last("cv", ignorenulls=True).over(wcarry).alias("views_before"),
        F.last("cp", ignorenulls=True).over(wcarry).alias("purchases_before"),
        F.last("cval_cents", ignorenulls=True).over(wcarry).alias("value_cents_before"),
    )
    return carried.filter(F.col("kind") == 0).select(
        "o_orderkey",
        "user_id",
        F.coalesce("views_before", F.lit(0)).alias("views_before"),
        F.coalesce("purchases_before", F.lit(0)).alias("purchases_before"),
        F.coalesce("value_cents_before", F.lit(0)).alias("value_cents_before"),
    )


ORACLE_PIT_FEATURE_JOIN = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS dv,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS dp,
           sum(CAST(value AS DECIMAL(18,2))) AS dval
    FROM events GROUP BY 1, 2
),
feats AS (
    SELECT user_id, d, 1 AS kind, CAST(NULL AS BIGINT) AS o_orderkey,
           CAST(sum(dv) OVER w AS BIGINT) AS cv,
           CAST(sum(dp) OVER w AS BIGINT) AS cp,
           CAST(sum(dval) OVER w * 100 AS BIGINT) AS cval_cents
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
probes AS (
    SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS d, 0 AS kind,
           o_orderkey, CAST(NULL AS BIGINT) AS cv, CAST(NULL AS BIGINT) AS cp,
           CAST(NULL AS BIGINT) AS cval_cents
    FROM orders
),
carried AS (
    SELECT user_id, kind, o_orderkey,
           last_value(cv IGNORE NULLS) OVER w AS views_before,
           last_value(cp IGNORE NULLS) OVER w AS purchases_before,
           last_value(cval_cents IGNORE NULLS) OVER w AS value_cents_before
    FROM (SELECT * FROM feats UNION ALL BY NAME SELECT * FROM probes)
    WINDOW w AS (PARTITION BY user_id ORDER BY d, kind, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT o_orderkey, user_id,
       COALESCE(views_before, 0) AS views_before,
       COALESCE(purchases_before, 0) AS purchases_before,
       COALESCE(value_cents_before, 0) AS value_cents_before
FROM carried
WHERE kind = 0
"""


RFM_MON_BAND_CENTS = 10_000  # $100 monetary bands — the quantization grid


def rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation WITHOUT global sorts — the production twin of
    rfm_segments: quartile boundaries come from the histogram-quantile
    plan (the same shape proven by curation_adaptive_quality_filter)
    instead of three ntile windows over the whole customer table, and
    buckets apply as a narrow map against three broadcast 1-row
    threshold tables. The "approx" is a deterministic, engine-portable
    quantization: monetary is banded to $100 cells before its histogram
    (recency and frequency domains are already bounded — calendar days
    and small order counts), so ties share a bucket instead of being
    split by customer-key tiebreak as ntile does. Segment semantics are
    otherwise unchanged: r/f/m ∈ 1..4, higher is better, label "r-f-m".

    Scale shape (the point of the twin): per-customer RFM is one
    partial-agg pass; each metric's histogram is a partial-agg count
    over its BOUNDED value domain (days/counts/$100 bands — thousands of
    rows regardless of customer count), the cumulative walk runs over
    that small table only, and the thresholds collapse to one broadcast
    row each. No operator in the plan sorts anything proportional to the
    customer count — at 10^9 customers the three ntile windows of
    rfm_segments each funnel the full table through one partition; this
    plan's only windows are over the bounded histograms.
    """
    orders = load(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast(MONEY)).alias("mon_dec"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("mx", "last_d").cast("long").alias("rec"),
            F.col("freq").cast("long").alias("freq"),
            # cents are integral-valued DECIMAL: the bigint cast is exact in
            # both engines (DuckDB ROUNDS fractional casts, Spark truncates —
            # integral values sidestep the divergence), then $100 banding
            F.expr(
                f"cast(mon_dec * 100 as bigint) DIV {RFM_MON_BAND_CENTS}"
            ).alias("mon_band"),
        )
        # per feeds FIVE consumers (total, three histograms, the bucket
        # map) and exchange reuse does not dedupe them (measured 14
        # scans of orders without this) — materialize the reduced
        # per-customer table once
        .localCheckpoint(eager=True)
    )
    n_row = per.agg(F.count(F.lit(1)).alias("n"))

    def thresholds(metric: str) -> DataFrame:
        hist = per.groupBy(metric).agg(F.count(F.lit(1)).alias("c"))
        wcum = Window.orderBy(F.asc(metric)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = hist.withColumn("cum", F.sum("c").over(wcum)).crossJoin(
            F.broadcast(n_row)
        )
        # t_k = smallest value whose cumulative count reaches the k-th
        # quartile; cum is nondecreasing in the metric so MIN picks the
        # crossing band. All-integer, hence identical in DuckDB.
        return cum.agg(
            *[
                F.min(
                    F.when(4 * F.col("cum") >= k * F.col("n"), F.col(metric))
                ).alias(f"{metric}_t{k}")
                for k in (1, 2, 3)
            ]
        )

    def bucket(metric: str) -> str:
        return "(1 + " + " + ".join(
            f"(CASE WHEN {metric} > {metric}_t{k} THEN 1 ELSE 0 END)"
            for k in (1, 2, 3)
        ) + ")"

    scored = (
        per.crossJoin(F.broadcast(thresholds("rec")))
        .crossJoin(F.broadcast(thresholds("freq")))
        .crossJoin(F.broadcast(thresholds("mon_band")))
        .select(
            "o_custkey",
            # recency: LOWER is better → invert the ascending bucket
            F.expr(f"5 - {bucket('rec')}").alias("r"),
            F.expr(bucket("freq")).alias("f"),
            F.expr(bucket("mon_band")).alias("m"),
        )
    )
    return scored.groupBy(
        F.concat_ws("-", "r", "f", "m").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("customers"),
        F.min("o_custkey").alias("sample_cust"),
    )


def _oracle_rfm_approx() -> str:
    def hist_ctes(metric: str) -> str:
        return f"""{metric}_h AS (
    SELECT {metric} AS v, count(*) AS c FROM per GROUP BY 1
),
{metric}_c AS (
    SELECT v, sum(c) OVER (ORDER BY v ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM {metric}_h
),
{metric}_t AS (
    SELECT min(CASE WHEN 4 * cum >= 1 * n.n THEN v END) AS t1,
           min(CASE WHEN 4 * cum >= 2 * n.n THEN v END) AS t2,
           min(CASE WHEN 4 * cum >= 3 * n.n THEN v END) AS t3
    FROM {metric}_c, n
)"""

    def bucket(metric: str) -> str:
        return "(1 + " + " + ".join(
            f"(CASE WHEN per.{metric} > {metric}_t.t{k} THEN 1 ELSE 0 END)"
            for k in (1, 2, 3)
        ) + ")"

    return f"""
WITH per AS (
    SELECT o_custkey,
           CAST(datediff('day', max(o_orderdate),
                (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS rec,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               // {RFM_MON_BAND_CENTS} AS mon_band
    FROM orders GROUP BY o_custkey
),
n AS (SELECT count(*) AS n FROM per),
{hist_ctes('rec')},
{hist_ctes('freq')},
{hist_ctes('mon_band')},
scored AS (
    SELECT per.o_custkey,
           5 - {bucket('rec')} AS r,
           {bucket('freq')} AS f,
           {bucket('mon_band')} AS m
    FROM per, rec_t, freq_t, mon_band_t
)
SELECT concat(r, '-', f, '-', m) AS segment,
       CAST(count(*) AS BIGINT) AS customers,
       min(o_custkey) AS sample_cust
FROM scored
GROUP BY 1
"""


ORACLE_RFM_SEGMENTS_APPROX = _oracle_rfm_approx()


ASSOC_SCALE = 1000


def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association RULES over the co-purchase pairs — the Apriori output
    table (support, confidence, lift), integer-exact: for each frequent
    ordered pair a→b, confidence = P(b|a) = pair_ct/item_ct(a) and lift =
    P(ab)/(P(a)P(b)) = pair_ct * n_orders / (ct(a) * ct(b)), both x1000
    with DIV. Extends ads_copurchase_pairs from counts to decisions (the
    same upgrade collocations_lift makes over bigram_counts).

    Exactness domain: BIGINT-exact while 1000 * pair_ct * n_orders and
    ct(a) * ct(b) stay under 2^63 — comfortable through billion-order
    catalogs, but NOT at the extreme tail (DECIMAL floor-division is not
    portable between the engines: Spark DIV wraps on decimal overflow
    while DuckDB // goes float, so widening is not a parity-safe fix).
    Past that bound, production pre-divides per-item probabilities at a
    fixed 1e6 scale on the already-reduced item table, trading exactness
    for range the same way log-PMI does.

    Scale shape: basket-bounded order-keyed self-join for pairs (see
    copurchase), one partial-agg item-support table joined twice on the
    item key, a 1-row broadcast total. Support floor prunes before joins.
    """
    # the basket table feeds three consumers (item support, order total,
    # pair generation) — materialize once. r15: baskets replace the
    # distinct (order, part) table + order-keyed self-join (see
    # _order_baskets/_basket_pair_rows): item support is an explode over
    # the checkpointed sets, the order total a bare count, and the pair
    # table is generated map-side — one exchange (the pair_ct groupBy)
    # where the join shape paid three plus a sort-merge join.
    baskets = _order_baskets(spark, sf_dir).localCheckpoint(eager=True)
    item_ct = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("ict"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_ord"))
    pairs = (
        _basket_pair_rows(baskets, "ante", "cons", canonical=False)
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("pair_ct"))
        .filter(F.col("pair_ct") >= COPURCHASE_MIN_CT)
    )
    ia = item_ct.select(F.col("l_partkey").alias("ante"), F.col("ict").alias("ante_ct"))
    ib = item_ct.select(F.col("l_partkey").alias("cons"), F.col("ict").alias("cons_ct"))
    return (
        pairs.join(ia, "ante")
        .join(ib, "cons")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            "pair_ct",
            F.expr(f"({ASSOC_SCALE} * pair_ct) DIV ante_ct").alias("confidence_x1000"),
            F.expr(f"({ASSOC_SCALE} * pair_ct * n_ord) DIV (ante_ct * cons_ct)").alias(
                "lift_x1000"
            ),
        )
    )


ORACLE_ASSOCIATION_RULES = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
item_ct AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS ict FROM li GROUP BY 1),
n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_ord FROM li),
pairs AS (
    SELECT a.l_partkey AS ante, b.l_partkey AS cons,
           CAST(count(*) AS BIGINT) AS pair_ct
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {COPURCHASE_MIN_CT}
)
SELECT p.ante, p.cons, p.pair_ct,
       CAST(({ASSOC_SCALE} * p.pair_ct) // ia.ict AS BIGINT) AS confidence_x1000,
       CAST(({ASSOC_SCALE} * p.pair_ct * n_ord) // (ia.ict * ib.ict) AS BIGINT) AS lift_x1000
FROM pairs p
JOIN item_ct ia ON p.ante = ia.l_partkey
JOIN item_ct ib ON p.cons = ib.l_partkey
CROSS JOIN n_orders
"""


TIMED_FUNNEL_WINDOW_S = 3600  # conversion must land within 1h of first view


def timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-CONSTRAINED conversion funnel — the batch face of Flink CEP's
    ``.within()`` (the reference's jump-out pattern uses within(10s),
    UserJumpDetailApp): a user converts only if a purchase lands within
    TIMED_FUNNEL_WINDOW_S of their FIRST view. Unbounded funnels
    (ads_conversion_funnel) overstate conversion; the windowed form is
    what attribution actually uses.

    Scale shape: first-view is one partial-agg min per user; the
    purchase probe is a user-keyed equi-join with the time bound as a
    residual predicate (never a time-range cross join); the report is a
    1-row integer ledger with a HALF_UP-x100 rate — hash-exact.
    """
    ev = load(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("v_us"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    conv = (
        views.join(pur, "user_id")
        .filter(
            (F.col("p_us") > F.col("v_us"))
            & (F.col("p_us") <= F.col("v_us") + TIMED_FUNNEL_WINDOW_S * 1_000_000)
        )
        .select("user_id")
        .distinct()
    )
    n_v = views.agg(F.count(F.lit(1)).alias("viewed"))
    n_c = conv.agg(F.count(F.lit(1)).alias("converted"))
    # zero-view guard: under Spark's ANSI mode DIV by 0 throws while
    # DuckDB's // yields NULL — make both NULL explicitly (empty-input
    # doctrine: degrade, never crash)
    return n_v.crossJoin(n_c).select(
        "viewed",
        "converted",
        F.expr(
            "CASE WHEN viewed = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE (200 * converted + viewed) DIV (2 * viewed) END"
        ).alias("conv_rate_x100"),
    )


ORACLE_TIMED_FUNNEL = f"""
WITH views AS (
    SELECT user_id, min(epoch_us(ts)) AS v_us FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
    SELECT DISTINCT v.user_id
    FROM views v JOIN events e
      ON e.user_id = v.user_id AND e.event_type = 'purchase'
     AND epoch_us(e.ts) > v.v_us
     AND epoch_us(e.ts) <= v.v_us + {TIMED_FUNNEL_WINDOW_S * 1_000_000}
)
SELECT CAST((SELECT count(*) FROM views) AS BIGINT) AS viewed,
       CAST((SELECT count(*) FROM conv) AS BIGINT) AS converted,
       CAST(CASE WHEN (SELECT count(*) FROM views) = 0 THEN NULL
            ELSE (200 * (SELECT count(*) FROM conv) + (SELECT count(*) FROM views))
                 // (2 * (SELECT count(*) FROM views)) END AS BIGINT) AS conv_rate_x100
"""


PR_SCALE = 1_000_000  # integer-scaled PageRank mass
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as integer ratio
PR_ROUNDS = 3
PR_TOP_N = 20


def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, parts) — the DISTINCT part set per order, the basket
    table every co-purchase consumer derives from. ONE shuffle builds it,
    and collect_set partial-aggregates map-side, so the exchange carries
    ~one row per (order × map partition) instead of every lineitem row
    (guide §2.3: aggregate before you shuffle). Basket cardinality is
    bounded by order size (single-digit in TPC-H-shaped data), so the
    per-row set is small by construction at any scale factor.

    NO spread_small_scan on the single-row-group fixture scan (r16,
    measured interleaved at sf0.1): the map-side partial collect_set
    compresses 600 k lineitem rows to ~147 k basket rows INSIDE the one
    scan task before the exchange; an injected repartition ships the
    raw rows instead and lost more than the parallel aggregation won
    (association_rules 2.37 s spread vs 1.97 unspread, triangles 2.54
    vs 1.93; pagerank_deep alone read -9 %, within noise)."""
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )


def _basket_pair_rows(baskets: DataFrame, u: str, v: str, canonical: bool) -> DataFrame:
    """One (u, v) row per co-purchased part pair per basket, generated
    MAP-SIDE from the basket array (an O(basket²) lambda over a bounded
    array) — replaces the order-keyed self-join of the distinct
    (order, part) table, which shuffled the basket rows twice (once for
    the distinct, once for the join) and paid a sort-merge join to
    produce the exact same multiset (guide §2.4: remove shuffles
    outright). ``canonical`` emits each unordered pair once (x < y);
    otherwise both directions (x ≠ y). Per-basket dedup is inherited
    from collect_set, matching the DISTINCT-baskets join semantics."""
    op = "<" if canonical else "!="
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts,"
                f" x -> transform(filter(parts, y -> x {op} y),"
                f" y -> struct(x AS {u}, y AS {v}))))"
            )
        ).alias("p")
    ).select(f"p.{u}", f"p.{v}")


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, canonical: bool = False
) -> DataFrame:
    """The co-purchase edge list every graph operator shares: per-order
    basket sets, map-side pair generation, COPURCHASE_MIN_CT support
    floor. ``canonical=False`` returns both directions as (src, dst) —
    the PageRank/BFS form; ``canonical=True`` returns one row per
    undirected edge with u < v — the triangle form. Always eagerly
    checkpointed: the list feeds multiple consumers (degree table,
    propagation rounds, wedge closure) and exchange reuse does not
    dedupe it (measured 14-22 lineitem scans across the graph family
    before this was materialized once). r15: the former distinct +
    order-keyed self-join (2 shuffles + SMJ before the pair count) is
    now _order_baskets + _basket_pair_rows — 2 partial-aggregated
    exchanges total and zero joins, same pair multiset."""
    u, v = ("u", "v") if canonical else ("src", "dst")
    return (
        _basket_pair_rows(_order_baskets(spark, sf_dir), u, v, canonical)
        .groupBy(u, v)
        .agg(F.count(F.lit(1)).alias("ct"))
        .filter(F.col("ct") >= COPURCHASE_MIN_CT)
        .select(u, v)
        .localCheckpoint(eager=True)
    )


_PR_STEP_FORMULA = (
    f"cast({PR_SCALE} * ({PR_DAMP_DEN} - {PR_DAMP_NUM}) DIV {PR_DAMP_DEN}"
    f" + ({PR_DAMP_NUM} * inflow) DIV {PR_DAMP_DEN} as bigint)"
)


def _pr_round(pr: DataFrame, und: DataFrame) -> DataFrame:
    """ONE integer-exact PageRank round as a union-aggregate, shared by
    the declarative 3-round entry and the persisted 10-round production
    twin. r15 shape (guide §2.4): the former round was contrib =
    (pr ⋈ und on src → groupBy dst) followed by nodes LEFT JOIN contrib
    — an edge-sized exchange plus a second node-keyed join per round.
    Here the dangling-mass base case rides the SAME aggregation instead:
    a zero-share seed row per node (carrying deg) unions with the
    map-side share rows and ONE groupBy(part) produces the new vector —
    sum(share) ≡ coalesce(inflow, 0) because every node seeds exactly
    once, max(deg) picks the seed's deg (share rows carry NULL). Per
    round: one broadcast/equi join on src + one partially-aggregated
    exchange; the per-round left join is gone.

    PRECONDITION (ADVICE r15): ``und`` must be SYMMETRIC (both edge
    directions present, i.e. _copurchase_edges(canonical=False)) so
    that dst ⊆ src and the seed rows cover every node that receives
    mass. With a canonical/directed edge list, dst-only nodes would
    enter the vector with deg=NULL and 'pr DIV deg' would propagate
    NULLs in the next round — the old nodes-LEFT-JOIN shape could not
    do this. tests/test_analytics_ops.py::
    test_copurchase_edges_symmetric pins the precondition at the
    producer."""
    contrib = (
        pr.select(F.col("part").alias("src"), F.expr("pr DIV deg").alias("share"))
        .join(und, "src")
        .select(
            F.col("dst").alias("part"),
            F.lit(None).cast("long").alias("deg"),
            "share",
        )
    )
    seed = pr.select("part", "deg", F.lit(0).cast("long").alias("share"))
    return (
        seed.unionByName(contrib)
        .groupBy("part")
        .agg(F.max("deg").alias("deg"), F.sum("share").alias("inflow"))
        .select("part", "deg", F.expr(_PR_STEP_FORMULA).alias("pr"))
    )


def release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's storage once nothing reads it: an
    INTERMEDIATE one once its child has materialized — the iterative-loop
    hygiene that keeps 10 rounds from holding 10 ephemeral copies of the
    rank vector (guide §5: unpersist when done) — or a superseded
    ``plans.api`` stats table. Best-effort by design: it reaches through
    the LogicalRDD to the checkpointed RDD, and if the internals move,
    GC + the ContextCleaner's weak-reference sweep remain the fallback."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph, INTEGER-exact — the iterative
    graph-centrality member of the analytics surface (beyond
    dedup_connected_components' label propagation): edges are co-purchase
    pairs (both directions), PR mass is x1e6-scaled BIGINT, and each of
    PR_ROUNDS rounds computes pr' = (1-d)*SCALE + d * Σ pr(u) DIV deg(u)
    entirely in integer arithmetic (DIV), so the fixpoint trajectory is
    bit-identical in both engines — no float mass to drift.

    Scale shape (the Pregel-in-SQL pattern): per round one equi-join of
    the rank vector to the edge list keyed on the SOURCE plus one
    partial-agg sum keyed on the DESTINATION — the classic two-shuffle
    PageRank step; the degree table joins once. Rounds unroll
    declaratively (at production round counts, persist each vector like
    the k-means loop). Output is the top-N central parts.
    """
    # shared checkpointed edge list; the ROUNDS stay declaratively
    # unrolled, which is this entry's identity (the persisted-per-round
    # production form is ads_part_pagerank_deep); each round is the
    # shared _pr_round union-aggregate (one exchange per round)
    und = _copurchase_edges(spark, sf_dir)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("part"), "deg")
    pr = nodes.select("part", "deg", F.lit(PR_SCALE).cast("long").alias("pr"))
    for _ in range(PR_ROUNDS):
        pr = _pr_round(pr, und)
    return (
        pr.select("part", F.col("pr").alias("pr_x1e6"))
        .orderBy(F.desc("pr_x1e6"), F.asc("part"))
        .limit(PR_TOP_N)
    )


def _oracle_part_pagerank(rounds: int = PR_ROUNDS) -> str:
    stages = [
        f"""und AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {COPURCHASE_MIN_CT}
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
nodes AS (SELECT src AS part, deg FROM deg),
pr0 AS (SELECT part, deg, CAST({PR_SCALE} AS BIGINT) AS pr FROM nodes)"""
    ]
    for k in range(1, rounds + 1):
        stages.append(
            f"""c{k} AS (
    SELECT und.dst AS part, sum(p.pr // p.deg) AS inflow
    FROM pr{k - 1} p JOIN und ON p.part = und.src
    GROUP BY 1
),
pr{k} AS (
    SELECT n.part, n.deg,
           CAST({PR_SCALE} * ({PR_DAMP_DEN} - {PR_DAMP_NUM}) // {PR_DAMP_DEN}
                + ({PR_DAMP_NUM} * COALESCE(c{k}.inflow, 0)) // {PR_DAMP_DEN}
                AS BIGINT) AS pr
    FROM nodes n LEFT JOIN c{k} ON n.part = c{k}.part
)"""
        )
    return (
        "WITH "
        + ",\n".join(stages)
        + f"""
SELECT part, pr AS pr_x1e6 FROM pr{rounds}
ORDER BY pr_x1e6 DESC, part ASC
LIMIT {PR_TOP_N}
"""
    )


ORACLE_PART_PAGERANK = _oracle_part_pagerank()

PR_ROUNDS_DEEP = 10


def part_pagerank_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank at PRODUCTION round counts — the persisted-iteration twin
    of part_pagerank: same integer-exact update rule, PR_ROUNDS_DEEP
    rounds, each round the shared _pr_round union-aggregate (one
    exchange per round; the per-round nodes left join is gone, r15).
    Declarative unrolling at 10+ rounds would nest the round step
    tenfold into one plan — the lineage (and recompute-on-retry cost)
    grows with round count, which is exactly what kills unpersisted
    iterative jobs at scale. r15 materialization discipline: each
    round's vector is eagerly localCheckpoint-ed (truncating the
    LOGICAL plan to a LogicalRDD scan — the former persist+count kept
    the full logical lineage, so Catalyst re-analyzed an O(round)-deep
    tree every round: measured rounds 0.55 s → 1.5 s growing at sf0.1,
    flat ~0.27 s after) and the parent vector's checkpoint storage is
    released as soon as its child materializes
    (release_local_checkpoint — the k-means/BPE loop discipline,
    guide §5). Plan size stays CONSTANT per round (plan-gated in
    tests/test_plans.py); the final 20-row top-N is eagerly
    localCheckpoint-ed so every round vector can be dropped before
    returning. Oracle: the same 10 rounds unrolled as CTE stages —
    integer DIV arithmetic makes the full trajectory bit-identical.

    Reliability trade (VERDICT r15): localCheckpoint is NOT
    fault-tolerant — the truncated lineage lives in executor block
    storage, so an executor loss mid-iteration fails the job instead
    of recomputing. At 100 TB round counts a production deployment
    sets a checkpoint dir and uses reliable checkpoint() every few
    rounds (or persists to the lake); per-round localCheckpoint is the
    right single-JVM/bench shape, where "executor loss" means the
    driver died anyway.
    """
    # shared edge list, already eagerly checkpointed by the helper
    und = _copurchase_edges(spark, sf_dir)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pr = deg.select(
        F.col("src").alias("part"), "deg", F.lit(PR_SCALE).cast("long").alias("pr")
    ).localCheckpoint(eager=True)
    for _ in range(PR_ROUNDS_DEEP):
        nxt = _pr_round(pr, und).localCheckpoint(eager=True)
        release_local_checkpoint(pr)
        pr = nxt
    # 20-row result, eagerly materialized so releasing the final vector
    # cannot trigger a recompute later
    out = (
        pr.select("part", F.col("pr").alias("pr_x1e6"))
        .orderBy(F.desc("pr_x1e6"), F.asc("part"))
        .limit(PR_TOP_N)
        .localCheckpoint(eager=True)
    )
    release_local_checkpoint(pr)
    return out


ORACLE_PART_PAGERANK_DEEP = _oracle_part_pagerank(PR_ROUNDS_DEEP)

BFS_HOPS = 3


def part_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS over the co-purchase graph — the frontier-
    propagation member of the graph family (complementing min-label
    components and mass-passing PageRank): hop distance from the SEED
    part (the maximum-degree node, ties to the smaller id — a
    deterministic anchor that lands in the giant component, so the
    neighborhood is non-trivial at every scale factor) to every part
    reachable within BFS_HOPS hops. The "products within N
    recommendation hops" neighborhood query.

    Scale shape: each hop is ONE equi-join of the current distance
    table to the edge list keyed on the source plus a min-aggregation on
    the destination — never a frontier broadcast (frontiers can be
    corpus-sized) and never recursion in the engine. The edge list
    materializes once (checkpoint, multi-consumer lesson); rounds unroll
    declaratively at this bounded hop count.
    """
    und = _copurchase_edges(spark, sf_dir)
    seed = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.desc("dg"), F.asc("src"))
        .limit(1)
        .select(F.col("src").alias("part"))
    )
    dist = F.broadcast(seed).select("part", F.lit(0).cast("long").alias("d"))
    for _ in range(BFS_HOPS):
        reached = (
            dist.join(und, dist.part == und.src)
            .select(F.col("dst").alias("part"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(reached)
            .groupBy("part")
            .agg(F.min("d").cast("long").alias("d"))
        )
    return dist.select("part", F.col("d").alias("hops"))


def _oracle_bfs() -> str:
    stages = [
        f"""und AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {COPURCHASE_MIN_CT}
),
d0 AS (
    SELECT src AS part, CAST(0 AS BIGINT) AS d FROM (
        SELECT src, count(*) AS dg FROM und GROUP BY src
        ORDER BY dg DESC, src ASC LIMIT 1
    )
)"""
    ]
    for k in range(1, BFS_HOPS + 1):
        stages.append(
            f"""d{k} AS (
    SELECT part, CAST(min(d) AS BIGINT) AS d FROM (
        SELECT part, d FROM d{k - 1}
        UNION ALL
        SELECT und.dst AS part, p.d + 1 AS d
        FROM d{k - 1} p JOIN und ON p.part = und.src
    ) GROUP BY part
)"""
        )
    return (
        "WITH "
        + ",\n".join(stages)
        + f"\nSELECT part, d AS hops FROM d{BFS_HOPS}\n"
    )


ORACLE_PART_BFS_DISTANCES = _oracle_bfs()


TRIANGLE_TOP_N = 20


def part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph by DEGREE ORIENTATION
    — the third graph-centrality member (after label propagation and
    PageRank): per-part triangle participation counts, the local
    clustering signal behind community detection and recommendation
    diversity. Each undirected edge is directed from its lower-(degree,
    id) endpoint to the higher one; every triangle then has exactly one
    node with both out-edges inside it, so counting (wedge ⋉ edge-set)
    over the ORIENTED graph counts each triangle once.

    Scale shape — why orientation is the 100 TB algorithm: the naive
    wedge join keys on raw adjacency, so one celebrity node with degree
    d contributes d² wedges (quadratic hot-key blowup, the same disease
    the shingle-DF cap kills in ngram dedup). Under degree orientation
    every node's OUT-degree is O(√m) on any graph (arboricity bound), so
    per-key wedge work is bounded regardless of skew. The pipeline is
    three equi-joins and a bounded-key count: deg (partial agg), orient
    (two broadcast-size joins against the degree table), wedge self-join
    keyed on the wedge center, membership semi-join keyed on the
    (dst, dst) pair, explode to corners, count. Nothing sorts, nothing
    is quadratic in a hub's degree.
    """
    # canonical (u < v) checkpointed edge set from the shared builder
    e = _copurchase_edges(spark, sf_dir, canonical=True)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # the oriented list is read twice (both wedge sides) — same treatment
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    w1 = o.alias("w1")
    w2 = o.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src")) & (F.col("w1.dst") < F.col("w2.dst")),
    ).select(
        F.col("w1.src").alias("x"),
        F.col("w1.dst").alias("y"),
        F.col("w2.dst").alias("z"),
    )
    # wedge closes iff (y, z) is an edge — y < z by id matches e's canonical key
    tri = wedges.join(
        e, (F.col("y") == F.col("u")) & (F.col("z") == F.col("v")), "left_semi"
    )
    corners = tri.select(
        F.explode(F.array("x", "y", "z")).alias("part")
    )
    return (
        corners.groupBy("part")
        .agg(F.count(F.lit(1)).alias("triangles"))
        .orderBy(F.desc("triangles"), F.asc("part"))
        .limit(TRIANGLE_TOP_N)
    )


ORACLE_PART_TRIANGLES = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {COPURCHASE_MIN_CT}
),
deg AS (
    SELECT n, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
    GROUP BY n
),
o AS (
    SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                THEN e.u ELSE e.v END AS src,
           CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                THEN e.v ELSE e.u END AS dst
    FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
),
tri AS (
    SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
    FROM o w1
    JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
    JOIN e ON e.u = w1.dst AND e.v = w2.dst
)
SELECT part, CAST(count(*) AS BIGINT) AS triangles
FROM (
    SELECT unnest([x, y, z]) AS part FROM tri
)
GROUP BY part
ORDER BY triangles DESC, part ASC
LIMIT {TRIANGLE_TOP_N}
"""


# =============================================================================
# Round-7: k-anonymous aggregate export
# =============================================================================

KANON_K = 5


def kanon_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMOUS AGGREGATE EXPORT — the suppression rule privacy teams
    apply before an aggregate leaves the warehouse: any (nation × market
    segment) cell with fewer than KANON_K members is withheld and folded
    into ONE ``__suppressed__`` bucket (totals still reconcile — nothing
    silently disappears); cells ≥ K export with exact stats. The
    re-identification risk this kills is the classic small-cell attack:
    a count of 1-4 plus public quasi-identifiers names a person.

    Scale shape: one partial-aggregated groupBy builds the cells
    (bounded by |nations|×|segments|, tiny at any corpus size); the
    split + suppressed fold run on that bounded cell table, not on the
    customer rows. Money folds as DECIMAL cents (order-independent).
    """
    cust = load(spark, sf_dir, "customer")
    return kanon_suppress(kanon_cells(cust))


def kanon_cells(cust: DataFrame) -> DataFrame:
    """The bounded cell aggregation — shared verbatim by the batch entry
    and the streaming twin (where it runs on the incremental engine in
    complete mode; money folds as DECIMAL cents, order-independent)."""
    return cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr("CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)")
        .alias("acctbal_cents"),
    )


def kanon_suppress(cells: DataFrame) -> DataFrame:
    """Suppression split + reconciling fold over the bounded cell table
    (batch side of both twins: suppress at publication, never in the
    state store, so a cell crossing KANON_K later un-suppresses)."""
    ok = cells.filter(F.col("n_customers") >= KANON_K)
    supp = (
        cells.filter(F.col("n_customers") < KANON_K)
        .agg(
            F.sum("n_customers").cast("long").alias("n_customers"),
            F.sum("acctbal_cents").cast("long").alias("acctbal_cents"),
        )
        .select(
            F.lit(-1).cast("long").alias("nationkey"),
            F.lit("__suppressed__").alias("segment"),
            "n_customers",
            "acctbal_cents",
        )
        # no suppressed cells → the empty-agg NULL row must not export
        .filter(F.col("n_customers").isNotNull())
    )
    return ok.unionByName(supp)


ORACLE_KANON_EXPORT = f"""
WITH cells AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS acctbal_cents
  FROM customer GROUP BY 1, 2)
SELECT nationkey, segment, n_customers, acctbal_cents
FROM cells WHERE n_customers >= {KANON_K}
UNION ALL
SELECT * FROM (
  SELECT CAST(-1 AS BIGINT) AS nationkey, '__suppressed__' AS segment,
         CAST(sum(n_customers) AS BIGINT) AS n_customers,
         CAST(sum(acctbal_cents) AS BIGINT) AS acctbal_cents
  FROM cells WHERE n_customers < {KANON_K})
WHERE n_customers IS NOT NULL
"""


LDIV_L = 3  # a cell must span ≥ L distinct sensitive values to export
LDIV_BAND_CENTS = 100_000  # $1000 wealth bands — the sensitive attribute


def ldiversity_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSE AGGREGATE EXPORT — the attribute-disclosure rule that
    k-anonymity alone misses: a (nation × segment) cell can satisfy
    n ≥ K and still leak, because if every member shares the same
    sensitive value (here the $1000 account-balance band), knowing
    someone is IN the cell reveals their value exactly. A cell therefore
    exports only when it has ≥ KANON_K members AND ≥ LDIV_L distinct
    sensitive bands; failing cells fold into the one reconciling
    ``__suppressed__`` bucket (totals never silently shrink —
    the kanon_export discipline).

    Scale shape: identical to the k-anon entry — one partial-aggregated
    pass builds (cell, band) counts bounded by |nations|×|segments|×
    |bands|; the diversity count, split, and fold run on that bounded
    table, never on customer rows. Cites the same reference surface as
    kanon_export (privacy gating before ADS publication).
    """
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
            f" DIV {LDIV_BAND_CENTS}"
        ).alias("band"),
        F.expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    cells = cust.groupBy("nationkey", "segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("long").alias("acctbal_cents"),
        F.countDistinct("band").cast("long").alias("l_distinct"),
    )
    ok = cells.filter(
        (F.col("n_customers") >= KANON_K) & (F.col("l_distinct") >= LDIV_L)
    )
    supp = (
        cells.filter(
            (F.col("n_customers") < KANON_K) | (F.col("l_distinct") < LDIV_L)
        )
        .agg(
            F.sum("n_customers").cast("long").alias("n_customers"),
            F.sum("acctbal_cents").cast("long").alias("acctbal_cents"),
        )
        .select(
            F.lit(-1).cast("long").alias("nationkey"),
            F.lit("__suppressed__").alias("segment"),
            "n_customers",
            "acctbal_cents",
            F.lit(-1).cast("long").alias("l_distinct"),
        )
        .filter(F.col("n_customers").isNotNull())
    )
    return ok.unionByName(supp)


ORACLE_LDIVERSITY_EXPORT = f"""
WITH cells AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT) AS acctbal_cents,
         CAST(count(DISTINCT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                             // {LDIV_BAND_CENTS}) AS BIGINT) AS l_distinct
  FROM customer GROUP BY 1, 2)
SELECT nationkey, segment, n_customers, acctbal_cents, l_distinct
FROM cells WHERE n_customers >= {KANON_K} AND l_distinct >= {LDIV_L}
UNION ALL
SELECT * FROM (
  SELECT CAST(-1 AS BIGINT) AS nationkey, '__suppressed__' AS segment,
         CAST(sum(n_customers) AS BIGINT) AS n_customers,
         CAST(sum(acctbal_cents) AS BIGINT) AS acctbal_cents,
         CAST(-1 AS BIGINT) AS l_distinct
  FROM cells WHERE n_customers < {KANON_K} OR l_distinct < {LDIV_L})
WHERE n_customers IS NOT NULL
"""


ROLLING_DAYS = 7


def rolling_activity_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 7-DAY ACTIVITY FEATURES — the trailing-window feature
    every behavioral model consumes (events_7d, purchases_7d, value_7d
    per user-day): daily partial aggregation first (events collapse to
    one row per (user, day) BEFORE any window), then ONE per-user RANGE
    window over the integer day number — the frame bounds the lookback
    by VALUE (-6..0 days), so gap days cost nothing and the plan is a
    single keyed shuffle + sorted scan. The naive alternative — a
    self-join events×events on a 7-day predicate — is a range join that
    explodes at 100 TB; the range-frame window is the as-of-family
    shape that replaces it (cf. pit_feature_join's carry discipline).
    Money folds as DECIMAL cents (order-independent), rendered as an
    exact integer.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.unix_date(F.to_date("ts")).cast("long").alias("day_num")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("p"),
        F.sum(F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_num")
        .rangeBetween(-(ROLLING_DAYS - 1), 0)
    )
    return daily.select(
        "user_id",
        "day_num",
        F.sum("n").over(w).cast("long").alias("events_7d"),
        F.sum("p").over(w).cast("long").alias("purchases_7d"),
        F.sum("cents").over(w).cast("long").alias("value_cents_7d"),
    )


ORACLE_ROLLING_ACTIVITY_7D = f"""
WITH daily AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2)
SELECT user_id, day_num,
       CAST(sum(n) OVER w AS BIGINT) AS events_7d,
       CAST(sum(p) OVER w AS BIGINT) AS purchases_7d,
       CAST(sum(cents) OVER w AS BIGINT) AS value_cents_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day_num
             RANGE BETWEEN {ROLLING_DAYS - 1} PRECEDING AND CURRENT ROW)
"""
