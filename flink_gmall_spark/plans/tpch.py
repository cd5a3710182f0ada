"""Classic TPC-H queries over the driver's star schema — the
standard-benchmark face of the engine.

The gmall reference never runs TPC-H, but the driver tables are TPC-H
shaped, so the canonical pricing-summary (Q1), shipping-priority (Q3)
and local-supplier-volume (Q5) queries run verbatim modulo two fixture
adaptations: date constants shifted into the 1995-2001 data range, and
``o_orderpriority`` standing in for the absent ``o_shippriority``.

Parity discipline (memory: spark-duckdb-parity-playbook): computed money
products round to integer CENTS per row via the explicit HALF_UP formula
``floor(x * 100 + 0.5)`` evaluated identically in both engines — a
double→DECIMAL cast is NOT portable here (engines disagree when the
product lands a hair's breadth from a .xx5 boundary; observed on Q1's
sum_charge). Integer cent sums are order-independent; the final
``cents / 100.0`` is one deterministic double op. Raw 2dp columns still
sum as DECIMAL. ORDER BY+LIMIT carries a key tiebreak for a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_gmall_spark.sources import load

Q1_CUTOFF = "2000-09-02"
Q3_DATE = "1998-06-30"
Q3_SEGMENT = "BUILDING"
Q5_REGION = "ASIA"
Q5_FROM, Q5_TO = "1996-01-01", "2000-01-01"

_D = "decimal(18,2)"


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report — the canonical wide aggregation
    (8 aggregates over 2 group keys after a date filter pushed into the
    scan). One partial→final hash agg; no joins."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= Q1_CUTOFF)
    disc_price_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    charge_cents = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
        + F.lit(0.5)
    )
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(_D)).alias("d_qty"),
        F.sum(F.col("l_extendedprice").cast(_D)).alias("d_price"),
        F.sum(disc_price_cents).alias("c_disc_price"),
        F.sum(charge_cents).alias("c_charge"),
        F.sum(F.col("l_discount").cast("decimal(18,4)")).alias("d_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("d_qty").cast("double").alias("sum_qty"),
        F.col("d_price").cast("double").alias("sum_base_price"),
        (F.col("c_disc_price") / 100.0).alias("sum_disc_price"),
        (F.col("c_charge") / 100.0).alias("sum_charge"),
        (F.col("d_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("d_price").cast("double") / F.col("count_order")).alias("avg_price"),
        (F.col("d_disc").cast("double") / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


ORACLE_Q1 = f"""
SELECT l_returnflag,
       l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_disc_price,
       sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped high-revenue orders for one market segment —
    selective join then top-10 by revenue (TakeOrderedAndProject), with
    the order key as the total-order tiebreak."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < Q3_DATE)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > Q3_DATE)
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    revenue_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    agg = j.groupBy(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
    ).agg((F.sum(revenue_cents) / 100.0).alias("revenue"))
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


ORACLE_Q3 = f"""
SELECT l.l_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_orderpriority,
       sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{Q3_SEGMENT}'
  AND o.o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
  AND l.l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from local suppliers per nation in one region —
    the 6-way join with the same-nation (customer = supplier) condition;
    all dims broadcast, the fact side never shuffles before the rollup."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q5_FROM) & (F.col("o_orderdate") < Q5_TO)
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    revenue_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    return j.groupBy("n_name").agg(
        (F.sum(revenue_cents) / 100.0).alias("revenue")
    )


ORACLE_Q5 = f"""
SELECT n.n_name,
       sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{Q5_REGION}'
  AND o.o_orderdate >= TIMESTAMP '{Q5_FROM} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{Q5_TO} 00:00:00'
GROUP BY n.n_name
"""


Q6_FROM, Q6_TO = "1997-01-01", "1998-01-01"
Q6_DISC_LO, Q6_DISC_HI = 0.02, 0.08
Q6_QTY = 30
Q10_FROM, Q10_TO = "1999-01-01", "1999-04-01"
Q14_FROM, Q14_TO = "1998-01-01", "1999-01-01"
Q18_QTY = 300

_CENTS = "floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecasting revenue change — a pure filter-and-sum whose
    predicates all push into the parquet scan; the canonical
    scan-efficiency probe (no join, no group key)."""
    li = load(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= Q6_FROM)
        & (F.col("l_shipdate") < Q6_TO)
        & (F.col("l_discount") >= Q6_DISC_LO)
        & (F.col("l_discount") <= Q6_DISC_HI)
        & (F.col("l_quantity") < Q6_QTY)
    )
    cents = F.floor(F.col("l_extendedprice") * F.col("l_discount") * 100 + F.lit(0.5))
    return f.agg((F.sum(cents) / 100.0).alias("revenue"))


ORACLE_Q6 = f"""
SELECT sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_FROM} 00:00:00'
  AND l_shipdate < TIMESTAMP '{Q6_TO} 00:00:00'
  AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
  AND l_quantity < {Q6_QTY}
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned items in one quarter, top 20 by
    lost revenue — selective fact filter, broadcast dims, TakeOrdered
    with the customer key as tiebreak."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q10_FROM) & (F.col("o_orderdate") < Q10_TO)
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        (F.sum(cents) / 100.0).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


ORACLE_Q10 = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       sum(CAST({_CENTS} AS BIGINT)) / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '{Q10_FROM} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{Q10_TO} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue share — conditional aggregation over
    a broadcast part join; the share is one double division of two
    deterministic integer-cent sums (no per-row float compare)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q14_FROM) & (F.col("l_shipdate") < Q14_TO)
    )
    part = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(0)).alias("promo_c"),
        F.sum(cents).alias("total_c"),
    )
    return agg.select(
        (F.col("promo_c") / 100.0).alias("promo_revenue"),
        (F.col("total_c") / 100.0).alias("total_revenue"),
        (100.0 * F.col("promo_c") / F.col("total_c")).alias("promo_share_pct"),
    )


ORACLE_Q14 = f"""
SELECT sum(CASE WHEN p.p_type = 'PROMO' THEN CAST({_CENTS} AS BIGINT) ELSE 0 END) / 100.0 AS promo_revenue,
       sum(CAST({_CENTS} AS BIGINT)) / 100.0 AS total_revenue,
       100.0 * sum(CASE WHEN p.p_type = 'PROMO' THEN CAST({_CENTS} AS BIGINT) ELSE 0 END)
             / sum(CAST({_CENTS} AS BIGINT)) AS promo_share_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '{Q14_FROM} 00:00:00'
  AND l.l_shipdate < TIMESTAMP '{Q14_TO} 00:00:00'
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders — the HAVING-over-join shape: per-
    order quantity rollup, threshold filter, customer enrichment. The
    per-order aggregate reuses its own exchange for the join back."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_D)).alias("d_qty"))
        .filter(F.col("d_qty") > Q18_QTY)
    )
    j = big.join(orders, big.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return j.select(
        "c_custkey",
        "c_name",
        F.col("l_orderkey").alias("o_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.col("o_totalprice").alias("o_totalprice"),
        F.col("d_qty").cast("double").alias("total_qty"),
    )


ORACLE_Q18 = f"""
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_totalprice,
       CAST(q.d_qty AS DOUBLE) AS total_qty
FROM (
    SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS d_qty
    FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_QTY}
) q
JOIN orders o ON q.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


Q4_LATE_DAYS = 60
Q4_FROM, Q4_TO = "1997-01-01", "1997-07-01"


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted): order-priority checking — count orders per
    priority having at least one late-shipped lineitem (EXISTS → left
    semi join; the fixture lacks commit/receipt dates, so 'late' is a
    ship date more than Q4_LATE_DAYS past the order date, preserving
    Q4's correlated-EXISTS shape exactly)."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q4_FROM) & (F.col("o_orderdate") < Q4_TO)
    )
    li = load(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


ORACLE_Q4 = f"""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{Q4_FROM} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{Q4_TO} 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY
  )
GROUP BY 1
"""


Q19_CASES = [  # (brand, qty_lo, qty_hi, size_hi)
    ("Brand#12", 1, 11, 5),
    ("Brand#23", 10, 20, 10),
    ("Brand#34", 20, 30, 15),
]


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: discounted revenue — the canonical disjunctive
    predicate (OR of brand/quantity/size conjunction groups) over the
    part join; Catalyst extracts the common l_partkey=p_partkey
    conjunct so the join stays an equi-join with the OR as a post-join
    filter."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = None
    for brand, lo, hi, size_hi in Q19_CASES:
        c = (
            (F.col("p_brand") == brand)
            & (F.col("l_quantity") >= lo)
            & (F.col("l_quantity") <= hi)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= size_hi)
        )
        cond = c if cond is None else (cond | c)
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    return j.filter(cond).agg((F.sum(cents) / 100.0).alias("revenue"))


_Q19_DISJ = " OR ".join(
    f"(p.p_brand = '{b}' AND l.l_quantity BETWEEN {lo} AND {hi}"
    f" AND p.p_size BETWEEN 1 AND {sz})"
    for b, lo, hi, sz in Q19_CASES
)

ORACLE_Q19 = f"""
SELECT sum(CAST({_CENTS} AS BIGINT)) / 100.0 AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE {_Q19_DISJ}
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution — the left outer
    join that must KEEP zero-order customers, then a second aggregation
    over the first's result (distribution of counts). Two shuffles by
    construction; the outer join's null side becomes the c_count=0
    bucket."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


ORACLE_Q13 = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c
    LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
) t
GROUP BY c_count
"""


Q15_FROM, Q15_TO = "1998-01-01", "1998-04-01"


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier — per-supplier quarterly revenue, keeping
    the supplier(s) whose revenue EQUALS the global max (the view +
    scalar-subquery shape; ties all surface, so no LIMIT nondeterminism).
    The revenue subtree is one DAG used by both the rows and the max —
    exchange reuse, not recompute."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q15_FROM) & (F.col("l_shipdate") < Q15_TO)
    )
    supp = load(spark, sf_dir, "supplier")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("rev_c"))
    max_rev = rev.agg(F.max("rev_c").alias("max_c"))
    top = rev.join(max_rev, rev.rev_c == max_rev.max_c)
    return top.join(F.broadcast(supp), top.l_suppkey == supp.s_suppkey).select(
        F.col("s_suppkey"),
        F.col("s_name"),
        (F.col("rev_c") / 100.0).alias("total_revenue"),
    )


ORACLE_Q15 = f"""
WITH rev AS (
    SELECT l_suppkey, sum(CAST({_CENTS} AS BIGINT)) AS rev_c
    FROM lineitem l
    WHERE l.l_shipdate >= TIMESTAMP '{Q15_FROM} 00:00:00'
      AND l.l_shipdate < TIMESTAMP '{Q15_TO} 00:00:00'
    GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, rev.rev_c / 100.0 AS total_revenue
FROM rev
JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev.rev_c = (SELECT max(rev_c) FROM rev)
"""


Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: volume shipping between two nations — revenue per
    (supplier nation, customer nation, ship year) for the unordered
    nation pair: the symmetric-disjunction join predicate
    ((A,B) OR (B,A)) evaluated after broadcast dim resolution."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A)
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    return (
        j.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(cents) / 100.0).alias("revenue"))
    )


ORACLE_Q7 = f"""
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       sum(CAST({_CENTS} AS BIGINT)) / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
WHERE (ns.n_name = '{Q7_NATION_A}' AND nc.n_name = '{Q7_NATION_B}')
   OR (ns.n_name = '{Q7_NATION_B}' AND nc.n_name = '{Q7_NATION_A}')
GROUP BY 1, 2, 3
"""


Q17_FRACTION_NUM, Q17_FRACTION_DEN = 1, 5  # qty below 20% of the part's avg


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (adapted: no container column): average yearly revenue
    lost to small-quantity orders — lineitems whose quantity falls below
    one fifth of their part's average quantity. The correlated scalar
    subquery becomes a per-part aggregate joined back to the fact; the
    threshold compare is integer cross-multiplication
    (den*qty*count < num*sum_qty), not a float avg."""
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    j = li.join(per_part, li.l_partkey == F.col("pp_key"))
    small = j.filter(
        F.col("l_quantity").cast("decimal(18,2)") * Q17_FRACTION_DEN * F.col("n_li")
        < F.col("sum_qty") * Q17_FRACTION_NUM
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
    return small.agg(
        (F.sum(cents) / 100.0 / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("small_ct"),
    )


ORACLE_Q17 = f"""
WITH per_part AS (
    SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
           count(*) AS n_li
    FROM lineitem GROUP BY 1
)
SELECT sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 / 7.0 AS avg_yearly,
       CAST(count(*) AS BIGINT) AS small_ct
FROM lineitem l
JOIN per_part p ON l.l_partkey = p.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * {Q17_FRACTION_DEN} * p.n_li
      < p.sum_qty * {Q17_FRACTION_NUM}
"""


Q8_NATION = "NATION_3"
Q8_REGION = "ASIA"
Q8_TYPE = "PROMO"
Q8_FROM, Q8_TO = "1996-01-01", "1998-01-01"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — one nation's share of a
    region's import revenue for one part type, by order year. The share
    is a conditional cents-sum over the total cents-sum per year: two
    deterministic integers and one double division, no float compare
    anywhere."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q8_FROM) & (F.col("o_orderdate") < Q8_TO)
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cr_key") == region.r_regionkey)
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    )
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == Q8_NATION, cents).otherwise(0)).alias(
            "nation_c"
        ),
        F.sum(cents).alias("total_c"),
    )
    return agg.select(
        "o_year",
        (F.col("nation_c") / 100.0).alias("nation_revenue"),
        (F.col("total_c") / 100.0).alias("total_revenue"),
        (F.col("nation_c") / F.col("total_c").cast("double")).alias("mkt_share"),
    )


ORACLE_Q8 = f"""
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       sum(CASE WHEN ns.n_name = '{Q8_NATION}' THEN CAST({_CENTS} AS BIGINT) ELSE 0 END) / 100.0 AS nation_revenue,
       sum(CAST({_CENTS} AS BIGINT)) / 100.0 AS total_revenue,
       sum(CASE WHEN ns.n_name = '{Q8_NATION}' THEN CAST({_CENTS} AS BIGINT) ELSE 0 END)
         / CAST(sum(CAST({_CENTS} AS BIGINT)) AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
JOIN region r ON nc.n_regionkey = r.r_regionkey
WHERE p.p_type = '{Q8_TYPE}'
  AND r.r_name = '{Q8_REGION}'
  AND o.o_orderdate >= TIMESTAMP '{Q8_FROM} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{Q8_TO} 00:00:00'
GROUP BY 1
"""


# --- Q2/Q9/Q11/Q16/Q20 adaptations: no partsupp table in the driver ---------
# schema, so the part↔supplier relation is DERIVED FROM LINEITEM (the pairs
# that actually traded). Each query keeps its canonical structural pattern —
# correlated min, profit decomposition, HAVING-over-global-total, NOT-IN
# distinct count, nested semi-joins — which is what the plans exercise.

Q2_SIZE = 15
Q2_TYPE = "PROMO"
Q2_REGION = "ASIA"
#: HALF_UP cents of the double unit price; IEEE division+floor is
#: bit-identical across engines (parity playbook).
_UNIT_CENTS = "floor(l_extendedprice / l_quantity * 100 + 0.5)"


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted: supply relation from lineitem): for each part of
    the chosen size+type, the region's supplier(s) offering the MINIMUM
    unit price — the correlated scalar-min subquery realized as a
    per-part aggregate equi-joined back, never a sort-per-group. Dims
    broadcast; the only shuffle keys on l_partkey."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE)
    )
    rsupp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .filter(F.col("r_name") == Q2_REGION)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(rsupp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.expr(_UNIT_CENTS)).alias("cost_c"))
    )
    # per-part min as a window over the SAME pass — an agg+self-join form
    # would compute the offers subtree twice (measured 10 scans vs 3)
    pw = Window.partitionBy("p_partkey")
    best = offers.withColumn("min_c", F.min("cost_c").over(pw)).filter(
        F.col("cost_c") == F.col("min_c")
    )
    return (
        best.select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("cost_c") / 100.0).alias("supply_cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


ORACLE_Q2 = f"""
WITH rsupp AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = '{Q2_REGION}'
),
offers AS (
    SELECT p.p_partkey, p.p_name, rs.s_suppkey, rs.s_name, rs.s_acctbal,
           rs.n_name, min(CAST({_UNIT_CENTS} AS BIGINT)) AS cost_c
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN rsupp rs ON l.l_suppkey = rs.s_suppkey
    WHERE p.p_size = {Q2_SIZE} AND p.p_type = '{Q2_TYPE}'
    GROUP BY 1, 2, 3, 4, 5, 6
),
part_min AS (
    SELECT p_partkey AS pm_key, min(cost_c) AS min_c FROM offers GROUP BY 1
)
SELECT o.s_acctbal, o.s_name, o.n_name, o.p_partkey, o.p_name,
       o.cost_c / 100.0 AS supply_cost
FROM offers o
JOIN part_min m ON o.p_partkey = m.pm_key AND o.cost_c = m.min_c
ORDER BY o.s_acctbal DESC, o.n_name, o.s_name, o.p_partkey
LIMIT 100
"""


Q9_NAME_FRAGMENT = "widget"
#: supply cost stand-in: 60% of the part's retail price (deterministic).
_Q9_PROFIT_CENTS = (
    "floor((l_extendedprice * (1 - l_discount)"
    " - 0.6 * p_retailprice * l_quantity) * 100 + 0.5)"
)


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: supply cost = 0.6 x retail price; no partsupp):
    profit by supplier nation and order year over parts matching a name
    fragment. The five-way star join broadcasts every dim; the fact
    shuffles once for the (nation, year) aggregate."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    part = load(spark, sf_dir, "part").filter(
        F.col("p_name").contains(Q9_NAME_FRAGMENT)
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(F.expr(_Q9_PROFIT_CENTS)) / 100.0).alias("sum_profit"))
    )


ORACLE_Q9 = f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       sum(CAST({_Q9_PROFIT_CENTS} AS BIGINT)) / 100.0 AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%{Q9_NAME_FRAGMENT}%'
GROUP BY 1, 2
"""


Q11_NATION = "NATION_5"
Q11_FRACTION_DEN = 1000  # keep parts worth > 1/1000 of the nation's total


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: traded value from lineitem instead of
    partsupp stock value): parts whose total traded value by one
    nation's suppliers exceeds a fixed fraction of that nation's total —
    the HAVING-over-global-scalar-subquery shape. The global total
    reuses the per-part aggregate (one broadcast of a 1-row DF), and the
    threshold compare is integer cross-multiplication, not a float
    fraction."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    nsupp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(F.col("n_name") == Q11_NATION)
        .select("s_suppkey")
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
    per_part = (
        li.join(F.broadcast(nsupp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("value_c"))
    )
    total = per_part.agg(F.sum("value_c").alias("total_c"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_c") * Q11_FRACTION_DEN > F.col("total_c"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            (F.col("value_c") / 100.0).alias("part_value"),
        )
    )


ORACLE_Q11 = f"""
WITH nsupp AS (
    SELECT s_suppkey FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = '{Q11_NATION}'
),
per_part AS (
    SELECT l_partkey, sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS value_c
    FROM lineitem l JOIN nsupp ns ON l.l_suppkey = ns.s_suppkey
    GROUP BY 1
)
SELECT l_partkey AS ps_partkey, value_c / 100.0 AS part_value
FROM per_part
WHERE value_c * {Q11_FRACTION_DEN} > (SELECT sum(value_c) FROM per_part)
"""


Q12_YEAR = 1997
Q12_LATE_DAYS = 60


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: no ship mode / commit+receipt dates in the
    schema — lateness is ship date > order date + N days, grouped by
    line status): counts of high- vs low-priority orders among late
    shipments — the join + conditional-aggregation shape."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        (F.year("l_shipdate") == Q12_YEAR)
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_LATE_DAYS} DAYS")
        )
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(F.col("l_linestatus").alias("ship_class")).agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
    )


ORACLE_Q12 = f"""
SELECT l_linestatus AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE year(l.l_shipdate) = {Q12_YEAR}
  AND l.l_shipdate > o.o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
GROUP BY 1
"""


Q16_EXCLUDED_TYPE = "PROMO"
Q16_SIZES = (5, 10, 15, 20, 25, 30, 35, 40)
Q16_COMPLAINT_BAL = 1000.0  # acctbal below this = the NOT-IN supplier set


def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: supplier-part pairs from lineitem; the
    complaints NOT-IN list is low-acctbal suppliers): distinct supplier
    count per (brand, type, size) — distinct pairs first (one shuffle),
    anti-join the exclusion list (broadcast), then count-distinct over
    the pruned pairs."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") != Q16_EXCLUDED_TYPE)
        & (F.col("p_size").isin(*Q16_SIZES))
    )
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < Q16_COMPLAINT_BAL
    ).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    kept = pairs.join(
        F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti"
    )
    return (
        kept.join(F.broadcast(part), kept.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_Q16 = f"""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part p ON pairs.l_partkey = p.p_partkey
WHERE p.p_type <> '{Q16_EXCLUDED_TYPE}'
  AND p.p_size IN {Q16_SIZES}
  AND pairs.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < {Q16_COMPLAINT_BAL})
GROUP BY 1, 2, 3
"""


Q20_NATION = "NATION_7"
Q20_NAME_FRAGMENT = "bolt"
Q20_YEAR = 1997
Q20_SHARE_NUM, Q20_SHARE_DEN = 1, 4  # >25% of all-time qty shipped in-year


def q20_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: availqty threshold becomes a shipped-quantity
    concentration test): suppliers in one nation having SOME matching
    part whose in-year shipped quantity exceeds a fraction of their
    all-time quantity for that part — the nested-semi-join shape
    (supplier IN (pairs WHERE correlated-agg threshold)). Integer
    cross-multiply for the fraction; semi join keeps supplier rows
    unduplicated."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        F.col("p_name").contains(Q20_NAME_FRAGMENT)
    ).select("p_partkey")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    per_pair = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(qty).alias("all_qty"),
            F.sum(F.when(F.year("l_shipdate") == Q20_YEAR, qty).otherwise(0)).alias(
                "year_qty"
            ),
        )
    )
    hot_pairs = per_pair.filter(
        F.col("year_qty") * Q20_SHARE_DEN > F.col("all_qty") * Q20_SHARE_NUM
    ).select("l_suppkey")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(F.col("n_name") == Q20_NATION)
        .join(hot_pairs, supp.s_suppkey == hot_pairs.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
    )


ORACLE_Q20 = f"""
WITH per_pair AS (
    SELECT l_partkey, l_suppkey,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS all_qty,
           sum(CASE WHEN year(l_shipdate) = {Q20_YEAR}
                    THEN CAST(l_quantity AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS year_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%{Q20_NAME_FRAGMENT}%'
    GROUP BY 1, 2
)
SELECT s_name, s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = '{Q20_NATION}'
  AND s.s_suppkey IN (
      SELECT l_suppkey FROM per_pair
      WHERE year_qty * {Q20_SHARE_DEN} > all_qty * {Q20_SHARE_NUM})
"""


Q21_TOP = 20


def q21_last_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: no commit/receipt dates — 'kept waiting' is
    being the LATEST shipper in a finished multi-supplier order): per
    supplier, the count of 'F'-status orders involving >=2 suppliers
    where this supplier's last ship date equals the order's max — the
    EXISTS (other supplier) / NOT EXISTS (later shipper) pair realized
    as one per-order aggregate joined back; ties at the max all count,
    matching the EXISTS semantics. Top-N with full-key tiebreak."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    fli = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_order = fli.groupBy(F.col("l_orderkey").alias("po_key")).agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    per_supp_order = fli.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max")
    )
    waiting = per_supp_order.join(
        per_order,
        (F.col("l_orderkey") == F.col("po_key"))
        & (F.col("supp_max") == F.col("max_ship")),
    ).filter(F.col("n_supp") >= 2)
    supp = load(spark, sf_dir, "supplier")
    counted = (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
    )
    return (
        counted.select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOP)
    )


ORACLE_Q21 = f"""
WITH fli AS (
    SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
),
per_order AS (
    SELECT l_orderkey, max(l_shipdate) AS max_ship,
           count(DISTINCT l_suppkey) AS n_supp
    FROM fli GROUP BY 1
),
per_supp_order AS (
    SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_max
    FROM fli GROUP BY 1, 2
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_supp_order pso
JOIN per_order po ON pso.l_orderkey = po.l_orderkey
                 AND pso.supp_max = po.max_ship
JOIN supplier s ON pso.l_suppkey = s.s_suppkey
WHERE po.n_supp >= 2
GROUP BY 1
ORDER BY numwait DESC, s.s_name
LIMIT {Q21_TOP}
"""


Q22_CODES = (1, 3, 5, 7, 9)  # c_nationkey % 10 stands in for phone prefix
Q22_CUTOFF = "1999-01-01"  # every synthetic customer has SOME order, so
# "idle" means lapsed: no order since the cutoff (pattern unchanged)


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: country code = c_nationkey % 10; no phone
    column; idle = no order since the cutoff, because the synthetic data
    gives every customer at least one order): customers from selected
    codes with above-average positive balance and no recent orders — the
    scalar-avg subquery + NOT EXISTS pair.
    The average compare is exact decimal cross-multiplication
    (bal * n > sum), the anti-join replaces NOT EXISTS, and the
    threshold aggregate broadcasts as a 1-row DF."""
    cust = load(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.pmod(F.col("c_nationkey"), F.lit(10)).cast("int")
    )
    eligible = cust.filter(F.col("cntrycode").isin(*Q22_CODES))
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    thresh = eligible.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("sum_bal"), F.count(F.lit(1)).alias("n_bal")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= Q22_CUTOFF)
        .select("o_custkey")
    )
    rich_idle = (
        eligible.join(F.broadcast(thresh))
        .filter(bal * F.col("n_bal") > F.col("sum_bal"))
        .join(orders, eligible.c_custkey == orders.o_custkey, "left_anti")
    )
    return rich_idle.groupBy("cntrycode").agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.sum(bal).cast("double").alias("totacctbal"),
    )


ORACLE_Q22 = f"""
WITH eligible AS (
    SELECT c_custkey, CAST(c_nationkey % 10 AS INT) AS cntrycode,
           c_acctbal
    FROM customer
    WHERE CAST(c_nationkey % 10 AS INT) IN {Q22_CODES}
),
thresh AS (
    SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal, count(*) AS n_bal
    FROM eligible WHERE c_acctbal > 0
)
SELECT cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM eligible e, thresh t
WHERE CAST(e.c_acctbal AS DECIMAL(18,2)) * t.n_bal > t.sum_bal
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = e.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00')
GROUP BY 1
"""
