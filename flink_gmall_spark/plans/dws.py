"""DWS layer — windowed aggregate stats tables.

Covers SURVEY §2.5 A1-A4, §2.6 T5/T6, §2.7 U1/U2, §2.3 F1/F2 over the
driver tables. Transform functions are pure DataFrame→DataFrame so the
Structured Streaming jobs (streaming.jobs) reuse them verbatim on an
unbounded input — the batch/stream split exists only at the source/sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall_spark.functions.parity import MONEY
from flink_gmall_spark.functions.tokenize import tokens_col
from flink_gmall_spark.sources import load

#: gmall uses 10 s tumbling windows (VisitorStatsApp.java:164); the events
#: table's cadence is minutes, so the analog is 10 minutes. Epoch-aligned
#: in both engines.
VISITOR_WINDOW_SECONDS = 600
_WIN_US = VISITOR_WINDOW_SECONDS * 1_000_000


def visitor_stats_transform(ev: DataFrame) -> DataFrame:
    """A1/U1/P6/P7: per-event-type projections to a common stats schema,
    unioned, then a tumbling-window reduce (VisitorStatsApp.java:77-195).

    The union-of-projections replaces Flink's "full join" design note
    (VisitorStatsApp.java:26-39 → J5). uv is an exact distinct computed
    scale-safely: a dropDuplicates([window, user_id]) branch (state/shuffle
    keyed by the PAIR, so distinct users spread across reducers) contributes
    uv=1 rows that a single windowed SUM folds in alongside the metric
    sums. The earlier collect_set(user_id)-into-one-window-group form put
    every distinct user of a window into one reducer's in-memory set — an
    OOM hot key at DAU scale. dropDuplicates-then-aggregate is legal in a
    Structured Streaming complete-mode query (dedup is not an aggregation),
    so stream and batch still share this exact transform.
    """

    _ZERO = F.lit(0).cast("long")
    _DEC0 = F.lit(0).cast(MONEY)

    def branch(event_type: str, **metrics: F.Column) -> DataFrame:
        cols = [
            F.col("ts"),
            F.col("user_id"),
            metrics.get("pv_ct", _ZERO).alias("pv_ct"),
            metrics.get("click_ct", _ZERO).alias("click_ct"),
            metrics.get("purchase_ct", _ZERO).alias("purchase_ct"),
            metrics.get("error_ct", _ZERO).alias("error_ct"),
            metrics.get("sv_ct", _ZERO).alias("sv_ct"),
            metrics.get("amount", _DEC0).alias("amount"),
        ]
        return ev.filter(F.col("event_type") == event_type).select(*cols)

    one = F.lit(1).cast("long")
    unioned = (
        branch("view", pv_ct=one)
        .unionByName(branch("click", click_ct=one))
        .unionByName(
            branch("purchase", purchase_ct=one, amount=F.col("value").cast(MONEY))
        )
        .unionByName(branch("error", error_ct=one))
        .unionByName(branch("signup", sv_ct=one))
    )
    w = F.window("ts", f"{VISITOR_WINDOW_SECONDS} seconds")
    metrics = unioned.select(
        w.alias("w"), "pv_ct", "click_ct", "purchase_ct", "error_ct", "sv_ct",
        "amount", _ZERO.alias("uv_ct"),
    )
    # one IN-filtered scan, not a second pass over the 5-branch union:
    # the union's user set IS the users matching any branch predicate, so
    # the dedup side re-derives it directly from the source (halves the
    # scan work; measured 2x at sf0.1). Map-side partial dedup keeps the
    # shuffle at per-partition-distinct pairs.
    visitors = (
        ev.filter(
            F.col("event_type").isin("view", "click", "purchase", "error", "signup")
        )
        .select(w.alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
        .select(
            "w", _ZERO.alias("pv_ct"), _ZERO.alias("click_ct"),
            _ZERO.alias("purchase_ct"), _ZERO.alias("error_ct"),
            _ZERO.alias("sv_ct"), _DEC0.alias("amount"),
            one.alias("uv_ct"),
        )
    )
    agg = metrics.unionByName(visitors).groupBy("w").agg(
        F.sum("pv_ct").alias("pv_ct"),
        F.sum("click_ct").alias("click_ct"),
        F.sum("purchase_ct").alias("purchase_ct"),
        F.sum("error_ct").alias("error_ct"),
        F.sum("sv_ct").alias("sv_ct"),
        F.sum("uv_ct").alias("uv_ct"),
        F.sum("amount").cast("double").alias("amount_sum"),
    )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        "pv_ct",
        "click_ct",
        "purchase_ct",
        "error_ct",
        "sv_ct",
        "uv_ct",
        "amount_sum",
    )


def visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return visitor_stats_transform(load(spark, sf_dir, "events"))


ORACLE_VISITOR_STATS = f"""
WITH w AS (
    SELECT make_timestamp((epoch_us(ts) // {_WIN_US}) * {_WIN_US}) AS wstart, *
    FROM events
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(wstart + INTERVAL {VISITOR_WINDOW_SECONDS} SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_ct,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_ct,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_ct,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS sv_ct,
       count(DISTINCT user_id) AS uv_ct,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS amount_sum
FROM w
GROUP BY wstart
"""


def product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 keyed reduce with distinct-via-set + dim enrichment
    (ProductStatsApp.java:201-314).

    order_ct replicates the reference's merged-HashSet-of-order-ids exact
    distinct; money sums are exact decimals (BigDecimal.add parity). The
    ``part`` dim joins on the broadcast path after the aggregation — agg
    first, enrich second, so the shuffle carries only (key, partials).
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    agg = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(MONEY)).cast("double").alias("order_sku_num"),
        F.sum(F.col("l_extendedprice").cast(MONEY)).cast("double").alias("order_amount"),
        F.countDistinct("l_orderkey").alias("order_ct"),
        F.count(F.lit(1)).alias("item_ct"),
    )
    return (
        agg.join(F.broadcast(part), agg.l_partkey == part.p_partkey, "left")
        .select(
            F.col("l_partkey").alias("sku_id"),
            F.col("p_name").alias("sku_name"),
            F.col("p_brand").alias("tm_name"),
            "order_sku_num",
            "order_amount",
            "order_ct",
            "item_ct",
        )
    )


ORACLE_PRODUCT_STATS = """
SELECT l.l_partkey AS sku_id,
       any_value(p.p_name) AS sku_name,
       any_value(p.p_brand) AS tm_name,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS order_sku_num,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
       count(DISTINCT l.l_orderkey) AS order_ct,
       CAST(count(*) AS BIGINT) AS item_ct
FROM lineitem l
LEFT JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
"""


def province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 SQL windowed COUNT(DISTINCT) + SUM, via the spark.sql entry point
    (ProvinceStatsSqlApp.java:40-56 is the reference's Flink-SQL job).

    Daily tumble over o_orderdate, keyed by the nation dim — the exact
    shape of gmall's province_stats (window, province, count distinct
    orders, amount sum).
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT date_format(o.o_orderdate, 'yyyy-MM-dd') AS stt,
               n.n_name AS province_name,
               count(DISTINCT o.o_orderkey) AS order_ct,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
        """
    )


ORACLE_PROVINCE_STATS = """
SELECT strftime(o.o_orderdate, '%Y-%m-%d') AS stt,
       n.n_name AS province_name,
       count(DISTINCT o.o_orderkey) AS order_ct,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


#: session gap — same constant as the T3 state machine (plans.dwm).
SESSION_GAP_SECONDS = 1800


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via gap detection: lag + running sum assigns session
    sequence numbers per user, then per-session rollups.

    This is the batch form of the per-key session state the reference
    keeps implicitly across UniqueVisitApp/UserJumpDetailApp (session
    start = no event within the gap); the streaming form is
    ``session_window`` / the T3 state machine. Integer epoch-micros keep
    every derived value exact in both engines.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        us.alias("us"),
        F.when(
            F.lag(us).over(w).isNull()
            | ((us - F.lag(us).over(w)) > SESSION_GAP_SECONDS * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_view"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    sessions = flagged.withColumn(
        "session_seq", F.sum("is_start").over(wrun).cast("long")
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.max("us").alias("max_us"),
            F.min("us").alias("min_us"),
            F.sum("is_view").cast("long").alias("pv_ct"),
        )
        .select(
            "user_id",
            "session_seq",
            "session_start",
            "n_events",
            # integer division end-to-end — float division truncates
            # differently at representation boundaries
            F.expr("(max_us - min_us) DIV 1000000").cast("long").alias("duration_s"),
            "pv_ct",
        )
    )


ORACLE_SESSION_STATS = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, epoch_us(ts) AS us,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_SECONDS * 1_000_000}
                THEN 1 ELSE 0 END AS is_start,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_s,
       CAST(sum(is_view) AS BIGINT) AS pv_ct
FROM sessions
GROUP BY 1, 2
"""


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (gap-merged event-time windows) — the
    built-in form of gap sessionization. Window end = last event + gap,
    which the oracle reproduces from the lag/cumsum formulation — proving
    the two sessionization paths agree."""
    return session_windows_transform(load(spark, sf_dir, "events"))


def session_windows_transform(ev: DataFrame) -> DataFrame:
    """The sessionization transform, batch or stream. On the incremental
    engine (stream_session_windows) it is the stateful MERGING window
    operator — unlike tumbling windows, open sessions merge when a
    bridging event arrives — drained in complete mode so every final
    merged session is emitted and the batch oracle applies verbatim.
    Production would run append + watermark to bound state; complete
    over availableNow is the deterministic finite-input form of the same
    state machine."""
    w = F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds")
    return ev.groupBy(w.alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


ORACLE_SESSION_WINDOWS = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_SECONDS * 1_000_000}
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL {SESSION_GAP_SECONDS} SECOND, '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, session_seq
"""


def supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-side stats rollup (the ProductStats shape keyed on the
    supply dimension): agg first, then broadcast-enrich with supplier ⋈
    nation so the shuffle carries only (key, partials)."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    agg = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(MONEY)).cast("double").alias("supply_qty"),
        F.sum(F.col("l_extendedprice").cast(MONEY)).cast("double").alias("supply_amount"),
        F.countDistinct("l_orderkey").alias("order_ct"),
    )
    dim = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "left"
    ).select("s_suppkey", "s_name", F.col("n_name").alias("province_name"))
    return agg.join(F.broadcast(dim), agg.l_suppkey == dim.s_suppkey, "left").select(
        F.col("l_suppkey").alias("supplier_id"),
        F.col("s_name").alias("supplier_name"),
        "province_name",
        "supply_qty",
        "supply_amount",
        "order_ct",
    )


ORACLE_SUPPLIER_STATS = """
SELECT l.l_suppkey AS supplier_id,
       any_value(s.s_name) AS supplier_name,
       any_value(n.n_name) AS province_name,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS supply_qty,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS supply_amount,
       count(DISTINCT l.l_orderkey) AS order_ct
FROM lineitem l
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1
"""


def keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 tokenizer UDTF + explode + A4 windowed count
    (KeywordStatsApp.java:40-67, KeywordUDTF.java:14-24).

    The hot path stays JVM-side: split + filter higher-order functions +
    explode (no Python in the loop); the Python ``ik_analyze`` UDF is the
    registered SQL-visible variant for CJK inputs (functions.tokenize).
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(tokens_col("text")).alias("keyword")
    )
    return toks.groupBy("keyword", "source").agg(
        F.count(F.lit(1)).alias("ct"),
        F.countDistinct("doc_id").alias("doc_ct"),
    )


ORACLE_KEYWORD_STATS = """
SELECT u.keyword,
       u.source,
       CAST(count(*) AS BIGINT) AS ct,
       count(DISTINCT u.doc_id) AS doc_ct
FROM (
    SELECT doc_id, source,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS keyword
    FROM documents
) u
GROUP BY 1, 2
"""


SLIDE_SIZE_S = 6 * 3600  # 6-hour windows ...
SLIDE_STEP_S = 3 * 3600  # ... sliding every 3 hours (2 windows per event)


def sliding_visitor_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows — the window kind the
    reference never uses (SURVEY §2.6: tumbling only) but any DWS layer
    needs for overlapping trend panes. ``window(ts, size, slide)`` fans
    each event into size/slide window copies before one hash aggregation;
    the oracle mirrors the fan-out arithmetic exactly (each event lands
    in the two slide-aligned panes covering it). Exact uv per pane via
    COUNT(DISTINCT) — batch mode, so the two-level expand plan applies."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", f"{SLIDE_SIZE_S} seconds", f"{SLIDE_STEP_S} seconds")
    agg = ev.groupBy(w.alias("w")).agg(
        F.count(F.lit(1)).alias("pv"),
        F.countDistinct("user_id").alias("uv"),
    )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        "pv",
        "uv",
    )


ORACLE_SLIDING_VISITOR_WINDOWS = f"""
WITH fanned AS (
    SELECT user_id,
           (epoch_us(ts) // {SLIDE_STEP_S * 1_000_000}) * {SLIDE_STEP_S * 1_000_000}
             - k * {SLIDE_STEP_S * 1_000_000} AS w_start_us
    FROM events, (SELECT unnest(range(0, {SLIDE_SIZE_S // SLIDE_STEP_S})) AS k)
)
SELECT strftime(make_timestamp(w_start_us), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(make_timestamp(w_start_us + {SLIDE_SIZE_S * 1_000_000}),
                '%Y-%m-%d %H:%M:%S') AS edt,
       CAST(count(*) AS BIGINT) AS pv,
       count(DISTINCT user_id) AS uv
FROM fanned
GROUP BY w_start_us
"""


def keyword_stats_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 via a TRUE Python table function — the exact SQL shape of the
    reference's UDTF join (``SELECT ... FROM page_view, LATERAL
    TABLE(ik_analyze(fullword))``, KeywordStatsApp.java:40-53,
    KeywordUDTF.java:14-24), here ``LATERAL tokens_t(text)`` over a
    registered Python UDTF emitting one row per keyword. Shares
    ORACLE_KEYWORD_STATS with the JVM-hot-path twin ``keyword_stats`` —
    three engine legs (codegen'd tokens_col, scalar ik_analyze, table
    ik_analyze_t), one oracle.

    Scale note: this is the SLOW path (per-row Python, fused into the
    scan stage — no extra shuffle; the aggregation after it is the same
    partial-agg plan as the twin). It exists for API parity; pipelines at
    100 TB use keyword_stats.
    """
    from flink_gmall_spark.functions.tokenize import register_keyword_udtf

    register_keyword_udtf(spark)
    load(spark, sf_dir, "documents").createOrReplaceTempView("kw_udtf_docs")
    return spark.sql(
        """
        SELECT t.keyword, s.source, count(*) AS ct,
               count(DISTINCT s.doc_id) AS doc_ct
        FROM kw_udtf_docs s, LATERAL tokens_t(s.text) t
        GROUP BY 1, 2
        """
    )
