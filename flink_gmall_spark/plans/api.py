"""User-facing ADS query API — endpoint-for-endpoint parity with the
reference's gmall-publisher HTTP surface (SugarController.java), minus the
HTTP shell (a non-goal, SURVEY §7.4). A user of the reference calls
``GET /api/sugar/gmv?date=20240105``; a user of this engine calls
``api.gmv(spark, sf_dir, "2024-01-05")`` and gets the same number.

Each panel serves a stats table, as the reference's mappers only filter
or take a top-N from the ClickHouse tables its DWS jobs wrote. The first
call in a session builds the panel's DWS-shaped table from the
registered plans (same aliases, same exact-decimal parity rules) and
keeps it materialized; every call then runs only the panel's last step,
a date filter or an ``orderBy`` + ``limit``, over that table:

==========================  ========================================  ========================
panel                       served table                              source tables
==========================  ========================================  ========================
gmv                         ``ads.gmv_by_date``                       orders
product_stats_by_trademark  ``ads.top_brands``                        lineitem, part
product_stats_by_sku        ``dws.product_stats``                     lineitem, part
visitor_stats_by_hour       events by ``(dt, hr)``                    events
visitor_stats_by_new_flag   ``dwm.visit_flag`` ⋈ events by            events
                            ``(dt, is_new)``
keyword_stats               ``dws.keyword_stats`` summed per keyword  documents
province_stats              ``dws.province_stats``                    orders, customer, nation
==========================  ========================================  ========================

Invalidation: ``_SERVED`` holds one entry per panel, keyed by the
session's ``applicationId`` and the ``sources.tables.file_identity``
(realpath, mtime, size) of each of its source tables. A call whose key
differs — a new session, a source rewritten or re-staged in place —
rebuilds the table and releases the superseded one.

Adapter mapping per FIXTURES.md §7 (orders→order_info, part
brand→trademark, nation→province, events→visitor log, documents→keyword
source). Each function is also an entry point: it tunes the session
first (``session.tune``), before any table is built, because the plans
it calls do not.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall_spark.plans import ads, dwm, dws
from flink_gmall_spark.session import tune
from flink_gmall_spark.sources import load, path
from flink_gmall_spark.sources.tables import file_identity

#: panel -> (key, served table)
_SERVED: dict[str, tuple[tuple, DataFrame]] = {}
_SERVED_LOCK = threading.Lock()


def _served(
    spark: SparkSession,
    sf_dir: str,
    panel: str,
    sources: tuple[str, ...],
    build: Callable[[SparkSession, str], DataFrame],
) -> DataFrame:
    """``panel``'s stats table for this session and these source files,
    built by ``build`` when the key changed.

    The table is a lazy ``localCheckpoint``: its shuffle stages run
    here, its last stage with the panel's first action, and later calls
    read the checkpointed blocks. It is reachable only through this memo.
    A ``persist()`` would hand the plan to Spark's cache manager, which
    serves it to every other query containing the same plan (registry
    entries over the same tables would read the panel's cache) and
    matches plans by path, not file version. The trade is the one
    ``ads.part_pagerank_deep`` makes: blocks lost with an executor are
    not recomputed. Likewise a frame a panel returned fails to collect
    once a later call has released its table, so collect a panel's
    answer before its sources change."""
    key = (
        spark.sparkContext.applicationId,
        tuple(file_identity(path(sf_dir, t)) for t in sources),
    )
    with _SERVED_LOCK:
        hit = _SERVED.get(panel)
        if hit is not None and hit[0] == key:
            return hit[1]
        # a stopped session's blocks went with its context
        if hit is not None and hit[0][0] == key[0]:
            ads.release_local_checkpoint(hit[1])
        table = build(spark, sf_dir).localCheckpoint(eager=False)
        _SERVED[panel] = (key, table)
        return table


def _visitor_stats_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("pv_ct"),
        F.countDistinct("user_id").alias("uv_ct"),
    )


def _visitor_stats_new_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = dwm.visit_flag(spark, sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("dt")
    )
    return ev.join(flags, "event_id").groupBy("dt", "is_new").agg(
        F.count(F.lit(1)).alias("pv_ct"),
        F.countDistinct("user_id").alias("uv_ct"),
    )


def _keyword_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dws.keyword_stats(spark, sf_dir)
        .groupBy("keyword")
        .agg(F.sum(F.col("ct")).cast("long").alias("ct"))
    )


def gmv(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """ProductStatsMapper.java:15-17: select sum(order_amount) ... where
    toYYYYMMDD(stt) = #{date}."""
    tune(spark)
    stats = _served(spark, sf_dir, "gmv", ("orders",), ads.gmv_by_date)
    return stats.filter(F.col("dt") == date).select("gmv")


def product_stats_by_trademark(
    spark: SparkSession, sf_dir: str, limit: int = 5
) -> DataFrame:
    """ProductStatsMapper.java:35-40: group by trademark having
    order_amount > 0 order by order_amount desc limit N."""
    tune(spark)
    stats = _served(
        spark, sf_dir, "product_stats_by_trademark", ("lineitem", "part"), ads.top_brands
    )
    return stats.orderBy(F.desc("order_amount"), F.asc("tm_name")).limit(limit)


def product_stats_by_sku(
    spark: SparkSession, sf_dir: str, limit: int = 10
) -> DataFrame:
    """ProductStatsMapper.java:20-24 (spu variant): top products by
    order amount with a deterministic tiebreak."""
    tune(spark)
    stats = _served(
        spark, sf_dir, "product_stats_by_sku", ("lineitem", "part"), dws.product_stats
    )
    return stats.orderBy(F.desc("order_amount"), F.asc("sku_id")).limit(limit)


def visitor_stats_by_hour(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """VisitorStatsMapper.java:19-22: hourly pv/uv/new-uv for one day."""
    tune(spark)
    stats = _served(
        spark, sf_dir, "visitor_stats_by_hour", ("events",), _visitor_stats_hourly
    )
    return stats.filter(F.col("dt") == date).select("hr", "pv_ct", "uv_ct")


def visitor_stats_by_new_flag(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """VisitorStatsMapper.java:13-16: per-day totals split by the T1
    is_new flag (repaired by the keyed-state operator)."""
    tune(spark)
    stats = _served(
        spark, sf_dir, "visitor_stats_by_new_flag", ("events",), _visitor_stats_new_flag
    )
    return stats.filter(F.col("dt") == date).select("is_new", "pv_ct", "uv_ct")


def keyword_stats(spark: SparkSession, sf_dir: str, limit: int = 10) -> DataFrame:
    """Unweighted keyword top-N by total count (the source-weighted
    variant of KeywordStatsMapper.java:13-18 is ads.keyword_weighted)."""
    tune(spark)
    stats = _served(spark, sf_dir, "keyword_stats", ("documents",), _keyword_totals)
    return stats.orderBy(F.desc("ct"), F.asc("keyword")).limit(limit)


def province_stats(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """ProvinceStatsMapper.java:13-16: per-province order rollup for a day."""
    tune(spark)
    stats = _served(
        spark, sf_dir, "province_stats", ("orders", "customer", "nation"), dws.province_stats
    )
    return stats.filter(F.col("stt") == date).select(
        "province_name", "order_ct", "order_amount"
    )
