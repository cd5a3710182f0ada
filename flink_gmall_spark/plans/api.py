"""User-facing ADS query API — endpoint-for-endpoint parity with the
reference's gmall-publisher HTTP surface (SugarController.java), minus the
HTTP shell (a non-goal, SURVEY §7.4). A user of the reference calls
``GET /api/sugar/gmv?date=20240105``; a user of this engine calls
``api.gmv(spark, sf_dir, "2024-01-05")`` and gets the same number.

Each function is a thin parameterized wrapper over the registered plans
(same aliases, same exact-decimal parity rules); adapter mapping per
FIXTURES.md §7 (orders→order_info, part brand→trademark, nation→province,
events→visitor log, documents→keyword source). Each function is also
an entry point: it tunes the session first (``session.tune``), because
the plans it calls do not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall_spark.plans import ads, dwm, dws
from flink_gmall_spark.session import tune
from flink_gmall_spark.sources import load


def gmv(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """ProductStatsMapper.java:15-17: select sum(order_amount) ... where
    toYYYYMMDD(stt) = #{date}."""
    tune(spark)
    return ads.gmv_by_date(spark, sf_dir).filter(F.col("dt") == date).select("gmv")


def product_stats_by_trademark(
    spark: SparkSession, sf_dir: str, limit: int = 5
) -> DataFrame:
    """ProductStatsMapper.java:35-40: group by trademark having
    order_amount > 0 order by order_amount desc limit N."""
    tune(spark)
    return ads.top_brands(spark, sf_dir).limit(limit)


def product_stats_by_sku(
    spark: SparkSession, sf_dir: str, limit: int = 10
) -> DataFrame:
    """ProductStatsMapper.java:20-24 (spu variant): top products by
    order amount with a deterministic tiebreak."""
    tune(spark)
    stats = dws.product_stats(spark, sf_dir)
    return stats.orderBy(F.desc("order_amount"), F.asc("sku_id")).limit(limit)


def visitor_stats_by_hour(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """VisitorStatsMapper.java:19-22: hourly pv/uv/new-uv for one day."""
    tune(spark)
    ev = load(spark, sf_dir, "events").filter(
        F.date_format("ts", "yyyy-MM-dd") == date
    )
    return ev.groupBy(F.hour("ts").cast("long").alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("pv_ct"),
        F.countDistinct("user_id").alias("uv_ct"),
    )


def visitor_stats_by_new_flag(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """VisitorStatsMapper.java:13-16: per-day totals split by the T1
    is_new flag (repaired by the keyed-state operator)."""
    tune(spark)
    flags = dwm.visit_flag(spark, sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("dt")
    )
    joined = ev.filter(F.col("dt") == date).join(flags, "event_id")
    return joined.groupBy("is_new").agg(
        F.count(F.lit(1)).alias("pv_ct"),
        F.countDistinct("user_id").alias("uv_ct"),
    )


def keyword_stats(spark: SparkSession, sf_dir: str, limit: int = 10) -> DataFrame:
    """Unweighted keyword top-N by total count (the source-weighted
    variant of KeywordStatsMapper.java:13-18 is ads.keyword_weighted)."""
    tune(spark)
    kw = dws.keyword_stats(spark, sf_dir)
    weighted = kw.groupBy("keyword").agg(
        F.sum(F.col("ct")).cast("long").alias("ct"),
    )
    return weighted.orderBy(F.desc("ct"), F.asc("keyword")).limit(limit)


def province_stats(spark: SparkSession, sf_dir: str, date: str) -> DataFrame:
    """ProvinceStatsMapper.java:13-16: per-province order rollup for a day."""
    tune(spark)
    stats = dws.province_stats(spark, sf_dir)
    return stats.filter(F.col("stt") == date).select(
        "province_name", "order_ct", "order_amount"
    )
