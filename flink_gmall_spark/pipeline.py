"""End-to-end layered warehouse wiring (the reference's full topology).

The reference runs 10 Flink jobs chained over Kafka topics
(ODS → DWD → DWM → DWS) with ClickHouse holding the DWS stats tables and
gmall-publisher querying them (SURVEY §3). Here each job is one Spark
query and each inter-job hop is a materialized table (test mode) or a
Kafka topic (prod mode, sources.kafka) — SURVEY §3.3's process-boundary
mapping.

``build_warehouse`` runs the chain once over a scale-factor directory:

    ODS   events.parquet (+ orders/lineitem/dims)
    DWD   dwd_page_log          — cleaned page views (P1-P4)
    DWM   dwm_order_wide        — dim-enriched orders (J3)
    DWS   visitor_stats         — streamed windowed stats (A1, incremental
                                  engine, exactly-once epoch sink)
          product_stats         — product rollup (A2)
    ADS   query helpers read the *materialized* stats tables — the same
          SQL the publisher mappers run against ClickHouse.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall_spark.plans import dwd, dwm, dws
from flink_gmall_spark.session import tune
from flink_gmall_spark.streaming import jobs as stream_jobs


def build_warehouse(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Materialize the DWD/DWM/DWS layers under ``out_dir``; returns the
    table name → path map the ADS layer queries."""
    tune(spark)
    tables: dict[str, str] = {}

    def write(name: str, df: DataFrame) -> None:
        path = os.path.join(out_dir, name)
        df.write.mode("overwrite").parquet(path)
        tables[name] = path

    # DWD — batch writes (prod: Kafka sinks per topic)
    write("dwd_page_log", dwd.page_views(spark, sf_dir))
    write("dim_order_info", dwd.cdc_dim_upsert(spark, sf_dir))

    # DWM — wide streams
    write("dwm_order_wide", dwm.order_wide(spark, sf_dir))

    # DWS — visitor stats through the *incremental streaming engine* with
    # the exactly-once epoch sink (replays are idempotent)
    ev = stream_jobs.read_stream(spark, sf_dir, "events")
    agg = dws.visitor_stats_transform(ev)
    vs_path = os.path.join(out_dir, "visitor_stats")
    ckpt = os.path.join(out_dir, "_ckpt_visitor_stats")
    def write_stats(batch_df: DataFrame, epoch_id: int) -> None:
        # date-partitioned like a production stats table — ADS queries
        # with a dt predicate prune partitions at the file level
        (
            batch_df.withColumn("dt", F.substring("stt", 1, 10))
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(vs_path)
        )

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_stats)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tables["visitor_stats"] = vs_path

    write("product_stats", dws.product_stats(spark, sf_dir))
    return tables


def ads_hourly_from_stats(spark: SparkSession, visitor_stats_path: str) -> DataFrame:
    """The publisher-mapper pattern: batch SQL over the materialized stats
    table (VisitorStatsMapper.java:19-22 runs the same rollup in
    ClickHouse), not over raw events — the stats table is the contract."""
    tune(spark)
    vs = spark.read.parquet(visitor_stats_path)
    return vs.groupBy(
        F.hour(F.to_timestamp("stt", "yyyy-MM-dd HH:mm:ss")).cast("long").alias("hr")
    ).agg(
        F.sum("pv_ct").cast("long").alias("pv_ct"),
        F.sum("purchase_ct").cast("long").alias("purchase_ct"),
        # window amounts are 2dp decimals exactified as doubles; cast back
        # to decimal so the re-aggregation stays order-independent
        F.sum(F.col("amount_sum").cast("decimal(18,2)")).cast("double").alias("amount_sum"),
    )


def pipeline_e2e_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole warehouse as one driver-checkable query: materialize
    ODS→DWD→DWM→DWS into a scratch dir (visitor stats through the
    incremental engine + exactly-once epoch sink, date-partitioned), then
    answer the publisher's hourly rollup FROM THE MATERIALIZED STATS
    TABLE — so the oracle checks the full chain: parse, window, stream,
    sink, partitioned re-read, re-aggregate. Decimal discipline across
    the sink boundary (2dp exactified doubles recast to DECIMAL before
    re-summing) is what keeps the final hash exact."""
    from flink_gmall_spark.scratch import scratch_dir, session_tag

    # keyed per session: repeated runs in one session (bench runs
    # everything twice) REUSE one dir via overwrite writes, and the
    # scratch registry removes it at exit — previously a fresh uuid dir
    # per call accumulated without bound.
    out = scratch_dir("wh", session_tag(spark, sf_dir))
    tables = build_warehouse(spark, sf_dir, out)
    return ads_hourly_from_stats(spark, tables["visitor_stats"])


def _oracle_pipeline_e2e_hourly() -> str:
    from flink_gmall_spark.plans.dws import VISITOR_WINDOW_SECONDS

    win_us = VISITOR_WINDOW_SECONDS * 1_000_000
    return f"""
WITH w AS (
    SELECT make_timestamp((epoch_us(ts) // {win_us}) * {win_us}) AS wstart, *
    FROM events
),
stats AS (
    SELECT wstart,
           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS pv_ct,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase_ct,
           sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS amount_sum
    FROM w
    GROUP BY wstart
)
SELECT CAST(hour(wstart) AS BIGINT) AS hr,
       CAST(sum(pv_ct) AS BIGINT) AS pv_ct,
       CAST(sum(purchase_ct) AS BIGINT) AS purchase_ct,
       CAST(sum(amount_sum) AS DOUBLE) AS amount_sum
FROM stats
GROUP BY 1
"""


ORACLE_PIPELINE_E2E_HOURLY = _oracle_pipeline_e2e_hourly()
