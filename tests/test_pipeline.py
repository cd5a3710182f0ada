"""End-to-end layered warehouse: materialize DWD/DWM/DWS, query ADS over
the materialized stats — results must equal direct computation."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_gmall_spark import pipeline
from flink_gmall_spark.plans import dwd, dwm, dws
from tests.oracle import compare, duck_connection

#: materialized layer -> the oracle its registry twin is checked against
WRITTEN_ORACLES = {
    "dwd_page_log": dwd.ORACLE_PAGE_VIEWS,
    "dim_order_info": dwd.ORACLE_CDC_DIM_UPSERT,
    "dwm_order_wide": dwm.ORACLE_ORDER_WIDE,
    "product_stats": dws.ORACLE_PRODUCT_STATS,
}


def test_build_warehouse_and_query(spark, sf_dir, tmp_path):
    out = str(tmp_path / "wh")
    tables = pipeline.build_warehouse(spark, sf_dir, out)
    assert set(tables) == {
        "dwd_page_log",
        "dim_order_info",
        "dwm_order_wide",
        "visitor_stats",
        "product_stats",
    }

    # the materialized streamed stats equal the batch plan (modulo the dt
    # partition column the sink adds)
    want_vs = dws.visitor_stats(spark, sf_dir)
    vs = spark.read.parquet(tables["visitor_stats"]).select(*want_vs.columns)
    assert sorted(map(tuple, vs.collect())) == sorted(map(tuple, want_vs.collect()))

    # partition pruning: a dt-filtered scan reads only that partition
    one_day = spark.read.parquet(tables["visitor_stats"]).filter(
        "dt = '2024-01-05'"
    )
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan, plan

    # ADS over the stats table == the same rollup computed directly
    got = pipeline.ads_hourly_from_stats(spark, tables["visitor_stats"])
    direct = (
        want_vs.groupBy(
            F.hour(F.to_timestamp("stt", "yyyy-MM-dd HH:mm:ss")).cast("long").alias("hr")
        )
        .agg(
            F.sum("pv_ct").cast("long").alias("pv_ct"),
            F.sum("purchase_ct").cast("long").alias("purchase_ct"),
            F.sum(F.col("amount_sum").cast("decimal(18,2)")).cast("double").alias("amount_sum"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, direct.collect()))

    # every other layer, as written, equals its oracle (the dim upsert
    # included: one row per order id, the last writer's values)
    con = duck_connection(sf_dir)
    try:
        for name, sql in WRITTEN_ORACLES.items():
            compare(spark.read.parquet(tables[name]), con, sql, name=name)
    finally:
        con.close()


def test_pipeline_e2e_hourly_streams_on_every_call(spark, sf_dir):
    """A second call in one session reuses the per-session scratch dir;
    it must run the streaming hop again, not re-read the first call's
    stats through an already-committed checkpoint."""
    from pyspark.sql.streaming import StreamingQueryListener

    input_rows: list[int] = []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            input_rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        first = sorted(map(tuple, pipeline.pipeline_e2e_hourly(spark, sf_dir).collect()))
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        input_rows.clear()
        second = sorted(map(tuple, pipeline.pipeline_e2e_hourly(spark, sf_dir).collect()))
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert any(n > 0 for n in input_rows), input_rows
    assert first and second == first
