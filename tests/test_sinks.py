"""Sink semantics: exactly-once foreachBatch epochs + Kafka gating."""

from __future__ import annotations

import os

import pytest

from flink_gmall_spark.sources import kafka as kafka_io
from flink_gmall_spark.streaming import jobs


def test_exactly_once_epoch_sink_is_idempotent(spark, sf_dir, tmp_path):
    """Replaying the same stream over the same checkpoint must not
    duplicate rows (T9/S6: the reference's EXACTLY_ONCE Kafka txn analog)."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = jobs.read_stream(spark, sf_dir, "events").select("event_id", "user_id")

    q = jobs.write_exactly_once(src, out, ckpt)
    q.awaitTermination()
    first = spark.read.parquet(out)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert first.count() == n_events
    assert first.select("event_id").distinct().count() == n_events

    # replay with the same checkpoint: offsets already committed → no-op
    q2 = jobs.write_exactly_once(src, out, ckpt)
    q2.awaitTermination()
    again = spark.read.parquet(out)
    assert again.count() == n_events


def test_kafka_requires_integration(spark):
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_io.read_stream(spark, "ods_base_log")


def test_pyds_sink_abort_leaves_no_manifest(spark, sf_dir, tmp_path):
    """Two-phase commit, failure leg: when a task fails mid-write the
    driver must call abort and publish NO manifest — readers that trust
    only the manifest (sink_pyds_dim_roundtrip) therefore never observe a
    partial write. A poisoned UDF fails one partition after others may
    have staged files."""
    from pyspark.sql import functions as F

    from flink_gmall_spark.sources.pydatasource import GmallDimSinkDataSource

    spark.dataSource.register(GmallDimSinkDataSource)
    d = str(tmp_path / "sink")

    @F.udf("long")
    def poison(v):
        if v == 7:
            raise RuntimeError("boom")
        return v

    df = spark.range(0, 16, 1, 4).select(poison("id").alias("id"))
    with pytest.raises(Exception):
        df.write.format("gmall_dim_sink").option("path", d).mode("append").save()
    assert not os.path.exists(os.path.join(d, "_MANIFEST.json"))


def test_pyds_stream_source_checkpoint_replay(spark, sf_dir, tmp_path):
    """The custom streaming source must honor checkpointed offsets: a
    second availableNow run over the same checkpoint sees the committed
    row-group offset and reads zero new rows — the source half of
    exactly-once (the sink half is the epoch/manifest tests above)."""
    from flink_gmall_spark.sources.pydatasource import GmallCDCStreamDataSource
    from flink_gmall_spark.sources.tables import path as table_path

    spark.dataSource.register(GmallCDCStreamDataSource)
    ckpt = str(tmp_path / "ckpt")

    def run_once() -> int:
        env = (
            spark.readStream.format("gmall_cdc_stream")
            .option("path", table_path(sf_dir, "orders"))
            .load()
        )
        totals = []

        def count_batch(batch_df, epoch_id):
            totals.append(batch_df.count())

        q = (
            env.writeStream.foreachBatch(count_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(totals)

    first = run_once()
    assert first > 0
    assert run_once() == 0, "committed offsets were re-read"
