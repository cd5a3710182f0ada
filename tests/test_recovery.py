"""Checkpoint recovery: a stateful streaming query stopped and restarted
with NEW input files must resume from its state store — processing only
the new data but remembering every key it has seen (the reference's
FsStateBackend recovery story, SURVEY §2.6 T8/T9)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from flink_gmall_spark.functions.clock import ENV_VAR, emit_ts
from flink_gmall_spark.sources import load
from flink_gmall_spark.streaming.state import _t2_fn


def test_frozen_clock(spark):
    os.environ[ENV_VAR] = "1700000000000"
    try:
        row = spark.range(1).select(emit_ts().alias("ts")).collect()[0]
        assert row.ts == 1700000000000
    finally:
        del os.environ[ENV_VAR]
    live = spark.range(1).select(emit_ts().alias("ts")).collect()[0]
    assert live.ts > 1_600_000_000_000


def test_stateful_restart_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt")
    )
    first_half = ev.filter(F.col("dt") <= "2024-01-03")
    second_half = ev.filter(F.col("dt") > "2024-01-03")
    first_half.write.parquet(os.path.join(src_dir, "batch=0"))

    schema = "user_id long, dt string"

    def run_once() -> None:
        src = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        firsts = src.groupBy("user_id").applyInPandasWithState(
            _t2_fn,
            outputStructType="user_id long, dt string",
            stateStructType="last_dt string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            firsts.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(out_dir).count()
    assert n_first == first_half.dropDuplicates(["user_id", "dt"]).count()

    # "restart": new query instance, same checkpoint, new input file
    second_half.write.parquet(os.path.join(src_dir, "batch=1"))
    run_once()

    got = spark.read.parquet(out_dir)
    want = ev.dropDuplicates(["user_id", "dt"])
    # every (user, dt) exactly once across both runs — state survived the
    # restart (a lost state store would re-emit first-half dates)
    assert got.count() == want.count()
    assert got.distinct().count() == want.count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
