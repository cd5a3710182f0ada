"""SparkSession construction and runtime tuning.

Local testing runs on ``local[N]`` (one JVM); the configs below are chosen
so the same logical plans scale to a real cluster: AQE for runtime
re-planning and skew-join splitting, shuffle partitions sized to cores
locally (a cluster deployment would raise it to ~2-3x total cores),
broadcast threshold large enough that every dimension table of the gmall
star schema (customer/nation/region/part) broadcast-joins instead of
shuffling the fact side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Runtime-settable confs applied to *any* session (including the driver's):
# these keep query results deterministic and plans efficient regardless of
# who built the SparkSession.
RUNTIME_CONFS = {
    # Parity: DuckDB timestamps are UTC-naive; render everything in UTC.
    "spark.sql.session.timeZone": "UTC",
    # Scale: AQE re-plans joins/partitions from runtime stats and splits
    # skewed shuffle partitions (salting for free at the framework level).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # All gmall dims (customer/nation/region/part at sf<=1) are small;
    # 64 MiB keeps them on the broadcast path (BroadcastHashJoin) so the
    # fact side never shuffles for enrichment joins (SURVEY §2.4 J3).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas UDF / toPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS), which Spark has no native
    # type for; read as long nanos and convert in sources.tables.load
    # (floor to micros — matches DuckDB's ns→us truncation exactly).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Iterative jobs (PageRank, k-means, BPE) chain per-round persists;
    # InMemoryRelation RENDERS its cached child plan, so the explain
    # string of round k nests every earlier round — at the default
    # ~2 GiB cap the UI/listener string concat alone OOMs a 1 GiB
    # driver (observed: ads_part_pagerank_deep round ~8). 1 MiB renders
    # plenty of plan for debugging while bounding render cost.
    "spark.sql.maxPlanStringLength": str(1024 * 1024),
}


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided or ours).

    Safe to call repeatedly. Called once by each entry layer, so
    correctness does not depend on who constructed the session: the
    registry wraps every ``Query.fn`` in it, each ``plans.api`` function
    calls it, and so do ``pipeline.build_warehouse`` and
    ``pipeline.ads_hourly_from_stats``. The plans and operators below
    them do not call it.
    """
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    n = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return spark


def get_spark(app_name: str = "flink-gmall-spark", cpus: str | None = None) -> SparkSession:
    """Build a tuned local session (used by tests and bench.py)."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
