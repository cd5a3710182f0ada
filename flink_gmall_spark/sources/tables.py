"""Parquet table sources over the driver's synthetic star schema.

Replaces the reference's Kafka/CDC source layer (SURVEY §2.1 S1-S5) for
batch/correctness runs: ODS topics become parquet scans whose filters and
column prunes push down into the file reader. ``streaming.jobs`` layers
``readStream`` over the same files for the Structured Streaming surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Session confs whose values change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# No eviction: one entry per session, file version and conf setting seen
# in this process, a handful of tables each.
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}


def parquet_schema(spark: SparkSession, p: str) -> T.StructType:
    """The schema ``spark.read.parquet(p)`` infers, inferred once per
    session, file version and inference conf setting.

    Inference runs one Spark job that reads a parquet footer, and a
    dashboard refresh or a warehouse build loads the same few tables
    over and over; with the schema given, a load runs no job at all.
    The memo key is the session's ``applicationId``, the file's identity
    (realpath, ``st_mtime_ns``, ``st_size``) and the values of the confs
    in ``_INFERENCE_CONFS``. File identity is in the key because a path's
    content can change while a session lives: tests rewrite fixtures in
    place (a legacy-nanos ``events`` file, a table gaining a column), and
    input re-staged at a reused path (as perfbench stages its seeded
    tables) must be read with the new files' schema. The conf values are
    in it because the same footer reads as a different schema under them
    (``nanosAsLong`` turns TIMESTAMP(NANOS) into a long)."""
    st = os.stat(p)
    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(p),
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = _SCHEMA_MEMO[key] = spark.read.parquet(p).schema
    return schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Catalyst prunes columns / pushes predicates into
    the parquet reader, so callers select/filter freely.

    The schema comes from :func:`parquet_schema`, so only the first load
    of a table in a session runs the footer-reading inference job. The
    memo is keyed on the session, on the file's identity (a rewritten or
    re-staged file is inferred again) and on the confs that change
    inference.

    Timestamp normalization (the engine's single source-typing chokepoint):

    * ``timestamp[us]`` with isAdjustedToUTC=false → Spark 4.1 reads
      TIMESTAMP_NTZ. Every downstream event-time op (``unix_micros``,
      ``withWatermark``, ``window``) requires TIMESTAMP, so cast here.
      The session time zone is pinned UTC (session.RUNTIME_CONFS), so the
      NTZ→TZ cast is value-preserving and hash-neutral vs the DuckDB
      oracles (DuckDB timestamps are UTC-naive).
    * Legacy TIMESTAMP(NANOS) fixtures arrive as long nanos
      (legacy.parquet.nanosAsLong); floor-convert to micros — bit-identical
      to DuckDB's ns→us truncation.
    """
    p = path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, p)).parquet(p)
    return normalize_timestamps(df)


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (UTC session TZ ⇒ value-
    preserving) and legacy long-nanos ``ts`` to a micros timestamp. Applied
    by every batch and stream read so no plan ever sees an NTZ event-time
    column."""
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        elif f.name == "ts" and isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when
    the input resolves to FEWER scan partitions than cores — guide §2.5's
    "repartition immediately after the read" for unsplittable inputs,
    made conditional so it disappears on well-laid-out tables.

    Why (r16 scale ladder): every fixture table is a single parquet row
    group (documents 0.6 MB, lineitem 10.8 MB at sf0.1), and Spark
    cannot split a row group, so the scan is ONE partition at any core
    count — the expensive per-row map work above it (tokenize, k-gram
    md5 arrays, explode) serializes into one task. Thread dumps at the
    sf1 ladder showed dedup_winnowing_w_sweep spending ~20 s/run in
    single-task Generate→shuffle-write stages while 31 cores idled, and
    its 8-vs-32-core ratio pinned at ~1.0. The repartition moves only
    the raw scan bytes (one cheap exchange written by the single scan
    task) and spreads everything above it; measured at sf0.1 the
    w_sweep fingerprint subtree alone went 1.38 s → 0.61 s.

    At 100 TB the condition is FALSE (real tables have thousands of
    splits ≥ cores) and this returns the input unchanged — the at-scale
    plan is identical, so this is input-layout adaptation, not a
    local-only tuning constant. Explicit numPartitions pins the count
    (AQE does not re-coalesce user-specified repartitions, and
    sort-before-repartition keeps retries deterministic). No-op on
    streaming DataFrames (no rdd access in a streaming plan)."""
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the spark.sql() entry path
    (mirrors the reference's Flink SQL jobs, SURVEY §3.2)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
