"""DWD layer — parse, clean, split, route (BaseLogApp / BaseDBApp semantics).

Covers SURVEY §2.2 P1-P5 and §2.4 J4 on the driver's ``events`` table:
the ``props`` JSON string plays the role of the ODS log envelope, the
``event_type`` column plays the CDC ``table`` routing key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_gmall_spark.sources import load

# table_process analog (gmall bean/TableProcess.java:11-29, consumed by
# TableProcessFunction.java:128-155): event_type -> sink route. 'error' is
# deliberately unconfigured — unmatched records drop, as in the reference.
ROUTING_CONFIG = [
    ("view", "dwd_page_log", "kafka", "event_id,user_id,value"),
    ("click", "dwd_display_log", "kafka", "event_id,user_id"),
    ("purchase", "dwd_order_info", "kafka", "event_id,user_id,value"),
    ("signup", "dim_user_info", "hbase", "event_id,user_id"),
]
ROUTING_SCHEMA = "source_table string, sink_table string, sink_type string, sink_columns string"


def page_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 JSON parse + P3 non-empty filter + P4 predicate filter.

    gmall: BaseLogApp.java:48 (parse), BaseDBApp.java:54-62 (non-empty),
    KeywordStatsApp.java:52-55 (predicate). The filter and the 4-column
    projection push down into the parquet scan.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "view") & (F.length("props") > 0))
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            F.col("value").alias("value"),
        )
    )


ORACLE_PAGE_VIEWS = """
SELECT event_id,
       user_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       value
FROM events
WHERE event_type = 'view' AND length(props) > 0
"""


def clean_dirty_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 dirty-record side output: try-parse, corrupt rows branch off.

    gmall routes unparseable records to an OutputTag (UniqueVisitApp.java:47-59);
    Spark's idiom is ``from_json`` yielding NULL + two filters over one
    parsed stream. Returned as branch counts so both branches are exercised.
    """
    ev = load(spark, sf_dir, "events")
    parsed = ev.withColumn("parsed", F.from_json("props", "k BIGINT"))
    branched = parsed.withColumn(
        "branch", F.when(F.col("parsed").isNotNull(), "clean").otherwise("dirty")
    )
    return branched.groupBy("branch").agg(
        F.count(F.lit(1)).alias("ct"),
        F.countDistinct("user_id").alias("uv_ct"),
    )


#  Spark from_json with a struct schema yields NULL for valid-but-non-object
#  JSON ('5', '[1]', 'true'), classifying it dirty; match that tokenization
#  with json_type = 'OBJECT' so both engines agree on scalar/array JSON.
ORACLE_CLEAN_DIRTY_SPLIT = """
SELECT CASE WHEN json_valid(props) AND json_type(props) = 'OBJECT'
            THEN 'clean' ELSE 'dirty' END AS branch,
       CAST(count(*) AS BIGINT) AS ct,
       count(DISTINCT user_id) AS uv_ct
FROM events
GROUP BY 1
"""


def config_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 broadcast config join + P5 config-driven column pruning.

    gmall: BaseDBApp.java:117-127 joins the CDC stream against broadcast
    ``table_process`` state keyed on table/type and prunes columns per the
    config CSV (TableProcessFunction.java:158-170). Here the low-volume
    config is an in-memory DataFrame broadcast-joined to the event stream;
    unmatched event types drop (inner join), and the projected column count
    comes from the config row.
    """
    ev = load(spark, sf_dir, "events")
    cfg = spark.createDataFrame(ROUTING_CONFIG, ROUTING_SCHEMA)
    routed = ev.join(
        F.broadcast(cfg), ev.event_type == cfg.source_table, "inner"
    )
    return routed.groupBy("sink_table", "sink_type").agg(
        F.count(F.lit(1)).alias("ct"),
        F.countDistinct("user_id").alias("uv_ct"),
        F.sum(F.size(F.split("sink_columns", ","))).cast("long").alias("col_writes"),
    )


_CFG_VALUES = ", ".join(
    f"('{s}','{t}','{k}','{c}')" for s, t, k, c in ROUTING_CONFIG
)

ORACLE_CONFIG_ROUTING = f"""
SELECT cfg.sink_table,
       cfg.sink_type,
       CAST(count(*) AS BIGINT) AS ct,
       count(DISTINCT e.user_id) AS uv_ct,
       CAST(sum(len(string_split(cfg.sink_columns, ','))) AS BIGINT) AS col_writes
FROM events e
JOIN (VALUES {_CFG_VALUES})
     cfg(source_table, sink_table, sink_type, sink_columns)
  ON e.event_type = cfg.source_table
GROUP BY 1, 2
"""

#: CDC payload schema for the order_info changelog (FIXTURES.md §2/§3.1).
CDC_DATA_SCHEMA = "id BIGINT, order_status STRING, total_amount DOUBLE, create_time STRING"


def _order_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Debezium-style changelog synthesized from ``orders``:
    one 'insert' per order, plus a later 'update' (status→PAID, +1 day)
    for finished ('F') orders. Envelope shape per FIXTURES.md §2."""
    orders = load(spark, sf_dir, "orders")

    def envelope(src: DataFrame, typ: str, status: F.Column, ts: F.Column, seq: int) -> DataFrame:
        return src.select(
            F.lit("gmall").alias("database"),
            F.lit("order_info").alias("table"),
            F.lit(typ).alias("type"),
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("id"),
                    status.alias("order_status"),
                    F.col("o_totalprice").alias("total_amount"),
                    F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("create_time"),
                )
            ).alias("data"),
            # o_orderdate is TIMESTAMP_NTZ; cast to an instant (session TZ
            # is pinned UTC, so this matches DuckDB's naive epoch_us).
            F.unix_micros(ts.cast("timestamp")).alias("op_us"),
            F.lit(seq).cast("long").alias("op_seq"),
        )

    inserts = envelope(orders, "insert", F.col("o_orderstatus"), F.col("o_orderdate"), 0)
    updates = envelope(
        orders.filter(F.col("o_orderstatus") == "F"),
        "update",
        F.lit("PAID"),
        F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"),
        1,
    )
    return inserts.unionByName(updates)


def _order_changelog_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_order_changelog`` extended with a later 'delete' op for a
    deterministic slice of orders (o_orderkey % 7 == 0) — the retraction
    input shared by the batch fold (cdc_delete_aware_agg) and its
    streaming increment twin (streaming.state cdc_retract_stream)."""
    orders = load(spark, sf_dir, "orders")
    deletes = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.lit("gmall").alias("database"),
        F.lit("order_info").alias("table"),
        F.lit("delete").alias("type"),
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("id"),
                F.lit(None).cast("string").alias("order_status"),
                F.lit(None).cast("double").alias("total_amount"),
                F.lit(None).cast("string").alias("create_time"),
            )
        ).alias("data"),
        F.unix_micros(
            (F.col("o_orderdate") + F.expr("INTERVAL 2 DAY")).cast("timestamp")
        ).alias("op_us"),
        F.lit(2).cast("long").alias("op_seq"),
    )
    return _order_changelog(spark, sf_dir).unionByName(deletes)


def cdc_dim_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 CDC envelope → P1 parse → S7/S8 dim upsert (last-writer-wins).

    gmall consumes a Debezium-style ``{database, table, type, data}``
    changelog (BaseDBApp.java:67-112) and upserts dims keyed on id
    (DimSink.java:29-61 builds per-record Phoenix UPSERTs). Spark-native:
    the changelog is a DataFrame of JSON envelopes; ``from_json`` parses
    the after-image; the upsert is a row_number()-per-key merge — the same
    dedup-to-latest plan a Delta ``MERGE INTO`` executes per micro-batch
    in ``foreachBatch``.

    The changelog here is synthesized deterministically from ``orders``:
    every order emits an 'insert'; finished ('F') orders emit a later
    'update' marking payment — so the merge genuinely overrides rows.
    """
    return dim_upsert_merge(_order_changelog(spark, sf_dir))


def dim_upsert_merge(env: DataFrame) -> DataFrame:
    """The upsert itself, independent of how the envelope was sourced:
    parse the after-image, keep the last writer per key. Shared by the
    DataFrame-synthesized changelog above and the ``gmall_cdc`` Python
    data source (sources.pydatasource)."""
    parsed = env.select(
        "type",
        "op_us",
        "op_seq",
        F.from_json("data", CDC_DATA_SCHEMA).alias("d"),
    ).select("type", "op_us", "op_seq", "d.*")
    w = Window.partitionBy("id").orderBy(F.desc("op_us"), F.desc("op_seq"))
    latest = parsed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return latest.select("id", "order_status", "total_amount", "create_time")


def cdc_dim_upsert_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 as a first-class pluggable connector: the same changelog read
    through the registered ``gmall_cdc`` Python data source (PySpark 4
    Data Source API, one partition per parquet row group, Arrow-batched)
    and merged by the identical last-writer-wins plan — shares
    ORACLE_CDC_DIM_UPSERT, proving source-independence of the pipeline."""
    from flink_gmall_spark.sources.pydatasource import GmallCDCDataSource
    from flink_gmall_spark.sources.tables import path as table_path

    spark.dataSource.register(GmallCDCDataSource)
    env = (
        spark.read.format("gmall_cdc")
        .option("path", table_path(sf_dir, "orders"))
        .load()
    )
    return dim_upsert_merge(env)


def cdc_dim_upsert_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7/T9 sink semantics, end to end: the dim-upsert result written
    through the custom two-phase-commit sink (sources.pydatasource
    ``gmall_dim_sink``) and read back FROM THE MANIFEST ONLY — the
    exactly-once visibility rule. Hash-matching ORACLE_CDC_DIM_UPSERT
    proves no row was lost, duplicated, or mangled crossing the sink
    (JSON round-trip included)."""
    import json
    import os
    import uuid

    from flink_gmall_spark.scratch import scratch_dir
    from flink_gmall_spark.sources.pydatasource import GmallDimSinkDataSource

    spark.dataSource.register(GmallDimSinkDataSource)
    out = dim_upsert_merge(_order_changelog(spark, sf_dir))
    # uuid tag: each run is a fresh 2PC epoch by design (the abort test
    # relies on pristine dirs); scratch registry reaps them at exit.
    d = scratch_dir("dim_sink", uuid.uuid4().hex[:12])
    out.write.format("gmall_dim_sink").option("path", d).mode("append").save()
    with open(os.path.join(d, "_MANIFEST.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    schema = (
        "id long, order_status string, total_amount double, create_time string"
    )
    return spark.read.schema(schema).json(manifest["files"])


def cdc_dim_upsert_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 in its true deployment shape: the CDC connector as an UNBOUNDED
    source (``gmall_cdc_stream``, SimpleDataSourceStreamReader) tailed by
    the incremental engine — row-group offsets tracked per trigger with
    all-available-per-read draining, exactly how BaseDBApp tails the
    binlog topic forever. The drained envelope then feeds the same
    last-writer-wins merge and must hash-match ORACLE_CDC_DIM_UPSERT."""
    from flink_gmall_spark.sources.pydatasource import GmallCDCStreamDataSource
    from flink_gmall_spark.sources.tables import path as table_path
    from flink_gmall_spark.streaming.jobs import run_to_memory

    spark.dataSource.register(GmallCDCStreamDataSource)
    env_stream = (
        spark.readStream.format("gmall_cdc_stream")
        .option("path", table_path(sf_dir, "orders"))
        .load()
    )
    env = run_to_memory(env_stream, "append")
    return dim_upsert_merge(env)


def cdc_dim_upsert_dist_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executor-parallel form of the streaming connector
    (``gmall_cdc_stream_dist``, DataSourceStreamReader): the driver plans
    row-group offset ranges, executors read their partitions Arrow-
    batched — the shape that holds at 1000 executors, vs. the Simple
    reader whose reads run on the driver. Same envelope, same merge,
    same oracle."""
    from flink_gmall_spark.sources.pydatasource import GmallCDCDistStreamDataSource
    from flink_gmall_spark.sources.tables import path as table_path
    from flink_gmall_spark.streaming.jobs import run_to_memory

    spark.dataSource.register(GmallCDCDistStreamDataSource)
    env_stream = (
        spark.readStream.format("gmall_cdc_stream_dist")
        .option("path", table_path(sf_dir, "orders"))
        .load()
    )
    env = run_to_memory(env_stream, "append")
    return dim_upsert_merge(env)


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 slowly-changing-dimension history from the CDC changelog: each
    op becomes a validity interval [op_time, next_op_time) per key, open
    intervals capped at 9999-12-31 — the MERGE-less history-table pattern
    (no Delta in this image; with it, this is the foreachBatch MERGE)."""
    env = _order_changelog(spark, sf_dir)
    parsed = env.select(
        "op_us",
        "op_seq",
        F.from_json("data", CDC_DATA_SCHEMA).alias("d"),
    ).select("op_us", "op_seq", "d.*")
    w = Window.partitionBy("id").orderBy("op_us", "op_seq")
    hist = parsed.withColumn(
        "valid_to_us", F.lead("op_us").over(w)
    )
    return hist.select(
        "id",
        "order_status",
        "total_amount",
        F.date_format(F.timestamp_micros("op_us"), "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(F.timestamp_micros("valid_to_us"), "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
    )


ORACLE_CDC_SCD2_HISTORY = """
WITH ops AS (
    SELECT o_orderkey AS id, o_orderstatus AS order_status,
           o_totalprice AS total_amount, o_orderdate AS op_ts, 0 AS op_seq
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'PAID', o_totalprice, o_orderdate + INTERVAL 1 DAY, 1
    FROM orders WHERE o_orderstatus = 'F'
),
hist AS (
    SELECT *, lead(op_ts) OVER (PARTITION BY id ORDER BY op_ts, op_seq) AS valid_to_ts
    FROM ops
)
SELECT id, order_status, total_amount,
       strftime(op_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       coalesce(strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to
FROM hist
"""


#: as-of probe offset: 36h after order creation — past the +1-day PAID
#: update for 'F' orders, so the join genuinely selects different versions.
ASOF_PROBE_HOURS = 36


def cdc_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: enrich each probe row with the dim
    version valid at its timestamp — equi-join on the key plus half-open
    interval containment [valid_from, valid_to) over the SCD2 history.

    The as-of join the reference cannot express (Flink-CDC reads only the
    latest image) and Spark lacks as a builtin; as a composition it is a
    key equi-join + range predicate, which Catalyst executes as a hash
    join on the unique key with the interval filter applied — no range
    partitioning needed when the key is selective. Training-data analog:
    joining feature values as-of each example's event time.
    """
    hist = cdc_scd2_history(spark, sf_dir)
    hist_us = hist.select(
        "id",
        F.col("order_status").alias("status_version"),
        F.unix_micros(F.to_timestamp("valid_from", "yyyy-MM-dd HH:mm:ss")).alias("from_us"),
        F.when(F.col("valid_to") == "9999-12-31 00:00:00", F.lit(2**62))
        .otherwise(F.unix_micros(F.to_timestamp("valid_to", "yyyy-MM-dd HH:mm:ss")))
        .alias("to_us"),
    )
    orders = load(spark, sf_dir, "orders")
    probes = orders.select(
        F.col("o_orderkey").alias("id"),
        F.unix_micros(
            (F.col("o_orderdate") + F.expr(f"INTERVAL {ASOF_PROBE_HOURS} HOURS")).cast("timestamp")
        ).alias("probe_us"),
    )
    joined = probes.join(
        hist_us,
        (probes.id == hist_us.id)
        & (F.col("probe_us") >= F.col("from_us"))
        & (F.col("probe_us") < F.col("to_us")),
        "inner",
    )
    return joined.select(
        probes.id.alias("id"),
        F.date_format(F.timestamp_micros("probe_us"), "yyyy-MM-dd HH:mm:ss").alias("probe_ts"),
        F.col("status_version").alias("status_asof"),
    )


ORACLE_CDC_ASOF_JOIN = f"""
WITH ops AS (
    SELECT o_orderkey AS id, o_orderstatus AS order_status, o_orderdate AS op_ts, 0 AS op_seq
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'PAID', o_orderdate + INTERVAL 1 DAY, 1
    FROM orders WHERE o_orderstatus = 'F'
),
hist AS (
    SELECT *, lead(op_ts) OVER (PARTITION BY id ORDER BY op_ts, op_seq) AS valid_to_ts
    FROM ops
),
probes AS (
    SELECT o_orderkey AS id, o_orderdate + INTERVAL {ASOF_PROBE_HOURS} HOUR AS probe_ts
    FROM orders
)
SELECT p.id,
       strftime(p.probe_ts, '%Y-%m-%d %H:%M:%S') AS probe_ts,
       h.order_status AS status_asof
FROM probes p
JOIN hist h
  ON p.id = h.id
 AND p.probe_ts >= h.op_ts
 AND (h.valid_to_ts IS NULL OR p.probe_ts < h.valid_to_ts)
"""


ORACLE_CDC_DIM_UPSERT = """
SELECT o_orderkey AS id,
       CASE WHEN o_orderstatus = 'F' THEN 'PAID' ELSE o_orderstatus END AS order_status,
       o_totalprice AS total_amount,
       strftime(CASE WHEN o_orderstatus = 'F' THEN o_orderdate + INTERVAL 1 DAY
                     ELSE o_orderdate END, '%Y-%m-%d %H:%M:%S') AS create_time
FROM orders
"""


def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1's schema-on-read, upgraded to Spark 4's VARIANT type: the JSON
    props column parses ONCE into a binary variant
    (``try_parse_json``) and every consumer extracts typed paths at query
    time (``variant_get`` / ``try_variant_get``) — the engine-native
    answer to the reference's per-field ``JSON.parseObject`` maps
    (BaseLogApp.java JSON parsing) for payloads whose schema drifts.
    Missing paths are pinned to NULL (absent_ct = 0 in the oracle), the
    semantics a schema-drifting pipeline depends on.

    Scale shape (100 TB): the variant encodes to a compact binary at
    parse time, so N path extractions cost one parse, not N; the
    aggregation is ordinary partial→final hash agg. Columnar shredding of
    hot paths (a storage-layer feature) slots in with no query change.
    """
    ev = load(spark, sf_dir, "events")
    v = ev.select("event_type", F.expr("try_parse_json(props)").alias("v"))
    k = v.select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'long')").alias("k"),
        F.expr("try_variant_get(v, '$.absent', 'long')").alias("absent"),
    )
    return k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.count("absent").alias("absent_ct"),
    )


ORACLE_PROPS_VARIANT_STATS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
       CAST(count(CAST(json_extract_string(props, '$.absent') AS BIGINT)) AS BIGINT) AS absent_ct
FROM events
GROUP BY event_type
"""


def cdc_delete_aware_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC AGGREGATE MAINTENANCE WITH RETRACTIONS — the changelog
    semantic the upsert entry does not exercise: DELETE ops must
    RETRACT a key's contribution from downstream aggregates (Flink's
    retract-stream behavior; a naive insert-only fold double-counts
    updated rows and never forgets deleted ones). The changelog extends
    ``_order_changelog`` with a later 'delete' op for a deterministic
    slice of orders (o_orderkey % 7 == 0); the maintained aggregate is
    the per-status order count + GMV over the SURVIVING latest images.

    Scale shape: one row_number() per key collapses the changelog to
    its final image (the same merge a Delta MERGE runs per micro-batch),
    the delete filter drops retracted keys BEFORE the aggregate, and the
    rollup partial-aggregates over the bounded status domain. The oracle
    computes the equivalent end-state relationally — a fold that loses a
    retraction or resurrects a deleted key hash-fails.
    """
    log = _order_changelog_with_deletes(spark, sf_dir)
    parsed = log.select(
        "type", "op_us", "op_seq", F.from_json("data", CDC_DATA_SCHEMA).alias("d")
    ).select("type", "op_us", "op_seq", "d.*")
    w = Window.partitionBy("id").orderBy(F.desc("op_us"), F.desc("op_seq"))
    latest = (
        parsed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("type") != "delete")  # retraction: deleted keys vanish
    )
    return latest.groupBy("order_status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("total_amount").cast("decimal(18,2)"))
        .cast("double")
        .alias("gmv"),
    )


# end-state equivalence: latest-op-wins + delete slice removed + F→PAID
ORACLE_CDC_DELETE_AWARE_AGG = """
SELECT CASE WHEN o_orderstatus = 'F' THEN 'PAID' ELSE o_orderstatus END AS order_status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv
FROM orders
WHERE o_orderkey % 7 <> 0
GROUP BY 1
"""
