"""Structured Streaming jobs over the same tables.

Each reference Flink job is one streaming query here (SURVEY §3.1): the
batch plans are pure DataFrame transforms, so a stream job applies the
*identical* transform to a ``readStream`` source and sinks via
availableNow triggers — ``twin()`` builds such an entry from the batch
transform alone, and only jobs whose stream shape differs are written
out below. Parity is by construction; the DuckDB oracles check it.

Production sources/sinks would be Kafka (``format("kafka")`` with a topic
column for per-row routing, SURVEY §2.1 S3); tests and the driver use the
file source + memory sink, which exercises the same incremental engine.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall_spark.sources.tables import normalize_timestamps, parquet_schema
from flink_gmall_spark.sources.tables import path as table_path

from pyspark.sql import types as T


def _stream_dir(sf_dir: str, name: str) -> str:
    """Spark's file stream source wants a *directory*; the testdata packs
    every table into one. Stage a stable per-table symlink dir in tmp."""
    src = table_path(sf_dir, name)
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"fgs_stream_{name}_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{name}.parquet")
    # Atomic staging: symlink to a unique name, then rename into place.
    # A bare exists-check + symlink is a TOCTOU race between concurrent
    # sessions, and a stale link (testdata regenerated) must be replaced.
    if os.path.realpath(link) != os.path.realpath(src):
        tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
        os.symlink(src, tmp)
        os.replace(tmp, link)
    return d


# Event-time source column per splittable table (the column the staged
# split cuts on; identical to what the stream jobs watermark/sort on).
_SPLIT_TIME_COL = {"events": "ts", "orders": "o_orderdate"}


# _split_boundary memo: (realpath, mtime_ns, size) -> boundary day.
# Keyed on the events file's identity so staleness detection survives a
# testdata regeneration while repeat read_stream(split=True) calls skip
# the full ts-column parquet read (round-7 ADVICE).
_SPLIT_BOUNDARY_MEMO: dict[tuple[str, int, int], str] = {}


def _split_boundary(sf_dir: str) -> str:
    """The per-sf_dir day boundary every split-staged table cuts at: the
    median day of the EVENTS table. ONE boundary for all tables keeps
    multi-source jobs batch-aligned on event time (see
    pit_features_stream's cross-stream precondition); a table whose
    whole range falls on one side degenerates to a single non-empty
    part (the other file is a zero-row batch) — still correct, and for
    the EVENTS table itself the median-day cut keeps both parts
    non-empty whenever the fixture spans ≥2 distinct days
    (test_split_staging_yields_multiple_microbatches pins it)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = table_path(sf_dir, "events")
    st = os.stat(src)
    memo_key = (os.path.realpath(src), st.st_mtime_ns, st.st_size)
    cached = _SPLIT_BOUNDARY_MEMO.get(memo_key)
    if cached is not None:
        return cached
    t = pq.read_table(src, columns=["ts"])
    days = sorted(
        str(d) for d in pc.unique(pc.cast(t["ts"], "date32")).to_pylist()
    )
    boundary = days[len(days) // 2]
    # No eviction: one entry per distinct events-file version ever seen in
    # this process (a handful across sf dirs / regenerations) — and a test
    # run alternating sf dirs must not thrash the memo.
    _SPLIT_BOUNDARY_MEMO[memo_key] = boundary
    return boundary


def write_ordered_parts(d: str, tables, base_mtime: float) -> None:
    """Write ``part-i.parquet`` files with strictly increasing mtimes so
    the file stream source with maxFilesPerTrigger=1 replays them in
    list order — the one mechanically-subtle piece of two-batch split
    staging, shared by _stream_dir_split and the CDC retract twin
    (streaming.state.cdc_retract_stream) so the replay-order contract
    cannot drift between them."""
    import pyarrow.parquet as pq

    for i, t in enumerate(tables):
        p = os.path.join(d, f"part-{i}.parquet")
        pq.write_table(t, p)
        os.utime(p, (base_mtime + i, base_mtime + i))


def _stream_dir_split(sf_dir: str, name: str) -> str:
    """Stage a table as TWO parquet files cut at the shared day boundary
    (earlier days in part-0, the rest in part-1, original row order
    preserved within each) so availableNow + maxFilesPerTrigger=1 drives
    the job through ≥2 REAL micro-batches — cross-batch state continuity
    in the keyed state machines is then exercised by the driver rows,
    not just by unit tests (r6 VERDICT ask #6). Cutting at a DAY
    boundary (a) never splits one day across batches, and (b) makes
    per-key event time non-decreasing across batches — the documented
    ordered-delivery precondition. part-0 gets the older mtime so the
    file source replays it first."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = table_path(sf_dir, name)
    st = os.stat(src)
    # The cut point derives from the EVENTS table, so the tag must carry
    # the BOUNDARY too (round-7 review): with only the staged table's own
    # mtime in the tag, regenerating events.parquet (new median day)
    # while this table is untouched would keep serving a split cut at the
    # STALE boundary — silently breaking the cross-stream batch alignment
    # pit_features_stream documents.
    boundary = _split_boundary(sf_dir)
    tag = hashlib.md5(
        f"{os.path.realpath(src)}|{st.st_mtime_ns}|{st.st_size}|{boundary}|v2".encode()
    ).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"fgs_split_{name}_{tag}")
    done = os.path.join(d, "_STAGED")
    if os.path.exists(done):
        return d
    t = pq.read_table(src)
    day = pc.strftime(pc.cast(t[_SPLIT_TIME_COL[name]], "timestamp[us]"), "%Y-%m-%d")
    # NULL event times must not vanish: pyarrow filter drops null-mask
    # rows from BOTH parts by default. Route them to part-0 (no event
    # time → deliver earliest) so split=True streams exactly the rows
    # split=False would.
    early = pc.fill_null(pc.less(day, boundary), True)
    # Build in a unique tmp dir, then atomically rename into place
    # (same TOCTOU discipline as _stream_dir's symlink staging).
    tmp = f"{d}.{uuid.uuid4().hex[:8]}.tmp"
    os.makedirs(tmp, exist_ok=True)
    write_ordered_parts(
        tmp, [t.filter(early), t.filter(pc.invert(early))], st.st_mtime
    )
    open(os.path.join(tmp, "_STAGED"), "w").close()
    try:
        os.rename(tmp, d)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)  # concurrent stager won
    return d


def read_stream(
    spark: SparkSession, sf_dir: str, name: str, split: bool = False
) -> DataFrame:
    """File-source stream with the batch-inferred schema (no inference on
    the stream path; ``parquet_schema`` infers it once per session and
    file version), normalized through the same timestamp chokepoint as
    the batch reader (NTZ→TIMESTAMP cast, legacy nanos→micros).

    ``split=True`` stages the table as two day-boundary-cut files and
    caps the trigger at one file, so an availableNow run becomes ≥2
    genuine micro-batches — used by every keyed-state entry so driver
    correctness rows prove cross-batch state continuity."""
    reader = spark.readStream.schema(parquet_schema(spark, table_path(sf_dir, name)))
    if split:
        src_dir = _stream_dir_split(sf_dir, name)
        reader = reader.option("maxFilesPerTrigger", "1")
    else:
        src_dir = _stream_dir(sf_dir, name)
    df = reader.parquet(src_dir)
    return normalize_timestamps(df)


def run_to_memory(result: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) and
    return the materialized drain.

    Append-mode drains go to a DISK-backed parquet staging (scratch
    dir), not a memory sink: a memory sink pins its rows in DRIVER heap
    for the session's lifetime, and a driver session that runs every
    registry entry accumulates ~80 stream-twin drains — the round-14
    full sim OOMed the 1 GiB mirror heap at entry ~250 exactly this
    way. The parquet staging costs one local write+read and frees the
    heap entirely; at any corpus scale it is also the honest transport
    (a real drain lands on storage, not in the driver). Update- and
    complete-mode drains keep the memory sink — the file sink cannot
    express them, and those drains are small aggregate states by
    construction."""
    spark = result.sparkSession
    if output_mode == "append":
        from flink_gmall_spark.scratch import scratch_dir

        path = scratch_dir("stream_drain", uuid.uuid4().hex[:12])
        out = os.path.join(path, "rows")
        q = (
            result.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(path, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        os.makedirs(out, exist_ok=True)  # zero-batch drain: empty dir
        return spark.read.schema(result.schema).parquet(out)
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def twin(
    table: str, fold: Callable[[DataFrame], DataFrame], mode: str, finish=None
) -> Callable[[SparkSession, str], DataFrame]:
    """A registry entry that runs ``fold`` — a DataFrame transform, for
    a twin the batch entry's own — unchanged over ``read_stream(table)``
    and drains it with ``run_to_memory`` in output ``mode``. ``finish``
    runs batch-side on the drained table, for the steps a streaming
    query cannot hold after its aggregation (rank windows, stack
    unpivots, row math). The entry's DuckDB oracle, shared with the
    batch entry for a twin, checks the stream."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        drained = run_to_memory(fold(read_stream(spark, sf_dir, table)), mode)
        return drained if finish is None else finish(drained)

    return run


DRAIN_IDLE_POLLS = 3  # no-target drain signal: idle status polls in a row


def run_to_memory_drain(
    result: DataFrame,
    output_mode: str,
    target_input_rows: int | None = None,
    timeout_s: float = 300.0,
) -> DataFrame:
    """run_to_memory for rate-limited Python streaming sources.

    availableNow is SINGLE-batch for Python data sources (see
    _CDCEnvelopeStreamReader), which would collapse a capped backlog
    replay into one micro-batch; this variant drives a processingTime
    trigger until the finite backlog is drained, then stops. Used by
    the streaming twins that need GENUINE multi-batch delivery through
    a connector — batch-boundary semantics are the thing under test.

    Drain detection, fast path first: when the caller knows the
    backlog's total row count (cheap to count for a parquet-backed
    changelog), pass ``target_input_rows`` — the loop stops as soon as
    the query's cumulative numInputRows reaches it (progress for a
    DATA batch is reported promptly). Without a target it falls back to
    the engine's own drain signal: once at least one batch has run, a
    drained finite source shows ``isDataAvailable=False`` with no
    trigger in flight for ``DRAIN_IDLE_POLLS`` consecutive polls. (A
    drained Python source stops producing batches entirely — the offset
    stops advancing so no further micro-batch EXECUTES, and Spark's
    throttled no-data progress events reuse the last executed batchId —
    so "a new zero-row batch appears" is a condition that can never
    fire; the status probe is the only reliable no-target signal.)

    Raises ``TimeoutError`` if the backlog has not drained (or the row
    target has not been met) within ``timeout_s`` — a partial memory
    table must fail loudly here, not as a downstream oracle hash
    mismatch."""
    import time

    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + timeout_s
    idle = 0
    rows_by_batch: dict[int, int] = {}
    drained = False
    try:
        while time.time() < deadline:
            # recentProgress (not lastProgress): two fast batches can
            # complete between polls, and missing one would stall the
            # row-target accounting
            new = False
            for p in q.recentProgress:
                bid = p["batchId"]
                if bid not in rows_by_batch:
                    rows_by_batch[bid] = p["numInputRows"]
                    new = True
            total = sum(rows_by_batch.values())
            if target_input_rows is not None and total >= target_input_rows:
                drained = True
                break
            if target_input_rows is None:
                st = q.status
                if (
                    rows_by_batch
                    and not new
                    and not st["isDataAvailable"]
                    and not st["isTriggerActive"]
                ):
                    idle += 1
                    if idle >= DRAIN_IDLE_POLLS:
                        drained = True
                        break
                else:
                    idle = 0
            if not q.isActive:
                # a dead query can never drain — surface ITS error now
                # rather than a misleading TimeoutError at the deadline
                exc = q.exception()
                if exc is not None:
                    raise exc
                break
            time.sleep(0.1)
    finally:
        q.stop()
        q.awaitTermination()
    if not drained:
        got = sum(rows_by_batch.values())
        want = (
            f", target {target_input_rows}" if target_input_rows is not None else ""
        )
        raise TimeoutError(
            f"run_to_memory_drain: backlog not drained within {timeout_s}s"
            f" (got {got} input rows across {len(rows_by_batch)} batches{want})"
        )
    spark = result.sparkSession
    return spark.table(name)


def write_exactly_once(result: DataFrame, out_dir: str, checkpoint: str):
    """S6/T9: exactly-once batch-append sink via foreachBatch.

    The reference relies on Kafka transactions (MyKafkaUtil.java:44-50,
    Semantic.EXACTLY_ONCE, 5-min txn timeout) and JDBC micro-batching
    (ClickHouseUtil.java:17-50). Spark-native: checkpointed source offsets
    + an idempotent per-epoch write — each micro-batch lands in a
    deterministic ``epoch=<id>`` partition, so a replayed batch overwrites
    itself instead of duplicating. (With Delta on the classpath this
    becomes a transactional ``MERGE``/append; parquet epochs are the
    dependency-free equivalent.)
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        result.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_order_detail_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 as a true stream-stream interval join (SURVEY §7.3 rank 2).

    Flink: orderInfo.intervalJoin(orderDetail).between(-5s,+5s), inclusive
    (OrderWideApp.java:96-105). Spark-native: both sides are unbounded
    streams with watermarks; the equi-key + symmetric time-range predicate
    makes Structured Streaming buffer each side's state exactly over the
    join window and emit on match — inclusive bounds preserved. With
    availableNow over finite input the emitted set equals the batch join,
    which the shared DuckDB oracle checks.
    """
    orders = (
        read_stream(spark, sf_dir, "orders")
        .withColumn("o_ts", F.col("o_orderdate").cast("timestamp"))
        .withWatermark("o_ts", "0 seconds")
    )
    lineitem = (
        read_stream(spark, sf_dir, "lineitem")
        .withColumn("l_ts", F.col("l_shipdate").cast("timestamp"))
        .withWatermark("l_ts", "0 seconds")
    )
    joined = lineitem.join(
        orders,
        F.expr(
            "l_orderkey = o_orderkey"
            " AND l_ts >= o_ts - INTERVAL 90 DAYS"
            " AND l_ts <= o_ts + INTERVAL 90 DAYS"
        ),
        "inner",
    )
    result = joined.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").cast("long").alias("detail_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("l_extendedprice").alias("split_total_amount"),
        F.datediff(F.to_date("l_ts"), F.to_date("o_ts")).cast("long").alias("ship_delay_days"),
        F.date_format("o_ts", "yyyy-MM-dd").alias("create_date"),
    )
    return run_to_memory(result, "append")


def stream_payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 as a true stream-stream interval join: payment joined back to
    its order-side record within [order_ts, order_ts + 7 days] — the
    one-sided window of PaymentWideApp.java:88-96 (reference buffers
    15 min of order-wide state; same shape, fixture-scaled). Both sides
    are branches of the same events stream with watermarks; the one-sided
    range bounds the order-side state retention exactly like the
    symmetric J1 case. Shares ORACLE_PAYMENT_WIDE with the batch plan."""
    from flink_gmall_spark.plans.dwm import PAYMENT_JOIN_DAYS

    ev_pay = read_stream(spark, sf_dir, "events")
    ev_base = read_stream(spark, sf_dir, "events")
    pay = (
        ev_pay.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("payment_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("pay_ts"),
            F.col("value").alias("payment_amount"),
        )
        .withWatermark("pay_ts", "0 seconds")
    )
    base = (
        ev_base.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("order_id"),
            F.col("user_id").alias("base_user"),
            F.col("ts").alias("order_ts"),
        )
        .withWatermark("order_ts", "0 seconds")
    )
    joined = pay.join(
        base,
        F.expr(
            "user_id = base_user"
            " AND pay_ts >= order_ts"
            f" AND pay_ts <= order_ts + INTERVAL {PAYMENT_JOIN_DAYS} DAYS"
        ),
        "inner",
    )
    result = joined.select(
        "payment_id",
        "order_id",
        "user_id",
        "payment_amount",
        F.date_format("pay_ts", "yyyy-MM-dd HH:mm:ss").alias("callback_time"),
        F.date_format("order_ts", "yyyy-MM-dd HH:mm:ss").alias("create_time"),
    )
    return run_to_memory(result, "append")


def stream_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 on the incremental engine: stream-static broadcast join (dim
    enrichment before aggregation, the streaming-legal order) + unwindowed
    keyed aggregation in complete mode, with exact distinct via
    collect_set — the literal HashSet-of-order-ids trick the reference's
    ProductStatsApp keeps in its ReduceFunction (COUNT DISTINCT itself is
    illegal in streaming aggs). Shares ORACLE_PRODUCT_STATS."""
    from flink_gmall_spark.functions.parity import MONEY
    from flink_gmall_spark.sources import load as load_batch

    li = read_stream(spark, sf_dir, "lineitem")
    part = load_batch(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
    agg = joined.groupBy("l_partkey").agg(
        F.first("p_name").alias("sku_name"),
        F.first("p_brand").alias("tm_name"),
        F.sum(F.col("l_quantity").cast(MONEY)).cast("double").alias("order_sku_num"),
        F.sum(F.col("l_extendedprice").cast(MONEY)).cast("double").alias("order_amount"),
        F.size(F.collect_set("l_orderkey")).cast("long").alias("order_ct"),
        F.count(F.lit(1)).alias("item_ct"),
    )
    result = agg.select(
        F.col("l_partkey").alias("sku_id"),
        "sku_name",
        "tm_name",
        "order_sku_num",
        "order_amount",
        "order_ct",
        "item_ct",
    )
    return run_to_memory(result, "complete")


def stream_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 tokenizer + A4 keyword counting on the incremental engine
    (KeywordStatsApp's shape as one streaming query). Tokenization stays
    a JVM-side explode on the stream — the UDTF path needs no Python in
    the micro-batch loop. Exact per-keyword doc counts are the two-phase
    distinct (dropDuplicates on the (keyword, source, doc) triple, then a
    summed union branch): a stopword-grade hot keyword appears in EVERY
    document, so the earlier collect_set(doc_id) form would gather a
    corpus-sized set on one reducer — the same OOM trap visitor_stats'
    UV had. Shares ORACLE_KEYWORD_STATS with the batch plan."""
    from flink_gmall_spark.functions.tokenize import tokens_col

    docs = read_stream(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(tokens_col("text")).alias("keyword")
    )
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    occurrences = toks.select(
        "keyword", "source", one.alias("ct"), zero.alias("doc_ct")
    )
    doc_hits = (
        toks.dropDuplicates(["keyword", "source", "doc_id"])
        .select("keyword", "source", zero.alias("ct"), one.alias("doc_ct"))
    )
    agg = occurrences.unionByName(doc_hits).groupBy("keyword", "source").agg(
        F.sum("ct").alias("ct"),
        F.sum("doc_ct").alias("doc_ct"),
    )
    return run_to_memory(agg, "complete")


def event_distinct(ev: DataFrame) -> DataFrame:
    """Streaming exact deduplication: state-store-backed dropDuplicates
    over the event stream — the unbounded-dedup primitive behind the
    reference's UV-style jobs, applied to (user_id, event_type).

    Output is the distinct key set, so emission order / partition
    placement cannot leak into the result and the batch DISTINCT oracle
    is exact. In production the same query runs with a watermark +
    dropDuplicatesWithinWatermark to bound state; with availableNow over
    a finite fixture the unbounded form is deterministic."""
    return ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


ORACLE_EVENT_DISTINCT = """
SELECT DISTINCT user_id, event_type FROM events
"""


def dedup_within_watermark(ev: DataFrame) -> DataFrame:
    """T8-class state-BOUNDED streaming dedup: ``dropDuplicatesWithinWatermark``
    keyed on (user_id, event_type, day) — the production form whose
    per-key state is EVICTED once the watermark passes the first
    occurrence's event time plus the delay, so state size tracks the
    delay window, not history (the reference bounds the same job with a
    1-day state TTL, UniqueVisitApp.java:78-81).

    The delay here exceeds the fixture's time span, so every duplicate
    falls inside its key's live window and the emitted set equals the
    batch DISTINCT — which makes the oracle exact while still executing
    the watermark-eviction operator (streaming-deduplication-within-
    watermark node, state store + event-time timers) rather than the
    unbounded dropDuplicates.
    """
    ev = ev.withWatermark("ts", "365 days")
    res = ev.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        "ts",
    ).dropDuplicatesWithinWatermark(["user_id", "event_type", "d"])
    return res.select("user_id", "event_type", "d")


ORACLE_DEDUP_WITHIN_WATERMARK = """
SELECT DISTINCT user_id, event_type, strftime(ts, '%Y-%m-%d') AS d FROM events
"""


WM_DELAY_S = 60  # watermark delay for the append-mode windowed entry


def _windowed_append_stats(ev: DataFrame) -> DataFrame:
    """The append-mode tumbling pv/uv transform shared by the memory-sink
    entry and the epoch-sink producer of the chained ADS entry. Append
    mode is the production emission contract (T7): a window row emits
    once, when the watermark passes its end, and is never updated.
    Over a finite input the final watermark is max(ts) − WM_DELAY_S,
    and ORACLE_WINDOWED_APPEND encodes that same horizon."""
    from flink_gmall_spark.plans.dws import VISITOR_WINDOW_SECONDS

    ev = ev.withWatermark("ts", f"{WM_DELAY_S} seconds")
    w = F.window("ts", f"{VISITOR_WINDOW_SECONDS} seconds")
    # two-phase exact uv (dedup on the (window, user) pair, folded by the
    # windowed SUM) — the dedup→window-agg chain is a supported stateful
    # pipeline in append mode, and it removes the per-window user set
    # that made the collect_set form a single-reducer OOM at DAU scale
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    pv_rows = ev.select(w.alias("w"), one.alias("pv"), zero.alias("uv"))
    uv_rows = (
        ev.select(w.alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
        .select("w", zero.alias("pv"), one.alias("uv"))
    )
    agg = pv_rows.unionByName(uv_rows).groupBy("w").agg(
        F.sum("pv").alias("pv"),
        F.sum("uv").alias("uv"),
    )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        "pv",
        "uv",
    )


def _oracle_windowed_append() -> str:
    from flink_gmall_spark.plans.dws import VISITOR_WINDOW_SECONDS

    win_us = VISITOR_WINDOW_SECONDS * 1_000_000
    return f"""
WITH horizon AS (
    -- Spark tracks the watermark in epoch millis: floor(max event time)
    -- to ms, minus the delay; a window emits iff its end <= watermark
    SELECT ((max(epoch_us(ts)) // 1000) - {WM_DELAY_S * 1000}) * 1000 AS wm_us
    FROM events
),
w AS (
    SELECT (epoch_us(ts) // {win_us}) * {win_us} AS wstart_us, user_id
    FROM events
)
SELECT strftime(make_timestamp(wstart_us), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(make_timestamp(wstart_us + {win_us}), '%Y-%m-%d %H:%M:%S') AS edt,
       CAST(count(*) AS BIGINT) AS pv,
       count(DISTINCT user_id) AS uv
FROM w
WHERE wstart_us + {win_us} <= (SELECT wm_us FROM horizon)
GROUP BY wstart_us
"""


ORACLE_WINDOWED_APPEND = _oracle_windowed_append()


def stream_left_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the hardest streaming
    join semantic: matched rows emit immediately, while an unmatched left
    row emits its null-padded form only when the watermark proves no
    future right row can join it (state eviction, not end-of-stream).
    With availableNow the final global watermark is min(max event time)
    across both sources, so the emitted null rows are exactly the
    unmatched orders whose join window [o_ts − 90d, o_ts + 90d] closed
    before that horizon — the oracle encodes both legs (matches + the
    horizon-filtered antijoin), making eviction timing itself
    hash-checked, like the CEP entry."""
    orders = (
        read_stream(spark, sf_dir, "orders")
        .withColumn("o_ts", F.col("o_orderdate").cast("timestamp"))
        .withWatermark("o_ts", "0 seconds")
    )
    lineitem = (
        read_stream(spark, sf_dir, "lineitem")
        .withColumn("l_ts", F.col("l_shipdate").cast("timestamp"))
        .withWatermark("l_ts", "0 seconds")
    )
    joined = orders.join(
        lineitem,
        F.expr(
            "o_orderkey = l_orderkey"
            " AND l_ts >= o_ts - INTERVAL 90 DAYS"
            " AND l_ts <= o_ts + INTERVAL 90 DAYS"
        ),
        "left_outer",
    )
    result = joined.select(
        F.col("o_orderkey").alias("order_id"),
        F.date_format("o_ts", "yyyy-MM-dd").alias("create_date"),
        F.col("l_linenumber").cast("long").alias("detail_id"),
        F.col("l_extendedprice").alias("split_total_amount"),
    )
    return run_to_memory(result, "append")


_OUTER_WIN_US = 90 * 24 * 3600 * 1_000_000

ORACLE_LEFT_OUTER_INTERVAL = f"""
WITH horizon AS (
    SELECT least(
        (SELECT max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) FROM orders),
        (SELECT max(epoch_us(CAST(l_shipdate AS TIMESTAMP))) FROM lineitem)
    ) AS wm_us
),
matched AS (
    SELECT o.o_orderkey AS order_id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
           CAST(l.l_linenumber AS BIGINT) AS detail_id,
           l.l_extendedprice AS split_total_amount
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate - INTERVAL 90 DAY
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
),
unmatched AS (
    SELECT o.o_orderkey AS order_id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
           CAST(NULL AS BIGINT) AS detail_id,
           CAST(NULL AS DOUBLE) AS split_total_amount
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate >= o.o_orderdate - INTERVAL 90 DAY
          AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    )
    AND epoch_us(CAST(o_orderdate AS TIMESTAMP)) + {_OUTER_WIN_US}
        < (SELECT wm_us FROM horizon)
)
SELECT * FROM matched
UNION ALL
SELECT * FROM unmatched
"""


def dedup_fingerprints(docs: DataFrame) -> DataFrame:
    """Streaming ingestion dedup on content: the document stream deduped
    by normalized-text fingerprint in the state store — what a crawl
    ingestion pipeline runs so re-fetched pages never reach the corpus
    twice. Output is the distinct fingerprint set (folding a doc count
    in afterwards would break streaming purity; the set itself is
    arrival-order-independent, so the DISTINCT oracle is exact).
    Production bounds state with dropDuplicatesWithinWatermark."""
    return docs.select(
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("fp")
    ).dropDuplicates(["fp"])


ORACLE_DEDUP_FINGERPRINTS = r"""
SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def stream_config_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 on the incremental engine: the low-volume routing config
    broadcast-joined to the event STREAM — Spark's replacement for
    Flink's broadcast-state pattern (BaseDBApp.java:117-127): instead of
    pushing config deltas into per-task broadcast state, the stream-
    static join re-resolves the config table per micro-batch, so config
    updates land at batch boundaries with no state machinery. Distinct
    user counts are the two-phase exact distinct (a routing group's user
    set is corpus-wide — every user emitting that event type — so the
    collect_set form was a single-reducer trap); shares
    ORACLE_CONFIG_ROUTING."""
    from flink_gmall_spark.plans.dwd import ROUTING_CONFIG, ROUTING_SCHEMA

    ev = read_stream(spark, sf_dir, "events")
    cfg = spark.createDataFrame(ROUTING_CONFIG, ROUTING_SCHEMA)
    routed = ev.join(F.broadcast(cfg), ev.event_type == cfg.source_table, "inner")
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    rows = routed.select(
        "sink_table", "sink_type", one.alias("ct"), zero.alias("uv_ct"),
        F.size(F.split("sink_columns", ",")).cast("long").alias("col_w"),
    )
    users = (
        routed.dropDuplicates(["sink_table", "sink_type", "user_id"])
        .select(
            "sink_table", "sink_type", zero.alias("ct"), one.alias("uv_ct"),
            zero.alias("col_w"),
        )
    )
    agg = rows.unionByName(users).groupBy("sink_table", "sink_type").agg(
        F.sum("ct").alias("ct"),
        F.sum("uv_ct").alias("uv_ct"),
        F.sum("col_w").alias("col_writes"),
    )
    return run_to_memory(agg, "complete")


def stream_province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 as a streaming SQL job — the exact deployment shape of the
    reference's ProvinceStatsSqlApp (a Flink SQL query over an unbounded
    table): the join + projection register as temp views and spark.sql()
    declares them, executed by the incremental engine in complete mode.
    COUNT(DISTINCT) is illegal in streaming aggregations, and a
    province-day's order-id set is unbounded at scale, so the exact
    order_ct is the two-phase distinct — SQL cannot spell Deduplicate
    (DISTINCT parses to a second Aggregate, illegal in a streaming
    chain), so that one step is the dropDuplicates DataFrame call over
    the SQL view, then a second SQL aggregation folds both branches.
    Shares ORACLE_PROVINCE_STATS."""
    from flink_gmall_spark.sources import load as load_batch

    orders = read_stream(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("s_orders")
    load_batch(spark, sf_dir, "customer").createOrReplaceTempView("s_customer")
    load_batch(spark, sf_dir, "nation").createOrReplaceTempView("s_nation")
    enriched = spark.sql(
        """
        SELECT date_format(o.o_orderdate, 'yyyy-MM-dd') AS stt,
               n.n_name AS province_name,
               o.o_orderkey,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS amount
        FROM s_orders o
        JOIN s_customer c ON o.o_custkey = c.c_custkey
        JOIN s_nation n ON c.c_nationkey = n.n_nationkey
        """
    )
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    amounts = enriched.select(
        "stt", "province_name", zero.alias("order_ct"), "amount"
    )
    dec0 = F.lit(0).cast("decimal(18,2)")
    distinct_orders = (
        enriched.dropDuplicates(["stt", "province_name", "o_orderkey"])
        .select("stt", "province_name", one.alias("order_ct"), dec0.alias("amount"))
    )
    unioned = amounts.unionByName(distinct_orders)
    unioned.createOrReplaceTempView("s_province_branches")
    agg = spark.sql(
        """
        SELECT stt, province_name,
               CAST(sum(order_ct) AS BIGINT) AS order_ct,
               CAST(sum(amount) AS DOUBLE) AS order_amount
        FROM s_province_branches
        GROUP BY 1, 2
        """
    )
    return run_to_memory(agg, "complete")


def stream_full_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both eviction legs at
    once: matched rows emit immediately; an unmatched ORDER emits its
    null-right form when the watermark passes o_ts + 90d, and an
    unmatched LINEITEM (shipped too long after its order) emits its
    null-left form when the watermark passes l_ts + 90d. With
    availableNow the final watermark is min(max event time) across both
    sources, so BOTH eviction boundaries are encoded in the oracle — the
    two NOT-EXISTS legs each carry their own horizon filter, making the
    two-sided state-eviction timing hash-checked."""
    orders = (
        read_stream(spark, sf_dir, "orders")
        .withColumn("o_ts", F.col("o_orderdate").cast("timestamp"))
        .withWatermark("o_ts", "0 seconds")
    )
    lineitem = (
        read_stream(spark, sf_dir, "lineitem")
        .withColumn("l_ts", F.col("l_shipdate").cast("timestamp"))
        .withWatermark("l_ts", "0 seconds")
    )
    joined = orders.join(
        lineitem,
        F.expr(
            "o_orderkey = l_orderkey"
            " AND l_ts >= o_ts - INTERVAL 90 DAYS"
            " AND l_ts <= o_ts + INTERVAL 90 DAYS"
        ),
        "full_outer",
    )
    result = joined.select(
        F.col("o_orderkey").alias("order_id"),
        F.date_format("o_ts", "yyyy-MM-dd").alias("create_date"),
        F.col("l_orderkey").alias("detail_order_id"),
        F.col("l_linenumber").cast("long").alias("detail_id"),
        F.col("l_extendedprice").alias("split_total_amount"),
    )
    return run_to_memory(result, "append")


ORACLE_FULL_OUTER_INTERVAL = f"""
WITH horizon AS (
    SELECT least(
        (SELECT max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) FROM orders),
        (SELECT max(epoch_us(CAST(l_shipdate AS TIMESTAMP))) FROM lineitem)
    ) AS wm_us
),
matched AS (
    SELECT o.o_orderkey AS order_id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
           l.l_orderkey AS detail_order_id,
           CAST(l.l_linenumber AS BIGINT) AS detail_id,
           l.l_extendedprice AS split_total_amount
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate - INTERVAL 90 DAY
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
),
left_unmatched AS (
    SELECT o.o_orderkey AS order_id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
           CAST(NULL AS BIGINT) AS detail_order_id,
           CAST(NULL AS BIGINT) AS detail_id,
           CAST(NULL AS DOUBLE) AS split_total_amount
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate >= o.o_orderdate - INTERVAL 90 DAY
          AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    )
    AND epoch_us(CAST(o_orderdate AS TIMESTAMP)) + {_OUTER_WIN_US}
        < (SELECT wm_us FROM horizon)
),
right_unmatched AS (
    SELECT CAST(NULL AS BIGINT) AS order_id,
           CAST(NULL AS VARCHAR) AS create_date,
           l.l_orderkey AS detail_order_id,
           CAST(l.l_linenumber AS BIGINT) AS detail_id,
           l.l_extendedprice AS split_total_amount
    FROM lineitem l
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey
          AND l.l_shipdate >= o.o_orderdate - INTERVAL 90 DAY
          AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    )
    AND epoch_us(CAST(l_shipdate AS TIMESTAMP)) + {_OUTER_WIN_US}
        < (SELECT wm_us FROM horizon)
)
SELECT * FROM matched
UNION ALL
SELECT * FROM left_unmatched
UNION ALL
SELECT * FROM right_unmatched
"""


def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows on the incremental engine: window(ts,
    size, slide) fans each event into its covering panes inside the
    state store. Exact per-pane uv uses the same two-phase distinct as
    visitor_stats — dropDuplicates((window, user)) then SUM — because
    COUNT(DISTINCT) is illegal in streaming aggregations and a
    collect_set over a pane is the single-reducer trap at DAU scale.
    Shares ORACLE_SLIDING_VISITOR_WINDOWS with the batch plan."""
    from flink_gmall_spark.plans.dws import SLIDE_SIZE_S, SLIDE_STEP_S

    ev = read_stream(spark, sf_dir, "events")
    w = F.window("ts", f"{SLIDE_SIZE_S} seconds", f"{SLIDE_STEP_S} seconds")
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    pv = ev.select(w.alias("w"), one.alias("pv"), zero.alias("uv"))
    uv = (
        ev.select(w.alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
        .select("w", zero.alias("pv"), one.alias("uv"))
    )
    agg = pv.unionByName(uv).groupBy("w").agg(
        F.sum("pv").alias("pv"), F.sum("uv").alias("uv")
    )
    out = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        "pv",
        "uv",
    )
    return run_to_memory(out, "complete")


def stream_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binned NON-EQUI range join on the incremental engine: purchases
    within 60 s after each error event, as a stream-stream join. Neither
    side shares a key, so the time-axis bin (window-sized quantization,
    see operators.scale.binned_range_join) becomes the required equi
    key; the exact range predicate between the two watermarked event-time
    columns is what lets Structured Streaming bound BOTH sides' state to
    the join window — eviction follows the watermark exactly as in the
    interval joins (J1/J2), but with no natural key at all.

    Emits matched pairs in append mode (the streaming-legal shape — a
    post-join per-error aggregation would need its own windowing); the
    DuckDB oracle is the same inner non-equi join. Each pair emits once:
    a purchase has exactly one bin and an error's exploded bins are
    distinct.
    """
    from flink_gmall_spark.operators.scale import RANGE_BIN_US

    err = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "0 seconds")
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.expr(f"unix_micros(e_ts) DIV {RANGE_BIN_US}"),
                    F.expr(f"(unix_micros(e_ts) + {RANGE_BIN_US} - 1) DIV {RANGE_BIN_US}"),
                )
            ),
        )
    )
    pur = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "0 seconds")
        .withColumn("p_bin", F.expr(f"unix_micros(p_ts) DIV {RANGE_BIN_US}"))
    )
    joined = err.join(
        pur,
        F.expr(
            "bin = p_bin"
            " AND p_ts >= e_ts"
            f" AND p_ts < e_ts + INTERVAL {RANGE_BIN_US // 1_000_000} SECONDS"
        ),
        "inner",
    )
    result = joined.select(
        "error_id",
        "purchase_id",
        F.date_format("e_ts", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.expr("(unix_micros(p_ts) - unix_micros(e_ts)) DIV 1000000").alias("lag_s"),
    )
    return run_to_memory(result, "append")


ORACLE_STREAM_BINNED_RANGE = """
SELECT e.event_id AS error_id,
       p.event_id AS purchase_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS stt,
       CAST((epoch_us(p.ts) - epoch_us(e.ts)) // 1000000 AS BIGINT) AS lag_s
FROM events e
JOIN events p
  ON e.event_type = 'error' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(e.ts)
 AND epoch_us(p.ts) < epoch_us(e.ts) + 60000000
"""


PIPE_JOIN_DAYS = 7  # both interval joins of the composed pipeline
_PIPE_DAY_US = 24 * 3600 * 1_000_000
_PIPE_DELAY_US = 2 * PIPE_JOIN_DAYS * _PIPE_DAY_US  # wm sinks 7d per join


def stream_pipeline_payment_province(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full DWM→DWS streaming chain as ONE multi-stage
    streaming query: order ⋈ detail (J1, OrderWideApp.java:96-105) →
    ⋈ payment (J2, PaymentWideApp.java:88-96) → windowed province stats
    (A3, ProvinceStatsSqlApp.java:48-56). The reference wires the three
    jobs through Kafka topics; here the chain is a single plan with THREE
    stateful operators — two stream-stream interval joins feeding an
    event-time-windowed aggregation — which Spark's watermark propagation
    (SPARK-42376) schedules as one query, no intermediate transport.

    Adapter (events domain, same as stream_j2): signup = order, click =
    order detail, purchase = payment; province comes from the broadcast
    customer⋈nation statics (stateless stream-static join mid-chain —
    the J3 enrichment step, legal between stateful operators). Output
    grain is the (payment × detail) fan-out, exactly the reference's
    PaymentWide grain (payment joins EVERY detail row of its order).

    Append-mode emission is watermark-gated, and the propagated horizon
    is empirically pinned (two controlled probes, see tests): each
    interval join sinks the GLOBAL watermark — min across all three
    sources' max event time — by its upper bound (7 days), so a window
    emits iff window_end <= min(max signup, max click, max purchase)
    − 14 days. The oracle encodes that exact rule, making the chained
    propagation itself hash-checked. Amounts are summed as DECIMAL(18,2)
    (partition-order-independent), rendered as double.
    """
    from flink_gmall_spark.functions.parity import MONEY
    from flink_gmall_spark.sources import load as load_batch

    order = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("order_id"),
            F.col("user_id").alias("o_user"),
            F.col("ts").alias("o_ts"),
        )
        .withWatermark("o_ts", "0 seconds")
    )
    detail = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("detail_id"),
            F.col("user_id").alias("d_user"),
            F.col("ts").alias("d_ts"),
        )
        .withWatermark("d_ts", "0 seconds")
    )
    pay = (
        read_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("payment_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pay_ts"),
            F.col("value").alias("pay_amount"),
        )
        .withWatermark("pay_ts", "0 seconds")
    )
    detail_wide = detail.join(
        order,
        F.expr(
            "d_user = o_user AND d_ts >= o_ts"
            f" AND d_ts <= o_ts + INTERVAL {PIPE_JOIN_DAYS} DAYS"
        ),
        "inner",
    )
    payment_wide = pay.join(
        detail_wide,
        F.expr(
            "p_user = o_user AND pay_ts >= o_ts"
            f" AND pay_ts <= o_ts + INTERVAL {PIPE_JOIN_DAYS} DAYS"
        ),
        "inner",
    )
    cust = load_batch(spark, sf_dir, "customer")
    nation = load_batch(spark, sf_dir, "nation")
    dim = F.broadcast(
        cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
            F.col("c_custkey").alias("dim_user"),
            F.col("n_name").alias("province_name"),
        )
    )
    enriched = payment_wide.join(dim, F.col("p_user") == F.col("dim_user"), "inner")
    w = F.window("pay_ts", "1 day")
    agg = enriched.groupBy(w.alias("w"), "province_name").agg(
        F.count(F.lit(1)).alias("pay_ct"),
        F.sum(F.col("pay_amount").cast(MONEY)).cast("double").alias("order_amount"),
    )
    result = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        "province_name",
        "pay_ct",
        "order_amount",
    )
    return run_to_memory(result, "append")


ORACLE_PIPELINE_PAYMENT_PROVINCE = f"""
WITH horizon AS (
    -- global watermark = min over the three sources' (ms-floored) max
    -- event times; each chained interval join sinks it by its 7-day
    -- upper bound, so the agg's emission horizon is global − 14 days
    SELECT (least(
        (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'signup'),
        (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'click'),
        (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'purchase')
    )) * 1000 - {_PIPE_DELAY_US} AS wm_us
),
o AS (SELECT event_id AS order_id, user_id AS o_user, ts AS o_ts
      FROM events WHERE event_type = 'signup'),
d AS (SELECT event_id AS detail_id, user_id AS d_user, ts AS d_ts
      FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS payment_id, user_id AS p_user, ts AS pay_ts,
             value AS pay_amount
      FROM events WHERE event_type = 'purchase'),
dw AS (
    SELECT * FROM d JOIN o ON d_user = o_user
     AND d_ts >= o_ts AND d_ts <= o_ts + INTERVAL {PIPE_JOIN_DAYS} DAY
),
pw AS (
    SELECT * FROM p JOIN dw ON p_user = o_user
     AND pay_ts >= o_ts AND pay_ts <= o_ts + INTERVAL {PIPE_JOIN_DAYS} DAY
),
enriched AS (
    SELECT pw.*, n.n_name AS province_name
    FROM pw
    JOIN customer c ON pw.p_user = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
),
windowed AS (
    SELECT (epoch_us(pay_ts) // {_PIPE_DAY_US}) * {_PIPE_DAY_US} AS wstart_us,
           province_name,
           count(*) AS pay_ct,
           CAST(sum(CAST(pay_amount AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
    FROM enriched
    GROUP BY 1, 2
)
SELECT strftime(make_timestamp(wstart_us), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(make_timestamp(wstart_us + {_PIPE_DAY_US}), '%Y-%m-%d %H:%M:%S') AS edt,
       province_name,
       CAST(pay_ct AS BIGINT) AS pay_ct,
       order_amount
FROM windowed
WHERE wstart_us + {_PIPE_DAY_US} <= (SELECT wm_us FROM horizon)
"""


def stream_ads_hourly_from_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DWS→ADS as TWO chained streaming queries over a materialized hop —
    the reference's layered topology with the Kafka/ClickHouse hop
    replaced by the epoch-partitioned exactly-once parquet sink:

      1. producer: the append-mode windowed pv/uv stats (T5/T6/T7) run
         through ``write_exactly_once`` — checkpointed offsets + one
         ``epoch=<id>`` dir per micro-batch, replay-idempotent (T9).
      2. consumer: a SECOND streaming query file-sources the sink
         directory (``epoch=*`` glob — the epoch partitioning is the
         producer's replay contract, invisible to readers) and serves the
         publisher's hourly rollup incrementally.

    The reference runs the same chain as VisitorStatsApp → ClickHouse →
    publisher's VisitorStatsMapper hourly SQL (SURVEY §3.2-3.3); hourly
    uv is the SUM of per-window uv_ct — the publisher's own semantics
    (sum over 10 s windows), not a cross-window distinct. The oracle
    composes the append-mode watermark-boundary rule with that rollup,
    so the hash checks the full producer→sink→consumer chain."""
    from flink_gmall_spark.scratch import scratch_dir, session_tag

    out = scratch_dir("ads_sink", session_tag(spark, sf_dir))
    sink_dir = os.path.join(out, "visitor_stats")
    ckpt = os.path.join(out, "_ckpt")

    ev = read_stream(spark, sf_dir, "events")
    q = write_exactly_once(_windowed_append_stats(ev), sink_dir, ckpt)
    q.awaitTermination()

    schema = T.StructType(
        [
            T.StructField("stt", T.StringType()),
            T.StructField("edt", T.StringType()),
            T.StructField("pv", T.LongType()),
            T.StructField("uv", T.LongType()),
        ]
    )
    stats = spark.readStream.schema(schema).parquet(os.path.join(sink_dir, "epoch=*"))
    hourly = stats.groupBy(
        F.hour(F.to_timestamp("stt", "yyyy-MM-dd HH:mm:ss")).cast("long").alias("hr")
    ).agg(
        F.sum("pv").cast("long").alias("pv"),
        F.sum("uv").cast("long").alias("uv"),
    )
    return run_to_memory(hourly, "complete")


def _oracle_ads_hourly_from_sink() -> str:
    from flink_gmall_spark.plans.dws import VISITOR_WINDOW_SECONDS

    win_us = VISITOR_WINDOW_SECONDS * 1_000_000
    return f"""
WITH horizon AS (
    SELECT ((max(epoch_us(ts)) // 1000) - {WM_DELAY_S * 1000}) * 1000 AS wm_us
    FROM events
),
w AS (
    SELECT (epoch_us(ts) // {win_us}) * {win_us} AS wstart_us, user_id
    FROM events
),
stats AS (
    SELECT wstart_us,
           count(*) AS pv,
           count(DISTINCT user_id) AS uv
    FROM w
    WHERE wstart_us + {win_us} <= (SELECT wm_us FROM horizon)
    GROUP BY wstart_us
)
SELECT CAST(hour(make_timestamp(wstart_us)) AS BIGINT) AS hr,
       CAST(sum(pv) AS BIGINT) AS pv,
       CAST(sum(uv) AS BIGINT) AS uv
FROM stats
GROUP BY 1
"""


ORACLE_ADS_HOURLY_FROM_SINK = _oracle_ads_hourly_from_sink()


def stream_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding at INGEST time — the stream-static form a production
    vector pipeline runs: the codebook is TRAINED OFFLINE (here the
    static batch read supplies it) and broadcast against the embedding
    STREAM; each arriving vector emits its codes once, stateless, append
    mode. Exercises the stream-static broadcast join with a map-only
    payload; shares ORACLE_PQ_ENCODE with the batch twin."""
    from flink_gmall_spark.operators.ann import _pq_codes
    from flink_gmall_spark.sources import load

    to_v = "transform(embedding, x -> cast(x AS double))"
    e_stream = read_stream(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(to_v).alias("v")
    )
    e_static = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(to_v).alias("v")
    )
    codes = _pq_codes(e_stream, cb_src=e_static).select(
        "vec_id", "sub_id", "code", F.round("sdist", 6).alias("sdist")
    )
    return run_to_memory(codes, "append")


def stream_pq_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL vector-index maintenance loop, chained through the
    exactly-once store — how a production retrieval system actually runs:

      1. maintain: the embedding STREAM encodes against the static
         codebook (the stream-static shape of stream_pq_encode) and the
         codes land in an epoch-partitioned exactly-once parquet index
         (write_exactly_once — checkpointed offsets + idempotent epoch
         overwrite, T9; a replayed batch can never duplicate index rows).
      2. serve: ADC top-k runs against the INDEX FILES (epoch=* glob),
         not the original embeddings — the corpus floats are only ever
         read by the encoder.

    The oracle is ORACLE_PQ_ADC_TOPK unchanged: if the store hop dropped,
    duplicated, or mangled one code row, ranks shift and the hash fails —
    the chain proof, same discipline as stream_ads_hourly_from_sink."""
    from flink_gmall_spark.operators.ann import _pq_codes, adc_topk_from_codes
    from flink_gmall_spark.scratch import scratch_dir, session_tag
    from flink_gmall_spark.sources import load

    out = scratch_dir("pq_index", session_tag(spark, sf_dir))
    sink_dir = os.path.join(out, "codes")
    ckpt = os.path.join(out, "_ckpt")

    to_v = "transform(embedding, x -> cast(x AS double))"
    e_stream = read_stream(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(to_v).alias("v")
    )
    e_static = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(to_v).alias("v")
    )
    codes = _pq_codes(e_stream, cb_src=e_static).select("vec_id", "sub_id", "code")
    q = write_exactly_once(codes, sink_dir, ckpt)
    q.awaitTermination()

    index = spark.read.parquet(os.path.join(sink_dir, "epoch=*")).select(
        "vec_id", "sub_id", "code"
    )
    return adc_topk_from_codes(index, e_static)


def stream_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of curation.decontaminate_bloom — the filter-as-data
    SERVING shape: the 2 KiB holdout Bloom filter and the exact holdout
    shingle set are built batch-side (static DataFrames), and the
    DOCUMENT STREAM probes them via stream-static broadcast joins; one
    complete-mode per-doc aggregation folds shingle verdicts into doc
    verdicts. This is how a live ingest keeps quarantining eval leakage
    without re-scanning the holdout per batch — the stream pays a
    map-side explode + two tiny broadcast joins per micro-batch. The
    superset pin and the exact false-positive ledger ride along; shares
    the batch oracle verbatim."""
    from flink_gmall_spark.operators.curation import (
        BLOOM_SEEDS,
        BLOOM_WORD_BITS,
        HOLDOUT_MOD,
        _bloom_pos,
    )
    from flink_gmall_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        _shingles,
        raw_shingles,
    )
    from flink_gmall_spark.sources import load

    # static build side (the batch product a scheduled job maintains)
    docs_static = load(spark, sf_dir, "documents")
    sh_static = _shingles(docs_static)
    hold = sh_static.filter(F.col("doc_id") % HOLDOUT_MOD == 0)
    # the DF cap is a CORPUS stat — on the stream it is served as the
    # batch-maintained boilerplate block list (tiny: only shingles with
    # df > cap), broadcast anti-joined per micro-batch
    frequent = (
        raw_shingles(docs_static)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("s")
    )
    pos_exprs = [F.expr(_bloom_pos(seed, "spark")) for seed in BLOOM_SEEDS]
    bloom = (
        hold.select(F.explode(F.array(*pos_exprs)).alias("p"))
        .select(
            F.expr(f"p DIV {BLOOM_WORD_BITS}").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD_BITS} AS INT))"
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
    )
    hold_set = hold.select("s").distinct().withColumn("in_hold", F.lit(True))

    # streaming probe side: the map-only shingle derivation (no corpus
    # aggregation on the stream), block list applied via broadcast anti-join
    docs = read_stream(spark, sf_dir, "documents")
    probe = (
        raw_shingles(docs)
        .filter(F.col("doc_id") % HOLDOUT_MOD != 0)
        .join(F.broadcast(frequent), "s", "left_anti")
    )
    for i, seed in enumerate(BLOOM_SEEDS):
        probe = (
            probe.withColumn(f"p{i}", F.expr(_bloom_pos(seed, "spark")))
            .join(
                F.broadcast(
                    bloom.select(
                        F.col("w").alias(f"w{i}"), F.col("word").alias(f"word{i}")
                    )
                ),
                F.expr(f"p{i} DIV {BLOOM_WORD_BITS}") == F.col(f"w{i}"),
                "left",
            )
            .withColumn(
                f"hit{i}",
                F.coalesce(
                    F.expr(
                        f"(shiftright(word{i},"
                        f" CAST(p{i} % {BLOOM_WORD_BITS} AS INT)) & 1) = 1"
                    ),
                    F.lit(False),
                ),
            )
            .drop(f"p{i}", f"w{i}", f"word{i}")
        )
    flagged = (
        probe.join(F.broadcast(hold_set), "s", "left")
        .withColumn(
            "hit", F.expr(" AND ".join(f"hit{i}" for i in range(len(BLOOM_SEEDS))))
        )
        .withColumn("exact_hit", F.coalesce("in_hold", F.lit(False)))
        .groupBy("doc_id")
        .agg(
            F.bool_or("hit").alias("bloom_flagged"),
            F.bool_or("exact_hit").alias("exact_flagged"),
        )
    )
    mem = run_to_memory(flagged, "complete")
    return mem.select(
        "doc_id",
        "bloom_flagged",
        "exact_flagged",
        (~F.col("exact_flagged") | F.col("bloom_flagged")).alias("superset_ok"),
    )


def zorder_stream_rewrite(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Producer + maintenance halves of stream_zorder_compaction (shared
    with the clustering-proof test): stream the split events table into
    the epoch-partitioned exactly-once store, then rewrite ``epoch=*``
    into the Morton-clustered layout. Returns (store, clustered)."""
    from flink_gmall_spark.operators.scale import zorder_cluster
    from flink_gmall_spark.scratch import scratch_dir

    # per-call tag (the compaction discipline): no two calls share paths
    base = scratch_dir("zorder_stream", uuid.uuid4().hex[:12])
    store = os.path.join(base, "store")
    ckpt = os.path.join(base, "_ckpt")
    clustered = os.path.join(base, "clustered")

    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.dayofmonth("ts").cast("long").alias("day"),
    )
    q = write_exactly_once(ev, store, ckpt)
    q.awaitTermination()

    small = spark.read.parquet(os.path.join(store, "epoch=*"))
    zorder_cluster(small, clustered)
    return store, clustered


def stream_zorder_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING store maintenance loop (VERDICT r7 ask #6b): the live
    producer of the small-files problem chained with its nightly fix.

      1. producer: the events stream (split staging, ≥2 real
         micro-batches) lands in the epoch-partitioned exactly-once
         parquet store via ``write_exactly_once`` — checkpointed offsets
         + one ``epoch=<id>`` dir per micro-batch (T9), i.e. the layout
         a continuously-running ingest job accretes.
      2. maintenance: the OPTIMIZE pass reads ``epoch=*`` and rewrites
         the store into ZORDER_FILES Morton-clustered files
         (operators.scale.zorder_cluster — the identical rewrite the
         batch ``scale_zorder_layout`` entry proves span-shrink for).

    The ORACLE CONTRACT IS CONTENT IDENTITY through the WHOLE chain:
    the (event_type, day) rollup computed from the REWRITTEN files must
    hash-match DuckDB's rollup over the original table — a stream that
    drops/duplicates a batch, an epoch overwritten wrong, or a rewrite
    that loses a row all fail correctness. At 100 TB this pair (epoch
    append + clustering rewrite behind a glob the readers never see) is
    how a streaming lakehouse table stays scan-efficient forever; the
    rewrite cost is one range shuffle per maintenance window, amortized
    against every subsequent pruned scan."""
    from flink_gmall_spark.operators.scale import zorder_rollup

    _store, clustered = zorder_stream_rewrite(spark, sf_dir)
    return zorder_rollup(spark.read.parquet(clustered))


def stream_containment_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the containment family — the INGEST-TIME probe:
    for each arriving document A, which existing corpus documents B
    contain it (|A∩B| / |A| >= threshold)? The static side is the
    batch-maintained capped shingle index (dedup._shingles) plus the
    frequent-shingle block list; the stream side derives its per-doc
    DISTINCT shingle set as an ARRAY (dedup.shingle_array — a pure
    per-row map), subtracts the broadcast block list with array_except
    so the doc carries its own capped set size |A| through the plan,
    explodes, and equi-joins the static index on the shingle string.
    Carrying |A| as a VALUE is what keeps this to ONE streaming
    aggregation (group by probe doc, container, |A|) — Spark disallows
    chained streaming aggs, so a second per-doc size pass would not
    run. Unlike the batch pair op there is no smaller-set orientation:
    the probe question is directional by construction, and
    ORACLE_CONTAINMENT_PROBE mirrors that (both directions, a <> b).

    At 100 TB: per micro-batch cost is the probe explode + one shuffle
    on the shingle key against the index partition it lands in; the
    block list is the same tiny corpus artifact the bloom twin
    broadcasts, here folded in map-side as an array literal (bounded by
    corpus_df_cap construction, the BPE-merge-table class of bounded
    driver state)."""
    from flink_gmall_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        MAX_SHINGLE_DF,
        _shingles,
        raw_shingles,
        shingle_array,
    )
    from flink_gmall_spark.sources import load

    docs_static = load(spark, sf_dir, "documents")
    sh_static = _shingles(docs_static).select(
        F.col("doc_id").alias("container_doc"), "s"
    )
    blocked = [
        r["s"]
        for r in raw_shingles(docs_static)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("s")
        .collect()
    ]
    docs = read_stream(spark, sf_dir, "documents")
    probe = (
        shingle_array(docs)
        .withColumn(
            "sh_capped",
            F.array_except(
                "sh_arr", F.array(*[F.lit(s) for s in blocked]) if blocked else F.array().cast("array<string>")
            ),
        )
        .select(
            "doc_id",
            F.size("sh_capped").alias("n"),
            F.explode("sh_capped").alias("s"),
        )
    )
    hits = (
        probe.join(sh_static, "s")
        .filter(F.col("doc_id") != F.col("container_doc"))
        .groupBy("doc_id", "container_doc", "n")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mem = run_to_memory(hits, "complete")
    return (
        mem.withColumn(
            "containment", F.col("c").cast("double") / F.col("n")
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_id", "container_doc", "containment")
    )


def stream_pretrain_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of curation_pretrain_build (VERDICT r9 ask #7) —
    the capstone build maintained INCREMENTALLY as a backfill streams
    in. Stage mapping onto the incremental engine: the quality gate is
    curation.pretrain_gate (stateless filter, shared VERBATIM); exact
    dedup is the one streaming aggregation — groupBy(md5(text)) keeping
    min(struct(doc_id, text)) in complete mode — the batch policy's OWN
    key ("smallest doc_id per md5(text)"), reproduced
    ARRIVAL-ORDER-INDEPENDENTLY (min is commutative; a first-seen
    dropDuplicates would tie the winner to micro-batch order and drift
    from any backfill). doc_id is unique, so the min struct IS the
    min-doc_id row; chunk/shard/ledger apply batch-side on the drained
    memory table via curation.pretrain_finish (shared VERBATIM — the
    explode can't follow a streaming agg in one query anyway). Shares
    ORACLE_PRETRAIN_BUILD, so stream and batch builds are hash-identical
    by contract.

    State bound: one (128-bit key, winning (doc_id, text)) entry per
    distinct gated doc — the key matches the batch dedup window's
    hash key instead of holding a second full text copy; a production
    ingest further bounds it by ageing entries with
    dropDuplicatesWithinWatermark once the re-fetch horizon passes
    (the stream_dedup_within_watermark precedent)."""
    from flink_gmall_spark.operators.curation import (
        pretrain_finish,
        pretrain_gate,
    )

    docs = read_stream(spark, sf_dir, "documents")
    deduped = (
        pretrain_gate(docs)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min(F.struct("doc_id", "text")).alias("s"))
    )
    return pretrain_finish(
        run_to_memory(deduped, "complete").select("s.doc_id", "s.text")
    )


def stream_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of curation_lm_logprob — the perplexity-filter
    deployment shape (the stream_importance_resample precedent): the
    bigram LM is trained OFFLINE on the static corpus
    (curation._lm_count_tables), arriving documents are exploded and
    scored AT INGEST through stream-static LEFT joins plus the
    constant-key vocabulary broadcast (curation.lm_attach_counts,
    shared VERBATIM — unseen bigrams score the add-one floor instead of
    being dropped, review r12), and the per-doc ln fold applies
    batch-side on the drained term table via curation.lm_logprob_finish
    (also shared). Shares ORACLE_LM_LOGPROB: live scoring equals the
    backfill by contract."""
    from flink_gmall_spark.operators.curation import (
        _lm_bigrams,
        _lm_count_tables,
        lm_attach_counts,
        lm_logprob_finish,
    )
    from flink_gmall_spark.sources import load

    c12, c1v, vocab = _lm_count_tables(load(spark, sf_dir, "documents"))
    g = _lm_bigrams(read_stream(spark, sf_dir, "documents"))
    served = lm_attach_counts(g, c12, c1v, vocab)
    return lm_logprob_finish(run_to_memory(served, "append"))


def stream_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of curation_importance_resample — the DSIR
    deployment shape: importance weights estimated OFFLINE on the
    backfill (dsir_weight_table over the static table, folded into the
    one-row broadcast array), documents scored and resampled AT INGEST
    (per-row JVM fold + deterministic md5 draw, _dsir_scored shared
    VERBATIM via a stream-static broadcast join on the constant key),
    the per-source ledger folding through ONE complete-mode aggregation
    on the bounded source key (_dsir_ledger, also shared). Shares
    ORACLE_IMPORTANCE_RESAMPLE — stream-filtered and batch-selected
    subsets are identical by contract."""
    from flink_gmall_spark.operators.curation import (
        _dsir_ledger,
        _dsir_scored,
        _dsir_warr,
    )
    from flink_gmall_spark.sources import load

    warr = _dsir_warr(load(spark, sf_dir, "documents"))
    docs = read_stream(spark, sf_dir, "documents")
    return run_to_memory(_dsir_ledger(_dsir_scored(docs, warr)), "complete")


def stream_ivf_range_serve(
    spark: SparkSession, sf_dir: str, exact_sample_hex: str | None = None
) -> DataFrame:
    """sim_ivf_range_search as a SERVING job — a query STREAM probing
    the static IVF index, the deployment shape of a live retrieval
    endpoint: the probe routing (query -> NPROBE cells -> candidate
    members, ann._ivf_probe_candidates joined to the corpus vectors) is
    resolved entirely on the STATIC side per micro-batch (the
    stream-static join discipline of stream_config_routing), so the
    streaming work per arriving query is one broadcast-able equi-join
    on query_id plus the per-row cosine + radius filter — append mode,
    zero streaming state. The per-query rank and the n_exact recall
    denominator apply batch-side on the drained memory table (rank
    windows cannot follow an append stream), exactly as the batch entry
    computes them; shares ORACLE_IVF_RANGE_SEARCH, so the served
    results are hash-identical to the batch index by contract."""
    from flink_gmall_spark.operators.ann import (
        _DOT,
        N_QUERIES,
        RANGE_RADIUS,
        _ivf_probe_candidates,
        _with_norm,
        range_exact_counts,
        range_rank_finish,
    )
    from flink_gmall_spark.sources import load

    emb = _with_norm(load(spark, sf_dir, "embeddings"))
    cand = (
        _ivf_probe_candidates(emb)
        .join(emb, "vec_id")
        .select("query_id", "vec_id", "v", "nrm")
    )
    # _with_norm runs unchanged on the stream (pure per-row math) — the
    # parity-critical double-cast + sequential fold stays ONE definition
    # (review r10: an inline copy here could silently drift the hash)
    qs = _with_norm(
        read_stream(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < N_QUERIES
        )
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    served = (
        qs.join(cand, "query_id")
        .withColumn(
            "cos",
            F.expr(_DOT.format(a="qv", b="v")) / (F.col("qn") * F.col("nrm")),
        )
        .filter(F.col("cos") >= RANGE_RADIUS)
        .select("query_id", "vec_id", "cos")
    )
    return range_rank_finish(
        run_to_memory(served, "append"),
        range_exact_counts(spark, sf_dir, exact_sample_hex),
        exact_sample_hex=exact_sample_hex,
    )


def stream_ivf_range_serve_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_ivf_range_serve with the SAMPLED recall denominator — the
    shape a deployed endpoint actually runs (VERDICT r10 ask #2 named
    this twin as the second consumer of range_exact_counts): served rows
    are identical, the brute-force audit runs only over the
    md5-threshold query sample, unsampled queries carry the -1 "not
    audited" sentinel. Shares ORACLE_IVF_RANGE_SEARCH_SAMPLED with the
    batch sampled entry."""
    from flink_gmall_spark.operators.ann import RANGE_SAMPLE_HEX

    return stream_ivf_range_serve(
        spark, sf_dir, exact_sample_hex=RANGE_SAMPLE_HEX
    )


def stream_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retrieval.bm25_topk as a SERVING job — a query STREAM scored
    against the static BM25 index, the deployment shape of a lexical
    retrieval endpoint. The corpus side (retrieval.scored_postings:
    tf/df/dl/stats folded into one per-posting BIGINT term score) is
    entirely static and resolved per micro-batch; the per-arriving-query
    work is a stateless tokenize+explode (occurrence-level — BM25's qtf
    weighting by repetition is what makes the ingest map state-free; a
    distinct would be illegal in append mode) plus one stream-static
    equi-join on tok. The per-(query, doc) integer sum and the top-k
    window apply batch-side on the drained match table via
    retrieval.bm25_finish (shared VERBATIM — rank windows cannot follow
    an append stream); shares ORACLE_BM25_TOPK, so the served ranking is
    hash-identical to the batch index by contract."""
    return _bm25_serve(spark, sf_dir)


def _bm25_serve(spark: SparkSession, sf_dir: str, logidf: bool = False) -> DataFrame:
    """The one definition of the lexical serve shape — the unlogged and
    logged-idf twins differ ONLY in which static score table the query
    stream joins (scored_postings vs logidf_scored_postings)."""
    from flink_gmall_spark.operators.retrieval import (
        bm25_finish,
        bm25_match,
        logidf_scored_postings,
        query_occurrences,
        scored_postings,
    )
    from flink_gmall_spark.sources import load

    score_table = logidf_scored_postings if logidf else scored_postings
    sp = score_table(load(spark, sf_dir, "documents"))
    occ = query_occurrences(read_stream(spark, sf_dir, "documents"))
    # shared match semantics (review r11): only the broadcast hint is
    # batch-specific — a streaming side cannot take it
    served = bm25_match(occ, sp, broadcast=False).select(
        "query_id", "doc_id", "score_i"
    )
    return bm25_finish(run_to_memory(served, "append"))


def stream_bm25_logidf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_bm25_topk_logidf as a SERVING job — the logged-idf score
    table is entirely static (the ln chain is index-build work), so the
    serve path is stream_bm25_serve's shape verbatim with the logidf
    postings swapped in (_bm25_serve, one definition). Shares
    ORACLE_BM25_TOPK_LOGIDF: served and batch rankings are
    hash-identical by contract."""
    return _bm25_serve(spark, sf_dir, logidf=True)


def stream_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_retrieval_eval with the LEXICAL leg served from the live
    query stream (stream_bm25_serve) and the exact-cosine pseudo-qrels
    from the static index; MRR/nDCG ledger applies batch-side via
    retrieval.retrieval_eval_finish (shared VERBATIM). Shares
    ORACLE_RETRIEVAL_EVAL: the serving path must grade identically to
    the batch eval harness."""
    from flink_gmall_spark.operators.ann import ann_topk
    from flink_gmall_spark.operators.retrieval import retrieval_eval_finish

    # the finisher joins the lex list against itself (directly in the
    # stacked union AND through the fused branch) — a MemoryPlan leaf is
    # not multi-instance, so give the drained, query-bounded rank list a
    # fresh leaf (the stream_query_expansion_prf qvocab precedent)
    lex = (
        stream_bm25_serve(spark, sf_dir)
        .select("query_id", "doc_id", "rank")
        .localCheckpoint()
    )
    sem = ann_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return retrieval_eval_finish(lex, sem)


def stream_rrf_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_rrf_k_sweep with the LEXICAL leg served from the live query
    stream (stream_bm25_serve — one definition of the serve-side
    streaming query) and the semantic leg from the static index; the
    whole sweep ledger applies batch-side via retrieval.rrf_k_sweep_finish
    (shared VERBATIM — rank windows cannot follow an append stream).
    Shares ORACLE_RRF_K_SWEEP: tuning the fusion knob on the serving
    path must price identically to the batch calibration."""
    from flink_gmall_spark.operators.ann import ann_topk
    from flink_gmall_spark.operators.retrieval import rrf_k_sweep_finish

    lex = stream_bm25_serve(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = ann_topk(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    return rrf_k_sweep_finish(lex, sem)


def stream_hybrid_rrf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retrieval.hybrid_rrf as a SERVING job — the lexical leg is the
    live query stream of stream_bm25_serve (stateless tokenize+explode
    at ingest, stream-static join against the scored postings), the
    semantic leg is the static brute-force cosine index, and the fusion
    itself (full-outer rank join + the fixed-order RRF sum + the final
    per-query window) applies batch-side on the drained lexical match
    table via retrieval.rrf_finish / bm25_finish (both shared VERBATIM
    with the batch entry — rank windows cannot follow an append stream).
    Shares ORACLE_HYBRID_RRF, so the served fusion is hash-identical to
    the batch one by contract."""
    from flink_gmall_spark.operators.ann import ann_topk
    from flink_gmall_spark.operators.retrieval import rrf_finish

    # the lexical leg IS stream_bm25_serve (review r11: one definition of
    # the serve-side streaming query, not a hand-synced copy)
    lex = stream_bm25_serve(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = ann_topk(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    return rrf_finish(lex, sem)


def stream_query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_query_expansion_prf as a SERVING job — expansion terms mined
    for queries ARRIVING ON A STREAM against the static corpus. ONE
    stateless append-mode pass over the query stream (review r11: the
    earlier shape opened a second source read solely for the vocabulary
    anti-join, doubling ingest + checkpoint work): the stream-static
    match join carries the raw occurrence through as a LEFT OUTER join
    on tok, so the single drained table serves BOTH consumers — the
    match rows (doc_id non-null, self excluded: exactly bm25_match's
    inner-join-plus-filter semantics) feed the shared bm25_finish
    ranking, and the query vocabulary is the DISTINCT (query_id, tok)
    of the same rows (the left join keeps every occurrence at least
    once, including tokens the MAX_POSTING_DF cap excludes from the
    index — which is why qvocab cannot be derived from the match rows
    alone). The feedback pool, anti-join, and df-normalized rank apply
    batch-side via retrieval.prf_finish (shared VERBATIM — rank windows
    cannot follow an append stream). Shares ORACLE_QUERY_EXPANSION_PRF,
    so the served expansions are hash-identical to the batch mine by
    contract."""
    from flink_gmall_spark.operators.retrieval import (
        _postings,
        bm25_finish,
        prf_finish,
        query_occurrences,
        scored_postings,
    )
    from flink_gmall_spark.sources import load

    docs_static = load(spark, sf_dir, "documents")
    sp = scored_postings(docs_static)
    occ = query_occurrences(read_stream(spark, sf_dir, "documents"))
    served = occ.join(sp, "tok", "left_outer").select(
        "query_id", "tok", "doc_id", "score_i"
    )
    drained = run_to_memory(served, "append")
    matched = drained.filter(
        F.col("doc_id").isNotNull() & (F.col("doc_id") != F.col("query_id"))
    ).select("query_id", "doc_id", "score_i")
    # prf_finish anti-joins qvocab against the match lineage — both
    # branches of ONE MemoryPlan leaf, which is not multi-instance, so
    # Spark cannot deduplicate the self-join. The vocabulary is bounded
    # by the query stream's token set (it broadcasts inside prf_finish
    # anyway): a localCheckpoint gives it a fresh leaf for pennies.
    qvocab = drained.select("query_id", "tok").distinct().localCheckpoint()
    return prf_finish(bm25_finish(matched), _postings(docs_static), qvocab)


def stream_retrieval_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation_retrieval_triplets as a SERVING job — triplets mined
    incrementally for queries ARRIVING ON A STREAM (the online
    hard-negative-refresh shape): the lexical leg is stream_bm25_serve's
    stateless match join drained to the shared bm25_finish rank list,
    and everything downstream — the positives slice, the md5-threshold
    negative pool over the STATIC corpus, the pairing — applies
    batch-side via retrieval.triplets_finish (shared VERBATIM). Shares
    ORACLE_RETRIEVAL_TRIPLETS, so the served triplet set is
    hash-identical to the batch mine by contract."""
    from flink_gmall_spark.operators.retrieval import (
        bm25_finish,
        bm25_match,
        query_occurrences,
        scored_postings,
        triplets_finish,
    )
    from flink_gmall_spark.sources import load

    docs_static = load(spark, sf_dir, "documents")
    served = bm25_match(
        query_occurrences(read_stream(spark, sf_dir, "documents")),
        scored_postings(docs_static),
        broadcast=False,
    ).select("query_id", "doc_id", "score_i")
    return triplets_finish(
        bm25_finish(run_to_memory(served, "append")), docs_static
    )


def stream_bm25_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_bm25_param_sweep as a SERVING job — the (k1, b) calibration
    computed over queries ARRIVING ON A STREAM: the query stream's
    stateless tokenize+explode joins the static posting-FEATURE table
    (tf/df/dl/stats — the sweep needs the raw features, not one baked
    score, so every config prices from the same matched row), and the
    whole sweep ledger (per-config score sums, stack, windowed
    default-overlap flag) applies batch-side on the drained match table
    via retrieval.param_sweep_finish (shared VERBATIM — rank windows
    cannot follow an append stream). Shares ORACLE_BM25_PARAM_SWEEP:
    calibrating on the serving path prices identically to the batch
    calibration by contract."""
    from flink_gmall_spark.operators.retrieval import (
        bm25_match,
        param_sweep_finish,
        posting_features,
        query_occurrences,
    )
    from flink_gmall_spark.sources import load

    feat = posting_features(load(spark, sf_dir, "documents"))
    occ = query_occurrences(read_stream(spark, sf_dir, "documents"))
    matched = bm25_match(occ, feat, broadcast=False).select(
        "query_id", "doc_id", "tf", "df", "dl", "n_docs", "total_len"
    )
    return param_sweep_finish(run_to_memory(matched, "append"))


def stream_rrf_weighted_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_rrf_weighted as a SERVING job — the unlogged lexical leg is
    the live query stream (stream_bm25_serve, one definition), the
    semantic and logged-idf legs are static indexes, and the 3-way
    weighted fusion applies batch-side via retrieval.rrf_weighted_finish
    (shared VERBATIM). Shares ORACLE_RRF_WEIGHTED: the served weighted
    fusion is hash-identical to the batch one by contract."""
    from flink_gmall_spark.operators.ann import ann_topk
    from flink_gmall_spark.operators.retrieval import (
        bm25_topk_logidf,
        rrf_weighted_finish,
    )

    lex = stream_bm25_serve(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = ann_topk(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    lgx = bm25_topk_logidf(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lgx_rank")
    )
    return rrf_weighted_finish(lex, sem, lgx)


def stream_bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_bm25_hard_negatives as a SERVING job — lexical negative
    mining for queries ARRIVING ON A STREAM (the online
    negative-refresh shape): the BM25 candidates come from
    stream_bm25_serve's drained rank list, the near-dup exclusion and
    the exact-denominator recall ledger apply batch-side via
    retrieval.bm25_negatives_finish (shared VERBATIM). Shares
    ORACLE_BM25_HARD_NEGATIVES: the served mining ledger is
    hash-identical to the batch one by contract."""
    from flink_gmall_spark.operators.ann import _with_norm, hard_negatives
    from flink_gmall_spark.operators.retrieval import bm25_negatives_finish
    from flink_gmall_spark.sources import load

    emb = _with_norm(load(spark, sf_dir, "embeddings"))
    exact = hard_negatives(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("doc_id")
    )
    # the finisher consumes the rank list through two branches (the
    # ledger aggregate AND the hits join) — a MemoryPlan leaf is not
    # multi-instance, so give the drained, query-bounded list a fresh
    # leaf (the stream_retrieval_eval precedent)
    lex = stream_bm25_serve(spark, sf_dir).localCheckpoint()
    return bm25_negatives_finish(lex, emb, exact)


def stream_phrase_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_phrase_search as a SERVING job — phrase queries ARRIVING ON
    A STREAM probe the static positional index: the per-arriving-doc
    work is a stateless adjacent-pair transform+explode
    (query_bigram_occurrences, map-only) plus BOTH positional legs as
    chained stream-static equi-joins (phrase_adjacent_matches, broadcast
    hint off — the adjacency leg joins the resident index per
    micro-batch, which is what a deployed endpoint does); only the
    output-bounded adjacency MATCHES drain to the sink (leg-1 rows are
    posting-list-sized — draining them would checkpoint the posting
    lists themselves), and the ranking applies batch-side via
    retrieval.phrase_finish (shared VERBATIM). Shares
    ORACLE_PHRASE_SEARCH, so the served phrase ranking is
    hash-identical to the batch index probe by contract."""
    from flink_gmall_spark.operators.retrieval import (
        phrase_adjacent_matches,
        phrase_finish,
        pos_index,
        query_bigram_occurrences,
    )
    from flink_gmall_spark.sources import load

    idx = pos_index(load(spark, sf_dir, "documents"))
    qbg = query_bigram_occurrences(read_stream(spark, sf_dir, "documents"))
    matches = phrase_adjacent_matches(qbg, idx, broadcast=False)
    return phrase_finish(run_to_memory(matches, "append"))


def stream_proximity_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_proximity_topk as a SERVING job — proximity queries ARRIVING
    ON A STREAM probe the static positional index (the stream_phrase_serve
    discipline exactly): stateless adjacent-pair transform at ingest,
    both positional legs as stream-static joins with the broadcast hint
    off (leg 2's band join runs against the resident index per
    micro-batch — a deployed endpoint's shape), only the output-bounded
    span MATCHES drain to the sink, ranking batch-side via
    retrieval.proximity_finish (shared VERBATIM). Shares
    ORACLE_PROXIMITY_TOPK, so the served proximity ranking is
    hash-identical to the batch index probe by contract."""
    from flink_gmall_spark.operators.retrieval import (
        pos_index,
        proximity_finish,
        proximity_matches,
        query_bigram_occurrences,
    )
    from flink_gmall_spark.sources import load

    idx = pos_index(load(spark, sf_dir, "documents"))
    qbg = query_bigram_occurrences(read_stream(spark, sf_dir, "documents"))
    matches = proximity_matches(qbg, idx, broadcast=False)
    return proximity_finish(run_to_memory(matches, "append"))


def stream_proximity_unordered_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """proximity_unordered_topk as a SERVING job — the unordered-window
    member of the positional-serving family, identical contract to
    stream_proximity_serve (stateless ingest transform, stream-static
    legs, bounded span matches drain, proximity_finish batch-side
    VERBATIM). Shares ORACLE_PROXIMITY_UNORDERED."""
    from flink_gmall_spark.operators.retrieval import (
        pos_index,
        proximity_finish,
        proximity_matches,
        query_bigram_occurrences,
    )
    from flink_gmall_spark.sources import load

    idx = pos_index(load(spark, sf_dir, "documents"))
    qbg = query_bigram_occurrences(read_stream(spark, sf_dir, "documents"))
    matches = proximity_matches(qbg, idx, broadcast=False, ordered=False)
    return proximity_finish(run_to_memory(matches, "append"))


def stream_sdm_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_sdm_topk as a SERVING job — SDM queries ARRIVING ON A STREAM
    probe the static corpus: all three feature legs (unigram BM25
    match, ordered window, unordered window) run as stream-static joins
    off the arriving-query stream and UNION into ONE append sink — a
    deployed endpoint drains one tagged match stream, not three
    queries. Per-arriving-query work is stateless (tokenize / pair
    explode + equi-joins, broadcast hint off per the serve contract);
    the per-(query, doc) sums, LEFT-join fusion, and rank window apply
    batch-side on the drained legs via retrieval.sdm_fuse (shared
    VERBATIM with the batch entry). Shares ORACLE_SDM_TOPK: the served
    SDM ranking is hash-identical to the batch index probe by
    contract."""
    from flink_gmall_spark.operators.retrieval import (
        PROX_WINDOW,
        bm25_match,
        pos_index,
        proximity_matches,
        query_bigram_occurrences,
        query_occurrences,
        scored_postings,
        sdm_fuse,
    )
    from flink_gmall_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    sp, idx = scored_postings(docs), pos_index(docs)
    qocc = query_occurrences(read_stream(spark, sf_dir, "documents"))
    qbg = query_bigram_occurrences(read_stream(spark, sf_dir, "documents"))
    closeness = (F.lit(PROX_WINDOW + 1) - F.col("span")).cast("long")
    legs = (
        bm25_match(qocc, sp, broadcast=False)
        .select(
            "query_id", "doc_id", F.lit("uni").alias("leg"),
            F.col("score_i").cast("long").alias("val"),
        )
        .unionByName(
            proximity_matches(qbg, idx, broadcast=False).select(
                "query_id", "doc_id", F.lit("ord").alias("leg"),
                closeness.alias("val"),
            )
        )
        .unionByName(
            proximity_matches(qbg, idx, broadcast=False, ordered=False).select(
                "query_id", "doc_id", F.lit("unw").alias("leg"),
                closeness.alias("val"),
            )
        )
    )
    drained = run_to_memory(legs, "append")
    # ONE pivot aggregation over the tagged drain (three filtered aggs
    # re-joined would self-join one memory table — conflicting-reference
    # analysis error, and three passes where one suffices). Base rows =
    # lexical matches: bm25_score IS NULL would mean a window match with
    # no term match, impossible by the capped-index invariant — the
    # filter mirrors the batch side's bm-anchored LEFT joins exactly.
    pairs = (
        drained.groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.when(F.col("leg") == "uni", F.col("val"))).alias(
                "bm25_score"
            ),
            F.sum(F.when(F.col("leg") == "ord", F.col("val"))).alias("po"),
            F.sum(F.when(F.col("leg") == "unw", F.col("val"))).alias("pu"),
        )
        .filter(F.col("bm25_score").isNotNull())
    )
    return sdm_fuse(pairs)


def stream_blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation.blocklist_scrub at INGEST TIME — documents arriving on
    a stream are matched against the static (broadcast-sized) blocklist
    term table as they land: per-arriving-doc work is the stateless
    posexplode plus one stream-static equi-join on the token; the
    bounded VOTE rows (only tokens that appear in some banned phrase)
    drain to the sink, and the anchor grouping, span merge, and
    gap-slice cut apply batch-side over the drained votes — the anchor
    vote is a keyed aggregation, so it cannot run in append mode, and
    a deployed scrubber would fold it per micro-batch in foreachBatch
    (the T9 sink discipline). Shares ORACLE_BLOCKLIST_SCRUB: the
    ingest-time scrub ledger is hash-identical to the batch corpus
    pass by contract."""
    from flink_gmall_spark.operators.curation import BLOCKLIST_PHRASES
    from flink_gmall_spark.operators.dedup import apply_span_cuts, merged_spans
    from flink_gmall_spark.functions.tokenize import tokens_col
    from flink_gmall_spark.sources import load

    terms = [
        (pid, ti, tok, len(p.split()))
        for pid, p in enumerate(BLOCKLIST_PHRASES)
        for ti, tok in enumerate(p.split())
    ]
    bl = spark.createDataFrame(terms, "pid int, ti int, tok string, k int")
    stoks = read_stream(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "tok")
    )
    votes = run_to_memory(
        stoks.join(F.broadcast(bl), "tok").filter(F.col("pos") >= F.col("ti")),
        "append",
    )
    hits = (
        votes.groupBy(
            "doc_id", "pid", "k", (F.col("pos") - F.col("ti")).alias("anchor")
        )
        .agg(F.countDistinct("ti").alias("n_terms"))
        .filter(F.col("n_terms") == F.col("k"))
        .select("doc_id", "pid", "anchor", "k")
    )
    n_hits = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    spans = hits.select(
        "doc_id",
        F.col("anchor").alias("st"),
        (F.col("anchor") + F.col("k") - 1).alias("en"),
    ).distinct()
    span_arr = (
        merged_spans(spans)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("mst", "men"))).alias("cuts"))
    )
    t = load(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("t")
    )
    return (
        apply_span_cuts(t.join(span_arr, "doc_id", "left_outer"))
        .join(n_hits, "doc_id", "left_outer")
        .select(
            "doc_id", "n_tokens", "kept_tokens", "removed_tokens", "kept_md5",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
    )


def stream_exact_substring_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_exact_substring_runs as a PROBE job — documents ARRIVING ON
    A STREAM are matched against the STATIC capped positional gram
    postings (the ingestion-time shape of an exact-substring dedup
    service: does this incoming doc share a verbatim run with anything
    already in the corpus?). Per-arriving-doc work is the stateless
    raw-gram explode plus one stream-static equi-join on gram; the
    d1 < d2 orientation counts each unordered pair exactly once as the
    stream replays the corpus, and cap parity is implied because only
    under-cap grams exist on the static side (raw_positional_grams
    docstring). The run assembly (diagonal islands) is a keyed window —
    it cannot run in append mode, so the bounded match rows drain and
    dedup.runs_finish applies batch-side VERBATIM. Shares
    ORACLE_EXACT_SUBSTRING_RUNS: the served ledger is hash-identical to
    the batch self-join by contract."""
    from flink_gmall_spark.operators.dedup import (
        positional_run_grams,
        raw_positional_grams,
        runs_finish,
        substring_gram_matches,
    )
    from flink_gmall_spark.sources import load

    idx = positional_run_grams(load(spark, sf_dir, "documents"))
    sg = raw_positional_grams(read_stream(spark, sf_dir, "documents"))
    matches = substring_gram_matches(idx, sg)
    return runs_finish(run_to_memory(matches, "append"))

def stream_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation.unigram_encode_corpus at INGEST TIME — the tokenizer-
    serving twin (VERDICT r14 ask #4): documents arriving on a stream
    are Viterbi-segmented against the TRAINED unigram-LM vocabulary as
    they land. Per-arriving-doc work is stateless: explode to domain
    words (curation._word_occurrences, the exact batch definition),
    explode each word to its candidate substrings (_UG_CANDS, the
    exact batch geometry), and one stream-static broadcast join on
    piece against the trained vocab. The joined (w, en, ln, score)
    candidate-hit rows drain append-mode — a row count of
    freq(w) x |vocab-member candidates of w|, linear in the arriving
    token stream (the staged-to-disk drain is the honest transport at
    scale); every occurrence of a word emits the identical candidate
    set, so the batch-side finish recovers the dictionary frequency as
    count(*) per (w, en, ln, score) WITHOUT a second corpus pass, then
    applies the shared Viterbi DP (_unigram_dp_finish — the twins
    cannot diverge) and the shared piece-usage rollup. The per-word
    DP is a keyed aggregation, so it cannot run in append mode; a
    deployed encoder would fold it per micro-batch in foreachBatch
    (the T9 sink discipline). Shares ORACLE_UNIGRAM_ENCODE: the
    ingest-time usage table is hash-identical to the batch corpus
    pass by contract. No Python UDF anywhere on the path."""
    from flink_gmall_spark.operators.curation import (
        _UG_CANDS,
        _unigram_dp_finish,
        _unigram_usage,
        _unigram_vocab,
        _word_occurrences,
    )
    from flink_gmall_spark.sources import load

    _, vocab = _unigram_vocab(load(spark, sf_dir, "documents"))
    cands = (
        _word_occurrences(read_stream(spark, sf_dir, "documents"))
        .select("w", F.explode(F.expr(_UG_CANDS)).alias("c"))
        .select("w", "c.en", "c.ln", "c.piece")
    )
    hits = cands.join(
        F.broadcast(vocab.select("piece", "score")), "piece"
    ).select("w", "en", "ln", "score")
    drained = run_to_memory(hits, "append")
    cw = (
        drained.groupBy("w", "en", "ln", "score")
        .agg(F.count(F.lit(1)).alias("freq"))
        .groupBy("w", "freq")
        .agg(F.collect_list(F.struct("en", "ln", "score")).alias("cands"))
        .withColumn("L", F.length("w"))
    )
    return _unigram_usage(_unigram_dp_finish(cw))
