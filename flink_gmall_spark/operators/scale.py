"""Skew-mitigation utilities for hot-key aggregations and joins.

AQE's skew-join splitting (enabled in session.RUNTIME_CONFS) covers most
runtime skew; these helpers cover the cases AQE cannot re-plan — a single
pathological group key in an aggregation, and distinct-heavy rollups —
using the classic two-phase salted shape: aggregate on (key, salt) first
so the hot key fans out over SALT_BUCKETS reducers, then combine partials.
Results are identical to the unsalted plan (sums/counts are associative;
distinct pre-dedups on the salted key).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SALT_BUCKETS = 16


def _salt(cols: list[str]) -> Column:
    """Deterministic salt from row content (stable across retries —
    rand()-based salts break exactly-once replay)."""
    return F.pmod(F.xxhash64(*cols), F.lit(SALT_BUCKETS))


def salted_sum_count(
    df: DataFrame, key: str, value: str, salt_from: str
) -> DataFrame:
    """Two-phase salted sum+count keyed on ``key``: phase 1 aggregates on
    (key, salt(salt_from)), phase 2 combines. Output: key, total, ct."""
    phase1 = (
        df.withColumn("__salt", _salt([salt_from]))
        .groupBy(key, "__salt")
        .agg(
            F.sum(F.col(value).cast("decimal(18,2)")).alias("p_sum"),
            F.count(F.lit(1)).alias("p_ct"),
        )
    )
    return phase1.groupBy(key).agg(
        F.sum("p_sum").cast("double").alias("total"),
        F.sum("p_ct").cast("long").alias("ct"),
    )


def salted_count_distinct(df: DataFrame, key: str, distinct_col: str) -> DataFrame:
    """Exact COUNT(DISTINCT distinct_col) per key for skewed keys: salt by
    the *distinct* column so each hot key's dedup spreads over reducers;
    phase 1 dedups (key, salt, value), phase 2 counts. Output: key, dct."""
    phase1 = (
        df.withColumn("__salt", _salt([distinct_col]))
        .select(key, "__salt", distinct_col)
        .dropDuplicates([key, "__salt", distinct_col])
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("p_dct"))
    )
    return phase1.groupBy(key).agg(F.sum("p_dct").cast("long").alias("dct"))


def salted_status_rollup(spark, sf_dir: str) -> DataFrame:
    """Registry face of the salted two-phase aggregation: order totals per
    status (3 wildly skewed groups — exactly the single-hot-key shape AQE
    cannot re-plan, since skew-join splitting does not apply to
    aggregations). Phase 1 fans each status over SALT_BUCKETS reducers on
    a content-derived salt; phase 2 combines partials. The oracle is the
    straight GROUP BY — salting must be invisible in the result."""
    from flink_gmall_spark.sources import load

    orders = load(spark, sf_dir, "orders")
    out = salted_sum_count(orders, "o_orderstatus", "o_totalprice", "o_orderkey")
    return out.select("o_orderstatus", "total", "ct")


ORACLE_SALTED_STATUS_ROLLUP = """
SELECT o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(count(*) AS BIGINT) AS ct
FROM orders
GROUP BY o_orderstatus
"""


# --- Bucketed co-located join (the big-fact ⋈ big-fact scale path) ----------

BUCKET_N = 8


def _bucketed_df_table(
    spark: SparkSession, sf_dir: str, label: str, df: DataFrame, key: str
) -> str:
    """Materialize ``df`` once per session as a bucketed+sorted parquet
    table on ``key`` (hash-bucketed into BUCKET_N files, like Hive
    bucketing). Subsequent scans expose the bucketing to the planner, so
    equi-joins and aggregations on ``key`` need no Exchange — the physical
    layout IS the shuffle, paid once at write time."""
    # session-tagged: concurrent sessions (driver + CI) must not
    # overwrite each other's files mid-read — same reason the stream
    # staging dir renames atomically. Within a session the catalog check
    # makes materialization once-only.
    from flink_gmall_spark.scratch import scratch_dir, session_tag

    name = f"fgs_bkt_{label}_{session_tag(spark, sf_dir)}"
    if not spark.catalog.tableExists(name):
        path = scratch_dir("bucketed", name)
        (
            df.write.format("parquet")
            .bucketBy(BUCKET_N, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
    return name


def _bucketed_table(spark: SparkSession, sf_dir: str, table: str, key: str) -> str:
    """_bucketed_df_table over a raw fixture table.

    This is the fact⋈fact strategy for dims too big to broadcast (SCALE.md
    §Joins): at 100 TB both orders and lineitem are bucketed on the order
    key at load time and every downstream join co-locates for free."""
    from flink_gmall_spark.sources import load

    return _bucketed_df_table(spark, sf_dir, table, load(spark, sf_dir, table), key)


def bucketed_orders_join(spark, sf_dir: str) -> DataFrame:
    """Registry face of the bucketed join: lineitem ⋈ orders on the order
    key with BOTH sides bucketed on that key — the plan contains a
    SortMergeJoin with zero Exchange below it (pinned in test_plans.py);
    the only shuffle in the whole query is the final tiny status rollup.
    The merge hint keeps AQE from 'helpfully' broadcasting the small test
    table, which would hide the co-location this operator demonstrates."""
    from flink_gmall_spark.functions.parity import MONEY

    li = spark.table(_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey"))
    o = spark.table(_bucketed_table(spark, sf_dir, "orders", "o_orderkey"))
    j = li.hint("merge").join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("item_ct"),
        F.sum(F.col("l_extendedprice").cast(MONEY)).cast("double").alias("revenue"),
    )


ORACLE_BUCKETED_ORDERS_JOIN = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS item_ct,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


# --- AQE skew-join splitting (the runtime half of the skew story) -----------

#: ~30% of lineitem rows remap onto ONE join key — a deliberate hot key
#: (the reference's skew surface is hot mids on keyBy, BaseLogApp.java:53).
SKEW_HOT_KEY = 1
_SKEW_KEY = (
    f"CASE WHEN l_orderkey % 10 < 3 THEN {SKEW_HOT_KEY} ELSE l_partkey END"
)


#: per-row incompressible payload: the "wide fact row" a real corpus
#: carries through a join (at 100 TB each lineitem is a document, not 3
#: numbers). md5-derived so Spark and DuckDB agree byte-for-byte, and
#: lz4 in the shuffle cannot compress the hot partition away.
_SKEW_PAYLOAD = (
    "concat(md5(concat('a', l_orderkey, '-', l_linenumber)), "
    "md5(concat('b', l_orderkey, '-', l_linenumber)))"
)


def skewed_part_join(spark, sf_dir: str) -> DataFrame:
    """Registry face of AQE skew-join splitting: lineitem with a
    synthesized hot key (30% of the fact lands on part {SKEW_HOT_KEY})
    shuffle-joined to part, carrying an incompressible per-row payload.
    On a real cluster the hot key's shuffle partition dwarfs the median
    and AQE's OptimizeSkewedJoin splits it along MAPPER boundaries into
    sub-partitions, each joined against a replicated copy of the
    matching build rows — same result, no straggler. The merge hint only
    disables broadcast (which would hide the shuffle being demonstrated);
    the SPLITTING itself is AQE's runtime decision, asserted by the plan
    gate in tests/test_scale.py. Two things the gate teaches about the
    mechanism: thresholds are byte-based (scaled down there to sf-test
    volume; at 100 TB the 256 MB defaults fire unaided), and a skewed
    partition is only splittable if MULTIPLE map tasks feed it — the
    single-row-group test parquet yields one mapper, so the gate stages
    a multi-file copy, exactly the many-mapper shape any real cluster
    input has. The oracle is the straight join+GROUP BY — splitting must
    be invisible in the result."""
    from flink_gmall_spark.functions.parity import MONEY
    from flink_gmall_spark.sources import load

    li = (
        load(spark, sf_dir, "lineitem")
        .withColumn("jk", F.expr(_SKEW_KEY))
        .withColumn("payload", F.expr(_SKEW_PAYLOAD))
    )
    part = load(spark, sf_dir, "part")
    j = li.hint("merge").join(part.hint("merge"), li.jk == part.p_partkey)
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("item_ct"),
        F.sum(F.col("l_quantity").cast(MONEY)).cast("double").alias("qty"),
        F.min("payload").alias("payload_fp"),
    )


ORACLE_SKEWED_PART_JOIN = f"""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS item_ct,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
       min({_SKEW_PAYLOAD}) AS payload_fp
FROM lineitem JOIN part ON ({_SKEW_KEY}) = p_partkey
GROUP BY p_brand
"""


RANGE_BIN_US = 60_000_000  # 60 s time bins == the range-join window length


def binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure NON-EQUI range join made shuffle-friendly by time binning:
    for every 'error' event, count the 'purchase' events in the 60 s
    window after it ([ts, ts+60s)) — incident-impact attribution with NO
    shared key between the sides.

    A naive plan is a BroadcastNestedLoopJoin / cartesian with a range
    predicate — corpus-quadratic, the anti-pattern. The binned form is
    the standard Spark rewrite: quantize the time axis into bins the
    size of the window, explode each LEFT window to the (<= 2) bins it
    overlaps, assign each right event its single bin, equi-join ON THE
    BIN (plus the exact range predicate in the join condition), and
    reduce per left row. Shuffle is keyed on the bin — cost scales with
    events-per-bin x bins, never |errors| x |purchases|. At 100 TB the
    bin width tunes join fan-out exactly like the LSH band width in
    dedup; AQE's skew split absorbs hot bins (incident storms).

    The LEFT OUTER join keeps zero-impact errors in the result (count
    over the exploded bins sums matched purchases once each — a right
    event has exactly one bin, so no pair can double-count).
    """
    from flink_gmall_spark.sources import load

    ev = load(spark, sf_dir, "events")
    err = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id"),
            F.unix_micros("ts").alias("e_us"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        )
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.expr(f"e_us DIV {RANGE_BIN_US}"),
                    F.expr(f"(e_us + {RANGE_BIN_US} - 1) DIV {RANGE_BIN_US}"),
                )
            ),
        )
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.unix_micros("ts").alias("p_us"),
        F.expr(f"unix_micros(ts) DIV {RANGE_BIN_US}").alias("bin"),
    )
    j = err.join(
        pur,
        (err["bin"] == pur["bin"])
        & (F.col("p_us") >= F.col("e_us"))
        & (F.col("p_us") < F.col("e_us") + F.lit(RANGE_BIN_US)),
        "left",
    )
    return j.groupBy("event_id").agg(
        F.first("stt").alias("stt"),
        F.count("p_id").alias("purchase_ct"),
    )


ORACLE_BINNED_RANGE_JOIN = f"""
SELECT e.event_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS stt,
       CAST(count(p.event_id) AS BIGINT) AS purchase_ct
FROM events e
LEFT JOIN events p
  ON p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(e.ts)
 AND epoch_us(p.ts) < epoch_us(e.ts) + {RANGE_BIN_US}
WHERE e.event_type = 'error'
GROUP BY 1, 2
"""


# --- Partition pruning (the 100 TB lake-layout story) ------------------------


def _date_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events once per (sf_dir, session) as a dt=yyyy-MM-dd
    partitioned parquet layout — the standard lake layout at 100 TB,
    where a day predicate must prune to one directory instead of
    scanning the corpus. Paid once; every pruning entry reuses it."""
    from flink_gmall_spark.scratch import scratch_dir, session_tag
    from flink_gmall_spark.sources import load

    path = scratch_dir("events_by_dt", session_tag(spark, sf_dir))
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        (
            load(spark, sf_dir, "events")
            .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(path)
        )
    return path


def partition_pruned_read(spark, sf_dir: str) -> DataFrame:
    """STATIC partition pruning: per-type event counts for the corpus's
    last day, read from the dt-partitioned layout with a literal dt
    predicate — the scan's PartitionFilters prune every other day's
    directory at planning time, no data files touched (gate in
    tests/test_plans.py asserts the pruned file count). The one collect
    is the 1-row max-date lookup that produces the literal — the same
    bounded driver-side step any dashboard's 'latest day' query does.
    The oracle recomputes the same day straight from the raw table."""

    path = _date_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    last_day = ev.agg(F.max("dt")).collect()[0][0]
    return (
        ev.filter(F.col("dt") == F.lit(last_day))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("ct"))
    )


ORACLE_PARTITION_PRUNED_READ = """
SELECT event_type, CAST(count(*) AS BIGINT) AS ct
FROM events
WHERE strftime(ts, '%Y-%m-%d') =
      (SELECT max(strftime(ts, '%Y-%m-%d')) FROM events)
GROUP BY event_type
"""


def _date_dim(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the calendar dim next to the partitioned fact: one row
    per event day with its ISO weekday — the dim side of the star join."""
    from flink_gmall_spark.scratch import scratch_dir, session_tag
    from flink_gmall_spark.sources import load

    path = scratch_dir("date_dim", session_tag(spark, sf_dir))
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        (
            load(spark, sf_dir, "events")
            .select(F.date_format("ts", "yyyy-MM-dd").alias("dt"))
            .distinct()
            .withColumn("wd", F.weekday(F.to_date("dt")).cast("int"))
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def dynamic_partition_pruning(spark, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning (DPP): the dt-partitioned fact joined to
    a *filtered calendar dim* (weekends only) — which partitions survive
    is only known at runtime, so Catalyst injects a dynamicpruning#N
    subquery into the fact scan's PartitionFilters: the broadcast dim
    executes first and its dt values prune fact directories before any
    fact file is read. This is THE mechanism that makes star-schema
    queries touch 1/365th of a year-partitioned 100 TB fact (gate in
    tests/test_plans.py asserts the dynamicpruning expression + parity
    with the unpartitioned join). weekday >= 5 is Sat/Sun (ISO)."""

    path = _date_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    dim = spark.read.parquet(_date_dim(spark, sf_dir)).filter(F.col("wd") >= 5)
    j = ev.join(F.broadcast(dim), "dt")
    return j.groupBy("dt").agg(
        F.count(F.lit(1)).alias("ev_ct"),
        F.countDistinct("user_id").alias("uv"),
    )


ORACLE_DYNAMIC_PARTITION_PRUNING = """
WITH dim AS (
    SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS dt,
           isodow(CAST(strftime(ts, '%Y-%m-%d') AS DATE)) - 1 AS wd
    FROM events
)
SELECT d.dt,
       CAST(count(*) AS BIGINT) AS ev_ct,
       count(DISTINCT e.user_id) AS uv
FROM events e
JOIN dim d ON strftime(e.ts, '%Y-%m-%d') = d.dt
WHERE d.wd >= 5
GROUP BY d.dt
"""


# --- Runtime Bloom-filter join (probe-side row pruning) ----------------------


def runtime_bloom_join(spark, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join: lineitem ⋈ selectively-filtered orders
    (urgent/high priorities). Catalyst's InjectRuntimeFilter builds a
    bloom_filter_agg over the filtered orders' join keys and plants a
    might_contain(xxhash64(l_orderkey)) predicate on the lineitem side —
    at 100 TB the probe side drops non-matching rows BEFORE the shuffle,
    the row-level complement to partition pruning (which needs a
    partition column; this works on any key). Gate in tests/test_plans.py.

    The injection preconditions are byte-thresholds sized for clusters
    (probe side > 10 GB), so this entry scales them to fixture volume the
    same way the AQE skew gate does, plans the query under those confs,
    then RESTORES them — QueryExecution memoizes the physical plan, so
    the later action executes the bloom-filtered plan while the session's
    conf state stays untouched for other entries."""
    from flink_gmall_spark.functions.parity import MONEY
    from flink_gmall_spark.sources import load

    confs = {
        # probe side must look "big" relative to the threshold; at 100 TB
        # the 10 GB default fires unaided
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1k",
        # a broadcastable build side suppresses injection (the BHJ prunes
        # via its hash table already) — force the shuffle-join shape the
        # filter exists for
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        df = j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("item_ct"),
            F.sum(F.col("l_extendedprice").cast(MONEY)).cast("double").alias("revenue"),
        )
        # force logical optimization + physical planning NOW, under the
        # scaled confs; the memoized plan is what the caller executes
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


ORACLE_RUNTIME_BLOOM_JOIN = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS item_ct,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


COMPACT_EPOCHS = 8  # simulated micro-batch count in the small-file store
COMPACT_TARGET_FILES = 2
# Scratch base of the LATEST call, for test introspection ONLY. Valid
# only under SERIAL invocation: concurrent same-app calls each get their
# own uuid-tagged paths (no path race), but a reader of this global can
# observe another call's base (r6 ADVICE) — tests that use it must not
# run epoch_compaction concurrently.
LAST_COMPACTION_BASE: str | None = None


def epoch_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-store MAINTENANCE — the small-files problem and its fix:
    an epoch-partitioned exactly-once sink (streaming.jobs
    write_exactly_once) accretes one directory of small files per
    micro-batch; at 100 TB that is millions of files and a dead
    NameNode/manifest. The compaction job rewrites the store into
    COMPACT_TARGET_FILES sorted files (repartition + sortWithinPartitions
    on the query key, so post-compaction scans get clustered row-group
    stats), after which readers see identical content through a sane
    layout.

    The store here is produced batch-side as COMPACT_EPOCHS epoch slices
    (deterministic pmod shards — the layout a rate-limited CDC sink run
    leaves behind; see stream_pyds_cdc_* for the live producer). The
    ORACLE CONTRACT IS CONTENT IDENTITY: the returned rollup is computed
    from the COMPACTED files and must hash-match the same rollup over the
    original table — a compaction that drops, duplicates, or mangles one
    row fails correctness. tests/test_scale.py pins the file-count
    reduction itself.
    """
    from flink_gmall_spark.functions.parity import MONEY
    from flink_gmall_spark.scratch import scratch_dir
    from flink_gmall_spark.sources import load

    # A per-call tag makes each invocation's store/compacted paths unique
    # — repeated or concurrent calls in the same app can no longer race
    # on the overwrite or read mixed file sets.
    global LAST_COMPACTION_BASE
    base = LAST_COMPACTION_BASE = scratch_dir("compaction", uuid.uuid4().hex[:12])
    store = os.path.join(base, "store")
    compacted = os.path.join(base, "compacted")

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    for e in range(COMPACT_EPOCHS):
        ev.filter(F.pmod("event_id", F.lit(COMPACT_EPOCHS)) == e).coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(store, f"epoch={e}"))

    small = spark.read.parquet(os.path.join(store, "epoch=*"))
    (
        small.repartition(COMPACT_TARGET_FILES)
        .sortWithinPartitions("event_type", "event_id")
        .write.mode("overwrite")
        .parquet(compacted)
    )
    comp = spark.read.parquet(compacted)
    return comp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("users"),
        F.sum(F.col("value").cast(MONEY)).cast("double").alias("value_sum"),
    )


ORACLE_EPOCH_COMPACTION = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       count(DISTINCT user_id) AS users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
"""


QUALITY_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY CONSTRAINT REPORT — the Deequ/Great-Expectations
    shape every production pipeline gates ingestion on, as ONE
    aggregation pass: per column of `orders`, row count, null count,
    exact distinct count, and min/max (rendered as strings so the report
    schema is uniform). Plus the two table-level constraint booleans a
    warehouse actually asserts: primary-key uniqueness of o_orderkey and
    zero negative prices.

    Scale shape: all per-column stats fold into ONE wide aggregate over
    a single scan (count/min/max are partial-aggregated; the exact
    distincts rewrite to Expand + two-phase agg — the planner's
    multi-distinct handling, still one scan); the wide 1-row result
    unpivots driver-side via stack(). At 100 TB this is the same single
    pass Deequ runs; column count, not row count, bounds the state.
    """
    from flink_gmall_spark.sources import load

    orders = load(spark, sf_dir, "orders")
    aggs = []
    for c in QUALITY_COLS:
        # min/max on the NATIVE type, rendered to string AFTER — casting
        # first would make numeric bounds lexicographic ('999' > '1499').
        # Timestamps render through an explicit format so both engines
        # agree on the string form.
        mn, mx = F.min(F.col(c)), F.max(F.col(c))
        if c == "o_orderdate":
            mn = F.date_format(mn, "yyyy-MM-dd HH:mm:ss")
            mx = F.date_format(mx, "yyyy-MM-dd HH:mm:ss")
        else:
            mn, mx = mn.cast("string"), mx.cast("string")
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            mn.alias(f"{c}__min"),
            mx.alias(f"{c}__max"),
        ]
    wide = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *aggs,
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).cast("long").alias("neg_prices"),
    )
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in QUALITY_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(QUALITY_COLS)}, {stack_args})"
            " as (column_name, null_ct, distinct_ct, min_str, max_str)"
        ),
        "n_rows",
        (F.col("o_orderkey__distinct") == F.col("n_rows")).alias("pk_unique"),
        (F.col("neg_prices") == 0).alias("prices_nonneg"),
    )


def _oracle_quality() -> str:
    selects = []
    for c in QUALITY_COLS:
        if c == "o_orderdate":
            mn = f"strftime(min({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = f"CAST(min({c}) AS VARCHAR)"
            mx = f"CAST(max({c}) AS VARCHAR)"
        selects.append(f"""
SELECT '{c}' AS column_name,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ct,
       CAST(count(DISTINCT {c}) AS BIGINT) AS distinct_ct,
       {mn} AS min_str,
       {mx} AS max_str,
       CAST(count(*) AS BIGINT) AS n_rows,
       count(DISTINCT o_orderkey) = count(*) AS pk_unique,
       sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) = 0 AS prices_nonneg
FROM orders""")
    return "\nUNION ALL\n".join(selects)


ORACLE_DATA_QUALITY_REPORT = _oracle_quality()


# =============================================================================
# Round-7: physical-layout + pre-flight planning operators
# =============================================================================

ZORDER_BITS = 16
ZORDER_FILES = 8


def zvalue_expr(a: str, b: str) -> str:
    """Bit-interleaved (Morton / Z-order) key of two non-negative int
    expressions — pure shifts/AND/addition, so Spark SQL and DuckDB
    compute the identical BIGINT: ``a`` occupies even bit positions,
    ``b`` odd. 16 bits per dimension = 32-bit z-values."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER LAYOUT CLUSTERING — the multi-dimensional file-clustering
    maintenance job every lakehouse format offers (Delta ``OPTIMIZE
    ZORDER BY``, Iceberg sort orders): interleave the bits of two filter
    columns (user_id × event day) into one Morton key, range-partition +
    sort the table on it, and rewrite. Scans filtering on EITHER column
    then prune most files from row-group min/max stats, because a
    contiguous z-range bounds both dimensions at once — a plain sort
    clusters only its leading column.

    Scale shape: the z-key is a narrow per-row bit-twiddle (whole-stage
    codegen, no Python); the rewrite is ONE range shuffle (sampled
    boundaries, the cost of any global sort) plus a sorted write. At
    100 TB this is the nightly OPTIMIZE pass. The clustering claim
    itself is pinned by tests/test_scale.py: per-file spans of BOTH
    dimensions must shrink to a fraction of the global span.

    ORACLE CONTRACT IS CONTENT IDENTITY (the epoch_compaction rule): the
    rollup computed FROM THE REWRITTEN FILES must hash-match the same
    rollup DuckDB runs on the original table — a rewrite that drops,
    duplicates, or mangles one row fails correctness.
    """

    clustered = spark.read.parquet(zorder_rewrite(spark, sf_dir))
    return zorder_rollup(clustered)


def zorder_rollup(clustered: DataFrame) -> DataFrame:
    """The content-identity rollup both ORACLE_ZORDER_LAYOUT twins hash
    against (batch zorder_layout and streaming.jobs
    stream_zorder_compaction) — one definition so a parity tweak can
    never drift the two halves of the same oracle contract apart."""
    from flink_gmall_spark.functions.parity import MONEY

    return clustered.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("users"),
        F.sum(F.col("value").cast(MONEY)).cast("double").alias("value_sum"),
    )


def zorder_rewrite(spark: SparkSession, sf_dir: str) -> str:
    """The rewrite itself (shared by the registry entry and the
    clustering-proof test): returns the directory of the z-ordered
    store. Tagged per call — concurrent invocations never race on the
    overwrite (the epoch_compaction discipline)."""
    from flink_gmall_spark.scratch import scratch_dir
    from flink_gmall_spark.sources import load

    out = os.path.join(scratch_dir("zorder", uuid.uuid4().hex[:12]), "clustered")

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.dayofmonth("ts").cast("long").alias("day"),
    )
    zorder_cluster(ev, out)
    return out


def zorder_cluster(ev: DataFrame, out: str) -> None:
    """The clustering rewrite itself on an events-shaped frame (user_id +
    day columns present): Morton key, ONE range shuffle, sorted write.
    Shared by the batch OPTIMIZE entry above and the streaming
    epoch-store maintenance loop (streaming.jobs
    stream_zorder_compaction)."""
    mask = (1 << ZORDER_BITS) - 1
    zed = ev.withColumn(
        "zval", F.expr(zvalue_expr(f"(user_id & {mask})", f"(day & {mask})"))
    )
    (
        zed.repartitionByRange(ZORDER_FILES, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )


ORACLE_ZORDER_LAYOUT = """
SELECT event_type,
       CAST(date_part('day', ts) AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n,
       count(DISTINCT user_id) AS users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
"""


#: join_preflight decision thresholds (shared by engine and oracle)
PREFLIGHT_BROADCAST_ROWS = 100_000
PREFLIGHT_SKEW_FACTOR = 20  # skew iff worst key pair * 20 > total output


def join_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN PRE-FLIGHT PROBE — the cardinality/skew reconnaissance a
    planner (or a pipeline gate) runs BEFORE committing to a 100 TB
    join: from two cheap partial-aggregated key-count scans it derives
    the EXACT join output cardinality (sum over matched keys of
    cnt_left × cnt_right — no join row ever materialized), per-side
    multiplicity maxima, and a deterministic strategy recommendation:
    broadcast when the build side is small, salted shuffle when one
    key's worst-case contribution dominates the output, else plain
    sort-merge. AQE makes the same calls from runtime stats; surfacing
    the math AS DATA lets a pipeline refuse a join whose output
    explodes before burning cluster-hours on it.

    Scale shape: each side collapses to ≤ |distinct keys| rows via
    partial agg before anything joins; the count-table join is keyed
    and tiny; the final fold is one row. Nothing scales with the join
    OUTPUT — that is the point of a pre-flight.
    """
    from flink_gmall_spark.sources import load

    lc = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cl"))
    )
    oc = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    agg = lc.join(oc, "k").agg(
        F.sum("cl").cast("long").alias("n_left_matched"),
        F.sum("cr").cast("long").alias("n_right_matched"),
        F.count(F.lit(1)).alias("n_keys_matched"),
        F.sum(F.col("cl") * F.col("cr")).cast("long").alias("est_out_rows"),
        F.max("cl").cast("long").alias("max_mult_left"),
        F.max("cr").cast("long").alias("max_mult_right"),
    )
    worst = F.col("max_mult_left") * F.col("max_mult_right")
    return agg.select(
        "*",
        (worst * PREFLIGHT_SKEW_FACTOR > F.col("est_out_rows")).alias("skew_flag"),
        F.when(
            F.col("n_right_matched") < PREFLIGHT_BROADCAST_ROWS,
            F.lit("broadcast_right"),
        )
        .when(worst * PREFLIGHT_SKEW_FACTOR > F.col("est_out_rows"), F.lit("salted_shuffle"))
        .otherwise(F.lit("sort_merge"))
        .alias("strategy"),
    )


ORACLE_JOIN_PREFLIGHT = f"""
WITH lc AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem GROUP BY 1),
     oc AS (SELECT o_orderkey AS k, count(*) AS cr FROM orders GROUP BY 1),
     agg AS (
       SELECT CAST(sum(cl) AS BIGINT) AS n_left_matched,
              CAST(sum(cr) AS BIGINT) AS n_right_matched,
              CAST(count(*) AS BIGINT) AS n_keys_matched,
              CAST(sum(cl * cr) AS BIGINT) AS est_out_rows,
              CAST(max(cl) AS BIGINT) AS max_mult_left,
              CAST(max(cr) AS BIGINT) AS max_mult_right
       FROM lc JOIN oc USING (k))
SELECT *,
       (max_mult_left * max_mult_right * {PREFLIGHT_SKEW_FACTOR}) > est_out_rows AS skew_flag,
       CASE WHEN n_right_matched < {PREFLIGHT_BROADCAST_ROWS} THEN 'broadcast_right'
            WHEN (max_mult_left * max_mult_right * {PREFLIGHT_SKEW_FACTOR}) > est_out_rows
              THEN 'salted_shuffle'
            ELSE 'sort_merge' END AS strategy
FROM agg
"""


def _bucketed_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 rank list served from the BUCKETED index — the ONE
    definition of the bulk-query lexical serve path, consumed by
    bucketed_postings_serve and the bucketed PRF / triplet entries
    (VERDICT r11 ask #4: the downstream miners take a rank list as
    input, so threading the bucketed serve through them is wiring).
    Both sides of the match join — the scored postings index AND the
    query occurrences — are materialized bucketed+sorted on ``tok``
    (the _bucketed_table discipline), so the tok equi-join
    SortMergeJoins with ZERO Exchange below it: the posting index
    layout is paid once at index-build time and every subsequent query
    batch co-locates for free. The merge hints keep AQE from
    broadcasting the small fixture tables, which would hide exactly the
    property this path demonstrates (bucketed_orders_join precedent)."""
    from flink_gmall_spark.operators.retrieval import (
        bm25_finish,
        query_occurrences,
        scored_postings,
    )
    from flink_gmall_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    sp = spark.table(
        _bucketed_df_table(
            spark, sf_dir, "bm25_postings", scored_postings(docs), "tok"
        )
    )
    occ = spark.table(
        _bucketed_df_table(
            spark, sf_dir, "bm25_queries", query_occurrences(docs), "tok"
        )
    )
    matched = (
        occ.hint("merge")
        .join(sp.hint("merge"), "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    return bm25_finish(matched.select("query_id", "doc_id", "score_i"))


def bucketed_postings_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 match join at BULK query volume — the co-location
    strategy for when the query batch outgrows the broadcast that
    retrieval.bm25_topk uses (8 queries broadcast fine; a corpus-sized
    re-embedding or nightly eval batch does not). The serve path is
    _bucketed_bm25_topk (one definition, shared with the bucketed PRF /
    triplet miners).

    Output and oracle are bm25_topk's own (shared ORACLE_BM25_TOPK):
    bucketing must never change results, only the shuffle bill.
    """
    return _bucketed_bm25_topk(spark, sf_dir)


def bucketed_prf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRF query expansion at BULK query volume (VERDICT r11 ask #4):
    the feedback rank list comes from the bucketed zero-Exchange match
    join (_bucketed_bm25_topk) instead of the 8-query broadcast regime,
    and everything downstream — feedback pool, vocabulary anti-join,
    df-normalized rank — applies via retrieval.prf_finish (shared
    VERBATIM with the batch and streaming entries). Shares
    ORACLE_QUERY_EXPANSION_PRF: the index layout must never change the
    mined expansions, only the shuffle bill of the match join.

    Scale shape: the raw tf postings prf_finish pools from are ALSO
    served from a tok-bucketed materialization — its df aggregation
    (groupBy tok) takes the grouping from the file layout, so the whole
    serve path repartitions tok exactly ZERO times (plan-gated).
    prf_finish's other joins stay bounded — the feedback set
    (queries × FEEDBACK_K) broadcasts into the doc-keyed postings join,
    and at a query volume where THAT broadcast breaks, the same
    bucketing discipline applies to the doc_id key (one more
    _bucketed_df_table call)."""
    from flink_gmall_spark.operators.retrieval import (
        _postings,
        prf_finish,
        query_occurrences,
    )
    from flink_gmall_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    tf = spark.table(
        _bucketed_df_table(spark, sf_dir, "bm25_tf", _postings(docs), "tok")
    )
    return prf_finish(
        _bucketed_bm25_topk(spark, sf_dir),
        tf,
        query_occurrences(docs).distinct(),
    )


def bucketed_triplets_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining at BULK query volume (VERDICT r11 ask #4): the
    positive/exclusion rank list comes from the bucketed zero-Exchange
    match join (_bucketed_bm25_topk); the positives slice, the
    md5-threshold negative pool, and the salted two-phase top-k apply
    via retrieval.triplets_finish (shared VERBATIM). Shares
    ORACLE_RETRIEVAL_TRIPLETS: same mined triplets, different index
    transport."""
    from flink_gmall_spark.operators.retrieval import triplets_finish
    from flink_gmall_spark.sources import load

    return triplets_finish(
        _bucketed_bm25_topk(spark, sf_dir),
        load(spark, sf_dir, "documents"),
    )


def bucketed_phrase_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search at BULK query volume — the co-location strategy for
    the positional index's FAN-OUT leg: both the positional postings
    (tok, doc_id, pos) and the query adjacent-pair occurrences are
    materialized bucketed+sorted on the first-word join key, so leg 1 —
    the leg whose row count is query occurrences x posting lists, the
    one that explodes at bulk volume — SortMergeJoins with ZERO Exchange
    below it (plan-gated). Leg 2 (adjacency) shuffles only the leg-1
    match rows against the w2 postings on (doc_id, pos, w2) — bounded by
    the live queries' term postings, and at a volume where even that
    breaks, the same bucketing discipline applies to doc_id (one more
    _bucketed_df_table call, the bucketed_prf_serve note's shape). The
    broadcast w2 vocabulary prune of the 8-query regime is deliberately
    ABSENT here: a bulk query batch's vocabulary approaches the corpus
    vocabulary, so the prune buys nothing (the honest bulk plan is the
    join itself).

    Output and oracle are text_phrase_search's own (shared
    ORACLE_PHRASE_SEARCH): index layout must never change the phrase
    ranking, only the shuffle bill."""
    from flink_gmall_spark.operators.retrieval import (
        phrase_finish,
        pos_index,
        query_bigram_occurrences,
    )
    from flink_gmall_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    idx = spark.table(
        _bucketed_df_table(
            spark, sf_dir, "phrase_posidx", pos_index(docs), "tok"
        )
    )
    qbg = spark.table(
        _bucketed_df_table(
            spark,
            sf_dir,
            "phrase_queries",
            query_bigram_occurrences(docs).select(
                "query_id", F.col("w1").alias("tok"), "w2"
            ),
            "tok",
        )
    )
    m1 = (
        qbg.hint("merge")
        .join(idx.hint("merge"), "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "w2", "doc_id", "pos")
    )
    p2 = idx.select(
        F.col("tok").alias("w2"), "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return phrase_finish(
        m1.join(p2, ["doc_id", "pos", "w2"]).select("query_id", "doc_id")
    )


def bucketed_substring_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring detection at BULK volume — the co-location
    strategy for the gram self-join: the capped positional gram
    postings are materialized ONCE, bucketed+sorted on gram, and both
    join legs read that layout, so the pair join SortMergeJoins with
    ZERO Exchange on gram (plan-gated). The remaining shuffles are the
    (d1, d2, diag) island window and nothing else — at a corpus scale
    where the per-round gram recompute (posexplode + window cap per
    leg) dominates, this is the deployment shape: the index build is
    paid once at write time and amortized across every dedup pass that
    probes it (the scale_bucketed_postings_serve pattern on the dedup
    family's own index).

    Output and oracle are dedup_exact_substring_runs' own (shared
    ORACLE_EXACT_SUBSTRING_RUNS): index layout must never change the
    detected runs, only the shuffle bill."""
    from flink_gmall_spark.operators.dedup import (
        positional_run_grams,
        runs_finish,
        substring_gram_matches,
    )
    from flink_gmall_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    idx = spark.table(
        _bucketed_df_table(
            spark, sf_dir, "substr_grams", positional_run_grams(docs), "gram"
        )
    )
    return runs_finish(substring_gram_matches(idx, idx, hint_merge=True))


def bucketed_sdm_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-dependence retrieval at BULK query volume (VERDICT r13
    ask #5) — closes the serving story for the SDM family the way
    phrase/PRF/triplets were closed. ONE tok-bucketed positional index
    feeds BOTH proximity legs and the bucketed scored-postings table
    feeds the unigram leg (the batch twin recomputes pos_index per leg —
    the measured-and-declined recompute trade; HERE the index is
    materialized once and every leg reads the layout):

    - unigram: query occurrences ⋈ scored postings, both bucketed on
      tok — SortMergeJoin, ZERO Exchange on tok (the _bucketed_bm25_topk
      layout, shared table labels so one session materializes once).
    - windows: the query pair table (bucketed on w1-as-tok, the
      phrase_queries layout) SortMergeJoins the positional index with
      zero tok Exchange, then ONE (doc_id, w2) band join serves BOTH
      window orderings — the unordered residual |gap| <= W contains the
      ordered one, so ordered closeness is a conditional sum over the
      same matched pairs instead of the batch twin's second join.

    Output and oracle are text_sdm_topk's own (shared ORACLE_SDM_TOPK):
    index layout and leg fusion must never change the ranking, only the
    shuffle bill. The broadcast vocabulary prune of the 8-query regime
    is deliberately absent (bucketed_phrase_serve's bulk rationale)."""
    from flink_gmall_spark.operators.retrieval import (
        PROX_WINDOW,
        RETR_TOPK,
        SDM_ORD_W,
        SDM_UNI_W,
        SDM_UNW_W,
        pos_index,
        query_bigram_occurrences,
        query_occurrences,
        scored_postings,
    )
    from flink_gmall_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    # unigram leg — same bucketed tables as _bucketed_bm25_topk (shared
    # labels: a session serving BM25 and SDM materializes each once)
    sp = spark.table(
        _bucketed_df_table(
            spark, sf_dir, "bm25_postings", scored_postings(docs), "tok"
        )
    )
    occ = spark.table(
        _bucketed_df_table(
            spark, sf_dir, "bm25_queries", query_occurrences(docs), "tok"
        )
    )
    bm = (
        occ.hint("merge")
        .join(sp.hint("merge"), "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_i").alias("bm25_score"))
    )
    # window legs — ONE positional index + ONE pair table, both bucketed
    # (same labels as bucketed_phrase_serve: the index serves phrase,
    # proximity, and SDM probes alike — the point of positional postings)
    idx = spark.table(
        _bucketed_df_table(
            spark, sf_dir, "phrase_posidx", pos_index(docs), "tok"
        )
    )
    qbg = spark.table(
        _bucketed_df_table(
            spark,
            sf_dir,
            "phrase_queries",
            query_bigram_occurrences(docs).select(
                "query_id", F.col("w1").alias("tok"), "w2"
            ),
            "tok",
        )
    )
    m1 = (
        qbg.hint("merge")
        .join(idx.hint("merge"), "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "w2", "doc_id", F.col("pos").alias("p1"))
    )
    p2 = idx.select(
        F.col("tok").alias("w2"), "doc_id", F.col("pos").alias("p2")
    )
    gap = F.col("p2") - F.col("p1")
    prox = (
        m1.join(p2, ["doc_id", "w2"])
        .filter((F.abs(gap) >= 1) & (F.abs(gap) <= PROX_WINDOW))
        .groupBy("query_id", "doc_id")
        .agg(
            # ordered window ⊆ unordered window: conditional sum, no 2nd join
            F.sum(
                F.when(gap >= 1, F.lit(PROX_WINDOW + 1) - gap).otherwise(0)
            ).alias("po"),
            F.sum(F.lit(PROX_WINDOW + 1) - F.abs(gap)).alias("pu"),
        )
    )
    fused = (
        bm.join(prox, ["query_id", "doc_id"], "left_outer")
        .select(
            "query_id",
            "doc_id",
            F.col("bm25_score").cast("long").alias("bm25_score"),
            F.coalesce("po", F.lit(0)).cast("long").alias("prox_ordered"),
            F.coalesce("pu", F.lit(0)).cast("long").alias("prox_unordered"),
        )
        .withColumn(
            "sdm_score",
            (
                F.lit(SDM_UNI_W) * F.col("bm25_score")
                + F.lit(SDM_ORD_W) * F.col("prox_ordered")
                + F.lit(SDM_UNW_W) * F.col("prox_unordered")
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sdm_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RETR_TOPK)
        .select(
            "query_id", "doc_id", "bm25_score", "prox_ordered",
            "prox_unordered", "sdm_score", "rank",
        )
    )
