"""Streaming-vs-batch parity: the incremental engine must produce the
same results as the batch plans (which are themselves oracle-checked)."""

from __future__ import annotations

import pandas as pd

from flink_gmall_spark.plans import dwm, dws
from flink_gmall_spark.registry import queries
from flink_gmall_spark.streaming import jobs, state
from tests.oracle import normalize


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    na, nb = normalize(a), normalize(b)
    return na.shape == nb.shape and bool((na.values == nb.values).all())


def test_stream_visitor_stats_matches_batch(spark, sf_dir):
    got = queries()["stream_visitor_stats"](spark, sf_dir).toPandas()
    want = dws.visitor_stats(spark, sf_dir).toPandas()
    assert frames_equal(got, want)


def test_stream_visit_flag_matches_batch(spark, sf_dir):
    got = state.visit_flag_stream(spark, sf_dir).toPandas()
    want = dwm.visit_flag(spark, sf_dir).toPandas()
    assert frames_equal(got, want)


def test_stream_daily_uv_matches_batch(spark, sf_dir):
    got = state.daily_uv_stream(spark, sf_dir).toPandas()
    want = dwm.daily_uv(spark, sf_dir).toPandas()
    assert frames_equal(got, want)


def test_stream_jump_out_matches_batch_up_to_watermark(spark, sf_dir):
    """Streamed jumps must equal the batch oracle except for session
    starts still inside the watermark horizon at end-of-stream (their
    timeout never fires — Flink CEP behaves identically)."""
    got = state.jump_out_stream(spark, sf_dir).toPandas()
    want = dwm.jump_out(spark, sf_dir).toPandas()
    got_ids = set(got["event_id"])
    want_ids = set(want["event_id"])
    assert got_ids <= want_ids, f"stream emitted non-jumps: {got_ids - want_ids}"
    missing = want_ids - got_ids
    if missing:
        from flink_gmall_spark.sources import load
        from pyspark.sql import functions as F

        ev = load(spark, sf_dir, "events")
        max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        tail = ev.filter(F.col("event_id").isin([int(i) for i in missing])).select(
            F.unix_micros("ts").alias("us")
        )
        for (us,) in tail.collect():
            assert us + dwm.JUMP_GAP_US >= max_us - 2_000_000, (
                f"non-tail jump missing from stream: us={us} max={max_us}"
            )
    # rows that did stream must carry identical payloads
    merged = got.merge(want, on="event_id", suffixes=("_s", "_b"))
    assert (merged["user_id_s"] == merged["user_id_b"]).all()
    assert (merged["ts_str_s"] == merged["ts_str_b"]).all()


def test_stream_daily_uv_tws_matches_batch(spark, sf_dir):
    """transformWithStateInPandas variant of T2 — runs only where the
    protobuf package (its state-server protocol) is installed; without
    it the entry point must fail fast with a clear message."""
    import pytest

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            state.daily_uv_stream_tws(spark, sf_dir)
        return
    got = state.daily_uv_stream_tws(spark, sf_dir).toPandas()
    want = dwm.daily_uv(spark, sf_dir).toPandas()
    assert frames_equal(got, want)


def test_dedup_within_watermark_evicts_state(spark, tmp_path):
    """Watermark EVICTION proof for dropDuplicatesWithinWatermark (T8),
    not just the eviction operator: with a 10-minute delay driven across
    four microbatches (maxFilesPerTrigger=1),

      batch 1: key A @ 00:00            -> emitted (first occurrence)
      batch 2: key B @ 01:00            -> emitted; max event time 01:00
      batch 3: key C @ 01:01            -> emitted; runs with wm =
                                           01:00-10m = 00:50 > A's
                                           horizon 00:10, so A's state is
                                           EVICTED at this batch's end
                                           (state cleanup applies the
                                           batch's watermark on
                                           completion, not mid-batch)
      batch 4: key A @ 01:05 (dup!)     -> RE-EMITTED (state gone)
               key B @ 01:02 (dup)      -> dropped (B still in state:
                                           horizon 01:10 > wm 00:51)

    The assertion `A emitted twice` FAILS if state is NOT evicted; the
    assertion `B emitted once` fails if dedup stops working at all. The
    registry entry stream_dedup_within_watermark uses a delay wider than
    the fixture span (exact oracle); this test pins the eviction
    behavior itself, which a single-file fixture cannot reach."""
    import os
    import time
    import uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "stream_src"
    src.mkdir()

    def write_file(idx, rows, mtime):
        df = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
        # micros, not pandas' default nanos — Spark's vectorized reader
        # rejects TIMESTAMP(NANOS) against a declared TIMESTAMP schema
        df["ts"] = pd.to_datetime(df["ts"], utc=True).astype("datetime64[us, UTC]")
        path = str(src / f"batch_{idx}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        os.utime(path, (mtime, mtime))  # FileStreamSource orders by mtime
        return path

    t0 = time.time() - 3600
    write_file(0, [(1, "A", "2024-01-01 00:00:00")], t0)
    write_file(1, [(2, "B", "2024-01-01 01:00:00")], t0 + 10)
    write_file(2, [(3, "C", "2024-01-01 01:01:00")], t0 + 20)
    write_file(
        3,
        [(1, "A", "2024-01-01 01:05:00"), (2, "B", "2024-01-01 01:02:00")],
        t0 + 30,
    )

    stream = (
        spark.readStream.schema("user_id LONG, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    sink = f"evict_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            done = sum(
                p["numInputRows"] for p in (q.recentProgress or [])
            )
            if done >= 5:  # 1 + 1 + 1 + 2 input rows across the four batches
                break
            time.sleep(0.3)
        else:
            raise AssertionError(f"stream never consumed 5 rows: {q.recentProgress}")
    finally:
        q.stop()
        q.awaitTermination()

    got = spark.table(sink).toPandas()
    a_rows = got[got["event_type"] == "A"]
    b_rows = got[got["event_type"] == "B"]
    assert len(a_rows) == 2, (
        f"key A must be re-emitted after its state was evicted "
        f"(watermark passed first-occurrence + delay); got {got.to_dict('records')}"
    )
    assert len(b_rows) == 1, (
        f"key B's duplicate arrived inside its live window and must be "
        f"dropped; got {got.to_dict('records')}"
    )


def _pipeline_probe(spark, tmp_path, signup_days, click_days, purchase_days):
    """Drive the 3-source chained-join+window-agg shape of
    stream_pipeline_payment_province over controlled event times; return
    the emitted window rows. All sources single-file (one batch) with 0s
    delays, so each source's watermark is its max event time."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F
    from flink_gmall_spark.streaming.jobs import run_to_memory

    def mk(name, days):
        d = tmp_path / name
        d.mkdir()
        df = pd.DataFrame({"uid": [0] * len(days), "ts": days})
        df["ts"] = pd.to_datetime(df["ts"], format="ISO8601", utc=True).astype(
            "datetime64[us, UTC]"
        )
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False), str(d / "x.parquet")
        )
        return spark.readStream.schema("uid LONG, ts TIMESTAMP").parquet(str(d))

    order = mk("s", signup_days).select(
        F.col("uid").alias("o_user"), F.col("ts").alias("o_ts")
    ).withWatermark("o_ts", "0 seconds")
    detail = mk("d", click_days).select(
        F.col("uid").alias("d_user"), F.col("ts").alias("d_ts")
    ).withWatermark("d_ts", "0 seconds")
    pay = mk("p", purchase_days).select(
        F.col("uid").alias("p_user"), F.col("ts").alias("pay_ts")
    ).withWatermark("pay_ts", "0 seconds")
    dw = detail.join(
        order,
        F.expr("d_user = o_user AND d_ts >= o_ts AND d_ts <= o_ts + INTERVAL 7 DAYS"),
        "inner",
    )
    pw = pay.join(
        dw,
        F.expr("p_user = o_user AND pay_ts >= o_ts AND pay_ts <= o_ts + INTERVAL 7 DAYS"),
        "inner",
    )
    agg = pw.groupBy(F.window("pay_ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("ct")
    )
    return run_to_memory(agg, "append").toPandas()


def test_pipeline_watermark_propagation_global_min(spark, tmp_path):
    """Pins the watermark-propagation rule ORACLE_PIPELINE_PAYMENT_PROVINCE
    encodes: the agg's emission horizon is the GLOBAL watermark (min over
    ALL sources' max event time) minus 7 days per chained interval join —
    NOT the per-path form min(pay_wm, others − 7d) − 7d.

    Probe: payment max = 01-20, others = 01-30. The joined window
    [01-10, 01-11) is emitted under the per-path rule (horizon 01-13) but
    held under the global rule (horizon 01-06). Spark holds it. If a
    Spark upgrade switches to finer per-path propagation, this test fails
    and the oracle's horizon formula must follow."""
    got = _pipeline_probe(
        spark,
        tmp_path,
        signup_days=["2024-01-08", "2024-01-30"],
        click_days=["2024-01-09", "2024-01-30"],
        purchase_days=["2024-01-10", "2024-01-20"],
    )
    assert len(got) == 0, f"per-path propagation detected: {got.to_dict('records')}"


def test_pipeline_watermark_emits_before_horizon(spark, tmp_path):
    """Positive control for the probe above: with every source's max at
    01-30 the global horizon is 01-16, so the [01-02, 01-03) window (one
    signup⋈click⋈purchase triple) must emit."""
    got = _pipeline_probe(
        spark,
        tmp_path,
        signup_days=["2024-01-01", "2024-01-30"],
        click_days=["2024-01-02", "2024-01-30"],
        purchase_days=["2024-01-02T12:00:00", "2024-01-30"],
    )
    assert len(got) == 1 and int(got["ct"].iloc[0]) == 1, got.to_dict("records")


def test_stream_ads_hourly_from_sink_matches_direct_rollup(spark, sf_dir):
    """The chained DWS→sink→ADS pair must equal rolling up the direct
    memory-sink windowed-append entry by hour — i.e. the epoch-partitioned
    parquet hop is semantically invisible (T9's contract)."""
    import pandas as pd

    got = jobs.stream_ads_hourly_from_sink(spark, sf_dir).toPandas()
    direct = queries()["stream_windowed_append"](spark, sf_dir).toPandas()
    direct["hr"] = pd.to_datetime(direct["stt"]).dt.hour.astype("int64")
    want = (
        direct.groupby("hr", as_index=False)
        .agg(pv=("pv", "sum"), uv=("uv", "sum"))
        .astype({"pv": "int64", "uv": "int64"})
    )
    assert frames_equal(got, want)


def test_stream_observe_ingest_metrics(spark, sf_dir):
    """Production streaming pipelines monitor data quality in-flight via
    df.observe() — metrics computed inside the running query and surfaced
    through query progress, no second scan. Pin the mechanism: observed
    row count equals the table count, and the short-doc counter equals
    the batch-computed truth."""
    import uuid

    from pyspark.sql import functions as F

    from flink_gmall_spark.sources import load
    from flink_gmall_spark.streaming.jobs import read_stream

    docs = read_stream(spark, sf_dir, "documents")
    obs = docs.observe(
        "ingest_gate",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.length("text") < 50, 1).otherwise(0)).alias("short_docs"),
    )
    name = f"obs_{uuid.uuid4().hex[:8]}"
    q = (
        obs.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    metrics = [p["observedMetrics"]["ingest_gate"] for p in q.recentProgress
               if p["observedMetrics"]]
    assert len(metrics) == 1
    batch = load(spark, sf_dir, "documents")
    want_rows = batch.count()
    want_short = batch.filter(F.length("text") < 50).count()
    assert metrics[0]["rows"] == want_rows
    assert metrics[0]["short_docs"] == want_short


def test_stream_event_transitions_cross_batch_continuity(spark, tmp_path):
    """The retained last-event state must pair a user's final event of
    batch N with their first event of batch N+1: user 1's 'view' arrives
    alone in batch 1 and the 'click' in batch 2 — the (view -> click)
    step exists ONLY if the state machine carries the tail across
    batches. Batch 2 also proves within-batch pairing (click -> buy)."""
    import os
    import time
    import uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_gmall_spark.streaming.state import _transitions_fn

    src = tmp_path / "trans_src"
    src.mkdir()

    def write_file(idx, rows, mtime):
        df = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
        df["ts"] = pd.to_datetime(df["ts"], utc=True).astype("datetime64[us, UTC]")
        path = str(src / f"batch_{idx}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        os.utime(path, (mtime, mtime))
        return path

    t0 = time.time() - 3600
    write_file(0, [(1, 1, "view", "2024-01-01 00:00:00")], t0)
    write_file(
        1,
        [(2, 1, "click", "2024-01-01 00:01:00"),
         (3, 1, "buy", "2024-01-01 00:02:00")],
        t0 + 10,
    )

    ev = (
        spark.readStream.schema("event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id")
    )
    steps = ev.groupBy("user_id").applyInPandasWithState(
        _transitions_fn,
        outputStructType="user_id long, from_type string, to_type string",
        stateStructType="last_us long, last_eid long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"trans_{uuid.uuid4().hex[:8]}"
    q = (
        steps.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            done = sum(p["numInputRows"] for p in (q.recentProgress or []))
            if done >= 3:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("stream did not ingest all 3 rows in time")
        time.sleep(1.0)  # let the final batch commit to the sink
    finally:
        q.stop()
    got = {(r.from_type, r.to_type) for r in spark.table(sink).collect()}
    assert ("view", "click") in got, got  # REQUIRES cross-batch state
    assert ("click", "buy") in got, got
    assert len(got) == 2, got


def test_stream_attribution_cross_batch_touchpoint(spark, tmp_path):
    """The retained touchpoint must survive the batch boundary: 'view'
    arrives alone in batch 1, the purchase in batch 2 — credited to
    'view' ONLY if state carried it across."""
    import os
    import time
    import uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_gmall_spark.streaming.state import _attrib_fn

    src = tmp_path / "attr_src"
    src.mkdir()

    def write_file(idx, rows, mtime):
        df = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "value", "ts"])
        df["ts"] = pd.to_datetime(df["ts"], utc=True).astype("datetime64[us, UTC]")
        path = str(src / f"batch_{idx}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        os.utime(path, (mtime, mtime))
        return path

    t0 = time.time() - 3600
    write_file(0, [(1, 1, "view", 1.0, "2024-01-01 00:00:00")], t0)
    write_file(1, [(2, 1, "purchase", 12.5, "2024-01-01 00:10:00")], t0 + 10)

    ev = (
        spark.readStream.schema(
            "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id",
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias("cents"),
        )
    )
    credits = ev.groupBy("user_id").applyInPandasWithState(
        _attrib_fn,
        outputStructType="user_id long, channel string, cents long",
        stateStructType="t_type string, t_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"attr_{uuid.uuid4().hex[:8]}"
    q = (
        credits.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            done = sum(p["numInputRows"] for p in (q.recentProgress or []))
            if done >= 2:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("stream did not ingest both rows in time")
        time.sleep(1.0)
    finally:
        q.stop()
    got = [(r.channel, r.cents) for r in spark.table(sink).collect()]
    assert got == [("view", 1250)], got


def test_stream_pit_pending_day_blocks_leakage(spark, tmp_path):
    """Day-2 events arrive in batch 1; the day-2 order probe arrives in
    batch 2. The pending-day bucket must keep those same-day events OUT
    of the probe's features (cum holds day 1 only) — naive running
    totals would leak them. A later day-3 probe then sees both days."""
    import os
    import time
    import uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_gmall_spark.streaming.state import _pit_fn

    src = tmp_path / "pit_src"
    src.mkdir()
    cols = ["user_id", "d", "kind", "o_orderkey", "is_view", "is_purchase", "cents"]

    def write_file(idx, rows, mtime):
        df = pd.DataFrame(rows, columns=cols)
        path = str(src / f"batch_{idx}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        os.utime(path, (mtime, mtime))

    t0 = time.time() - 3600
    # batch 1: day-1 view + TWO day-2 views (events only)
    write_file(0, [
        (1, "2024-01-01", 1, -1, 1, 0, 100),
        (1, "2024-01-02", 1, -1, 1, 0, 200),
        (1, "2024-01-02", 1, -1, 1, 0, 300),
    ], t0)
    # batch 2: the day-2 probe (same day as two already-arrived events)
    # and a day-3 probe
    write_file(1, [
        (1, "2024-01-02", 0, 500, 0, 0, 0),
        (1, "2024-01-03", 0, 501, 0, 0, 0),
    ], t0 + 10)

    stream = (
        spark.readStream.schema(
            "user_id LONG, d STRING, kind LONG, o_orderkey LONG,"
            " is_view LONG, is_purchase LONG, cents LONG"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    feats = stream.groupBy("user_id").applyInPandasWithState(
        _pit_fn,
        outputStructType=(
            "o_orderkey long, user_id long, views_before long,"
            " purchases_before long, value_cents_before long"
        ),
        stateStructType=(
            "cum_v long, cum_p long, cum_c long, pend_day string,"
            " pend_v long, pend_p long, pend_c long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"pit_{uuid.uuid4().hex[:8]}"
    q = (
        feats.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            done = sum(p["numInputRows"] for p in (q.recentProgress or []))
            if done >= 5:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("stream did not ingest all rows in time")
        time.sleep(1.0)
    finally:
        q.stop()
    got = {r.o_orderkey: (r.views_before, r.value_cents_before)
           for r in spark.table(sink).collect()}
    assert got[500] == (1, 100), got   # day-2 probe: day 1 ONLY
    assert got[501] == (3, 600), got   # day-3 probe: days 1 + 2


class _FakeState:
    """Minimal GroupState stand-in for driving state fns directly."""

    def __init__(self, value=None, wm_ms=0):
        self._v = value
        self.hasTimedOut = False
        self.wm_ms = wm_ms
        self.timeout_ts = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ts):
        assert ts > self.wm_ms, "timeout must sit beyond the watermark"
        self.timeout_ts = ts


def test_cohort_fn_chunked_batch_pins_global_minimum():
    """r6 ADVICE (medium): a user's rows split across Arrow chunks with
    the EARLIEST day in the SECOND chunk must still pin the cohort to
    the whole-micro-batch minimum — per-chunk iteration would pin to the
    first chunk's min and emit day < cohort_day (negative offsets)."""
    from flink_gmall_spark.streaming.state import _cohort_fn

    st = _FakeState()
    chunks = [
        pd.DataFrame({"dt": ["2024-01-05", "2024-01-07"]}),
        pd.DataFrame({"dt": ["2024-01-02"]}),  # batch minimum, later chunk
    ]
    (out,) = _cohort_fn((1,), iter(chunks), st)
    assert list(out["cohort_day"].unique()) == ["2024-01-02"]
    assert list(out["day"]) == ["2024-01-02", "2024-01-05", "2024-01-07"]
    # O(1) state: exactly (cohort, max_day) scalars, no seen-days array
    assert st.get == ("2024-01-02", "2024-01-07")
    # later batch: only days beyond max_day emit, cohort stays pinned
    (out2,) = _cohort_fn(
        (1,), iter([pd.DataFrame({"dt": ["2024-01-07", "2024-01-09"]})]), st
    )
    assert list(out2["day"]) == ["2024-01-09"]
    assert st.get == ("2024-01-02", "2024-01-09")


def test_t2_fn_state_is_o1_last_date():
    """VERDICT r6 ask #3: T2 stores ONE date (the reference's own
    1-day-TTL shape, UniqueVisitApp.java:78-81), not the seen-dates
    array; chunked batches dedup against the whole micro-batch."""
    from flink_gmall_spark.streaming.state import _t2_fn

    st = _FakeState()
    chunks = [
        pd.DataFrame({"dt": ["2024-01-03", "2024-01-03"]}),
        pd.DataFrame({"dt": ["2024-01-01"]}),
    ]
    (out,) = _t2_fn((7,), iter(chunks), st)
    assert sorted(out["dt"]) == ["2024-01-01", "2024-01-03"]
    assert st.get == ("2024-01-03",)  # a single scalar date, O(1)
    # ordered next batch: repeat of last date is deduped, new date emits
    (out2,) = _t2_fn(
        (7,), iter([pd.DataFrame({"dt": ["2024-01-03", "2024-01-04"]})]), st
    )
    assert list(out2["dt"]) == ["2024-01-04"]
    assert st.get == ("2024-01-04",)


def test_t1_fn_chunked_batch_flags_global_earliest():
    """The is_new='1' flag must go to the whole-batch earliest event even
    when it arrives in a later Arrow chunk."""
    from flink_gmall_spark.streaming.state import _t1_fn

    st = _FakeState()
    chunks = [
        pd.DataFrame({"event_id": [20], "us": [2000]}),
        pd.DataFrame({"event_id": [10], "us": [1000]}),  # earliest, chunk 2
    ]
    (out,) = _t1_fn((1,), iter(chunks), st)
    flags = dict(zip(out["event_id"], out["is_new"]))
    assert flags == {10: "1", 20: "0"}


def test_split_staging_yields_multiple_microbatches(spark, sf_dir):
    """VERDICT r6 ask #6: the split staging must drive availableNow runs
    through ≥2 REAL micro-batches so driver rows prove cross-batch
    state continuity (not a single-batch degenerate)."""
    import uuid

    ev = jobs.read_stream(spark, sf_dir, "events", split=True)
    name = f"mb_{uuid.uuid4().hex[:12]}"
    q = (
        ev.groupBy("event_type")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [
        p for p in (q.recentProgress or []) if p["numInputRows"] > 0
    ]
    assert len(data_batches) >= 2, [
        p["numInputRows"] for p in (q.recentProgress or [])
    ]


def test_rolling_fn_cross_batch_eviction_and_bounded_state():
    """The rolling machine must evict day-buckets older than 6 days
    ACROSS batches and never hold more than 7 buckets."""
    from flink_gmall_spark.streaming.state import _rolling_fn

    st = _FakeState()
    b1 = pd.DataFrame(
        {"day_num": [0, 0, 3], "one": [1, 1, 1], "is_p": [0, 1, 0],
         "cents": [100, 200, None]}
    )
    (out1,) = _rolling_fn((1,), iter([b1]), st)
    got1 = {int(r.day_num): (int(r.events_7d), int(r.purchases_7d), int(r.value_cents_7d))
            for r in out1.itertuples()}
    assert got1 == {0: (2, 1, 300), 3: (3, 1, 300)}

    # batch 2: day 7 evicts day 0 (0 < 7-6) but keeps day 3; day 9 still
    # covers day 3 (3 >= 9-6), so its window is days {3, 7, 9}
    b2 = pd.DataFrame(
        {"day_num": [7, 9], "one": [1, 1], "is_p": [1, 0], "cents": [50, 10]}
    )
    (out2,) = _rolling_fn((1,), iter([b2]), st)
    got2 = {int(r.day_num): (int(r.events_7d), int(r.purchases_7d), int(r.value_cents_7d))
            for r in out2.itertuples()}
    assert got2 == {7: (2, 1, 50), 9: (3, 1, 60)}
    days, ns, ps, cs, nn = st.get
    assert len(days) <= 7 and days == [3, 7, 9]  # bounded deque, O(1) state
    assert nn == [0, 1, 1]  # day 3's only cents was NULL


def test_rolling_fn_all_null_window_emits_null_cents():
    """r7 ADVICE: a 7-day window whose every event has NULL cents must
    emit NULL value_cents_7d (SQL SUM semantics, matching the batch
    oracle), not fillna's 0 — and a later non-null day restores the sum."""
    from flink_gmall_spark.streaming.state import _rolling_fn

    st = _FakeState()
    b1 = pd.DataFrame(
        {"day_num": [0, 1], "one": [1, 1], "is_p": [0, 1],
         "cents": [None, None]}
    )
    (out1,) = _rolling_fn((1,), iter([b1]), st)
    assert list(out1["value_cents_7d"].isna()) == [True, True]
    assert list(out1["events_7d"]) == [1, 2]  # counts unaffected by NULLs
    # day 2 carries a real value: window {0,1,2} has one non-null → 40
    b2 = pd.DataFrame(
        {"day_num": [2], "one": [1], "is_p": [0], "cents": [40]}
    )
    (out2,) = _rolling_fn((1,), iter([b2]), st)
    assert int(out2["value_cents_7d"].iloc[0]) == 40
    # day 9 evicts everything but itself; its cents is NULL again → NULL
    b3 = pd.DataFrame(
        {"day_num": [9], "one": [1], "is_p": [0], "cents": [None]}
    )
    (out3,) = _rolling_fn((1,), iter([b3]), st)
    assert out3["value_cents_7d"].isna().iloc[0]


def test_t2_and_cohort_fns_drop_null_days():
    """r7 ADVICE: a NULL event time (NULL dt) must not advance the O(1)
    date state — str(None)='None' sorts after every ISO date and would
    permanently suppress all later real days."""
    from flink_gmall_spark.streaming.state import _cohort_fn, _t2_fn

    st = _FakeState()
    (out,) = _t2_fn(
        (7,), iter([pd.DataFrame({"dt": ["2024-01-03", None]})]), st
    )
    assert list(out["dt"]) == ["2024-01-03"]
    assert st.get == ("2024-01-03",)  # not 'None'
    (out2,) = _t2_fn(
        (7,), iter([pd.DataFrame({"dt": ["2024-01-04"]})]), st
    )
    assert list(out2["dt"]) == ["2024-01-04"]  # later real day still emits

    st2 = _FakeState()
    (cout,) = _cohort_fn(
        (1,), iter([pd.DataFrame({"dt": [None, "2024-01-05"]})]), st2
    )
    assert list(cout["day"]) == ["2024-01-05"]
    assert st2.get == ("2024-01-05", "2024-01-05")  # cohort pinned to a real day

    # the transformWithState twin shares the fold and must share the guard
    from flink_gmall_spark.streaming.state import _DailyUVProcessor

    class _FakeValueState:
        def __init__(self):
            self._v = None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class _FakeHandle:
        def __init__(self, vs):
            self._vs = vs

        def getValueState(self, name, schema):
            return self._vs

    proc = _DailyUVProcessor()
    vs = _FakeValueState()
    proc.init(_FakeHandle(vs))
    (tout,) = proc.handleInputRows(
        (7,), iter([pd.DataFrame({"dt": ["2024-01-03", None]})]), None
    )
    assert list(tout["dt"]) == ["2024-01-03"]
    assert vs.get() == ("2024-01-03",)  # not 'None'


def _pit_row(d, kind, ok=-1, iv=0, ip=0, cents=0):
    return {"d": d, "kind": kind, "o_orderkey": ok,
            "is_view": iv, "is_purchase": ip, "cents": cents}


def test_pit_fn_misaligned_delivery_pins_stale_feature_failure():
    """NEGATIVE pin (VERDICT r7 ask #2): the UNGATED machine answers a
    probe on arrival, so when cross-stream delivery is misaligned — the
    day-5 probe surfaces one micro-batch BEFORE the day-3 events it must
    look back on — the probe is answered from a stale cumulative (0
    views instead of 1) and append mode can never retract it. This is
    exactly the failure the documented batch-alignment precondition
    (pit_features_stream docstring) exists to prevent; the staged splits
    enforce the precondition for the driver path, and the gated variant
    below removes it."""
    from flink_gmall_spark.streaming.state import _pit_fn

    st = _FakeState()
    b1 = pd.DataFrame([_pit_row("2024-01-05", 0, ok=100)])  # probe first
    (out1,) = _pit_fn((1,), iter([b1]), st)
    assert list(out1["views_before"]) == [0]  # the documented stale answer
    b2 = pd.DataFrame([_pit_row("2024-01-03", 1, iv=1)])  # its event, late
    (out2,) = _pit_fn((1,), iter([b2]), st)
    assert len(out2) == 0  # nothing can repair probe 100 — pinned failure


def test_pit_gated_fn_answers_misaligned_probe_correctly():
    """POSITIVE twin: the watermark-gated machine buffers the same
    misaligned probe until the event stream's watermark passes its day,
    then answers with the day-3 event included — delivery order no
    longer carries the correctness."""
    from flink_gmall_spark.streaming.state import _day_start_ms, _pit_gated_fn

    st = _FakeState(wm_ms=0)
    b1 = pd.DataFrame([_pit_row("2024-01-05", 0, ok=100)])
    (out1,) = _pit_gated_fn((1,), iter([b1]), st)
    assert len(out1) == 0  # gated: wm=0 has not passed 2024-01-05
    assert st.timeout_ts == _day_start_ms("2024-01-05")
    b2 = pd.DataFrame([_pit_row("2024-01-03", 1, iv=1)])
    (out2,) = _pit_gated_fn((1,), iter([b2]), st)
    assert len(out2) == 0  # still gated; event buffered
    # watermark passes the probe's midnight → timeout fires, probe answers
    st.hasTimedOut = True
    st.wm_ms = _day_start_ms("2024-01-05") + 1
    (out3,) = _pit_gated_fn((1,), iter([]), st)
    assert list(out3["o_orderkey"]) == [100]
    assert list(out3["views_before"]) == [1]  # the day-3 view is counted
    cum_v, *_rest, pdays, pkeys, frontier = st.get
    assert cum_v == 1 and pdays == [] and pkeys == []
    assert frontier == "2024-01-03"  # fold-on-probe stays strictly below d


def test_pit_gated_fn_horizon_keeps_future_probe_pending():
    """A probe whose day-start the final watermark never passes stays
    pending forever — the exact horizon rule ORACLE_PIT_GATED mirrors."""
    from flink_gmall_spark.streaming.state import _day_start_ms, _pit_gated_fn

    st = _FakeState(wm_ms=_day_start_ms("2024-01-04"))
    b = pd.DataFrame([
        _pit_row("2024-01-03", 0, ok=1),   # gate passed (strictly before wm)
        _pit_row("2024-01-09", 0, ok=2),   # beyond the horizon — pending
        _pit_row("2024-01-02", 1, iv=1),
    ])
    (out,) = _pit_gated_fn((1,), iter([b]), st)
    assert list(out["o_orderkey"]) == [1]
    assert list(out["views_before"]) == [1]
    *_ignore, pdays, pkeys, _frontier = st.get
    assert pdays == ["2024-01-09"] and pkeys == [2]
    assert st.timeout_ts == _day_start_ms("2024-01-09")


def test_pit_gated_fn_sentinels_contract_violating_late_probe():
    """ADVICE r8: a probe arriving AFTER the eager horizon fold already
    folded its day (day_start below the watermark on arrival) can no
    longer be answered point-in-time — the cumulative may include
    events on/after the probe day. The machine must emit the explicit
    -1 sentinel, never a silently-stale/leaky answer."""
    from flink_gmall_spark.streaming.state import _day_start_ms, _pit_gated_fn

    # batch 1: events on days 2 and 3, watermark already past day 3's end
    st = _FakeState(wm_ms=_day_start_ms("2024-01-04") + 1)
    b1 = pd.DataFrame([
        _pit_row("2024-01-02", 1, iv=1),
        _pit_row("2024-01-03", 1, iv=1),
    ])
    (out1,) = _pit_gated_fn((1,), iter([b1]), st)
    assert len(out1) == 0
    *_head, frontier = st.get
    assert frontier == "2024-01-03"  # eager fold advanced the frontier
    # batch 2: contract-violating late probe for day 3 (<= frontier)
    b2 = pd.DataFrame([_pit_row("2024-01-03", 0, ok=7)])
    (out2,) = _pit_gated_fn((1,), iter([b2]), st)
    assert list(out2["o_orderkey"]) == [7]
    assert list(out2["views_before"]) == [-1]  # loud sentinel, not stale data
    assert list(out2["value_cents_before"]) == [-1]
    # an in-contract probe for a LATER day is unaffected by the sentinel path
    b3 = pd.DataFrame([_pit_row("2024-01-04", 0, ok=8)])
    (out3,) = _pit_gated_fn((1,), iter([b3]), st)
    assert list(out3["o_orderkey"]) == [8]
    assert list(out3["views_before"]) == [2]  # both buffered days counted


def test_split_boundary_memoized_per_file_identity(sf_dir, monkeypatch):
    """r7 ADVICE: repeat read_stream(split=True) calls must not re-read
    the events ts column — the boundary memoizes on (path, mtime, size)
    while preserving staleness detection."""
    import pyarrow.parquet as pq

    first = jobs._split_boundary(sf_dir)
    real_read = pq.read_table

    def boom(*a, **k):  # a second parquet read means the memo missed
        raise AssertionError("memoized _split_boundary re-read parquet")

    monkeypatch.setattr(pq, "read_table", boom)
    assert jobs._split_boundary(sf_dir) == first
    monkeypatch.setattr(pq, "read_table", real_read)


def test_stream_zorder_compaction_epochs_and_clustering(spark, sf_dir):
    """The maintenance loop's two claims beyond content identity (which
    the oracle hash pins): (a) the exactly-once store really accretes
    one epoch dir per micro-batch (>=2 under split staging — the live
    small-files producer), and (b) the rewrite clusters BOTH Morton
    dimensions: per-file user_id/day spans shrink vs the raw epoch
    layout."""
    import glob
    import os

    from tests.conftest import avg_file_spans

    store, clustered = jobs.zorder_stream_rewrite(spark, sf_dir)
    epochs = sorted(glob.glob(os.path.join(store, "epoch=*")))
    assert len(epochs) >= 2, epochs

    raw = avg_file_spans(
        os.path.join(store, "epoch=*", "*.parquet"), ("user_id", "day")
    )
    z = avg_file_spans(os.path.join(clustered, "*.parquet"), ("user_id", "day"))
    # epoch files are arrival-ordered slices — both dims near-global span;
    # the Morton rewrite must shrink both (single-col sort shrinks one)
    assert z["user_id"] < 0.85 * raw["user_id"], (z, raw)
    assert z["day"] < 0.85 * raw["day"], (z, raw)


def test_pit_gated_stream_e2e_interleaved_dates(spark, tmp_path):
    """End-to-end gated-PIT over a synthetic fixture whose order dates
    INTERLEAVE the event dates (the driver fixture's orders all predate
    its events, so every driver-row feature is zero — this test makes
    the buffer/fold arithmetic load-bearing through the real engine):
    probes arrive in micro-batch 0 before most of the events they must
    look back on, non-zero features come out, the final-day probe stays
    beyond the horizon, and the emitted set hash-matches ORACLE_PIT_GATED
    run by DuckDB over the same two tables."""
    import duckdb
    import pandas as pd

    from flink_gmall_spark.streaming.state import (
        ORACLE_PIT_GATED,
        pit_features_gated_stream,
    )

    sf = tmp_path / "synth"
    sf.mkdir()
    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 08:00", "2024-01-02 09:00",
                 "2024-01-03 10:00", "2024-01-05 12:00"], utc=True
            ).astype("datetime64[us, UTC]"),
            "user_id": [1, 1, 1, 1],
            "event_type": ["view", "purchase", "view", "view"],
            "value": [None, 3.50, None, None],
        }
    )
    ev.to_parquet(sf / "events.parquet")
    orders = pd.DataFrame(
        {
            "o_orderkey": [10, 11, 12, 13],
            "o_custkey": [1, 1, 1, 2],
            "o_orderdate": pd.to_datetime(
                ["2024-01-03", "2024-01-06", "2024-01-05", "2024-01-04"],
                utc=True,
            ).astype("datetime64[us, UTC]"),
        }
    )
    orders.to_parquet(sf / "orders.parquet")

    got = (
        pit_features_gated_stream(spark, str(sf))
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')")
    want = (
        con.execute(ORACLE_PIT_GATED)
        .df()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    # horizon: global wm = min(max ev ts, max order ts) = 2024-01-05 12:00
    # → order 11 (day 2024-01-06) stays pending on both sides
    assert list(got["o_orderkey"]) == [10, 12, 13]
    # order 10 (day 3): events of days 1-2 → 1 view, 1 purchase, 350 cents;
    # order 12 (day 5): + day-3 view; order 13: user 2, no telemetry → zeros
    assert got.loc[0, ["views_before", "purchases_before", "value_cents_before"]].tolist() == [1, 1, 350]
    assert got.loc[1, ["views_before", "purchases_before", "value_cents_before"]].tolist() == [2, 1, 350]
    assert got.loc[2, ["views_before", "purchases_before", "value_cents_before"]].tolist() == [0, 0, 0]
    for c in ("o_orderkey", "user_id", "views_before", "purchases_before", "value_cents_before"):
        assert got[c].astype("int64").tolist() == want[c].astype("int64").tolist(), c


def test_cdc_retract_fn_emits_exact_increments_across_batches():
    """The retract machine must emit a retraction of the OLD image before
    asserting a replacement, and a delete must retract without asserting
    — across micro-batches (state carries the live image), so summing
    increments reproduces the surviving-latest-image aggregate."""
    from flink_gmall_spark.streaming.state import _cdc_retract_fn

    st = _FakeState()
    b1 = pd.DataFrame(
        {"type": ["insert"], "status": ["F"], "cents": [1000],
         "op_us": [1], "op_seq": [0]}
    )
    (out1,) = _cdc_retract_fn((5,), iter([b1]), st)
    assert list(zip(out1["order_status"], out1["dn"], out1["dc"])) == [("F", 1, 1000)]
    assert st.get == (True, "F", 1000)

    # batch 2: update (retract F, assert PAID), then delete (retract PAID)
    b2 = pd.DataFrame(
        {"type": ["update", "delete"], "status": ["PAID", None],
         "cents": [1000, None], "op_us": [2, 3], "op_seq": [1, 2]}
    )
    (out2,) = _cdc_retract_fn((5,), iter([b2]), st)
    assert list(zip(out2["order_status"], out2["dn"], out2["dc"])) == [
        ("F", -1, -1000), ("PAID", 1, 1000), ("PAID", -1, -1000)
    ]
    # the tombstone is NOT stored — deleted keys reclaim their state
    # entry entirely (one image per LIVE key at 100 TB, no dead growth)
    assert not st.exists
    # net effect: every status sums to zero — the key vanished
    assert out1["dn"].sum() + out2["dn"].sum() == 0
    assert out1["dc"].sum() + out2["dc"].sum() == 0

    # a delete for a key never seen (or already deleted) emits nothing
    # AND creates no state
    b3 = pd.DataFrame(
        {"type": ["delete"], "status": [None], "cents": [None],
         "op_us": [4], "op_seq": [3]}
    )
    (out3,) = _cdc_retract_fn((5,), iter([b3]), st)
    assert len(out3) == 0
    assert not st.exists

    # re-insert after delete starts clean through the no-prior-image path
    b4 = pd.DataFrame(
        {"type": ["insert"], "status": ["O"], "cents": [500],
         "op_us": [5], "op_seq": [4]}
    )
    (out4,) = _cdc_retract_fn((5,), iter([b4]), st)
    assert list(zip(out4["order_status"], out4["dn"], out4["dc"])) == [("O", 1, 500)]
    assert st.get == (True, "O", 500)


def test_write_ordered_parts_replay_order_contract(tmp_path):
    """The shared two-batch staging writer (used by _stream_dir_split
    AND the CDC retract twin) must produce part-i files with STRICTLY
    increasing mtimes in list order — the property the file stream
    source's maxFilesPerTrigger=1 replay depends on."""
    import os

    import pyarrow as pa

    from flink_gmall_spark.streaming.jobs import write_ordered_parts

    tables = [pa.table({"x": [i]}) for i in range(3)]
    write_ordered_parts(str(tmp_path), tables, 1_700_000_000.0)
    paths = [tmp_path / f"part-{i}.parquet" for i in range(3)]
    assert all(p.exists() for p in paths)
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def test_stream_twins_are_built_by_twin():
    """A stream twin that only runs a batch transform over one stream
    is a jobs.twin(...) registry row, not a hand-written stream_*
    function; and every twin() entry shares its oracle with a batch
    (non-stream_) entry — it IS that entry's twin — unless its fold is a
    stream-only transform defined in jobs.py next to its own oracle."""
    import ast
    import inspect

    from flink_gmall_spark.registry import registry

    def twin_shaped(fn) -> bool:
        # one read_stream + one run_to_memory + at most three more calls
        # (a fold, one method on it, a finish): what twin() builds
        names = [
            c.func.id if isinstance(c.func, ast.Name) else getattr(c.func, "attr", None)
            for c in ast.walk(fn)
            if isinstance(c, ast.Call)
        ]
        once = ("read_stream", "run_to_memory")
        return all(names.count(k) == 1 for k in once) and len(names) <= 5

    shaped = [
        n.name
        for n in ast.parse(inspect.getsource(jobs)).body
        if isinstance(n, ast.FunctionDef)
        and n.name.startswith("stream_")
        and twin_shaped(n)
    ]
    assert not shaped, f"hand-written twins; register jobs.twin(...) instead: {shaped}"

    twin_code = jobs.twin("events", lambda df: df, "append").__code__
    reg = registry()
    batch_oracles = {q.oracle for n, q in reg.items() if not n.startswith("stream_")}
    # Query.fn is the registry's tuning wrapper around the entry
    built = {n: inspect.unwrap(q.fn) for n, q in reg.items()}
    twins = {n: q for n, q in reg.items() if getattr(built[n], "__code__", None) is twin_code}
    assert len(twins) >= 23, sorted(twins)
    for name, q in twins.items():
        fold = inspect.getclosurevars(built[name]).nonlocals["fold"]
        if fold.__module__ != jobs.__name__:
            assert q.oracle in batch_oracles, name
