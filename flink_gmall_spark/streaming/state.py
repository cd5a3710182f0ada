"""Custom keyed-state streaming operators via ``applyInPandasWithState``.

These are the Spark-native rebuilds of the reference's three hand-written
Flink state machines (SURVEY §2.6):

- T1 ``visit_flag_stream``   — new-visitor flag repair (BaseLogApp.java:56-90,
  keyed ValueState, unbounded).
- T2 ``daily_uv_stream``     — daily first-visit dedup (UniqueVisitApp.java:67-106,
  ValueState + 1-day TTL; TTL becomes a per-date membership check, so the
  state is just the set of seen dates).
- T3 ``jump_out_stream``     — CEP jump-out detection (UserJumpDetailApp.java:84-123,
  pattern ``start .times(2).consecutive().within(10s)`` + timeout branch).
  Rebuilt as an explicit per-key state machine with an event-time timeout:
  a session-start event is emitted as a jump when its successor arrives
  too late (> JUMP_GAP) or when the watermark passes its timeout — the
  same two emit paths as Flink CEP's select + timeout side output.

Each processes Arrow batches per key (not per row); state is a tuple of
plain values/lists. Batch-mode oracles for all three live in plans.dwm.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_gmall_spark.plans.ads import (
    ATTR_WINDOW_S,
    ORACLE_PIT_FEATURE_JOIN,
    SESSION_GAP_S,
    TIMED_FUNNEL_WINDOW_S,
)
from flink_gmall_spark.plans.dwm import JUMP_GAP_US, SESSION_GAP_US
from flink_gmall_spark.streaming.jobs import (
    read_stream,
    run_to_memory,
    run_to_memory_drain,
)


def _whole_batch(
    batches: Iterator[pd.DataFrame], sort_cols: list[str] | None = None
) -> pd.DataFrame | None:
    """Concat a key's Arrow chunks into ONE frame (optionally sorted).

    applyInPandasWithState hands each key's micro-batch rows as an
    iterator of Arrow-sized chunks; any state machine that sorts or
    takes a minimum PER CHUNK silently breaks when one key's rows span
    chunks (> spark.sql.execution.arrow.maxRecordsPerBatch, unsorted
    post-shuffle order). Every machine in this module funnels through
    here so ordering decisions always see the whole micro-batch
    (round-7 ADVICE fix). Returns None for an empty iterator (the
    timeout-only invocation path)."""
    pdfs = list(batches)
    if not pdfs:
        return None
    pdf = pd.concat(pdfs) if len(pdfs) > 1 else pdfs[0]
    if sort_cols:
        pdf = pdf.sort_values(sort_cols)
    return pdf


def _t1_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """T1: first event per key keeps is_new='1'; later ones rewrite to '0'."""
    (seen,) = state.get if state.exists else (False,)
    out_ids: list[int] = []
    out_flags: list[str] = []
    pdf = _whole_batch(batches, ["us", "event_id"])
    if pdf is not None:
        for eid in pdf["event_id"]:
            out_ids.append(int(eid))
            out_flags.append("0" if seen else "1")
            seen = True
    state.update((True,))
    yield pd.DataFrame(
        {"event_id": out_ids, "user_id": key[0], "is_new": out_flags}
    )


def visit_flag_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    flagged = ev.groupBy("user_id").applyInPandasWithState(
        _t1_fn,
        outputStructType="event_id long, user_id long, is_new string",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(flagged, "append")


def _t2_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """T2: emit (user, date) once per new date, retaining only the LAST
    seen date — O(1) per-key state, the reference's own shape
    (UniqueVisitApp.java:78-81 keeps one date under a 1-day TTL; at
    multi-year retention × 10⁹ users a seen-dates array is avoidable
    fat state on the RocksDB path).

    Delivery precondition (documented, shared with the cohort machine):
    a user's dates are non-decreasing ACROSS micro-batches — the file
    staging replays event time in order (jobs.read_stream split staging
    cuts at a day boundary), so any date ≤ last_dt in a later batch was
    already emitted. WITHIN a batch order is free: the whole micro-batch
    is deduped and sorted before emission."""
    (last_dt,) = state.get if state.exists else ("",)
    fresh: list[str] = []
    pdf = _whole_batch(batches)
    if pdf is not None:
        # NULL event times have no day to dedup into and would stringify
        # to 'None', which sorts AFTER every ISO date and would poison
        # last_dt forever (round-7 ADVICE). Flink semantics agree: an
        # event-time operator drops records a watermark cannot place.
        for dt in sorted({str(x) for x in pdf["dt"] if not pd.isna(x)}):
            if dt > last_dt:
                last_dt = dt
                fresh.append(dt)
    state.update((last_dt,))
    yield pd.DataFrame({"user_id": key[0], "dt": fresh})


def daily_uv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 streaming dedup, then a batch rollup of the emitted first-visits
    to uv counts (matches plans.dwm.ORACLE_DAILY_UV)."""
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt")
    )
    firsts = ev.groupBy("user_id").applyInPandasWithState(
        _t2_fn,
        outputStructType="user_id long, dt string",
        stateStructType="last_dt string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(firsts, "append")
    return mem.groupBy("dt").agg(F.count(F.lit(1)).alias("uv_ct"))


class _DailyUVProcessor:
    """T2 on the transformWithState API (Spark ≥ 4.0): the same O(1)
    last-date state as ``_t2_fn``, held in a named ``ValueState`` on
    the RocksDB state store — the modern multi-state / timer-capable
    replacement for ``applyInPandasWithState``'s single state tuple.
    Declared here so the engine exercises BOTH stateful APIs against
    one oracle. Same ordered-delivery precondition as ``_t2_fn``."""

    def init(self, handle) -> None:
        self._last = handle.getValueState("last_dt", "last_dt string")

    def handleInputRows(self, key, rows, timerValues):
        cur = self._last.get()
        last_dt = cur[0] if cur is not None else ""
        fresh: list[str] = []
        pdf = _whole_batch(rows)
        if pdf is not None:
            # same NULL-day guard as _t2_fn (round-8 ADVICE): 'None'
            # sorts after every ISO date and would poison last_dt
            for dt in sorted({str(x) for x in pdf["dt"] if not pd.isna(x)}):
                if dt > last_dt:
                    last_dt = dt
                    fresh.append(dt)
        self._last.update((last_dt,))
        yield pd.DataFrame({"user_id": key[0], "dt": fresh})

    def close(self) -> None:
        pass


def daily_uv_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 via ``transformWithStateInPandas`` — result-identical to
    ``daily_uv_stream`` and checked by the same oracle. Requires the
    RocksDB state store provider (transformWithState's backing store);
    the provider is flipped for this query and restored after, since the
    HDFS-backed default serves the applyInPandasWithState entries.

    Environment gate: the API's Python↔JVM state protocol rides on
    protobuf; without ``google.protobuf`` installed the streaming runner
    crashes at init, so this raises a clear error instead (and stays out
    of the registry — see registry.py)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "transformWithStateInPandas needs the protobuf package "
            "(google.protobuf) for its state-server protocol; install "
            "protobuf to enable this entry point"
        ) from e
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # subclass dynamically so module import works even if the API moves
    proc = type(
        "_DailyUVProcessorTWS", (_DailyUVProcessor, StatefulProcessor), {}
    )()

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_stream(spark, sf_dir, "events", split=True).select(
            "user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt")
        )
        firsts = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType="user_id long, dt string",
            outputMode="append",
            timeMode="none",
        )
        mem = run_to_memory(firsts, "append")
        return mem.groupBy("dt").agg(F.count(F.lit(1)).alias("uv_ct"))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _t3_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """T3 state machine. State: (last_ts_us, pending_start_event_id,
    pending_start_us); pending is a session-start awaiting its successor."""
    last_us, pend_id, pend_us = (
        state.get if state.exists else (None, None, None)
    )
    out_ids: list[int] = []
    out_us: list[int] = []

    def emit(eid: int, us: int) -> None:
        out_ids.append(eid)
        out_us.append(us)

    if state.hasTimedOut:
        # Flink CEP's timeout branch: no successor before the watermark
        # passed pending+gap → the start event is a confirmed jump-out.
        if pend_id is not None:
            emit(pend_id, pend_us)
        state.update((last_us, None, None))
        yield pd.DataFrame(
            {"event_id": out_ids, "user_id": key[0],
             "us": pd.Series(out_us, dtype="int64")}
        )
        return

    pdf = _whole_batch(batches, ["us", "event_id"])
    if pdf is not None:
        for eid, us in zip(pdf["event_id"], pdf["us"]):
            eid, us = int(eid), int(us)
            if pend_id is not None:
                # successor arrived: late ⇒ the pending start was a jump
                if us - pend_us > JUMP_GAP_US:
                    emit(pend_id, pend_us)
                pend_id, pend_us = None, None
            if last_us is None or us - last_us > SESSION_GAP_US:
                pend_id, pend_us = eid, us  # session start, await successor
            last_us = us
    state.update((last_us, pend_id, pend_us))
    if pend_id is not None:
        state.setTimeoutTimestamp(pend_us // 1000 + JUMP_GAP_US // 1000 + 1)
    yield pd.DataFrame(
        {"event_id": out_ids, "user_id": key[0],
         "us": pd.Series(out_us, dtype="int64")}
    )


# Horizon-aware oracle for the streaming CEP operator: emitted = batch
# jumps (plans.dwm.ORACLE_JUMP_OUT) EXCEPT session starts with no successor
# whose event-time timeout the final watermark never passed. The timeout
# fires iff wm_ms > pend_ms + JUMP_GAP_ms + 1 (the +1 from _t3_fn's
# setTimeoutTimestamp, 'beyond' = strictly greater) — verified exact
# against the engine at sf0.001/0.01/0.1.
ORACLE_JUMP_OUT_STREAM = f"""
WITH s AS (
    SELECT event_id, user_id, ts,
           epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
    FROM events
),
mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events)
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM s, mx
WHERE (prev_us IS NULL OR us - prev_us > {SESSION_GAP_US})
  AND (next_us IS NULL OR next_us - us > {JUMP_GAP_US})
  AND (next_us IS NOT NULL
       OR max_us // 1000 > us // 1000 + {JUMP_GAP_US // 1000} + 1)
"""


def jump_out_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 streaming CEP. Emits every jump whose successor arrived, plus
    timeout-confirmed jumps once the event-time watermark passes them;
    starts still inside the watermark horizon at end-of-stream stay
    pending (exactly Flink CEP's within()-window semantics)."""
    ev = (
        read_stream(spark, sf_dir, "events", split=True)
        .withWatermark("ts", "0 seconds")
        .select("event_id", "user_id", "ts", F.unix_micros("ts").alias("us"))
    )
    jumps = ev.groupBy("user_id").applyInPandasWithState(
        _t3_fn,
        outputStructType="event_id long, user_id long, us long",
        stateStructType="last_us long, pend_id long, pend_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    mem = run_to_memory(jumps, "append")
    return mem.select(
        "event_id",
        "user_id",
        F.date_format(F.timestamp_micros("us"), "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


def _make_transitions_fn(max_gap_us: int | None = None):
    """Factory for the transition state machine: per user, one retained
    (last event) tuple; each arriving event emits the (prev -> current)
    step and becomes the new tail. The streaming face of the lag()
    window in plans.ads.event_transitions — per-key state is CONSTANT
    (one tuple), the same discipline as the T1-T3 machines.

    ``max_gap_us`` scopes steps to sessions (ads.session_transitions
    semantics): a step only emits when the new event lands within the
    gap of the tail; the unscoped matrix is the gap=∞ case. One machine,
    both twins — the gap check is the entire difference."""

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_us, last_eid, last_type = (
            state.get if state.exists else (-1, -1, "")
        )
        froms: list[str] = []
        tos: list[str] = []
        pdf = _whole_batch(batches, ["us", "event_id"])
        if pdf is not None:
            for us, eid, et in zip(pdf["us"], pdf["event_id"], pdf["event_type"]):
                if last_type and (
                    max_gap_us is None or int(us) - last_us <= max_gap_us
                ):
                    froms.append(last_type)
                    tos.append(str(et))
                last_us, last_eid, last_type = int(us), int(eid), str(et)
            state.update((last_us, last_eid, last_type))
        yield pd.DataFrame(
            {"user_id": key[0], "from_type": froms, "to_type": tos}
        )

    return fn


_transitions_fn = _make_transitions_fn()


def event_transitions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ads.event_transitions (the Markov/path matrix,
    the T3 generalization): the per-user step stream comes from the
    keyed state machine above, then the bounded-key (from, to) rollup
    runs batch-side on the emitted steps (same count + countDistinct
    shape as the batch twin). Cross-batch continuity (a user's last
    event in batch N pairing with their first in batch N+1) is exactly
    what the retained state proves; the batch oracle is shared verbatim.
    """
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    steps = ev.groupBy("user_id").applyInPandasWithState(
        _transitions_fn,
        outputStructType="user_id long, from_type string, to_type string",
        stateStructType="last_us long, last_eid long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(steps, "append")
    return mem.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("transitions"),
        F.countDistinct("user_id").alias("users"),
    )


def _attrib_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Last-touch state machine: retain the latest NON-purchase
    touchpoint (type, time); each purchase emits its credited channel —
    the touchpoint if it landed within the window, else 'direct'. One
    tuple per user, the T1-T3 state discipline."""
    t_type, t_us = state.get if state.exists else ("", -1)
    channels: list[str] = []
    cents_out: list[int] = []
    pdf = _whole_batch(batches, ["us", "event_id"])
    if pdf is not None:
        for us, et, cents in zip(pdf["us"], pdf["event_type"], pdf["cents"]):
            if et == "purchase":
                if t_type and t_us >= int(us) - ATTR_WINDOW_S * 1_000_000:
                    channels.append(t_type)
                else:
                    channels.append("direct")
                # NULL event values arrive as NaN; the batch twin's
                # F.sum skips them, i.e. contributes 0 — mirror that
                cents_out.append(0 if pd.isna(cents) else int(cents))
            else:
                t_type, t_us = str(et), int(us)
        state.update((t_type, t_us))
    yield pd.DataFrame(
        {"user_id": key[0], "channel": channels, "cents": cents_out}
    )


def last_touch_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ads.last_touch_attribution: the per-purchase
    credit stream comes from the retained-touchpoint state machine, the
    bounded-key channel ledger rolls up batch-side. Shares the batch
    oracle verbatim — the carry window and the state machine must land
    on identical credits."""
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias("cents"),
    )
    credits = ev.groupBy("user_id").applyInPandasWithState(
        _attrib_fn,
        outputStructType="user_id long, channel string, cents long",
        stateStructType="t_type string, t_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(credits, "append")
    return mem.groupBy("channel").agg(
        F.count(F.lit(1)).alias("conversions"),
        F.sum("cents").alias("revenue_cents"),
    )


def _pit_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Point-in-time feature state machine. State per user: cumulative
    features through COMPLETED days plus a pending bucket for the
    newest day seen — a probe (order) on day d reads the cumulative
    only, so same-day events never leak into its features even when day
    d's events arrived in an EARLIER micro-batch than the probe. Rows
    sort (d, kind, o_orderkey) with probes (kind 0) before the same
    day's events (kind 1), mirroring the batch carry-window order."""
    cum_v, cum_p, cum_c, pend_day, pend_v, pend_p, pend_c = (
        state.get if state.exists else (0, 0, 0, "", 0, 0, 0)
    )
    out_ok: list[int] = []
    out_v: list[int] = []
    out_p: list[int] = []
    out_c: list[int] = []
    pdf = _whole_batch(batches, ["d", "kind", "o_orderkey"])
    if pdf is not None:
        for d, kind, ok, iv, ip, cents in zip(
            pdf["d"], pdf["kind"], pdf["o_orderkey"],
            pdf["is_view"], pdf["is_purchase"], pdf["cents"],
        ):
            if pend_day and str(d) > pend_day:
                cum_v += pend_v
                cum_p += pend_p
                cum_c += pend_c
                pend_day, pend_v, pend_p, pend_c = "", 0, 0, 0
            if int(kind) == 0:  # probe: cumulative through days < d only
                out_ok.append(int(ok))
                out_v.append(cum_v)
                out_p.append(cum_p)
                out_c.append(cum_c)
            elif pend_day and str(d) < pend_day:
                # LATE event from an already-completed day: fold it into
                # the cumulative directly — relabeling the pending bucket
                # to the older day would later flush the NEWER day's
                # counts as if completed (future leakage into probes).
                # Probes that already passed between d and pend_day
                # cannot be retracted (append mode); this keeps every
                # FUTURE probe correct.
                cum_v += int(iv)
                cum_p += int(ip)
                cum_c += 0 if pd.isna(cents) else int(cents)
            else:  # event: accumulate into the day-d pending bucket
                pend_day = str(d)
                pend_v += int(iv)
                pend_p += int(ip)
                pend_c += 0 if pd.isna(cents) else int(cents)
        state.update((cum_v, cum_p, cum_c, pend_day, pend_v, pend_p, pend_c))
    yield pd.DataFrame(
        {
            "o_orderkey": out_ok,
            "user_id": key[0],
            "views_before": out_v,
            "purchases_before": out_p,
            "value_cents_before": out_c,
        }
    )


def pit_features_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ads.pit_feature_join — the feature-store INGEST
    shape: the event telemetry stream and the order (label) stream UNION
    into one keyed stream; the per-user state machine above maintains
    running features and answers each order probe with the leakage-free
    as-of snapshot. Shares the batch oracle verbatim. This is the online
    path a feature store runs continuously; the batch twin is its
    backfill.

    CROSS-STREAM delivery precondition (r6 ADVICE): ordered delivery is
    per-stream, so a day-d probe from the ORDERS stream could surface in
    an earlier micro-batch than day-(d-1) EVENTS — the probe would then
    be answered from a stale cumulative, and append mode cannot retract
    it. Oracle parity therefore additionally assumes the two sources are
    batch-ALIGNED on event time: both staged splits cut at the SAME
    per-sf_dir day boundary (read_stream(split=True)), so every event a
    batch-k probe may look back on is in a batch ≤ k. A production
    deployment would gate probes on the event stream's watermark to get
    the same guarantee."""
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.lit(1).alias("kind"),
        F.lit(-1).cast("long").alias("o_orderkey"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).cast("long").alias("is_view"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).cast("long").alias("is_purchase"),
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias("cents"),
    )
    probes = read_stream(spark, sf_dir, "orders", split=True).select(
        F.col("o_custkey").alias("user_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.lit(0).alias("kind"),
        "o_orderkey",
        F.lit(0).cast("long").alias("is_view"),
        F.lit(0).cast("long").alias("is_purchase"),
        F.lit(0).cast("long").alias("cents"),
    )
    both = ev.unionByName(probes)
    feats = both.groupBy("user_id").applyInPandasWithState(
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
    return run_to_memory(feats, "append")


def _day_start_ms(d: str) -> int:
    """UTC epoch ms of a 'yyyy-MM-dd' midnight — the probe-gate boundary
    (tune() pins the session TZ to UTC, so day strings are UTC days)."""
    from datetime import datetime, timezone

    return int(
        datetime.strptime(str(d), "%Y-%m-%d")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1000
    )


def _pit_gated_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """WATERMARK-GATED point-in-time machine (VERDICT r7 ask #2): unlike
    _pit_fn, a probe (order) for day d is NOT answered on arrival — it
    buffers in state until the EVENT stream's watermark passes d's
    midnight, i.e. until the engine guarantees every event with
    ts < day-d-start has been ingested. This removes _pit_fn's
    cross-stream batch-alignment precondition entirely: probes may
    surface in an earlier micro-batch than the events they look back on
    (the stream_pit_features_gated entry stages orders deliberately
    MISALIGNED — all probes land in batch 0) and the answers still match
    the batch oracle, because answering is deferred to the gate, never
    to delivery order.

    State per user: cumulative features over folded (completed) days,
    a per-day bucket map for buffered events beyond the fold frontier,
    and the pending probe list. Both buffers are bounded by the
    watermark horizon BY CONSTRUCTION: an event day folds when a later
    probe's gate passes it OR eagerly once the watermark passes its day
    end (see the horizon-fold below — probe-free keys do not accrete
    buckets), and a probe waits exactly the event-stream lateness bound
    (watermark delay) — the standard feature-store "wait for features
    before serving the label" discipline. Gate rule
    (mirrored exactly by ORACLE_PIT_GATED's horizon filter): a probe
    emits iff day_start_ms(d) < watermark_ms; event-time timeouts
    re-fire the machine as the watermark advances past buffered gates."""
    (cum_v, cum_p, cum_c, bdays, bv, bp, bc, pdays, pkeys, frontier) = (
        state.get if state.exists else (0, 0, 0, [], [], [], [], [], [], "")
    )
    bdays, bv, bp, bc = list(bdays), list(bv), list(bp), list(bc)
    pdays, pkeys = list(pdays), list(pkeys)
    if not state.hasTimedOut:
        pdf = _whole_batch(batches)
        if pdf is not None:
            ev = pdf[(pdf["kind"] == 1) & pdf["d"].notna()]
            if len(ev):
                g = (
                    ev.assign(c=ev["cents"].fillna(0))
                    .groupby("d", sort=True)[["is_view", "is_purchase", "c"]]
                    .sum()
                )
                idx = {d: i for i, d in enumerate(bdays)}
                for d, row in g.iterrows():
                    d = str(d)
                    i = idx.get(d)
                    if i is None:
                        idx[d] = len(bdays)
                        bdays.append(d)
                        bv.append(int(row["is_view"]))
                        bp.append(int(row["is_purchase"]))
                        bc.append(int(row["c"]))
                    else:
                        bv[i] += int(row["is_view"])
                        bp[i] += int(row["is_purchase"])
                        bc[i] += int(row["c"])
            pr = pdf[(pdf["kind"] == 0) & pdf["d"].notna()]
            pdays.extend(str(x) for x in pr["d"])
            pkeys.extend(int(x) for x in pr["o_orderkey"])
    wm = state.getCurrentWatermarkMs()
    out_ok: list[int] = []
    out_v: list[int] = []
    out_p: list[int] = []
    out_c: list[int] = []
    if pdays:
        keep_d: list[str] = []
        keep_k: list[int] = []
        for i in sorted(range(len(pdays)), key=lambda i: (pdays[i], pkeys[i])):
            d, okey = pdays[i], pkeys[i]
            if frontier and d <= frontier:
                # ADVICE r8: a contract-violating late probe (arrived after
                # the watermark already passed its day AND the eager
                # horizon fold has folded days >= d into the cumulative)
                # cannot be answered point-in-time any more — the
                # cumulative may include events on/after the probe day.
                # Emit an explicit -1 sentinel so misuse fails LOUDLY
                # (visibly wrong values / oracle mismatch names the probe)
                # instead of silently serving leaked-future features.
                # Unreachable under in-contract staging: fold-on-probe
                # keeps the frontier strictly below every answered day and
                # the eager fold only folds days strictly below any
                # pending gate.
                out_ok.append(okey)
                out_v.append(-1)
                out_p.append(-1)
                out_c.append(-1)
                continue
            if _day_start_ms(d) < wm:
                # gate passed: every event before day d has arrived —
                # fold the buffered days strictly before d (late-created
                # older buckets included), then answer from cumulative
                rem = [j for j in range(len(bdays)) if bdays[j] < d]
                if rem:
                    for j in rem:
                        cum_v += bv[j]
                        cum_p += bp[j]
                        cum_c += bc[j]
                    frontier = max(frontier, max(bdays[j] for j in rem))
                    remset = set(rem)
                    bdays = [x for j, x in enumerate(bdays) if j not in remset]
                    bv = [x for j, x in enumerate(bv) if j not in remset]
                    bp = [x for j, x in enumerate(bp) if j not in remset]
                    bc = [x for j, x in enumerate(bc) if j not in remset]
                out_ok.append(okey)
                out_v.append(cum_v)
                out_p.append(cum_p)
                out_c.append(cum_c)
            else:
                keep_d.append(d)
                keep_k.append(okey)
        pdays, pkeys = keep_d, keep_k
    # Eager horizon fold (round-8 review): a buffered event day whose END
    # the watermark has passed can never again be excluded by a probe —
    # any probe for day ≤ that day would itself be late beyond the
    # orders-leg watermark (min policy puts it inside the global wm).
    # Folding it now bounds the buffer to the watermark horizon
    # independent of probe traffic (a user who browses daily but never
    # orders no longer accretes a bucket per active day). Runs AFTER
    # probe answering so in-batch answers keep strict fold-on-probe
    # semantics; a contract-violating late probe (engine passed it
    # through anyway) gets the explicit -1 sentinel above — never a
    # silently-stale answer from the frontier cumulative (ADVICE r8).
    done = [j for j in range(len(bdays)) if _day_start_ms(bdays[j]) + 86_400_000 < wm]
    if done:
        for j in done:
            cum_v += bv[j]
            cum_p += bp[j]
            cum_c += bc[j]
        frontier = max(frontier, max(bdays[j] for j in done))
        dset = set(done)
        bdays = [x for j, x in enumerate(bdays) if j not in dset]
        bv = [x for j, x in enumerate(bv) if j not in dset]
        bp = [x for j, x in enumerate(bp) if j not in dset]
        bc = [x for j, x in enumerate(bc) if j not in dset]
    state.update((cum_v, cum_p, cum_c, bdays, bv, bp, bc, pdays, pkeys, frontier))
    if pdays:
        # re-arm for the earliest still-gated probe; Spark requires the
        # timeout timestamp to sit beyond the current watermark
        state.setTimeoutTimestamp(
            max(min(_day_start_ms(d) for d in pdays), wm + 1)
        )
    yield pd.DataFrame(
        {
            "o_orderkey": out_ok,
            "user_id": key[0],
            "views_before": out_v,
            "purchases_before": out_p,
            "value_cents_before": out_c,
        }
    )


def pit_features_gated_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape pit_features_stream's docstring names: order
    probes gate on the event stream's watermark instead of assuming
    batch-aligned delivery. To prove the gate carries the correctness
    (not the staging), the orders stream is deliberately MISALIGNED —
    read unsplit, so every probe arrives in micro-batch 0, before most
    of the events it must look back on; the ungated machine would answer
    those probes from a stale cumulative (the failure mode
    tests/test_streaming.py pins), the gated machine buffers them until
    the watermark passes and matches the batch semantics anyway.

    Horizon rule at end-of-stream (same discipline as jump_out_stream):
    a probe whose day-start the final GLOBAL watermark — the MIN of the
    two legs' 0s-delay watermarks, Spark's default policy — never passed
    stays pending; ORACLE_PIT_GATED excludes exactly those via the
    engine-verified ``day_start_ms < least(max_ev_us, max_ord_us) //
    1000`` boundary. On this fixture the order span predates the event
    span, so the horizon is the last order date: every strictly-earlier
    probe clears the gate with the batch PIT features (all-zero here),
    and final-day probes stay pending."""
    # BOTH legs carry a watermarked event-time column through the union
    # (the analyzer requires it for event-time timeouts, and arbitrary
    # stateful ops do NOT late-filter input, so probe rows are never
    # dropped). The global watermark is the MIN of the two — gating on
    # it is the two-stream feature-store discipline: serve a label only
    # once both streams' watermarks pass it. ORACLE_PIT_GATED's horizon
    # is therefore least(max event ts, max order ts).
    ev = (
        read_stream(spark, sf_dir, "events", split=True)
        .withWatermark("ts", "0 seconds")
        .select(
            "ts",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            F.lit(1).alias("kind"),
            F.lit(-1).cast("long").alias("o_orderkey"),
            F.when(F.col("event_type") == "view", 1)
            .otherwise(0)
            .cast("long")
            .alias("is_view"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("long")
            .alias("is_purchase"),
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
                "cents"
            ),
        )
    )
    probes = (
        read_stream(spark, sf_dir, "orders", split=False)
        .withColumn("ts", F.col("o_orderdate").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        .select(
            "ts",
            F.col("o_custkey").alias("user_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
            F.lit(0).alias("kind"),
            "o_orderkey",
            F.lit(0).cast("long").alias("is_view"),
            F.lit(0).cast("long").alias("is_purchase"),
            F.lit(0).cast("long").alias("cents"),
        )
    )
    both = ev.unionByName(probes)
    feats = both.groupBy("user_id").applyInPandasWithState(
        _pit_gated_fn,
        outputStructType=(
            "o_orderkey long, user_id long, views_before long,"
            " purchases_before long, value_cents_before long"
        ),
        stateStructType=(
            "cum_v long, cum_p long, cum_c long,"
            " bdays array<string>, bv array<long>, bp array<long>,"
            " bc array<long>, pdays array<string>, pkeys array<long>,"
            " frontier string"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(feats, "append")


# Horizon-aware oracle for the gated PIT entry: the batch PIT features
# (plans.ads.ORACLE_PIT_FEATURE_JOIN, shared verbatim as a subquery)
# restricted to probes whose day-start the final GLOBAL watermark passed
# — with both legs watermarked at 0s delay and Spark's default min
# policy, wm_ms = least(max event ts, max order ts) in ms; the
# strictly-greater boundary is the same engine-exact rule
# ORACLE_JUMP_OUT_STREAM pins.
ORACLE_PIT_GATED = """
WITH mx AS (
    SELECT least((SELECT max(epoch_us(ts)) FROM events),
                 (SELECT max(epoch_us(o_orderdate)) FROM orders)) // 1000
           AS wm_ms
)
SELECT b.o_orderkey, b.user_id, b.views_before, b.purchases_before,
       b.value_cents_before
FROM ({base}) b
JOIN orders o ON b.o_orderkey = o.o_orderkey
CROSS JOIN mx
WHERE epoch_ms(CAST(CAST(o.o_orderdate AS DATE) AS TIMESTAMP)) < mx.wm_ms
""".format(base=ORACLE_PIT_FEATURE_JOIN)


def _cdc_retract_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """RETRACT-STREAM state machine (Flink's retract mode as data): per
    CDC key, hold the last surviving image; every op emits the exact
    differential increments a downstream aggregate needs — a replacement
    retracts the old image (−1, −cents) before asserting the new one
    (+1, +cents), a delete retracts and clears. Summing the increments
    therefore maintains ANY additive aggregate over the latest images
    without ever rescanning the table — the differential-dataflow /
    Flink-retraction shape the batch twin folds relationally. O(1) state
    per key (one image), ops applied in (op_us, op_seq) order over the
    whole micro-batch; a key whose latest op is a delete REMOVES its
    state entry (no tombstone), so long-run state is one image per LIVE
    key — deleted keys genuinely reclaim, and a later re-insert starts
    clean through the same no-prior-image path."""
    exists, status, cents = state.get if state.exists else (False, "", 0)
    out_status: list[str] = []
    out_dn: list[int] = []
    out_dc: list[int] = []
    pdf = _whole_batch(batches, ["op_us", "op_seq"])
    if pdf is not None:
        for typ, st_new, c_new in zip(pdf["type"], pdf["status"], pdf["cents"]):
            if exists:
                # retract the current image (both replace and delete)
                out_status.append(status)
                out_dn.append(-1)
                out_dc.append(-cents)
                exists, status, cents = False, "", 0
            if typ != "delete":
                status = str(st_new)
                cents = 0 if pd.isna(c_new) else int(c_new)
                exists = True
                out_status.append(status)
                out_dn.append(1)
                out_dc.append(cents)
    if exists:
        state.update((exists, status, cents))
    elif state.exists:
        state.remove()
    yield pd.DataFrame(
        {
            "id": key[0],
            "order_status": out_status,
            "dn": pd.Series(out_dn, dtype="int64"),
            "dc": pd.Series(out_dc, dtype="int64"),
        }
    )


def cdc_retract_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of plans.dwd.cdc_delete_aware_agg — aggregate
    maintenance under inserts/updates/DELETES as a live retract stream:
    the delete-bearing changelog (insert per order, status update for
    'F' orders, delete for the o_orderkey%7==0 slice — the same shape
    plans.dwd._order_changelog_with_deletes folds relationally) arrives
    through the REGISTERED CDC connector
    (``gmall_cdc_stream`` + withDeletes, sources.pydatasource) under a
    1-unit-per-trigger cap, streamed in op-phase waves (inserts →
    updates → deletes) so a key's insert and its later update/delete
    genuinely straddle micro-batches; the keyed machine above turns
    each op into exact retraction increments, and one bounded-domain
    rollup over the emitted increments reproduces the per-status count
    + GMV of the surviving latest images. Statuses whose every image
    was retracted net to zero and drop out — the oracle (shared
    verbatim with the batch fold) has no row for them. At 100 TB this
    is how a continuously-maintained downstream aggregate forgets
    deleted rows without rescanning: state is one image per live key,
    increments are O(changelog), the rollup is O(|status|) — and
    NOTHING passes through the driver: the connector reads row groups
    where they live (ROADMAP item 6 / VERDICT r8 ask #4; the former
    toPandas+parquet-rewrite staging is gone)."""
    from flink_gmall_spark.plans.dwd import CDC_DATA_SCHEMA
    from flink_gmall_spark.sources.pydatasource import GmallCDCStreamDataSource
    from flink_gmall_spark.sources.tables import load, path as table_path

    spark.dataSource.register(GmallCDCStreamDataSource)
    # one cheap aggregate over the source table sizes the finite backlog
    # (insert per order + update per 'F' + delete per %7 key) so the
    # drain loop can stop on exact row accounting instead of waiting out
    # Spark's ~10 s no-data progress throttle
    expected = (
        load(spark, sf_dir, "orders")
        .agg(
            (
                F.count(F.lit(1))
                + F.count(F.when(F.col("o_orderstatus") == "F", 1))
                + F.count(F.when(F.col("o_orderkey") % 7 == 0, 1))
            ).alias("n")
        )
        .collect()[0]["n"]
    )
    env = (
        spark.readStream.format("gmall_cdc_stream")
        .option("path", table_path(sf_dir, "orders"))
        .option("withDeletes", "true")
        .option("maxRowGroupsPerBatch", "1")
        .load()
    )
    ops = (
        env.select(
            "type",
            "op_us",
            "op_seq",
            F.from_json("data", CDC_DATA_SCHEMA).alias("d"),
        )
        .select(
            "type",
            "op_us",
            "op_seq",
            F.col("d.id").alias("id"),
            F.col("d.order_status").alias("status"),
            F.expr(
                "CAST(CAST(d.total_amount AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).alias("cents"),
        )
    )
    incs = ops.groupBy("id").applyInPandasWithState(
        _cdc_retract_fn,
        outputStructType="id long, order_status string, dn long, dc long",
        stateStructType="alive boolean, status string, cents long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory_drain(incs, "append", target_input_rows=expected)
    return (
        mem.groupBy("order_status")
        .agg(
            F.sum("dn").cast("long").alias("n_orders"),
            F.sum("dc").alias("dc"),
        )
        .filter(F.col("n_orders") > 0)
        .select(
            "order_status",
            "n_orders",
            (F.col("dc") / 100.0).cast("double").alias("gmv"),
        )
    )


# session-scoped twin: the SAME machine with the gap bound (see the
# factory docstring) — duplication collapsed per round-6 review
_session_transitions_fn = _make_transitions_fn(SESSION_GAP_S * 1_000_000)


def session_transitions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ads.session_transitions: the gap rule folds into
    the same retained-tail state machine (one comparison against the
    stored tail timestamp replaces the batch plan's three windows), the
    bounded-key rollup runs on the emitted steps. Shares the batch
    oracle verbatim."""
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    steps = ev.groupBy("user_id").applyInPandasWithState(
        _session_transitions_fn,
        outputStructType="user_id long, from_type string, to_type string",
        stateStructType="last_us long, last_eid long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(steps, "append")
    return mem.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("transitions"),
        F.countDistinct("user_id").alias("users"),
    )


def _cohort_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Cohort state machine: per user, ONLY (cohort_day, max_day) — O(1)
    per-key state (round-7 VERDICT ask; the seen-days set is redundant
    under ordered delivery because a new day is exactly a day beyond
    max_day). Emitting one (cohort_day, day) row per NEW day is
    append-safe because max_day only grows. NOTE the first-day
    subtlety: the cohort day is fixed by the EARLIEST day ever seen —
    under ordered delivery the first arriving day is the cohort day;
    the state pins it so later batches cannot move it. The WHOLE
    micro-batch is deduped/sorted before the pin, so chunking can
    never pin the cohort to a non-minimal chunk-local day."""
    cohort, max_day = (state.get if state.exists else ("", ""))
    out_day: list[str] = []
    pdf = _whole_batch(batches)
    if pdf is not None:
        # Same NULL-day guard as _t2_fn: 'None' sorts after every ISO
        # date and would both pin a bogus cohort and advance max_day
        # past all real days (round-7 ADVICE).
        for d in sorted({str(x) for x in pdf["dt"] if not pd.isna(x)}):
            if not cohort:
                # PIN the cohort to the first-seen day (the batch's
                # minimum on first contact). Moving it later on a
                # late-arriving earlier day would re-emit offset 0 under
                # a second cohort label while the already-emitted rows
                # keep the old one — append mode cannot retract. Under
                # the ordered-delivery assumption first-seen == minimum.
                cohort = d
            if d > max_day:
                max_day = d
                out_day.append(d)
    state.update((cohort, max_day))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "cohort_day": [cohort] * len(out_day),
            "day": out_day,
        }
    )


def cohort_retention_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ads.cohort_retention — the dashboard feed as a
    continuously-maintained matrix: the T2-style per-user day-dedup
    state also carries the cohort (first) day, each fresh (user, day)
    appends one matrix increment, and the bounded-key (cohort_day,
    day_offset) rollup runs on the emitted increments. Shares the batch
    oracle verbatim."""
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt")
    )
    fresh = ev.groupBy("user_id").applyInPandasWithState(
        _cohort_fn,
        outputStructType="user_id long, cohort_day string, day string",
        stateStructType="cohort string, max_day string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(fresh, "append")
    return mem.groupBy(
        "cohort_day",
        F.datediff(F.to_date("day"), F.to_date("cohort_day"))
        .cast("long")
        .alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("users"))


def _timed_funnel_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Timed-funnel state machine: per user, first-view timestamp and a
    converted flag. Emits MONOTONE markers — 'viewed' once on the first
    view, 'converted' once on the first purchase landing in
    (first_view, first_view + WINDOW] — so the append-mode stream never
    needs a retraction."""
    v_us, converted = (state.get if state.exists else (-1, False))
    kinds: list[str] = []
    pdf = _whole_batch(batches, ["us", "event_id"])
    if pdf is not None:
        for us, et in zip(pdf["us"], pdf["event_type"]):
            us = int(us)
            if et == "view" and v_us < 0:
                v_us = us
                kinds.append("viewed")
            elif (
                et == "purchase"
                and not converted
                and v_us >= 0
                and us > v_us
                and us <= v_us + TIMED_FUNNEL_WINDOW_S * 1_000_000
            ):
                converted = True
                kinds.append("converted")
        state.update((v_us, converted))
    yield pd.DataFrame({"user_id": key[0], "kind": kinds})


def timed_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ads.timed_funnel: per-user monotone
    viewed/converted markers from the state machine, the 1-row integer
    ledger (with the HALF_UP-x100 rate and zero-view NULL guard) rolled
    up batch-side. Shares the batch oracle verbatim."""
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    marks = ev.groupBy("user_id").applyInPandasWithState(
        _timed_funnel_fn,
        outputStructType="user_id long, kind string",
        stateStructType="v_us long, converted boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(marks, "append")
    return mem.agg(
        F.sum(F.when(F.col("kind") == "viewed", 1).otherwise(0))
        .cast("long")
        .alias("viewed"),
        F.sum(F.when(F.col("kind") == "converted", 1).otherwise(0))
        .cast("long")
        .alias("converted"),
    ).select(
        "viewed",
        "converted",
        F.expr(
            "CASE WHEN viewed = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE (200 * converted + viewed) DIV (2 * viewed) END"
        ).alias("conv_rate_x100"),
    )


ROLLING_DAYS_S = 7  # mirrors plans.ads.ROLLING_DAYS


def _rolling_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Rolling 7-day feature machine: per user, a bounded deque of at
    most ROLLING_DAYS_S (day, n, purchases, cents) buckets — O(1) state
    by construction, the streaming face of the batch twin's RANGE
    window. Each day's bucket closes within one micro-batch (the split
    staging never cuts a day across files) and days arrive
    non-decreasing across batches (ordered-delivery precondition shared
    with the T2/cohort machines), so evict-then-emit per day reproduces
    the batch window exactly."""
    days, ns, ps, cs, nn = (
        state.get if state.exists else ([], [], [], [], [])
    )
    days, ns, ps, cs, nn = list(days), list(ns), list(ps), list(cs), list(nn)
    out_day: list[int] = []
    out_n: list[int] = []
    out_p: list[int] = []
    out_c: list[int | None] = []
    pdf = _whole_batch(batches)
    if pdf is not None:
        # Per-bucket non-null count rides along so an all-NULL window
        # emits NULL value_cents_7d, the batch twin's SQL SUM semantics
        # — fillna(0) alone would emit 0 there (round-7 ADVICE). The
        # skipna sum of an all-NaN group is 0.0, harmless because the
        # nn gate decides nullness.
        grouped = (
            pdf.assign(has_c=pdf["cents"].notna().astype("int64"))
            .groupby("day_num", sort=True)[["one", "is_p", "cents", "has_c"]]
            .sum()
        )
        for d, row in grouped.iterrows():
            d = int(d)
            days.append(d)
            ns.append(int(row["one"]))
            ps.append(int(row["is_p"]))
            cs.append(int(row["cents"]))
            nn.append(int(row["has_c"]))
            while days and days[0] < d - (ROLLING_DAYS_S - 1):
                days.pop(0); ns.pop(0); ps.pop(0); cs.pop(0); nn.pop(0)
            out_day.append(d)
            out_n.append(sum(ns))
            out_p.append(sum(ps))
            out_c.append(sum(cs) if sum(nn) else None)
    state.update((days, ns, ps, cs, nn))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "day_num": pd.Series(out_day, dtype="int64"),
            "events_7d": pd.Series(out_n, dtype="int64"),
            "purchases_7d": pd.Series(out_p, dtype="int64"),
            "value_cents_7d": pd.array(out_c, dtype="Int64"),
        }
    )


def rolling_activity_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ads.rolling_activity_7d — the online
    feature-store maintenance shape for trailing-window features: the
    keyed machine above holds at most seven day-buckets per user and
    emits each day's closed feature row append-only. Shares the batch
    oracle verbatim. This is what replaces the nightly backfill when the
    model consumes same-day features."""
    ev = read_stream(spark, sf_dir, "events", split=True).select(
        "user_id",
        F.unix_date(F.to_date("ts")).cast("long").alias("day_num"),
        F.lit(1).cast("long").alias("one"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("is_p"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
    )
    rows = ev.groupBy("user_id").applyInPandasWithState(
        _rolling_fn,
        outputStructType=(
            "user_id long, day_num long, events_7d long,"
            " purchases_7d long, value_cents_7d long"
        ),
        stateStructType=(
            "days array<long>, ns array<long>, ps array<long>,"
            " cs array<long>, nn array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(rows, "append")
