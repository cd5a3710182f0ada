"""maxRowGroupsPerBatch admission control on the Simple CDC stream
reader — the Kafka maxOffsetsPerTrigger analog. The cap derives from the
committed start offset inside ``read(start)``, so it must survive a
query RESTART without duplicating or losing rows (a driver-side cursor
in the dist reader's ``latestOffset`` measurably duplicates on restart —
see _CDCEnvelopeDistStreamReader.latestOffset for the write-up)."""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_gmall_spark.sources.pydatasource import GmallCDCStreamDataSource


def _make_backlog(base: str, n: int = 40) -> tuple[str, int, int]:
    src = os.path.join(base, "orders.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "o_orderkey": range(n),
                    "o_orderstatus": ["F" if i % 3 == 0 else "O" for i in range(n)],
                    "o_totalprice": [100.0 + i for i in range(n)],
                    "o_orderdate": pd.to_datetime("2024-01-01")
                    + pd.to_timedelta(range(n), unit="h"),
                }
            )
        ),
        src,
        row_group_size=10,
    )
    n_rg = pq.ParquetFile(src).metadata.num_row_groups
    # envelope rows: one insert per order + one update per 'F' order
    expected = n + sum(1 for i in range(n) if i % 3 == 0)
    return src, n_rg, expected


def _start(spark, src: str, ckpt: str, sink: dict[int, int]):
    """foreachBatch sink that is idempotent BY EPOCH ID — the contract of
    write_exactly_once: a restart may replay the last uncommitted epoch,
    and an epoch-keyed sink absorbs exactly that replay (and nothing
    else)."""
    spark.dataSource.register(GmallCDCStreamDataSource)
    env = (
        spark.readStream.format("gmall_cdc_stream")
        .option("path", src)
        .option("maxRowGroupsPerBatch", "1")
        .load()
    )

    def cb(batch_df, epoch_id):
        sink[epoch_id] = batch_df.count()

    return (
        env.writeStream.foreachBatch(cb)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )


def _drain_until(sink: dict[int, int], target: int, q, timeout_s: float = 120.0):
    deadline = time.time() + timeout_s
    while sum(sink.values()) < target and time.time() < deadline:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()


def test_rate_limited_replay_bounded_batches(spark, tmp_path):
    base = str(tmp_path)
    src, n_rg, expected = _make_backlog(base)
    assert n_rg == 4
    rows: dict[int, int] = {}
    q = _start(spark, src, os.path.join(base, "ckpt"), rows)
    _drain_until(rows, expected, q)
    nonempty = [b for b in rows.values() if b > 0]
    assert sum(rows.values()) == expected, rows  # exactly once, no loss
    assert len(nonempty) == n_rg, (rows, n_rg)  # one row group per batch


def test_rate_limited_replay_survives_restart(spark, tmp_path):
    """Stop mid-backlog and restart from the checkpoint: epoch-deduped
    delivered rows must equal the backlog exactly (the failure mode this
    pins is duplicate re-reads from a reset rate-limit cursor; the
    epoch-keyed sink already absorbs the one legitimate foreachBatch
    replay of an uncommitted epoch)."""
    base = str(tmp_path)
    # 16 row groups (vs the other test's 4): with a 0.3 s poll the backlog
    # must NOT be fully drainable between "reached half" and q.stop(), or
    # the restart phase has nothing to restart into (ADVICE r4).
    src, n_rg, expected = _make_backlog(base, n=160)
    assert n_rg == 16
    ckpt = os.path.join(base, "ckpt")

    epochs: dict[int, int] = {}
    q = _start(spark, src, ckpt, epochs)
    # stop roughly halfway through the backlog
    _drain_until(epochs, expected // 2, q)
    assert sum(epochs.values()) > 0
    mid_backlog = sum(epochs.values()) < expected
    if not mid_backlog:
        pytest.skip("backlog fully drained before stop — no mid-backlog state to restart from")

    q = _start(spark, src, ckpt, epochs)
    _drain_until(epochs, expected, q)
    assert sum(epochs.values()) == expected, epochs


def test_with_deletes_streams_op_phase_waves(spark, tmp_path):
    """withDeletes re-keys the offset space to op-phase waves (insert →
    update → delete, one wave per row group), so a key's insert and its
    later delete genuinely straddle micro-batches — the delivery shape
    cdc_retract_stream's cross-batch retraction semantics are exercised
    against (VERDICT r8 ask #4). Pins: exact per-type totals, one
    non-empty batch per (phase, row group) unit under the 1-unit cap,
    and strict phase ordering across epochs."""
    base = str(tmp_path)
    src, n_rg, _ = _make_backlog(base)  # n=40: 14 'F' updates, 6 %7 deletes
    spark.dataSource.register(GmallCDCStreamDataSource)
    env = (
        spark.readStream.format("gmall_cdc_stream")
        .option("path", src)
        .option("withDeletes", "true")
        .option("maxRowGroupsPerBatch", "1")
        .load()
    )
    by_epoch: dict[int, dict[str, int]] = {}

    def cb(batch_df, epoch_id):
        counts = {
            r["type"]: r["n"]
            for r in batch_df.groupBy("type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        by_epoch[epoch_id] = counts

    q = (
        env.writeStream.foreachBatch(cb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    expected = 40 + 14 + 6
    deadline = time.time() + 120
    while (
        sum(n for c in by_epoch.values() for n in c.values()) < expected
        and time.time() < deadline
    ):
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()

    totals: dict[str, int] = {}
    for c in by_epoch.values():
        for t, n in c.items():
            totals[t] = totals.get(t, 0) + n
    assert totals == {"insert": 40, "update": 14, "delete": 6}, by_epoch
    # each non-empty epoch carries exactly one op type (one phase-unit
    # per trigger), and phases arrive in wave order
    phase_of = {"insert": 0, "update": 1, "delete": 2}
    seq = [
        phase_of[next(iter(c))]
        for _, c in sorted(by_epoch.items())
        if c
    ]
    assert all(len(c) <= 1 for c in by_epoch.values()), by_epoch
    assert seq == sorted(seq), by_epoch  # insert wave → update → delete
    assert len(seq) == 3 * n_rg, by_epoch  # one batch per (phase, rg)


def test_run_to_memory_drain_no_target_uses_engine_drain_signal(spark, tmp_path):
    """The no-target fallback: a drained finite Python source stops
    producing batches entirely (unchanged offset -> no trigger) and
    Spark's throttled no-data progress events REUSE the last executed
    batchId, so 'a new zero-row batch' never appears — the fallback must
    key off q.status (no data available, no trigger in flight) instead.
    Regression: the old zero-row-batch counter spun to the full timeout
    on every drained backlog."""
    from flink_gmall_spark.streaming.jobs import run_to_memory_drain

    base = str(tmp_path)
    src, _, expected = _make_backlog(base)
    spark.dataSource.register(GmallCDCStreamDataSource)
    env = (
        spark.readStream.format("gmall_cdc_stream")
        .option("path", src)
        .option("maxRowGroupsPerBatch", "1")
        .load()
    )
    t0 = time.time()
    mem = run_to_memory_drain(env, "append", target_input_rows=None, timeout_s=120.0)
    assert mem.count() == expected
    # well under the timeout: the drain signal, not the deadline, ended it
    assert time.time() - t0 < 60.0


def test_run_to_memory_drain_unmet_target_raises(spark, tmp_path):
    """A timeout must surface as a named drain failure, not a silently
    partial memory table feeding a downstream oracle hash mismatch."""
    from flink_gmall_spark.streaming.jobs import run_to_memory_drain

    base = str(tmp_path)
    src, _, expected = _make_backlog(base)
    spark.dataSource.register(GmallCDCStreamDataSource)
    env = (
        spark.readStream.format("gmall_cdc_stream")
        .option("path", src)
        .load()
    )
    with pytest.raises(TimeoutError, match="not drained"):
        run_to_memory_drain(
            env, "append", target_input_rows=expected + 1, timeout_s=8.0
        )
