#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run stages a seeded input under
``.perfbench_work/`` in the checkout, starts one ``local[2]`` Spark
session, answers every check with DuckDB, warms up, then runs ops in a
closed loop for ``--seconds`` and prints one JSON result as the last
line of stdout. Earlier stdout lines carry the host fingerprint and the
raw op times. See perfbench/README.md.

``--trace 0`` reports the end-to-end metrics (``op_p50_s``, ``setup_s``).
``--trace 1`` reports the per-layer metrics instead: with the Spark event
log on, it alternates untraced and traced ops (job group per layer call),
adds isolated layer calls and one ``local[1]`` op, then parses the event
log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
TMP = os.path.join(WORK, "tmp")

#: task slots of the measured session; the Python driver and the JVM's
#: JIT/GC threads take the rest of a 4-CPU host
CPUS = 2
#: the input is staged (generate + write + oracle answers) this many
#: times; setup_s counts the median
STAGE_REPEATS = 3
#: a run times at least this many ops even if --seconds runs out first
MIN_OPS = 4
#: untimed ops before timing starts, counted in setup_s. The first op in
#: a JVM is cold (class loading, codegen compiles, JIT); the next two are
#: still 10-30 % slower than the ones after them as the JIT warms up.
WARMUP_OPS = 3
#: input scale factor (row counts in datagen._sizes)
SF = 0.01

END_TO_END = {"op_p50_s": "s", "setup_s": "s"}

_CALLS = (
    "dwd.page_views", "dwd.cdc_dim_upsert", "dwm.order_wide", "dwm.visit_flag",
    "streaming.visitor_stats", "dws.product_stats", "dws.keyword_stats",
    "ads.hourly", "api.gmv", "api.product_stats_by_trademark",
    "api.product_stats_by_sku", "api.visitor_stats_by_hour",
    "api.visitor_stats_by_new_flag", "api.keyword_stats", "api.province_stats",
    "dedup.minhash_lsh_pairs", "curation.pipeline",
)
_HOPS = ("dwd_page_log", "dim_order_info", "dwm_order_wide", "visitor_stats",
         "product_stats")
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "sources.input_bytes": "bytes", "sources.input_rows": "count",
    **{f"{c}.wall_s": "s" for c in _CALLS if not c.startswith("api.")},
    "dwd.page_views.rows_out": "count", "dwd.cdc_dim_upsert.rows_out": "count",
    "dwm.order_wide.rows_out": "count", "dwm.order_wide.shuffle_write_bytes": "bytes",
    "streaming.visitor_stats.batches": "count",
    "streaming.visitor_stats.input_rows": "count",
    "streaming.visitor_stats.add_batch_ms": "ms",
    "streaming.visitor_stats.query_planning_ms": "ms",
    "streaming.visitor_stats.wal_commit_ms": "ms",
    **{f"pipeline.{h}.{m}": u for h in _HOPS
       for m, u in (("bytes_written", "bytes"), ("files_written", "count"))},
    **{f"{c}.{m}": u for c in _CALLS if c.startswith("api.")
       for m, u in (("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "dedup.minhash_lsh_pairs.shuffle_write_bytes": "bytes",
    "dedup.minhash_lsh_pairs.spill_bytes": "bytes",
    **{f"{c}.{m}": u for c in _CALLS
       for m, u in (("tasks", "count"), ("task_s", "s"), ("single_task_stage_s", "s"))},
    "op.tasks": "count", "op.task_s": "s", "op.task_max_s": "s",
    "op.single_task_stage_s": "s", "op.gc_s": "s", "op.spill_bytes": "bytes",
    "op.busy_frac": "ratio", "op.untraced_p50_s": "s", "op.traced_p50_s": "s",
    "op.local1_s": "s", "trace.overhead_s": "s",
}


def start_session(cpus: int, event_log: str | None = None):
    """A ``local[cpus]`` session with the engine's runtime confs, all its
    scratch inside the checkout, and optionally the event log on."""
    from pyspark.sql import SparkSession

    from flink_gmall_spark.session import RUNTIME_CONFS, tune

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.local.dir", TMP)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={TMP}")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.eventLog.enabled", str(event_log is not None).lower())
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = b.config("spark.eventLog.dir", event_log).config(
            "spark.eventLog.compress", "false")
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark, cpus)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def setup(wl_cls, seed: int, sf: float, event_log: str | None = None):
    """Start the session, stage the input (STAGE_REPEATS times) and warm
    up. Returns the session, the workload and the setup timings."""
    import datagen
    import oracles

    t0 = time.perf_counter()
    spark = start_session(CPUS, event_log)
    timings = {"session_s": time.perf_counter() - t0, "stage_s": []}
    for r in range(STAGE_REPEATS):
        t0 = time.perf_counter()
        data_dir = os.path.join(WORK, f"input{r}")
        rows = datagen.stage(data_dir, seed, sf, wl_cls.tables)
        w = wl_cls(data_dir, WORK, seed, rows)
        con = oracles.connect(data_dir, wl_cls.tables)
        try:
            w.expect(con)
        finally:
            con.close()
        timings["stage_s"].append(time.perf_counter() - t0)
        if r < STAGE_REPEATS - 1:
            shutil.rmtree(data_dir)
    w.bind(spark)
    t0 = time.perf_counter()
    timings["warmup_ok"] = all([w.op(i)[1] for i in range(WARMUP_OPS)])
    timings["warmup_s"] = time.perf_counter() - t0
    timings["setup_s"] = (timings["session_s"] + statistics.median(timings["stage_s"])
                          + timings["warmup_s"])
    return spark, w, timings


def run_plain(wl_cls, seed: int, seconds: float, sf: float) -> dict:
    spark, w, st = setup(wl_cls, seed, sf)
    try:
        # closed loop: ops back to back until ``seconds`` pass and at
        # least MIN_OPS ran
        times, failed = [], 0
        deadline = time.perf_counter() + seconds
        while len(times) < MIN_OPS or time.perf_counter() < deadline:
            dt, ok = w.op(WARMUP_OPS + len(times))
            times.append(dt)
            failed += not ok
    finally:
        w.unbind()
        spark.stop()
    metrics = {"op_p50_s": statistics.median(times), "setup_s": st["setup_s"]}
    detail = {"setup": st, "op_s": times}
    return _result(st["warmup_ok"], len(times), failed, metrics, END_TO_END, detail)


def run_traced(wl_cls, seed: int, seconds: float, sf: float) -> dict:
    from tracing import Spans, merge_groups, parse_event_log

    log_dir = os.path.join(WORK, "eventlog")
    spark, w, st = setup(wl_cls, seed, sf, event_log=log_dir)
    try:
        # untraced and traced ops alternate, so both halves sit at the
        # same point of the JIT warm-up curve
        spans = Spans(spark)
        plain, traced, failed = [], [], 0
        deadline = time.perf_counter() + seconds
        i = WARMUP_OPS
        while len(traced) < MIN_OPS or time.perf_counter() < deadline:
            on = (i - WARMUP_OPS) % 2 == 1
            dt, ok = w.op(i, spans if on else None)
            (traced if on else plain).append(dt)
            failed += not ok
            i += 1
        op_calls = dict(spans.calls)
        checked, bad = w.layer_calls(spans)
        failed += bad
        rss = jvm_peak_rss_mb(spark)
        w.unbind()
        spark.stop()
        # single-threaded baseline on the same input, same (warm) JVM
        spark = start_session(1)
        w.bind(spark)
        local1, ok = w.op(i)
        failed += not ok
    finally:
        w.unbind()
        spark.stop()
    groups = merge_groups(parse_event_log(log_dir), w.group_aliases())
    n = len(traced)
    v: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    v.update({
        "session.start_s": st["session_s"], "session.warmup_s": st["warmup_s"],
        "session.peak_rss_mb": rss,
        "op.untraced_p50_s": statistics.median(plain),
        "op.traced_p50_s": statistics.median(traced),
        "trace.overhead_s": statistics.median(traced) - statistics.median(plain),
        "op.local1_s": local1,
    })
    for name, calls in spans.calls.items():
        g = groups.get(name, {})
        per = 1.0 / calls
        v[f"{name}.wall_s"] = spans.wall[name] * per
        for m in ("tasks", "task_s", "single_task_stage_s"):
            v[f"{name}.{m}"] = g.get(m, 0.0) * per
        if name.startswith("api."):
            v[f"{name}.jobs"] = g.get("jobs", 0.0) * per
        for m in ("rows_out", "shuffle_write_bytes", "spill_bytes"):
            key = f"{name}.{m}"
            if key in v:
                v[key] = g.get("rows_written" if m == "rows_out" else m, 0.0) * per
    for m in ("tasks", "task_s", "single_task_stage_s", "gc_s", "spill_bytes"):
        v[f"op.{m}"] = sum(groups.get(g, {}).get(m, 0.0) for g in op_calls) / n
    v["op.task_max_s"] = max(groups.get(g, {}).get("task_max_s", 0.0) for g in op_calls)
    v["op.busy_frac"] = v["op.task_s"] / (statistics.mean(traced) * CPUS)
    v["sources.input_bytes"] = sum(groups.get(g, {}).get("input_bytes", 0.0) for g in op_calls) / n
    v["sources.input_rows"] = sum(groups.get(g, {}).get("input_rows", 0.0) for g in op_calls) / n
    v.update(w.layer_metrics(groups, n))
    v = {k: v[k] for k in PER_LAYER}
    detail = {"setup": st, "untraced_op_s": plain, "traced_op_s": traced,
              "groups": groups}
    return _result(st["warmup_ok"], len(plain) + len(traced) + 1 + checked, failed, v,
                   PER_LAYER, detail)


def _result(warmup_ok, attempted, failed, values, units, detail) -> dict:
    return {
        "correct": bool(warmup_ok and failed == 0),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        "_detail": detail,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="input scale factor")
    args = ap.parse_args(argv)

    # all scratch (Python tempfile, the engine's scratch dirs, Spark local
    # dirs, the JVM tmpdir) stays inside the checkout; UDF workers import
    # the engine from it
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (host fingerprint helpers)
        import flink_gmall_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        _remove_work()
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        _remove_work()
        return 2

    before = bench._host_snapshot()
    t0 = time.perf_counter()
    try:
        run = run_traced if args.trace else run_plain
        result = run(WORKLOADS[args.workload], args.seed, args.seconds, args.sf)
    finally:
        _shutdown_gateway()
        _remove_work()
    host = bench._host_fingerprint(before, bench._host_snapshot(), time.perf_counter() - t0)
    detail = result.pop("_detail")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "host": host, **detail}))
    print(json.dumps(result))
    return 0


def _remove_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    parent = os.path.dirname(WORK)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def _shutdown_gateway() -> None:
    """Stop the JVM this process launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
