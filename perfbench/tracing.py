"""Tracing from outside the engine: job-group spans and the event log.

A traced call runs under ``sc.setJobGroup(<layer call>)``, so every Spark
job it triggers carries the call's name into the event log
(``spark.eventLog.enabled``, uncompressed). After the session stops,
:func:`parse_event_log` folds ``SparkListenerJobStart`` and
``SparkListenerTaskEnd`` records into per-call stage totals.

:class:`Spans` records wall-time spans in memory. Inside
``pipeline.build_warehouse`` the layer calls are reached through module
attributes, so :meth:`Spans.patch` wraps them for the duration of one
traced op: each wrapped call closes the previous span and opens its own,
and the jobs that follow (the hop's write) land in its group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Spans:
    """Wall-time spans keyed by layer-call name, one job group each."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._open: tuple[str, float] | None = None

    def start(self, name: str) -> None:
        self.stop()
        self.sc.setJobGroup(name, name)
        self.calls[name] += 1
        self._open = (name, time.perf_counter())

    def stop(self) -> None:
        if self._open:
            name, t0 = self._open
            self.wall[name] += time.perf_counter() - t0
            self._open = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str):
        self.start(name)
        try:
            yield
        finally:
            self.stop()

    @contextlib.contextmanager
    def patch(self, targets: dict[str, tuple[object, str]]):
        """Wrap ``getattr(module, attr)`` for each span name so that
        calling it opens that span; originals are restored on exit."""
        saved = []
        for name, (mod, attr) in targets.items():
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))

            def wrapped(*a, _fn=fn, _name=name, **kw):
                self.start(_name)
                return _fn(*a, **kw)

            setattr(mod, attr, wrapped)
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)
            self.stop()


class StreamProgress:
    """Collects ``StreamingQueryProgress`` events for every query the
    session runs; :meth:`wait_terminated` blocks until a query's
    termination event has been delivered, so its last progress is in."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self._cv = threading.Condition()
        self.progress: dict[str, list] = defaultdict(list)
        self.terminated: set[str] = set()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer._cv:
                    outer.progress[str(p.id)].append({
                        "run": str(p.runId),
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated.add(str(event.id))
                    outer._cv.notify_all()

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def close(self) -> None:
        if self._spark is not None:
            self._spark.streams.removeListener(self._listener)
            self._spark = None

    def take_finished(self, timeout: float = 10.0) -> list[dict]:
        """Wait for every started query to terminate, then return and
        clear the progress of the queries seen so far."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while set(self.progress) - self.terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    break
                self._cv.wait(left)
            done = [b for q in self.progress.values() for b in q]
            self.progress.clear()
            self.terminated.clear()
        return done


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, summed/max task seconds, seconds in
    single-task stages, GC seconds, spill, shuffle-write, input and output
    bytes/rows, and output files."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    stage_group: dict[int, str] = {}
    tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
    jobs: dict[str, int] = defaultdict(int)
    for f in files:
        if not os.path.isfile(f) or os.path.basename(f).startswith("appstatus"):
            continue
        with open(f) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                else:
                    tasks_by_stage[ev["Stage ID"]].append(ev)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group, n in jobs.items():
        out[group]["jobs"] = n
    for sid, tasks in tasks_by_stage.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out[group]
        durs = []
        for ev in tasks:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            d = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            durs.append(d)
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["input_rows"] += inp.get("Records Read", 0)
            outm = m.get("Output Metrics") or {}
            g["bytes_written"] += outm.get("Bytes Written", 0)
            g["rows_written"] += outm.get("Records Written", 0)
        g["tasks"] += len(durs)
        g["task_s"] += sum(durs)
        g["task_max_s"] = max(g["task_max_s"], max(durs))
        if len(durs) == 1:
            g["single_task_stage_s"] += durs[0]
    return out


def merge_groups(groups: dict, aliases: dict[str, str]) -> dict:
    """Fold the groups named in ``aliases`` into their target group.
    A streaming query runs its micro-batch jobs under its own job group
    (the query's run id), whatever group was set when it started."""
    for src, dst in aliases.items():
        g = groups.pop(src, None)
        if not g:
            continue
        d = groups[dst]
        for k, x in g.items():
            d[k] = max(d[k], x) if k == "task_max_s" else d[k] + x
    return groups
