"""The workloads. Each one stages its seeded input, computes its DuckDB
answers, and runs ops; an op times only the engine calls and is checked
against the oracle outside the timed region.

* ``warehouse_build`` — one op builds the whole chain
  (``pipeline.build_warehouse``) into a fresh output and checkpoint dir,
  then reads the ADS hourly rollup back.
* ``publisher_serving`` — one op is one dashboard refresh: all seven
  ``plans.api`` panels, in a seeded order with seeded parameters, sent by
  one client in a closed loop. Its traced run also times the corpus
  curation operators on the staged documents.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import tempfile
import time

from pyspark.sql import SparkSession

import datagen
import oracles
from tracing import Spans, StreamProgress


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, data_dir: str, work_dir: str, seed: int, rows: dict[str, int]):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        #: staged row count per table
        self.rows = rows

    def expect(self, con) -> None:
        """Compute the oracle answers on the staged input."""
        raise NotImplementedError

    def bind(self, spark: SparkSession) -> None:
        """Attach to a (new) session before ops run on it."""
        self.spark = spark

    def unbind(self) -> None:
        pass

    def op(self, i: int, spans: Spans | None = None) -> tuple[float, bool]:
        """Run op ``i``; return its wall seconds and whether it matched."""
        raise NotImplementedError

    def layer_calls(self, spans: Spans) -> tuple[int, int]:
        """Traced run only: isolated layer calls, each under its span.
        Returns how many of them were checked and how many failed."""
        return 0, 0

    def layer_metrics(self, groups: dict, n_ops: int) -> dict[str, float]:
        """Traced run only: the workload's own per-layer values, from the
        event-log ``groups`` of ``n_ops`` traced ops."""
        return {}

    def group_aliases(self) -> dict[str, str]:
        """Traced run only: event-log job groups to count under a span."""
        return {}


class WarehouseBuild(Workload):
    name = "warehouse_build"
    tables = datagen.WAREHOUSE_TABLES

    #: span name -> module attribute build_warehouse reaches it through
    @staticmethod
    def _span_targets() -> dict[str, tuple[object, str]]:
        from flink_gmall_spark.plans import dwd, dwm, dws
        from flink_gmall_spark.streaming import jobs as stream_jobs

        return {
            "dwd.page_views": (dwd, "page_views"),
            "dwd.cdc_dim_upsert": (dwd, "cdc_dim_upsert"),
            "dwm.order_wide": (dwm, "order_wide"),
            "streaming.visitor_stats": (stream_jobs, "read_stream"),
            "dws.product_stats": (dws, "product_stats"),
        }

    #: materialized hop -> the span whose jobs write it
    HOPS = {
        "dwd_page_log": "dwd.page_views",
        "dim_order_info": "dwd.cdc_dim_upsert",
        "dwm_order_wide": "dwm.order_wide",
        "visitor_stats": "streaming.visitor_stats",
        "product_stats": "dws.product_stats",
    }

    def expect(self, con) -> None:
        from flink_gmall_spark import pipeline

        self.want = oracles.answer(con, pipeline.ORACLE_PIPELINE_E2E_HOURLY)
        self.stream_batches: list[list[dict]] = []
        self.files_written: dict[str, list[int]] = {h: [] for h in self.HOPS}

    def bind(self, spark: SparkSession) -> None:
        super().bind(spark)
        self.progress = StreamProgress(spark)

    def unbind(self) -> None:
        self.progress.close()

    def group_aliases(self) -> dict[str, str]:
        return {b["run"]: "streaming.visitor_stats"
                for r in self.stream_batches for b in r}

    def layer_metrics(self, groups: dict, n_ops: int) -> dict[str, float]:
        runs = self.stream_batches
        out = {
            "streaming.visitor_stats.batches": statistics.mean(len(r) for r in runs),
            "streaming.visitor_stats.input_rows": statistics.mean(
                sum(b["rows"] for b in r) for r in runs),
        }
        for key, phase in (("add_batch_ms", "addBatch"),
                           ("query_planning_ms", "queryPlanning"),
                           ("wal_commit_ms", "walCommit")):
            out[f"streaming.visitor_stats.{key}"] = statistics.mean(
                sum(b["ms"].get(phase, 0) for b in r) for r in runs)
        for hop, span in self.HOPS.items():
            out[f"pipeline.{hop}.bytes_written"] = (
                groups.get(span, {}).get("bytes_written", 0.0) / n_ops)
            out[f"pipeline.{hop}.files_written"] = statistics.median(self.files_written[hop])
        return out

    def op(self, i: int, spans: Spans | None = None) -> tuple[float, bool]:
        from flink_gmall_spark import pipeline

        out = tempfile.mkdtemp(prefix="wh_", dir=self.work_dir)
        try:
            t0 = time.perf_counter()
            if spans is None:
                tables = pipeline.build_warehouse(self.spark, self.data_dir, out)
                rows = pipeline.ads_hourly_from_stats(
                    self.spark, tables["visitor_stats"]).collect()
            else:
                with spans.patch(self._span_targets()):
                    tables = pipeline.build_warehouse(self.spark, self.data_dir, out)
                with spans.span("ads.hourly"):
                    rows = pipeline.ads_hourly_from_stats(
                        self.spark, tables["visitor_stats"]).collect()
            dt = time.perf_counter() - t0
            batches = self.progress.take_finished()
            commits = glob.glob(os.path.join(out, "_ckpt_visitor_stats", "commits", "*"))
            # A reused checkpoint commits nothing and streams no rows.
            # numInputRows counts every scan of the source, and the DWS
            # transform scans the events stream once per branch, so the
            # streamed count is a whole multiple of the staged events.
            streamed_rows = sum(b["rows"] for b in batches)
            streamed = (
                len(commits) >= 1
                and streamed_rows > 0
                and streamed_rows % self.rows["events"] == 0
            )
            ok = streamed and oracles.canon(rows) == self.want
            if spans is not None:
                self.stream_batches.append(batches)
                for hop in self.HOPS:
                    self.files_written[hop].append(len(
                        glob.glob(os.path.join(out, hop, "**", "*.parquet"), recursive=True)))
            return dt, ok
        finally:
            shutil.rmtree(out, ignore_errors=True)


class PublisherServing(Workload):
    name = "publisher_serving"
    tables = datagen.PUBLISHER_TABLES
    #: parameter pool size per calendar; every drawn date has data
    DATES_PER_CALENDAR = 6

    def expect(self, con) -> None:
        rng = random.Random(self.seed)
        pools = {
            "order_date": sorted(rng.sample([r[0] for r in con.execute(
                "SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') FROM orders ORDER BY 1"
            ).fetchall()], self.DATES_PER_CALENDAR)),
            "event_date": sorted(rng.sample([r[0] for r in con.execute(
                "SELECT DISTINCT strftime(ts, '%Y-%m-%d') FROM events ORDER BY 1"
            ).fetchall()], self.DATES_PER_CALENDAR)),
            "limit": list(oracles.LIMITS),
        }
        self.want = {
            (panel, p): oracles.answer(con, sql, [p])
            for panel, (kind, sql) in oracles.PANELS.items()
            for p in pools[kind]
        }
        self.pools = pools
        self.plan_s: dict[str, list[float]] = {p: [] for p in oracles.PANELS}
        self.exec_s: dict[str, list[float]] = {p: [] for p in oracles.PANELS}

    def refresh(self, i: int) -> list[tuple[str, object]]:
        """Refresh ``i``: every panel once, seeded order and parameters."""
        rng = random.Random(f"{self.seed}/{i}")
        panels = list(oracles.PANELS)
        rng.shuffle(panels)
        return [(p, rng.choice(self.pools[oracles.PANELS[p][0]])) for p in panels]

    def op(self, i: int, spans: Spans | None = None) -> tuple[float, bool]:
        from flink_gmall_spark.plans import api

        calls = [(p, getattr(api, p), arg) for p, arg in self.refresh(i)]
        got = {}
        t0 = time.perf_counter()
        if spans is None:
            for panel, fn, arg in calls:
                got[panel, arg] = fn(self.spark, self.data_dir, arg).collect()
        else:
            for panel, fn, arg in calls:
                with spans.span(f"api.{panel}"):
                    a = time.perf_counter()
                    df = fn(self.spark, self.data_dir, arg)
                    b = time.perf_counter()
                    got[panel, arg] = df.collect()
                    c = time.perf_counter()
                self.plan_s[panel].append(b - a)
                self.exec_s[panel].append(c - b)
        dt = time.perf_counter() - t0
        ok = all(oracles.canon(rows) == self.want[k] for k, rows in got.items())
        return dt, ok

    def layer_metrics(self, groups: dict, n_ops: int) -> dict[str, float]:
        out = {}
        for p in oracles.PANELS:
            out[f"api.{p}.plan_s"] = statistics.median(self.plan_s[p])
            out[f"api.{p}.exec_s"] = statistics.median(self.exec_s[p])
        return out

    def layer_calls(self, spans: Spans) -> tuple[int, int]:
        """The publisher's own plans, and the corpus-curation operators
        (the staged documents serve both), each run once to warm its plan
        and once under its span."""
        from flink_gmall_spark.operators import curation, dedup
        from flink_gmall_spark.plans import dwm, dws

        def noop(fn):
            fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()

        for name, fn in (("dwm.visit_flag", dwm.visit_flag),
                         ("dws.product_stats", dws.product_stats),
                         ("dws.keyword_stats", dws.keyword_stats),
                         ("dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs)):
            noop(fn)
            with spans.span(name):
                noop(fn)
        curation.curation_pipeline(self.spark, self.data_dir).collect()
        with spans.span("curation.pipeline"):
            rows = curation.curation_pipeline(self.spark, self.data_dir).collect()
        con = oracles.connect(self.data_dir, ("documents",))
        try:
            want = oracles.answer(con, curation.ORACLE_CURATION_PIPELINE)
        finally:
            con.close()
        return 1, int(oracles.canon(rows) != want)


WORKLOADS = {w.name: w for w in (WarehouseBuild, PublisherServing)}
