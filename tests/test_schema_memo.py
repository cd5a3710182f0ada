"""``sources.tables.parquet_schema``: each table's schema is inferred once
per session, file version and inference conf setting, and every load
and stream read takes it from there."""

from __future__ import annotations

import ast
import datetime
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

import flink_gmall_spark
from flink_gmall_spark.sources import tables
from flink_gmall_spark.sources.tables import load, parquet_schema
from flink_gmall_spark.streaming import jobs
from tests.conftest import jobs_run


def _copy_table(sf_dir, tmp_path, name):
    """A private copy of one fixture table, so no earlier test in the
    session has memoized its schema."""
    shutil.copy(tables.path(sf_dir, name), tables.path(str(tmp_path), name))
    return str(tmp_path)


def test_second_load_runs_no_job(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path, "orders")
    assert jobs_run(spark, lambda: load(spark, d, "orders")) >= 1
    assert jobs_run(spark, lambda: load(spark, d, "orders")) == 0


def test_rewritten_table_reads_its_new_schema(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path, "orders")
    before = load(spark, d, "orders")
    assert "extra" not in before.columns
    p = tables.path(d, "orders")
    t = pq.read_table(p)
    pq.write_table(t.append_column("extra", pa.array(range(t.num_rows), pa.int64())), p)
    after = load(spark, d, "orders")
    assert after.columns == before.columns + ["extra"]
    assert after.agg({"extra": "max"}).first()[0] == t.num_rows - 1


@pytest.mark.parametrize(
    "conf, arrow_type",
    [
        # a legacy long-nanos events file: long under nanosAsLong, unreadable without
        ("spark.sql.legacy.parquet.nanosAsLong", pa.timestamp("ns")),
        # the current events shape: TIMESTAMP_NTZ or TIMESTAMP by this conf
        ("spark.sql.parquet.inferTimestampNTZ.enabled", pa.timestamp("us")),
    ],
    ids=["nanosAsLong", "inferTimestampNTZ"],
)
def test_inference_conf_toggle_never_serves_the_other_schema(
    spark, tmp_path, conf, arrow_type
):
    p = str(tmp_path / "events.parquet")
    ts = [datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)]
    pq.write_table(pa.table({"event_id": [1], "ts": pa.array(ts, arrow_type)}), p)

    def inferred():
        try:
            return spark.read.parquet(p).schema
        except Exception as e:  # noqa: BLE001 - compared by error class below
            return type(e)

    def memoized():
        try:
            return parquet_schema(spark, p)
        except Exception as e:  # noqa: BLE001
            return type(e)

    old = spark.conf.get(conf)
    try:
        seen = []
        for v in ("true", "false", "true", "false"):
            spark.conf.set(conf, v)
            want = inferred()
            assert memoized() == want, (conf, v)
            seen.append(want)
        assert seen[0] != seen[1]
        spark.conf.set(conf, "true")
        # both settings are memoized side by side: a toggle back is free
        assert jobs_run(spark, lambda: parquet_schema(spark, p)) == 0
        assert isinstance(load(spark, str(tmp_path), "events").schema["ts"].dataType,
                          T.TimestampType)
    finally:
        spark.conf.set(conf, old)


def test_read_stream_takes_the_memoized_schema(spark, sf_dir):
    batch = load(spark, sf_dir, "events")
    stream = None

    def read():
        nonlocal stream
        stream = jobs.read_stream(spark, sf_dir, "events")

    assert jobs_run(spark, read) == 0
    assert stream.isStreaming
    assert stream.schema == batch.schema


def _reads_parquet_schema(node: ast.AST) -> bool:
    """``<x>.read.parquet(...).schema``"""
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "schema"
        and isinstance(node.value, ast.Call)
        and isinstance(node.value.func, ast.Attribute)
        and node.value.func.attr == "parquet"
        and isinstance(node.value.func.value, ast.Attribute)
        and node.value.func.value.attr == "read"
    )


def test_schema_inferred_only_in_the_sources_layer():
    pkg = pathlib.Path(flink_gmall_spark.__file__).parent
    callers = {
        path.relative_to(pkg).as_posix()
        for path in pkg.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if _reads_parquet_schema(node)
    }
    assert callers == {"sources/tables.py"}, sorted(callers)
