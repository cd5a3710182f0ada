"""The session is tuned at the entry layers only: the registry wraps
every ``Query.fn`` in ``session.tune``, each ``plans.api`` function and
the two ``pipeline`` entry points call it, and the plans and operators
below them never do."""

from __future__ import annotations

import ast
import pathlib

import flink_gmall_spark
from flink_gmall_spark.session import RUNTIME_CONFS, tune

TUNING_MODULES = {"session.py", "registry.py", "plans/api.py", "pipeline.py"}

# The driver's own session: a foreign time zone and Spark's default
# shuffle partition count (tools/driver_sim.py builds the same one).
HOSTILE_CONFS = {
    "spark.sql.session.timeZone": "Asia/Shanghai",
    "spark.sql.shuffle.partitions": "200",
}


def test_tune_is_called_only_at_entry_layers():
    pkg = pathlib.Path(flink_gmall_spark.__file__).parent
    callers = set()
    for path in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and "tune" in (
                getattr(node.func, "id", None),
                getattr(node.func, "attr", None),
            ):
                callers.add(path.relative_to(pkg).as_posix())
    assert callers == TUNING_MODULES, sorted(callers ^ TUNING_MODULES)


def test_entry_points_override_a_hostile_session(spark, sf_dir):
    """Registry entries and api functions give the tuned rows, and leave
    the session tuned, when the caller's session carries the driver's
    hostile config. Of the three, only the payment-province chain's rows
    change when run untuned under it (its 1-day windows are epoch-aligned,
    so a +08:00 zone shifts them); the other two bucket by rendered
    timestamps, which the hostile zone leaves alone on NTZ fixtures."""
    from flink_gmall_spark.plans import api
    from flink_gmall_spark.registry import registry

    reg = registry()
    entries = {
        "t2_daily_uv": lambda: reg["t2_daily_uv"].fn(spark, sf_dir),
        "stream_pipeline_payment_province": lambda: reg[
            "stream_pipeline_payment_province"
        ].fn(spark, sf_dir),
        "visitor_stats_by_hour": lambda: api.visitor_stats_by_hour(
            spark, sf_dir, "2024-01-05"
        ),
    }

    def rows(df):
        return sorted(map(tuple, df.collect()))

    tune(spark)
    tuned_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    want = {name: rows(build()) for name, build in entries.items()}
    assert all(want.values()), want
    try:
        for name, build in entries.items():
            for k, v in HOSTILE_CONFS.items():
                spark.conf.set(k, v)
            got = rows(build())
            assert got == want[name], name
            assert spark.conf.get("spark.sql.session.timeZone") == (
                RUNTIME_CONFS["spark.sql.session.timeZone"]
            ), name
            assert spark.conf.get("spark.sql.shuffle.partitions") == tuned_partitions, name
    finally:
        tune(spark)
