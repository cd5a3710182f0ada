from __future__ import annotations

import os
import uuid

import pytest

try:  # Spark-invoking property tests pay one-off JVM/Arrow warm-up costs
    # (888 ms observed vs a 1.57 ms replay) that trip Hypothesis's default
    # 200 ms deadline as a FlakyFailure. Wall-clock is not a semantic
    # property here — disable the deadline suite-wide.
    from hypothesis import settings as _hyp_settings

    _hyp_settings.register_profile("spark_suite", deadline=None)
    _hyp_settings.load_profile("spark_suite")
except ImportError:  # pragma: no cover - hypothesis is a test-only dep
    pass

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def jobs_run(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted under its own job group."""
    sc = spark.sparkContext
    group = f"jobs_run_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from flink_gmall_spark.session import get_spark

    spark = get_spark("flink-gmall-tests", cpus="4")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def avg_file_spans(pattern: str, cols: tuple[str, ...]) -> dict[str, float]:
    """Per-file (min,max) span of each column, averaged across the parquet
    files matching ``pattern``, from row-group statistics — the clustering
    metric the z-order tests assert on (shared by the batch and streaming
    zorder clustering proofs)."""
    import glob

    import pyarrow.parquet as pq

    spans: dict[str, list[float]] = {c: [] for c in cols}
    files = sorted(glob.glob(pattern))
    assert files, f"avg_file_spans: no parquet files match {pattern!r}"
    for f in files:
        md = pq.read_metadata(f)
        if md.num_rows == 0:
            continue
        fmin: dict[str, float] = {}
        fmax: dict[str, float] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in spans:
                    continue
                st = col.statistics
                # ADVICE r8: statistics can legitimately be absent (writer
                # config, all-NULL chunk) — fail with the real reason, not a
                # downstream TypeError/KeyError.
                assert st is not None and st.has_min_max, (
                    f"avg_file_spans: {f} row-group {rg} column {name} has no "
                    "min/max statistics — span metric undefined for this file"
                )
                fmin[name] = min(fmin.get(name, st.min), st.min)
                fmax[name] = max(fmax.get(name, st.max), st.max)
        for name in spans:
            assert name in fmin, (
                f"avg_file_spans: column {name} absent from {f} — wrong "
                "pattern or schema drift"
            )
            spans[name].append(fmax[name] - fmin[name])
    assert all(spans.values()), (
        f"avg_file_spans: every file matching {pattern!r} was empty"
    )
    return {k: sum(v) / len(v) for k, v in spans.items()}
