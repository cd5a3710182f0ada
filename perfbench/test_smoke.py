"""Smoke tests for the benchmark: every workload at sf0.001 with the
fewest ops, untraced and traced, plus the seeded-input guarantees.

    python3 -m pytest perfbench/test_smoke.py -q

The workload runs start a Spark session each (about five minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracles  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOAD_NAMES = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_workload_reports_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"]
            for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    values = [v["value"] for v in res["metrics"].values()]
    assert all(isinstance(x, (int, float)) for x in values)
    if not trace:
        assert all(x > 0 for x in values)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(WORKLOAD_NAMES[0], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_same_seed_same_tables_other_seed_differs():
    a = datagen.make_tables(5, 0.001, datagen.PUBLISHER_TABLES)
    b = datagen.make_tables(5, 0.001, datagen.PUBLISHER_TABLES)
    c = datagen.make_tables(6, 0.001, datagen.PUBLISHER_TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_two_seeds_give_different_refresh_sequences(tmp_path):
    from workloads import PublisherServing

    seqs = {}
    for seed in (1, 2):
        d = str(tmp_path / f"s{seed}")
        datagen.stage(d, seed, 0.001, PublisherServing.tables)
        con = oracles.connect(d, PublisherServing.tables)
        w = PublisherServing(d, str(tmp_path), seed, {})
        w.expect(con)
        con.close()
        seqs[seed] = [w.refresh(i) for i in range(5)]
        # a refresh is every panel once, each with a parameter from its
        # own calendar, and every answer it can ask for is non-empty
        for refresh in seqs[seed]:
            assert sorted(p for p, _ in refresh) == sorted(oracles.PANELS)
            for panel, arg in refresh:
                assert w.want[panel, arg], (panel, arg)
        assert seqs[seed] == [w.refresh(i) for i in range(5)]
    assert seqs[1] != seqs[2]
