"""Every registry query vs its DuckDB oracle — the driver's t2 gate —
and its plan fingerprint vs the committed PLAN_FINGERPRINTS.json."""

from __future__ import annotations

import os

import pytest

from flink_gmall_spark.registry import registry
from tests.oracle import compare, duck_connection
from tools.plan_fingerprint import SF_DIR, committed, fingerprint

QUERIES = registry()
FINGERPRINTS = committed()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(name, spark, sf_dir, duck):
    q = QUERIES[name]
    md5, df = fingerprint(q.fn, spark, sf_dir)
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver
    else:
        compare(df, duck, q.oracle, name=name)
    # fingerprints are taken on the CI fixture; another sf_dir may plan differently
    if os.path.realpath(sf_dir) == os.path.realpath(SF_DIR):
        assert md5 == FINGERPRINTS.get(name, [None])[0], (
            f"{name}: plan changed - run `python tools/plan_fingerprint.py` "
            "and commit PLAN_FINGERPRINTS.json (it stages the entry for re-verification)"
        )
