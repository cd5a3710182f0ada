"""Machine-checked freshness invariant.

The driver samples the first 50 registry entries per round. The
registry derives that window at import from the committed
CORRECTNESS_r*.json ledger and PLAN_FINGERPRINTS.json
(``registry.staged_window``), so every entry re-earns a green row
within a bounded number of rounds, new entries get verified
immediately, and entries whose plan fingerprint changed after their
last green row re-verify the next round. These tests hold the first
50 registrations to the rule, the fingerprint file to the registry and
the ledger to its rotation bound; none of them starts Spark.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

from tools.plan_fingerprint import committed, next_round

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ledger():
    from flink_gmall_spark.registry import last_green_rounds

    return last_green_rounds()


def _window() -> list[str]:
    from flink_gmall_spark.registry import WINDOW_SIZE, registry

    return list(registry())[:WINDOW_SIZE]


def test_sample_window_matches_staging_rule():
    """The first 50 registrations - what the driver samples - are
    exactly what the rule derives, in order: new entries + changed-plan
    re-verifications + stalest fill."""
    from flink_gmall_spark.registry import _REGISTRATION_ORDER, staged_window

    last = _ledger()
    plan = {n: rnd for n, (_, rnd) in committed().items()}
    # re-verify: green before, fingerprint round newer than the last green row
    reverify = [n for n in _REGISTRATION_ORDER if n in last and plan[n] > last[n]]
    want = staged_window(_REGISTRATION_ORDER, last, reverify)
    assert len(want) == 50
    assert _window() == want


def test_every_entry_fingerprinted():
    """PLAN_FINGERPRINTS.json names exactly the registry's entries: a
    new entry without a fingerprint fails here, before any Spark test."""
    from flink_gmall_spark.registry import registry

    assert sorted(committed()) == sorted(registry())


def test_fingerprint_rounds_not_ahead_of_ledger():
    """A fingerprint round is the round its md5 first appeared; a changed
    md5 is stamped with the newest ledger round + 1, never later."""
    ahead = {n: r for n, (_, r) in committed().items() if r > next_round()}
    assert not ahead, ahead


def _import_order(cwd, pythonpath: str, module: str) -> dict:
    """Import ``module`` in a fresh interpreter and report which
    registry file it loaded, its registration order and registry() order."""
    code = f"""
import json
import {module} as m
from flink_gmall_spark import registry as r
print(json.dumps({{"file": r.__file__, "reg": list(r._REGISTRATION_ORDER),
                  "order": list(r.registry())}}))
"""
    env = {**os.environ, "PYTHONPATH": pythonpath}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=cwd, env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_window_independent_of_cwd_and_optional_ledger(tmp_path):
    """The ledger is found beside the package, not in the cwd: the
    driver imports ``__spark_entry__`` from another directory and must
    see the same window. A package-only copy with no ledger beside it
    (an installed copy) still imports and keeps registration order."""
    from flink_gmall_spark.registry import _REGISTRATION_ORDER

    got = _import_order(tmp_path, REPO, "__spark_entry__")
    assert got["file"].startswith(REPO)
    assert got["order"][:50] == _window()

    site = tmp_path / "site"
    shutil.copytree(
        os.path.join(REPO, "flink_gmall_spark"),
        site / "flink_gmall_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    bare = _import_order(tmp_path, str(site), "flink_gmall_spark.registry")
    assert bare["file"].startswith(str(site))
    assert bare["order"] == bare["reg"] == list(_REGISTRATION_ORDER)


def test_every_entry_green_or_staged():
    """No entry may be neither ever-green nor scheduled: an entry
    without a green driver row in any CORRECTNESS_r*.json must be in
    the staged window (it is new) — otherwise it is silently
    unverified surface."""
    from flink_gmall_spark.registry import registry

    last = _ledger()
    window = _window()
    orphans = [n for n in registry() if n not in last and n not in window]
    assert not orphans, orphans


def test_freshness_debt_bounded_outside_window():
    """Entries NOT in the current window must not be staler than one
    full rotation: with N entries and 50 slots a complete pass takes
    ceil(N/50) rounds, so anything older than max_round − (ceil(N/50)+1)
    outside the window means the rotation skipped it."""
    from flink_gmall_spark.registry import registry

    last = _ledger()
    window = _window()
    max_round = max(last.values())
    lag = math.ceil(len(registry()) / 50) + 1
    stale = [
        (n, last[n])
        for n in registry()
        if n in last
        and n not in window
        and last[n] < max_round - lag
    ]
    assert not stale, stale
