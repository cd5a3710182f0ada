#!/usr/bin/env python
"""Plan fingerprints: one md5 per registry entry over the normalized
optimized plans of every DataFrame the entry builds.

Run: python tools/plan_fingerprint.py
It builds every registry entry on the CI fixture (``SF_DIR``, the
``tests/conftest.py`` default, ``get_spark(cpus="4")``) and rewrites
``PLAN_FINGERPRINTS.json`` at the repo root: ``{name: [md5, round]}``.
``round`` is the driver round in which that md5 first appeared: an md5
that did not change keeps its round, a changed or new one gets the
newest ``CORRECTNESS_r*.json`` round + 1, which puts the entry in the
registry's re-verify head until a driver round greens it.

An entry's plans are (in execution order) every DataFrame it collects,
counts or checkpoints while it is built, every streaming DataFrame it
starts (with its output mode), and the DataFrame it returns, so entries
that materialize eagerly and return a stub plan (per-round
localCheckpoint loops, stream drains) are fingerprinted by what they
ran. Batch writes are not: some staging tables are written once per
session, so whether an entry writes one depends on what ran before it;
the plans that read them back are fingerprinted. The hooks sit on
pyspark's classes, not on this repo's functions, so the script also
fingerprints older commits of the repo.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import re
import sys
import tempfile
import threading
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FINGERPRINTS = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
SF_DIR = "/root/testdata/sf0.001"  # the tests/conftest.py default

_ID = re.compile(r"#\d+L?")
# Session- and run-specific tokens that carry no plan shape.
_SUBS = [
    (_ID, "#"),  # expression ids
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"\bmem_[0-9a-f]+"), "mem_<id>"),
    # object identities (SparkSession@, PythonTable@, ...); an
    # UnsafeArrayData literal prints a content hash, which is plan
    (re.compile(r"(?<!UnsafeArrayData)@[0-9a-f]{4,8}\b"), "@<id>"),
    (re.compile(r"fgs_bkt_\w+"), "fgs_bkt_<tag>"),
    # tmp, scratch and staging paths (their 12-hex tags included)
    (re.compile(rf"(?:file:)?{re.escape(tempfile.gettempdir())}/[^\s,\]\)}}]*"), "<tmp>"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),  # lambda variables
]


def _items(s: str) -> list[str]:
    """Top-level comma-separated items of a bracketed list ``[a, f(b, c)]``."""
    items, depth, start = [], 0, 1
    for i, ch in enumerate(s[1:-1], 1):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    return items + [s[start:-1].strip()]


def _lists(text: str):
    """(start, end) of every bracketed list in ``text``, inner ones first."""
    opened = []
    for i, ch in enumerate(text):
        if ch == "[":
            opened.append(i)
        elif ch == "]" and opened:
            yield opened.pop(), i + 1


def _canon_expand(plan: str) -> str:
    """Canonicalize the distinct-aggregate rewrite. Its ``Expand`` gives
    each distinct group one projection tagged with a ``gid`` literal.
    The group order (which group gets which gid) and the column order of
    the Expand and of the Aggregates over it follow expression-id
    hashing, so they change with what the session built before. Sort
    the columns and the groups by their id-free text, and renumber the
    gid filters to match."""
    for line in plan.splitlines():
        head, sep, rest = line.partition("Expand ")
        if not sep:
            continue
        rows_s, cols_s = _items(f"[{rest}]")
        cols = _items(cols_s)
        gids = [i for i, c in enumerate(cols) if c.startswith("gid#")]
        if len(gids) != 1:
            continue
        # columns: the distinct groups' inputs, gid, the regular aggregates' inputs
        g, gid = gids[0], cols[gids[0]]
        order = sorted(range(g), key=lambda i: _ID.sub("#", cols[i])) + list(range(g, len(cols)))
        rows = sorted(
            ([r[i] for i in order] for r in map(_items, _items(rows_s))),
            key=lambda r: _ID.sub("#", ", ".join(r[:g] + r[g + 1:])),
        )
        old = [r[g] for r in rows]
        remap = dict(zip(old, sorted(old, key=int)))
        body = ", ".join("[" + ", ".join(r[:g] + [remap[r[g]]] + r[g + 1:]) + "]" for r in rows)
        plan = plan.replace(line, f"{head}Expand [{body}], {cols_s}")
        # every list carrying gid (Expand output, Aggregate grouping and
        # output lists) leads with the grouped columns: sort those
        for a, b in sorted(_lists(plan), reverse=True):
            items = _items(plan[a:b])
            if gid in items:
                k = items.index(gid)
                head_items = sorted(items[:k], key=lambda c: _ID.sub("#", c))
                plan = plan[:a] + "[" + ", ".join(head_items + items[k:]) + "]" + plan[b:]
        plan = re.sub(
            rf"\(({re.escape(gid)}) = (\d+)\)",
            lambda m: f"({m.group(1)} = {remap.get(m.group(2), m.group(2))})",
            plan,
        )
    return plan


def normalize(plan: str) -> str:
    plan = _canon_expand(plan)
    for pat, rep in _SUBS:
        plan = pat.sub(rep, plan)
    return plan


def plan_text(df) -> str:
    """The optimized logical plan, untruncated. The optimizer runs on the
    analyzed plan directly: that also works for a streaming DataFrame,
    and no cache an earlier query left behind is substituted in."""
    jss = df.sparkSession._jsparkSession
    plan = jss.sessionState().optimizer().execute(df._jdf.queryExecution().analyzed())
    return plan.treeString(True, False, 2**31 - 1, False, False)


@contextlib.contextmanager
def capture():
    """Collect the plan text of every DataFrame executed or started on
    this thread while the block runs (foreachBatch callbacks run on
    other threads and are not counted)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    plans: list[str] = []
    owner = threading.get_ident()

    def hook(orig, text):
        def wrapper(self, *a, **kw):
            if threading.get_ident() == owner:
                plans.append(text(self, *a))
            return orig(self, *a, **kw)

        return wrapper

    executes = ("collect", "count", "toLocalIterator", "tail", "isEmpty",
                "checkpoint", "localCheckpoint", "toPandas", "toArrow")
    with contextlib.ExitStack() as hooks:
        for cls, names, text in (
            (DataFrame, executes, lambda df, *a: plan_text(df)),
            (DataStreamWriter, ("start", "toTable"), lambda w, *a: plan_text(w._df)),
            # a stream's output mode is part of what it computes, not of its plan
            (DataStreamWriter, ("outputMode",), lambda w, mode: f"outputMode {mode}"),
        ):
            for name in names:
                hooks.enter_context(mock.patch.object(cls, name, hook(getattr(cls, name), text)))
        yield plans


def digest(plans: list[str]) -> str:
    return hashlib.md5("\n".join(map(normalize, plans)).encode()).hexdigest()


def fingerprint(fn, spark, sf_dir: str):
    """Build one entry; return (md5 of its normalized plans, the DataFrame)."""
    with capture() as plans:
        df = fn(spark, sf_dir)
    return digest([*plans, plan_text(df)]), df


def committed() -> dict[str, list]:
    try:
        with open(FINGERPRINTS) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def next_round() -> int:
    """The round a changed md5 is stamped with: newest ledger round + 1."""
    ledger = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    rounds = [int(re.search(r"r(\d+)", os.path.basename(f)).group(1)) for f in ledger]
    return max(rounds, default=0) + 1


def write(md5s: dict[str, str]) -> dict[str, list]:
    old, stamp = committed(), next_round()
    out = {
        n: [h, old[n][1] if old.get(n, [None])[0] == h else stamp]
        for n, h in sorted(md5s.items())
    }
    with open(FINGERPRINTS, "w") as fh:  # one entry a line: diffs name entries
        fh.write("{\n" + ",\n".join(f" {json.dumps(n)}: {json.dumps(v)}" for n, v in out.items()) + "\n}\n")
    return out


def fingerprint_all(names) -> dict[str, str]:
    from flink_gmall_spark.registry import registry
    from flink_gmall_spark.session import get_spark

    # Python UDF workers import the package too; sys.path covers only this process
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("plan-fingerprint", cpus="4")
    reg = registry()
    try:
        return {n: fingerprint(reg[n].fn, spark, SF_DIR)[0] for n in names}
    finally:
        spark.stop()


def main() -> None:
    from flink_gmall_spark.registry import registry

    old = committed()
    out = write(fingerprint_all(sorted(registry())))
    changed = sorted(n for n in out if old.get(n) != out[n])
    print(f"wrote {FINGERPRINTS}: {len(out)} entries, {len(changed)} changed")
    for n in changed:
        print(f"  {n} -> round {out[n][1]}")


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    main()
