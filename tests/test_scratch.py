"""Scratch-dir hygiene: session-created tmp dirs must vanish at process
exit and stale orphans from dead sessions must get swept — the
"no unbounded growth after 10 repeated runs" contract."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from flink_gmall_spark import scratch


def test_scratch_dirs_removed_at_interpreter_exit(tmp_path):
    code = """
import os, sys
sys.path.insert(0, {repo!r})
os.environ["TMPDIR"] = {tmp!r}
import tempfile; tempfile.tempdir = None  # re-read TMPDIR
from flink_gmall_spark import scratch
d1 = scratch.scratch_dir("wh", "t1")
d2 = scratch.scratch_dir("dim_sink", "t2")
open(os.path.join(d1, "x.parquet"), "w").write("data")
print(d1); print(d2)
""".format(repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), tmp=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    d1, d2 = out.stdout.strip().splitlines()
    assert not os.path.exists(d1) and not os.path.exists(d2)


def test_stale_orphans_swept_fresh_kept(tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "ROOT", str(tmp_path / "fgs_scratch"))
    monkeypatch.setattr(scratch, "_swept", False)
    stale = tmp_path / "fgs_scratch" / "wh" / "deadbeef"
    stale.mkdir(parents=True)
    old = 1_000_000.0  # epoch 1970 — ancient
    os.utime(stale, (old, old))
    fresh = tmp_path / "fgs_scratch" / "wh" / "alive"
    fresh.mkdir()
    got = scratch.scratch_dir("bucketed", "now")
    assert os.path.isdir(got)
    assert not stale.exists()  # orphan reaped
    assert fresh.exists()  # concurrent session untouched


def test_same_tag_reuses_path(monkeypatch, tmp_path):
    monkeypatch.setattr(scratch, "ROOT", str(tmp_path / "r"))
    a = scratch.scratch_dir("wh", "k")
    b = scratch.scratch_dir("wh", "k")
    assert a == b and os.path.isdir(a)


def test_session_tag_stable_per_session_distinct_per_input(tmp_path):
    from types import SimpleNamespace

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    a, b = tmp_path / "sf_a", tmp_path / "sf_b"
    a.mkdir()
    b.mkdir()
    (tmp_path / "link_a").symlink_to(a)
    s1, s2 = session("local-1"), session("local-2")
    tag = scratch.session_tag(s1, str(a))
    assert len(tag) == 12 and int(tag, 16) >= 0
    # stable within a session, also through a symlinked path to the input
    assert scratch.session_tag(s1, str(a)) == tag
    assert scratch.session_tag(s1, str(tmp_path / "link_a")) == tag
    # distinct across inputs and across sessions
    assert scratch.session_tag(s1, str(b)) != tag
    assert scratch.session_tag(s2, str(a)) != tag


def test_stream_staging_removed_at_interpreter_exit(tmp_path, sf_dir):
    """read_stream stages its file-source dirs (symlink and two-part
    split) under the session's scratch dir: once the process exits,
    nothing it staged is left in the tempdir."""
    code = """
import glob, json, os, tempfile
from flink_gmall_spark.session import get_spark
from flink_gmall_spark.streaming.jobs import read_stream
spark = get_spark("stream-staging", cpus="1")
read_stream(spark, {sf!r}, "events")
read_stream(spark, {sf!r}, "events", split=True)
tmp = tempfile.gettempdir()
print(json.dumps(glob.glob(os.path.join(tmp, "fgs_*"))
                 + glob.glob(os.path.join(tmp, "fgs_scratch", "*", "*"))))
spark.stop()
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": repo}
    out = subprocess.run(
        [sys.executable, "-c", code.format(sf=sf_dir)],
        env=env, capture_output=True, text=True, check=True,
    )
    staged = json.loads(out.stdout.strip().splitlines()[-1])
    assert staged  # the child did stage something
    left = [str(p) for p in tmp_path.glob("fgs_*") if p.name != "fgs_scratch"]
    left += [str(p) for p in tmp_path.glob("fgs_scratch/*/*")]
    assert not left, left
