"""Session-scoped scratch directories with bounded lifetime.

Every materialization the engine stages in the system tempdir
(warehouse runs, 2PC dim-sink epochs, bucketed tables, compaction
stores) allocates through :func:`scratch_dir`, which gives three
guarantees no ad-hoc ``tempfile.gettempdir()`` join provides:

1. **Own cleanup** — every dir this process creates is removed at
   interpreter exit (atexit), so 10 repeated sessions leave nothing.
2. **Crash hygiene** — siblings from dead sessions (kill -9, OOM) are
   swept once per process when older than ``STALE_SECONDS``; live
   concurrent sessions (driver + CI) are far younger than that, so
   they never sweep each other.
3. **Namespacing** — everything lives under one ``fgs_scratch`` root,
   so an operator can never collide with a foreign tempdir user.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time

ROOT = os.path.join(tempfile.gettempdir(), "fgs_scratch")
#: must exceed any plausible session length: a concurrent session's dir
#: is only eligible for sweeping when it predates the whole round.
STALE_SECONDS = 12 * 3600

_created: set[str] = set()
_swept = False


def _cleanup() -> None:  # pragma: no cover - exercised via subprocess test
    for p in list(_created):
        shutil.rmtree(p, ignore_errors=True)


atexit.register(_cleanup)


def _sweep_stale() -> None:
    """Once per process: drop siblings no live session can still own."""
    global _swept
    if _swept:
        return
    _swept = True
    now = time.time()
    try:
        kinds = os.listdir(ROOT)
    except OSError:
        return
    for kind in kinds:
        kdir = os.path.join(ROOT, kind)
        try:
            tags = os.listdir(kdir)
        except OSError:
            continue
        for tag in tags:
            d = os.path.join(kdir, tag)
            try:
                stale = now - os.path.getmtime(d) > STALE_SECONDS
            except OSError:
                continue
            if stale and d not in _created:
                shutil.rmtree(d, ignore_errors=True)


def scratch_dir(kind: str, tag: str) -> str:
    """A created-on-demand scratch dir ``<tmp>/fgs_scratch/<kind>/<tag>``,
    registered for end-of-process removal. Reusing the same (kind, tag)
    returns the same path — callers key the tag by :func:`session_tag`
    when they want per-session reuse, or a uuid when they want
    isolation."""
    d = os.path.join(ROOT, kind, tag)
    os.makedirs(d, exist_ok=True)
    _created.add(d)
    _sweep_stale()
    return d


def session_tag(spark, sf_dir: str) -> str:
    """12 hex characters keyed by (realpath of ``sf_dir``, Spark
    application id): stable for repeat calls in one session on one input,
    distinct across inputs and across concurrent sessions (driver + CI),
    so per-session scratch reuse never reads another session's files."""
    key = f"{os.path.realpath(sf_dir)}|{spark.sparkContext.applicationId}"
    return hashlib.md5(key.encode()).hexdigest()[:12]
