"""Plan fingerprints (tools/plan_fingerprint.py) must not depend on what
the session ran before, and the normalizer must drop only run-specific
tokens: ids, uuids, scratch tags and paths, never a literal."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tools.plan_fingerprint import REPO, committed, digest

HISTORY_PROBES = ("curation_decontaminate", "dws_visitor_stats", "stream_visitor_stats")


def test_fingerprint_independent_of_session_history():
    """In a fresh interpreter: fingerprint the probes with nothing run
    before them, run other queries, fingerprint again. The distinct-
    aggregate Expand of curation_decontaminate reorders its groups
    after other queries ran; the normalizer must canonicalize that."""
    code = f"""
import json
from tools.plan_fingerprint import SF_DIR, fingerprint
from flink_gmall_spark.registry import registry
from flink_gmall_spark.session import get_spark
spark = get_spark("fingerprint-history", cpus="4")
reg = registry()
probes = {HISTORY_PROBES!r}
first = {{n: fingerprint(reg[n].fn, spark, SF_DIR)[0] for n in probes}}
for n in ("dedup_minhash_lsh", "ads_top_brands", "dwm_order_wide", "text_repetition"):
    reg[n].fn(spark, SF_DIR).count()
again = {{n: fingerprint(reg[n].fn, spark, SF_DIR)[0] for n in probes}}
spark.stop()
print(json.dumps([first, again]))
"""
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    )
    first, again = json.loads(out.stdout.strip().splitlines()[-1])
    assert first == again
    want = committed()
    assert first == {n: want[n][0] for n in HISTORY_PROBES}


PLAN = """Aggregate [w#{a}], [w#{a}, count(1) AS n#{b}L]
+- Project [window(ts#{c}, {width}, {width}, 0) AS w#{a}, lambda x_{d}#{e}]
   +- StreamingRelation DataSource(org.apache.spark.sql.classic.SparkSession@{h},parquet,Map(path -> {tmp}/fgs_scratch/stream/{tag}/events)), [ts#{c}]
      +- Relation mem_{tag} {uuid} fgs_bkt_orders_{tag}"""


def test_normalizer_drops_run_tokens_keeps_literals():
    import tempfile

    tmp = tempfile.gettempdir()

    def plan(width=600000000, **kw):
        ids = dict(a=11, b=12, c=13, d=14, e=15, h="1a2b3c", tag="0123456789ab",
                   uuid="0f8fad5b-d9cb-469f-a165-70867728950e", tmp=tmp)
        return PLAN.format(width=width, **{**ids, **kw})

    base = digest([plan()])
    other = plan(a=901, b=902, c=903, d=904, e=905, h="ffee01", tag="ba9876543210",
                 uuid="7c9e6679-7425-40de-944b-e07fc1f90ae7", tmp=tmp)
    assert digest([other]) == base
    assert digest([plan(width=300000000)]) != base  # a window length is plan
    assert digest([plan(), plan()]) != base  # so is what else ran


DISTINCT = """Aggregate [doc_id#1], [doc_id#1, count(s#2) FILTER (WHERE (gid#9 = {gs})) AS overlap#5L, count(hold#3) FILTER (WHERE (gid#9 = {gh})) AS hold_docs#6L]
+- Aggregate [doc_id#1, {pair}, gid#9], [doc_id#1, {pair}, gid#9]
   +- Expand [{rows}], [doc_id#1, {pair}, gid#9]"""


def test_normalizer_canonicalizes_distinct_group_order():
    """The two group orders Spark's distinct-aggregate rewrite produces
    for one query normalize to one plan; swapping which count reads
    which group does not."""
    s_first = DISTINCT.format(
        gs=1, gh=2, pair="s#2, hold#3",
        rows="[doc_id#1, s#2, null, 1], [doc_id#1, null, hold#3, 2]")
    h_first = DISTINCT.format(
        gs=2, gh=1, pair="hold#3, s#2",
        rows="[doc_id#1, hold#3, null, 1], [doc_id#1, null, s#2, 2]")
    swapped = DISTINCT.format(
        gs=2, gh=1, pair="s#2, hold#3",
        rows="[doc_id#1, s#2, null, 1], [doc_id#1, null, hold#3, 2]")
    assert digest([s_first]) == digest([h_first])
    assert digest([s_first]) != digest([swapped])
