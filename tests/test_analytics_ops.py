"""Hand-computed semantics tests for the analytics operators (cohort,
transitions, PageRank, timed funnel) on crafted fixtures — independent of
oracle agreement, so a bug shared by both engines' SQL still fails."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import types as T


def _write_events(spark, tmp_path, rows):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    d = str(tmp_path / "ev")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    return d


def _write_lineitem(spark, tmp_path, pairs):
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
        ]
    )
    d = str(tmp_path / "li")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(pairs, schema).write.mode("overwrite").parquet(
        os.path.join(d, "lineitem.parquet")
    )
    return d


def test_event_transitions_hand_sequence(spark, tmp_path):
    """user 1: view -> click -> view gives exactly the two ordered steps;
    user 2's single event contributes nothing."""
    from flink_gmall_spark.plans import ads

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 1, "view", 1.0, "{}"),
        (4, t0, 2, "purchase", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {
        (r.from_type, r.to_type): (r.transitions, r.users)
        for r in ads.event_transitions(spark, d).collect()
    }
    assert got == {("view", "click"): (1, 1), ("click", "view"): (1, 1)}


def test_cohort_retention_hand_offsets(spark, tmp_path):
    """user 1 first active Jan 1, again Jan 3 -> cohort 2024-01-01 cells
    offset 0 and 2; user 2 first active Jan 2 -> its own cohort."""
    from flink_gmall_spark.plans import ads

    def ev(i, day, user):
        return (i, dt.datetime(2024, 1, day, 12, 0, 0), user, "view", 1.0, "{}")

    d = _write_events(
        spark, tmp_path, [ev(1, 1, 1), ev(2, 3, 1), ev(3, 3, 1), ev(4, 2, 2)]
    )
    got = {
        (r.cohort_day, r.day_offset): r.users
        for r in ads.cohort_retention(spark, d).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def test_pagerank_hand_path_graph(spark, tmp_path):
    """Path graph 1-2-3 (each edge supported by two orders): after three
    integer-exact rounds the hand-computed masses are part2 = 1_741_625
    and part1 = part3 = 629_187 (hub first, tie broken by part id)."""
    from flink_gmall_spark.plans import ads

    pairs = [
        (1, 1), (1, 2), (2, 1), (2, 2),  # edge 1-2 in orders 1, 2
        (3, 2), (3, 3), (4, 2), (4, 3),  # edge 2-3 in orders 3, 4
    ]
    d = _write_lineitem(spark, tmp_path, pairs)
    got = [(r.part, r.pr_x1e6) for r in ads.part_pagerank(spark, d).collect()]
    assert got == [(2, 1_741_625), (1, 629_187), (3, 629_187)]


def test_timed_funnel_window_boundary(spark, tmp_path):
    """A purchase exactly AT the 1h boundary converts; one second past it
    does not; a purchase BEFORE the first view never counts."""
    from flink_gmall_spark.plans import ads

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    H = dt.timedelta(seconds=ads.TIMED_FUNNEL_WINDOW_S)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + H, 1, "purchase", 1.0, "{}"),  # at boundary: converts
        (3, t0, 2, "view", 1.0, "{}"),
        (4, t0 + H + dt.timedelta(seconds=1), 2, "purchase", 1.0, "{}"),  # late
        (5, t0, 3, "purchase", 1.0, "{}"),  # before any view
        (6, t0 + dt.timedelta(minutes=1), 3, "view", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = ads.timed_funnel(spark, d).collect()[0]
    assert got["viewed"] == 3 and got["converted"] == 1
    # HALF_UP(100 * 1/3) = 33
    assert got["conv_rate_x100"] == 33


def _write_orders(spark, tmp_path, rows):
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    d = str(tmp_path / "ord")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, "orders.parquet")
    )
    return d


def test_association_rules_hand_counts(spark, tmp_path):
    """Baskets: {1,2} x3, {1} x1. li-distinct: ict(1)=4, ict(2)=3,
    n_ord=4, pair(1->2)=3 -> confidence = 3000//4 = 750; lift =
    1000*3*4 // (4*3) = 1000. Reverse direction 2->1: confidence
    3000//3 = 1000, same lift."""
    from flink_gmall_spark.plans import ads

    pairs = []
    for o in (1, 2, 3):
        pairs += [(o, 1), (o, 2)]
    pairs += [(4, 1)]
    d = _write_lineitem(spark, tmp_path, pairs)
    got = {
        (r.ante, r.cons): (r.pair_ct, r.confidence_x1000, r.lift_x1000)
        for r in ads.association_rules(spark, d).collect()
    }
    assert got == {(1, 2): (3, 750, 1000), (2, 1): (3, 1000, 1000)}


def test_rfm_segments_hand_quartiles(spark, tmp_path):
    """Four customers engineered so each is alone in its quartile on
    every axis: cust 1 most recent/frequent/big spender -> '1-1-1'
    (ntile 1 = best rank on each ordering); cust 4 the opposite ->
    '4-4-4'."""
    from flink_gmall_spark.plans import ads

    rows = []
    oid = 0
    for cust, (days_ago, n_orders, price) in {
        1: (0, 4, 400.0),
        2: (10, 3, 300.0),
        3: (20, 2, 200.0),
        4: (30, 1, 100.0),
    }.items():
        for _ in range(n_orders):
            oid += 1
            rows.append(
                (oid, cust, "F", price,
                 dt.datetime(2024, 2, 1) - dt.timedelta(days=days_ago), "1-URGENT")
            )
    d = _write_orders(spark, tmp_path, rows)
    got = {r.segment: (r.customers, r.sample_cust)
           for r in ads.rfm_segments(spark, d).collect()}
    assert got == {
        "1-1-1": (1, 1), "2-2-2": (1, 2), "3-3-3": (1, 3), "4-4-4": (1, 4)
    }


def test_user_activity_similarity_identical_series(spark, tmp_path):
    """Two users with identical hourly activity have squared distance 0
    and must be each other's rank-1 neighbor; a third user with disjoint
    hours ranks behind."""
    from flink_gmall_spark.plans import ads

    rows = []
    eid = 0
    for user in (1, 2):  # identical: 2 events at 10h, 1 at 14h
        for h in (10, 10, 14):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1, h, 0, 0), user, "view", 1.0, "{}"))
    for h in (3, 3, 3):  # user 3: different hour entirely
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1, h, 0, 0), 3, "view", 1.0, "{}"))
    d = _write_events(spark, tmp_path, rows)
    got = {(r.query_id, r["rank"]): (r.neighbor_id, r.d2)
           for r in ads.user_activity_similarity(spark, d).collect()}
    assert got[(1, 1)] == (2, 0)
    assert got[(2, 1)] == (1, 0)
    assert got[(3, 1)][1] > 0  # nobody shares user 3's profile


def test_rfm_segments_approx_hand_thresholds(spark, tmp_path):
    """Same 4-customer fixture as the ntile test, histogram-quantile
    semantics computed by hand: with n=4 and every customer alone in its
    quartile, thresholds are the three lowest values per metric, so the
    buckets separate perfectly — cust 1 (most recent, most frequent,
    biggest spender) lands '4-4-4' (higher is better in this twin) and
    cust 4 lands '1-1-1'."""
    from flink_gmall_spark.plans import ads

    rows = []
    oid = 0
    for cust, (days_ago, n_orders, price) in {
        1: (0, 4, 400.0),
        2: (10, 3, 300.0),
        3: (20, 2, 200.0),
        4: (30, 1, 100.0),
    }.items():
        for _ in range(n_orders):
            oid += 1
            rows.append(
                (oid, cust, "F", price,
                 dt.datetime(2024, 2, 1) - dt.timedelta(days=days_ago), "1-URGENT")
            )
    d = _write_orders(spark, tmp_path, rows)
    got = {r.segment: (r.customers, r.sample_cust)
           for r in ads.rfm_segments_approx(spark, d).collect()}
    assert got == {
        "4-4-4": (1, 1), "3-3-3": (1, 2), "2-2-2": (1, 3), "1-1-1": (1, 4)
    }


def test_pagerank_deep_hand_trajectory(spark, tmp_path):
    """Path graph 1-2-3: the 10-round persisted loop must land exactly on
    the integer trajectory of the recurrence computed here in plain
    Python — any drift in the persist/unpersist plumbing (stale cache,
    skipped round) shows up as a mass mismatch."""
    from flink_gmall_spark.plans import ads

    pairs = [
        (1, 1), (1, 2), (2, 1), (2, 2),  # edge 1-2 in orders 1, 2
        (3, 2), (3, 3), (4, 2), (4, 3),  # edge 2-3 in orders 3, 4
    ]
    d = _write_lineitem(spark, tmp_path, pairs)

    deg = {1: 1, 2: 2, 3: 1}
    inflow_of = {1: [2], 2: [1, 3], 3: [2]}  # sources feeding each node
    pr = {p: ads.PR_SCALE for p in deg}
    for _ in range(ads.PR_ROUNDS_DEEP):
        share = {p: pr[p] // deg[p] for p in deg}
        pr = {
            p: (ads.PR_SCALE * (ads.PR_DAMP_DEN - ads.PR_DAMP_NUM)) // ads.PR_DAMP_DEN
            + (ads.PR_DAMP_NUM * sum(share[s] for s in inflow_of[p])) // ads.PR_DAMP_DEN
            for p in deg
        }
    expected = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))

    got = [(r.part, r.pr_x1e6) for r in ads.part_pagerank_deep(spark, d).collect()]
    assert got == expected


def test_triangles_hand_graph(spark, tmp_path):
    """Triangle 1-2-3 (all three edges at support 2) plus a dangling edge
    3-4: exactly one triangle, so parts 1, 2, 3 each participate once and
    part 4 never appears."""
    from flink_gmall_spark.plans import ads

    pairs = []
    for o in (1, 2):  # orders carrying the full basket {1,2,3} twice
        pairs += [(o, 1), (o, 2), (o, 3)]
    for o in (3, 4):  # dangling edge 3-4
        pairs += [(o, 3), (o, 4)]
    d = _write_lineitem(spark, tmp_path, pairs)
    got = [(r.part, r.triangles) for r in ads.part_triangles(spark, d).collect()]
    assert got == [(1, 1), (2, 1), (3, 1)]


def test_pit_features_leakage_boundary(spark, tmp_path):
    """The as-of carry must expose features through day d-1 only: an
    order on the SAME day as the user's first event sees zeros; later
    orders accumulate strictly-prior counts; customers without telemetry
    get zero-features, not dropped rows."""
    from flink_gmall_spark.plans import ads

    ev = [
        (1, dt.datetime(2024, 1, 1, 9), 1, "view", 2.0, "{}"),
        (2, dt.datetime(2024, 1, 2, 9), 1, "purchase", 10.5, "{}"),
    ]
    d = _write_events(spark, tmp_path, ev)
    orders = [
        (100, 1, "F", 50.0, dt.datetime(2024, 1, 1), "1-URGENT"),  # same day: zeros
        (101, 1, "F", 50.0, dt.datetime(2024, 1, 2), "1-URGENT"),  # sees day 1
        (102, 1, "F", 50.0, dt.datetime(2024, 1, 3), "1-URGENT"),  # sees days 1-2
        (103, 2, "F", 50.0, dt.datetime(2024, 1, 2), "1-URGENT"),  # no telemetry
    ]
    schema_dir = _write_orders(spark, tmp_path, orders)
    # events + orders live in different tmp dirs; merge into one
    import shutil
    shutil.copytree(f"{schema_dir}/orders.parquet", f"{d}/orders.parquet")
    got = {r.o_orderkey: (r.views_before, r.purchases_before, r.value_cents_before)
           for r in ads.pit_feature_join(spark, d).collect()}
    assert got == {
        100: (0, 0, 0),
        101: (1, 0, 200),
        102: (1, 1, 1250),
        103: (0, 0, 0),
    }


def test_last_touch_attribution_hand_cases(spark, tmp_path):
    """Purchase within the window credits the latest prior non-purchase
    touchpoint; outside the window (or with no prior touch) it is
    'direct'; a prior PURCHASE is never a touchpoint."""
    from flink_gmall_spark.plans import ads

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    W = dt.timedelta(seconds=ads.ATTR_WINDOW_S)
    rows = [
        # user 1: view then click, purchase 10min later -> credited to click
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=15), 1, "purchase", 10.0, "{}"),
        # user 2: view, then purchase 1s past the window -> direct
        (4, t0, 2, "view", 1.0, "{}"),
        (5, t0 + W + dt.timedelta(seconds=1), 2, "purchase", 20.0, "{}"),
        # user 3: purchase then purchase: second one must NOT credit the first
        (6, t0, 3, "purchase", 5.0, "{}"),
        (7, t0 + dt.timedelta(minutes=1), 3, "purchase", 7.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {r.channel: (r.conversions, r.revenue_cents)
           for r in ads.last_touch_attribution(spark, d).collect()}
    assert got == {"click": (1, 1000), "direct": (3, 3200)}


def test_top_event_paths_hand_sequence(spark, tmp_path):
    """view->click->buy appears twice for user 1 (overlapping windows
    share interior steps); user 2's 2-event sequence yields no trigram."""
    from flink_gmall_spark.plans import ads

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    seq = ["view", "click", "buy", "click", "buy"]
    rows = [
        (i + 1, t0 + dt.timedelta(minutes=i), 1, et, 1.0, "{}")
        for i, et in enumerate(seq)
    ]
    rows += [
        (10, t0, 2, "view", 1.0, "{}"),
        (11, t0 + dt.timedelta(minutes=1), 2, "click", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {(r.step1, r.step2, r.step3): r.ct
           for r in ads.top_event_paths(spark, d).collect()}
    assert got == {
        ("view", "click", "buy"): 1,
        ("click", "buy", "click"): 1,
        ("buy", "click", "buy"): 1,
    }


def test_negative_samples_hand_determinism(spark, tmp_path):
    """Negatives are the seeded-hash candidates minus the user's own
    positives — recomputed here in plain Python, including the rank
    mapping over a part table with a GAP (ids 0,1,2,5)."""
    import hashlib

    from flink_gmall_spark.plans import ads

    li = [(1, 0)]  # user (via order 1) bought part 0
    d = _write_lineitem(spark, tmp_path, li)
    _write_orders_into(spark, d, [(1, 7, "F", 10.0,
                                   dt.datetime(2024, 1, 1), "1-URGENT")])
    parts = [0, 1, 2, 5]
    _write_parts_into(spark, d, parts)

    expected = set()
    for k in range(1, ads.NEG_K + 1):
        h = hashlib.md5(f"{ads.NEG_SEED}7:0:{k}".encode()).hexdigest()[:12]
        rnk = int(h, 16) % len(parts)
        neg = sorted(parts)[rnk]
        if neg != 0:  # the user's one positive
            expected.add((7, 0, k, neg))
    got = {(r.user_id, r.part, r.k, r.neg_part)
           for r in ads.negative_samples(spark, d).collect()}
    assert got == expected and expected  # non-vacuous


def _write_orders_into(spark, d, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, "orders.parquet")
    )


def _write_parts_into(spark, d, ids):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    rows = [(i, f"part{i}", "B", "T", 1, 1.0) for i in ids]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, "part.parquet")
    )


def test_sparse_topk_hand_scores(spark, tmp_path):
    """Docs 1-2 share exactly one 3-gram shingle ('the zebra runs',
    df=2 -> weight 1e6//4); every other shingle has df=1 and is pruned,
    and a common shingle planted in ALL docs above MAX_DF would be
    pruned too (covered at the df=1 edge here); doc 3 pairs with
    nobody."""
    import os

    from pyspark.sql import types as T

    from flink_gmall_spark.operators import textstats

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    rows = [
        (1, "the zebra runs fast today", "en", "s", 25),
        (2, "the zebra runs slowly now", "en", "s", 25),
        (3, "a unique sentence here ok", "en", "s", 25),
    ]
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "documents.parquet")
    )
    got = {(r.doc_a, r.doc_b): r.score
           for r in textstats.sparse_topk_pairs(spark, d).collect()}
    assert got == {(1, 2): textstats.SPARSE_SCALE // 4}


def test_bfs_hand_path_graph(spark, tmp_path):
    """Path graph 1-2-3-4-5-6 (each edge support 2). Interior nodes 2-5
    all have degree 2, so the max-degree tie breaks to seed = part 2:
    hops 0..3 reach parts 2,1,3,4,5; part 6 (4 hops from the seed)
    stays unreachable at BFS_HOPS=3."""
    from flink_gmall_spark.plans import ads

    pairs = []
    o = 0
    for u, v in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]:
        for _ in range(2):
            o += 1
            pairs += [(o, u), (o, v)]
    d = _write_lineitem(spark, tmp_path, pairs)
    got = {r.part: r.hops for r in ads.part_bfs_distances(spark, d).collect()}
    assert got == {2: 0, 1: 1, 3: 1, 4: 2, 5: 3}


def test_session_transitions_respects_gap(spark, tmp_path):
    """view->click inside the session counts; click->view across a
    31-minute gap must NOT (the unscoped matrix would count it)."""
    from flink_gmall_spark.plans import ads

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=5 + 31), 1, "view", 1.0, "{}"),  # new session
        (4, t0 + dt.timedelta(minutes=5 + 32), 1, "click", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {(r.from_type, r.to_type): r.transitions
           for r in ads.session_transitions(spark, d).collect()}
    assert got == {("view", "click"): 2}  # the cross-gap click->view is absent
    unscoped = {(r.from_type, r.to_type): r.transitions
                for r in ads.event_transitions(spark, d).collect()}
    assert unscoped[("click", "view")] == 1  # proves the scoping changed semantics


def test_boilerplate_lines_hand_threshold(spark, tmp_path):
    """A chunk repeated in 2 of 4 docs of a source (50% >= 40%) is
    boilerplate; a chunk in 1 of 4 (25%) is not; per-doc repetition
    counts once (array_distinct before the explode)."""
    import os

    from pyspark.sql import types as T

    from flink_gmall_spark.operators import curation

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    boiler = "all rights reserved"  # one 3-token chunk
    rows = [
        (1, f"{boiler} {boiler}", "en", "s1", 10),  # repeated IN-doc: counts once
        (2, f"{boiler} unique words here", "en", "s1", 10),
        (3, "totally different text now", "en", "s1", 10),
        (4, "another unrelated document body", "en", "s1", 10),
    ]
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "documents.parquet")
    )
    got = {(r.source, r.chunk): (r.doc_ct, r.n_docs)
           for r in curation.boilerplate_lines(spark, d).collect()}
    assert got == {("s1", boiler): (2, 4)}


def test_ldiversity_suppresses_and_reconciles(spark, sf_dir):
    """At sf0.001 (~1.2 customers per (nation, segment) cell) most cells
    fail n>=K or l>=L and must fold into ONE __suppressed__ bucket whose
    totals reconcile exactly with the unsuppressed table — nothing
    silently disappears, and no exported cell may violate either rule."""
    from pyspark.sql import functions as F

    from flink_gmall_spark.plans import ads
    from flink_gmall_spark.sources import load

    out = ads.ldiversity_export(spark, sf_dir).toPandas()
    supp = out[out["segment"] == "__suppressed__"]
    ok = out[out["segment"] != "__suppressed__"]
    assert len(supp) == 1, "tiny cells must exist and fold at this sf"
    assert (ok["n_customers"] >= ads.KANON_K).all()
    assert (ok["l_distinct"] >= ads.LDIV_L).all()
    totals = (
        load(spark, sf_dir, "customer")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)"
            ).alias("cents"),
        )
        .collect()[0]
    )
    assert int(out["n_customers"].sum()) == totals["n"]
    assert int(out["acctbal_cents"].sum()) == totals["cents"]


def test_hard_negatives_excludes_near_dups(spark):
    """Mined hard negatives must all sit strictly below the near-dup
    ceiling, the exclusion counter must prove the ceiling actually bit,
    and the count must equal the brute-force number of above-ceiling
    candidates. Runs at sf0.01 (the driver's correctness scale): the
    sf0.001 slice has no query-side pair above the 0.40 ceiling
    (measured max 0.3918), so the exclusion branch is unreachable there."""
    from pyspark.sql import functions as F

    from flink_gmall_spark.operators import ann
    from flink_gmall_spark.sources import load

    sf_dir = "/root/testdata/sf0.01"
    out = ann.hard_negatives(spark, sf_dir).toPandas()
    assert (out["sim"] < ann.COSINE_THRESHOLD).all()
    assert out.groupby("query_id")["rank"].max().le(ann.TOPK).all()
    assert out["n_excluded"].max() > 0, "ceiling never bit — fixture changed?"
    # cross-check one query's exclusion count against the raw pair scan
    qid = int(out.loc[out["n_excluded"].idxmax(), "query_id"])
    want = int(out.loc[out["query_id"] == qid, "n_excluded"].iloc[0])
    emb = ann._with_norm(load(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") == qid).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    got = (
        emb.filter(F.col("vec_id") != qid)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cos",
            F.expr(ann._DOT.format(a="qv", b="v")) / (F.col("qn") * F.col("nrm")),
        )
        .filter(F.col("cos") >= ann.COSINE_THRESHOLD)
        .count()
    )
    assert got == want


def test_hard_negatives_ivf_sampled_exact_side(spark):
    """VERDICT r9 ask #4: the sampled-audit knob. At a non-default
    6-hex sample threshold the mined negatives are IDENTICAL to the
    full-audit run (the sample only bounds the brute-force ledger side),
    audited queries keep their exact hits_exact, unsampled queries
    report the -1 "not audited" sentinel, and the audited set is exactly
    the md5-prefix-threshold subset — deterministic across runs."""
    import hashlib

    from flink_gmall_spark.operators import ann

    sf_dir = "/root/testdata/sf0.001"
    hexthr = "800000"  # ~0.5 sample rate over query ids
    full = ann.hard_negatives_ivf(spark, sf_dir).toPandas()
    samp = ann.hard_negatives_ivf(spark, sf_dir, exact_sample_hex=hexthr).toPandas()

    def audited(qid: int) -> bool:
        h = hashlib.md5(f"{ann.HN_EXACT_SAMPLE_SEED}{qid}".encode()).hexdigest()[:6]
        return h < hexthr

    qids = sorted(full["query_id"].unique())
    in_sample = {q for q in qids if audited(int(q))}
    assert 0 < len(in_sample) < len(qids), "pick a threshold that splits the fixture"
    # mined rows identical modulo the ledger column
    cols = ["query_id", "neighbor_id", "rank", "sim", "n_excluded"]
    key = ["query_id", "rank"]
    assert (
        full.sort_values(key)[cols].reset_index(drop=True).equals(
            samp.sort_values(key)[cols].reset_index(drop=True)
        )
    )
    by_q_full = full.groupby("query_id")["hits_exact"].first()
    by_q_samp = samp.groupby("query_id")["hits_exact"].first()
    for q in qids:
        if q in in_sample:
            assert by_q_samp[q] == by_q_full[q]
        else:
            assert by_q_samp[q] == -1


def test_ivf_range_search_sampled_denominator(spark):
    """VERDICT r10 ask #2: the sampled range-recall denominator at a
    NON-DEFAULT threshold. The served in-radius rows are identical to
    the full-audit run (the sample only bounds the brute-force
    denominator), audited queries keep their exact n_exact, unsampled
    queries report the -1 "not audited" sentinel, whole-query MISS
    sentinel rows survive only for audited queries, and the audited set
    is exactly the md5-prefix-threshold subset."""
    import hashlib

    from flink_gmall_spark.operators import ann

    sf_dir = "/root/testdata/sf0.001"
    hexthr = "400000"  # ~0.25 sample rate — NOT the registered 800000
    full = ann.ivf_range_search(spark, sf_dir).toPandas()
    samp = ann.ivf_range_search(
        spark, sf_dir, exact_sample_hex=hexthr
    ).toPandas()

    def audited(qid: int) -> bool:
        h = hashlib.md5(
            f"{ann.RANGE_EXACT_SAMPLE_SEED}{qid}".encode()
        ).hexdigest()[:6]
        return h < hexthr

    served_full = full[full["neighbor_id"] != ann.RANGE_MISS_NEIGHBOR]
    served_samp = samp[samp["neighbor_id"] != ann.RANGE_MISS_NEIGHBOR]
    qids = sorted(int(q) for q in full["query_id"].unique())
    in_sample = {q for q in qids if audited(q)}
    assert 0 < len(in_sample) < len(qids), "pick a threshold that splits the fixture"
    cols = ["query_id", "neighbor_id", "rank", "sim"]
    key = ["query_id", "rank"]
    assert (
        served_full.sort_values(key)[cols].reset_index(drop=True).equals(
            served_samp.sort_values(key)[cols].reset_index(drop=True)
        )
    )
    nf = served_full.groupby("query_id")["n_exact"].first()
    ns = served_samp.groupby("query_id")["n_exact"].first()
    for q in nf.index:
        if int(q) in in_sample:
            assert ns[q] == nf[q]
        else:
            assert ns[q] == -1
    miss_full = set(
        full.loc[full["neighbor_id"] == ann.RANGE_MISS_NEIGHBOR, "query_id"]
    )
    miss_samp = set(
        samp.loc[samp["neighbor_id"] == ann.RANGE_MISS_NEIGHBOR, "query_id"]
    )
    assert miss_samp == {q for q in miss_full if int(q) in in_sample}


def test_curriculum_and_preference_finish_under_total_tie_skew(spark):
    """VERDICT r10 ask #4 (skew guard), Spark side: the DEGENERATE
    corpus — every doc the same score — puts the whole corpus in ONE
    in-score rank-window partition; the ledgers must still equal the
    textbook forms (correctness is skew-proof; the runtime bound and
    the composite-key widening threshold are recorded in SCALE.md)."""
    from flink_gmall_spark.operators.curation import (
        CURRICULUM_STAGES,
        curriculum_finish,
        preference_finish,
    )

    n = 1003  # indivisible by the stage count: big AND small stages
    base = spark.createDataFrame(
        [(i, 10 + (i % 7), 500) for i in range(n)],
        "doc_id long, n_tokens long, score long",
    )
    out = {r["stage"]: r for r in curriculum_finish(base).collect()}
    assert sorted(out) == list(range(1, CURRICULUM_STAGES + 1))
    pos = 0
    for stage in sorted(out):
        size = n // CURRICULUM_STAGES + (1 if stage <= n % CURRICULUM_STAGES else 0)
        seg = range(pos, pos + size)  # one score value: grank == doc_id rank
        pos += size
        assert out[stage]["n_docs"] == size
        assert out[stage]["n_tokens"] == sum(10 + (i % 7) for i in seg)
        assert out[stage]["min_score"] == 500
        assert out[stage]["max_score"] == 500
    # preference side: one source, all-tied scores — every pair's gap is
    # 0, so the whole mine must come back empty (not crash, not emit)
    pbase = spark.createDataFrame(
        [(i, "s", 500) for i in range(50)],
        "doc_id long, source string, score long",
    )
    assert preference_finish(pbase).count() == 0


def test_greedy_token_count_longest_match_and_fallback():
    """The serve-side matcher's contract: longest vocab token wins at
    each position, and a position no multi-char token covers advances by
    exactly one (byte fallback) — the same rule the DuckDB oracle's
    COALESCE(max(len(tok)), 1) stage encodes."""
    from flink_gmall_spark.operators.curation import greedy_token_count

    vset = {"ab", "abc", "cd", "a", "b", "c", "d"}
    # longest-first: 'abc' (3) beats 'ab' (2)
    assert greedy_token_count("abc", vset, 3) == 1
    # greedy grabs 'abc' then falls to 'd' — not the 2-token 'ab'+'cd'
    assert greedy_token_count("abcd", vset, 3) == 2
    # chars absent from the vocab entirely still advance (byte fallback)
    assert greedy_token_count("zz", vset, 3) == 2
    # greedy can be LONGER than optimal: vocab {'aa','ab'} on 'aab'
    assert greedy_token_count("aab", {"aa", "ab"}, 2) == 2  # 'aa' + fallback 'b'
    assert greedy_token_count("", vset, 3) == 0


def test_bpe_greedy_drift_ledger_reconciles(spark, sf_dir):
    """The one-row ledger must reconcile exactly: the three disagreement
    buckets partition the dictionary, both token totals are positive,
    and greedy can never use FEWER tokens than there are characters /
    max_tok nor more than len(w) — checked via the dictionary bounds."""
    from flink_gmall_spark.operators import curation

    out = curation.bpe_greedy_drift(spark, sf_dir).toPandas().iloc[0]
    assert out["n_equal"] + out["n_greedy_shorter"] + out["n_greedy_longer"] == out["n_words"]
    assert out["n_words"] > 0 and out["bpe_dict_tokens"] > 0
    assert out["greedy_dict_tokens"] > 0
    # corpus totals are freq-weighted sums over the same words: each is
    # >= its dictionary total (every freq >= 1)
    assert out["bpe_corpus_tokens"] >= out["bpe_dict_tokens"]
    assert out["greedy_corpus_tokens"] >= out["greedy_dict_tokens"]


def test_containment_prefix_finds_asymmetric_pair_jaccard_misses(spark, tmp_path):
    """The case the containment operator exists for: doc 1 is pasted
    verbatim inside the much longer doc 2, so containment is 1.0 while
    Jaccard (|A∩B| / |A∪B|) sits far below JACCARD_THRESHOLD — the
    Jaccard family would never pair them. The prefix filter is exact,
    so the pair must surface with the exact score, oriented smaller set
    first; the unrelated doc 3 must pair with nothing."""
    import os

    from flink_gmall_spark.operators import dedup

    inner = "alpha beta gamma delta epsilon zeta"          # 4 shingles
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))  # 58 shingles
    rows = [
        (1, inner, "en", "s", len(inner)),
        (2, inner + " " + filler, "en", "s", 1),
        (3, "totally different content with no overlap at all", "en", "s", 1),
    ]
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        (r.contained_doc, r.container_doc): r.containment
        for r in dedup.containment_prefix_pairs(spark, d).collect()
    }
    assert got == {(1, 2): 1.0}, got
    # the same corpus through the Jaccard verifier: 4 common shingles
    # over a ~64-shingle union is far below threshold — no pair
    assert dedup.ngram_jaccard_pairs(spark, d).count() == 0


def test_containment_prefix_boundary_n_multiple_of_denominator(spark, tmp_path):
    """Regression for the float prefix-length bug: with t=0.8 and n=5
    capped shingles, floor((1.0-0.8)*n)+1 evaluates to 1 (1.0-0.8 is
    0.19999999999999996 in doubles) while the exact rule
    n - ceil(t*n) + 1 gives 2. Construct the adversarial pair: doc A
    with exactly 5 shingles; doc B containing exactly the 4 that are
    NOT A's md5-first shingle, so containment = 4/5 = t exactly and the
    pair is reachable ONLY through A's second probe key. The buggy
    1-key prefix misses it; the exact filter must emit it."""
    import hashlib
    import os

    from flink_gmall_spark.operators import dedup

    toks = [f"bnd{j}" for j in range(7)]  # 7 tokens -> 5 shingles
    sh = [" ".join(toks[j : j + 3]) for j in range(5)]
    i = min(range(5), key=lambda j: hashlib.md5(sh[j].encode()).hexdigest())
    # B holds every shingle of A except sh[i]: two spans split around it
    # (a unique separator token keeps the cross-boundary junk shingles
    # disjoint from A's), plus the junk makes |B| > |A| for orientation.
    b_text = " ".join(toks[: i + 2]) + " SEPTOK " + " ".join(toks[i + 1 :])
    rows = [
        (1, " ".join(toks), "en", "s", 1),
        (2, b_text, "en", "s", 1),
    ]
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        (r.contained_doc, r.container_doc): r.containment
        for r in dedup.containment_prefix_pairs(spark, d).collect()
    }
    assert got == {(1, 2): 0.8}, got


def test_containment_prefix_matches_bruteforce_random_corpus(spark, tmp_path):
    """Prefix filtering claims EXACT recall (the n - ceil(t*n) + 1 rule) —
    pin it against a brute-force reference on a seeded random corpus
    built to stress the filter: shared vocab so shingle sets overlap
    partially, many docs just above/below the threshold boundary, and
    duplicated prefixes. The reference computes all-pairs containment
    over the SAME capped shingle sets in pandas."""
    import os
    import random

    from flink_gmall_spark.operators import dedup

    rng = random.Random(907)
    vocab = [f"tok{i}" for i in range(30)]
    rows = []
    for i in range(20):
        n = rng.randint(3, 40)
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        text = " ".join(toks)
        rows.append((i, text, "en", "s", len(text)))
    for i in range(20, 40):
        # derived docs: the base pasted into filler, with a random
        # fraction of tokens mutated — containment lands on BOTH sides
        # of the threshold, exercising the boundary
        base = rows[i - 20][1].split()
        mut = [
            (t if rng.random() > 0.15 else vocab[rng.randrange(len(vocab))])
            for t in base
        ]
        filler = [f"fill{i}_{j}" for j in range(rng.randint(0, 25))]
        text = " ".join(mut + filler)
        rows.append((i, text, "en", "s", len(text)))
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    # reference: capped distinct shingle sets (same K, same DF cap)
    sets: dict[int, set] = {}
    for i, text, *_ in rows:
        t = text.split()
        if len(t) >= dedup.SHINGLE_K:
            sets[i] = {
                " ".join(t[j : j + dedup.SHINGLE_K])
                for j in range(len(t) - dedup.SHINGLE_K + 1)
            }
    df_ct: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df_ct[sh] = df_ct.get(sh, 0) + 1
    sets = {
        i: {sh for sh in s if df_ct[sh] <= dedup.MAX_SHINGLE_DF}
        for i, s in sets.items()
    }
    sets = {i: s for i, s in sets.items() if s}
    want = {}
    for a in sets:
        for b in sets:
            if a == b:
                continue
            ka, kb = (len(sets[a]), a), (len(sets[b]), b)
            if ka >= kb:
                continue
            c = len(sets[a] & sets[b]) / len(sets[a])
            if c >= dedup.CONTAINMENT_THRESHOLD:
                want[(a, b)] = c

    got = {
        (r.contained_doc, r.container_doc): r.containment
        for r in dedup.containment_prefix_pairs(spark, d).collect()
    }
    assert got == want, (set(got) ^ set(want), got, want)
    assert want, "degenerate fixture: reference found no pairs"


def test_band_tuning_candidate_nesting_and_recall(spark, sf_dir):
    """The four banding configs share the same 16 chunk min-hashes, and
    a (b, r) sig is the concat of consecutive chunks — so equality of a
    wider sig implies equality of every narrower sig it contains:
    cand(2,8) ⊆ cand(4,4) ⊆ cand(8,2) ⊆ cand(16,1). The ledger's
    counts must be monotone in r, hits bounded by both candidates and
    truth, and the production (8,2) row must exist."""
    from flink_gmall_spark.operators import dedup

    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in dedup.minhash_band_tuning(spark, sf_dir).collect()
    }
    assert set(rows) == set(dedup.BAND_TUNING_CONFIGS)
    n_true = {r["n_true"] for r in rows.values()}
    assert len(n_true) == 1  # truth is config-independent
    for cfg, r in rows.items():
        assert 0 <= r["n_hit"] <= r["n_candidates"], (cfg, r)
        assert r["n_hit"] <= r["n_true"], (cfg, r)
    ordered = [rows[c] for c in ((16, 1), (8, 2), (4, 4), (2, 8))]
    for wide, narrow in zip(ordered, ordered[1:]):
        assert wide["n_candidates"] >= narrow["n_candidates"]
        assert wide["n_hit"] >= narrow["n_hit"]


def test_global_shuffle_shards_partition_and_totals(spark, sf_dir):
    """The shard ledger is a PARTITION of the corpus: doc totals add up,
    every shard key is one hex digit, and each shard's key range starts
    with its own digit (hash-range sharding, not modulo)."""
    from flink_gmall_spark.operators import curation
    from flink_gmall_spark.sources import load

    out = curation.global_shuffle_shards(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r["docs"] for r in out) == n_docs
    hexd = set("0123456789abcdef")
    for r in out:
        assert r["shard"] in hexd
        assert r["first_key"].startswith(r["shard"])
        assert r["last_key"].startswith(r["shard"])
        assert r["first_key"] <= r["last_key"]


def test_padding_waste_hand_computed(spark, tmp_path):
    """Hand-computed ledger on four known token counts: 3 (pads to 64),
    64 (exact bucket fit), 100 (bucket 128), 600 (truncated to 512,
    zero pad). Naive padding always prices against MAX_SEQ_LEN=512."""
    import os

    from flink_gmall_spark.operators import curation

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [
        (1, words(3), "en", "s", 1),
        (2, words(64), "en", "s", 1),
        (3, words(100), "en", "s", 1),
        (4, words(600), "en", "s", 1),
    ]
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        r["bucket_hi"]: (
            r["docs"], r["tokens"], r["pad_bucketed"], r["pad_naive"], r["trunc_tokens"]
        )
        for r in curation.padding_waste(spark, d).collect()
    }
    assert got == {
        64: (2, 67, 61, 957, 0),      # 3 and 64 tokens share bucket 64
        128: (1, 100, 28, 412, 0),
        512: (1, 512, 0, 0, 88),
    }, got


def test_filtered_ann_label_constraint_and_rank_shape(spark, sf_dir):
    """Every returned neighbor must carry the query's own label (the
    filter is a PRE-filter, so no off-label vector can leak into the
    top-k), ranks are contiguous from 1, and the IVF variant's hits are
    a subset of the brute-force filtered candidate universe with
    count <= the brute-force count per query."""
    from flink_gmall_spark.operators import ann
    from flink_gmall_spark.sources import load

    labels = {
        r["vec_id"]: r["label"]
        for r in load(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    bf = ann.ann_filtered_topk(spark, sf_dir).collect()
    assert bf, "fixture produced no filtered neighbors"
    by_q: dict[int, list] = {}
    for r in bf:
        assert labels[r["neighbor_id"]] == r["label"] == labels[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(ranks) + 1)), (q, ranks)
        n_eligible = rows[0]["n_eligible"]
        assert len(rows) == min(ann.TOPK, n_eligible), (q, len(rows), n_eligible)

    ivf = ann.ivf_filtered_topk(spark, sf_dir).collect()
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf}
    ivf_by_q: dict[int, int] = {}
    for r in ivf:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]]
        ivf_by_q[r["query_id"]] = ivf_by_q.get(r["query_id"], 0) + 1
    for q, n in ivf_by_q.items():
        assert n <= len(by_q.get(q, [])), (q, n)
    # rank-1 IVF hits that ARE in the brute-force top-k must carry the
    # same neighbor ordering prefix property: an IVF rank-1 inside bf's
    # top-k is bf's best PROBED eligible vector, so sim <= bf rank-1 sim
    bf_best = {r["query_id"]: r["sim"] for r in bf if r["rank"] == 1}
    for r in ivf:
        if r["rank"] == 1 and r["query_id"] in bf_best:
            assert r["sim"] <= bf_best[r["query_id"]] + 1e-9


def test_chunk_overlap_hand_computed(spark, tmp_path):
    """Hand-computed spec: 5 tokens -> one short tail chunk; 128 -> one
    exact-width chunk; 129 -> two chunks with the tail at stride 96;
    320 -> three full-width chunks, only the last a tail (192+128=320)."""
    import os

    from flink_gmall_spark.operators import curation

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [
        (1, words(5), "en", "s", 1),
        (2, words(128), "en", "s", 1),
        (3, words(129), "en", "s", 1),
        (4, words(320), "en", "s", 1),
    ]
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        (r["doc_id"], r["chunk_idx"]): (r["tok_start"], r["tok_len"], r["is_tail"])
        for r in curation.chunk_overlap_spec(spark, d).collect()
    }
    assert got == {
        (1, 0): (0, 5, True),
        (2, 0): (0, 128, True),
        (3, 0): (0, 128, False),
        (3, 1): (96, 33, True),
        (4, 0): (0, 128, False),
        (4, 1): (96, 128, False),
        (4, 2): (192, 128, True),
    }, got
    # coverage property: the tail chunk always reaches the document end
    for (doc, _), (start, ln, tail) in got.items():
        if tail:
            n = {1: 5, 2: 128, 3: 129, 4: 320}[doc]
            assert start + ln == n


def test_repeat_epochs_hand_computed(spark, tmp_path):
    """Source 'tiny' (10 tokens) hits the MAX_EPOCHS cap with a
    shortfall; source 'big' (60000 tokens > target) runs exactly one
    epoch with zero shortfall."""
    import os

    from flink_gmall_spark.operators import curation

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [(1, words(10), "en", "tiny", 1)]
    rows += [(2 + i, words(6000), "en", "big", 1) for i in range(10)]
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        r["source"]: (
            r["docs"], r["tokens"], r["epochs"], r["effective_tokens"], r["shortfall"]
        )
        for r in curation.repeat_epochs_ledger(spark, d).collect()
    }
    assert got == {
        "tiny": (1, 10, 4, 40, 49_960),
        "big": (10, 60_000, 1, 60_000, 0),
    }, got


def test_chunk_overlap_and_padding_conservation(spark, sf_dir):
    """Conservation properties on the real fixture: (a) every chunk
    stays inside its document and the per-doc specs tile the token
    range with stride steps (tok_start strictly increasing by STRIDE,
    tail reaches n_tok); (b) padding_waste's tokens + trunc_tokens
    equals the corpus's raw token mass."""
    from pyspark.sql import functions as F

    from flink_gmall_spark.functions.tokenize import tokens_col
    from flink_gmall_spark.operators import curation
    from flink_gmall_spark.sources import load

    spec = curation.chunk_overlap_spec(spark, sf_dir)
    bad = spec.filter(
        (F.col("tok_start") < 0)
        | (F.col("tok_len") <= 0)
        | (F.col("tok_len") > curation.CHUNK_TOKENS)
        | (F.col("tok_start") != F.col("chunk_idx") * curation.CHUNK_STRIDE)
    )
    assert bad.count() == 0
    # exactly one tail per doc, and non-tail chunks are full width
    per_doc = spec.groupBy("doc_id").agg(
        F.sum(F.when(F.col("is_tail"), 1).otherwise(0)).alias("tails"),
        F.sum(F.when(~F.col("is_tail") & (F.col("tok_len") != curation.CHUNK_TOKENS), 1)
              .otherwise(0)).alias("short_non_tails"),
    )
    assert per_doc.filter("tails != 1 OR short_non_tails != 0").count() == 0

    raw = (
        load(spark, sf_dir, "documents")
        .select(F.sum(F.size(tokens_col("text"))).alias("n"))
        .collect()[0]["n"]
    )
    pw = curation.padding_waste(spark, sf_dir).agg(
        F.sum("tokens").alias("t"), F.sum("trunc_tokens").alias("tr")
    ).collect()[0]
    assert pw["t"] + pw["tr"] == raw


def test_jaccard_prefix_equals_full_selfjoin(spark, sf_dir, tmp_path):
    """The prefix-filtered plan must emit EXACTLY ngram_jaccard_pairs'
    result (they share one oracle): checked on the real fixture AND on
    a seeded random corpus engineered with boundary-straddling pairs
    (the same generator as the containment exactness test)."""
    import os
    import random

    from flink_gmall_spark.operators import dedup

    def pairs_of(df):
        return {(r.doc_a, r.doc_b): r.jaccard for r in df.collect()}

    assert pairs_of(dedup.jaccard_prefix_pairs(spark, sf_dir)) == pairs_of(
        dedup.ngram_jaccard_pairs(spark, sf_dir)
    )

    rng = random.Random(1733)
    vocab = [f"tok{i}" for i in range(25)]
    rows = []
    for i in range(15):
        n = rng.randint(3, 30)
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        rows.append((i, " ".join(toks), "en", "s", 1))
    for i in range(15, 30):
        base = rows[i - 15][1].split()
        mut = [
            (t if rng.random() > 0.2 else vocab[rng.randrange(len(vocab))])
            for t in base
        ]
        rows.append((i, " ".join(mut), "en", "s", 1))
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = pairs_of(dedup.jaccard_prefix_pairs(spark, d))
    want = pairs_of(dedup.ngram_jaccard_pairs(spark, d))
    assert got == want and want, (set(got) ^ set(want), want)


def test_pretrain_build_hand_computed(spark, tmp_path):
    """End-to-end on a crafted corpus: doc 1 fails the gate (no
    stopword), docs 2 and 3 are exact duplicates (3 survives dedup by
    smaller... 2 < 3, so 2 survives), doc 4 is long enough to chunk
    twice. Ledger must show exactly the surviving docs' chunks and
    token mass."""
    import hashlib
    import os

    from flink_gmall_spark.operators import curation

    def words(n):
        # 'the' first so the stopword gate passes
        return "the " + " ".join(f"w{i}" for i in range(n - 1))

    rows = [
        (1, " ".join(f"x{i}" for i in range(10)), "en", "s", 1),  # no stopword
        (2, words(10), "en", "s", 1),
        (3, words(10), "en", "s", 1),          # exact dup of 2
        (4, words(200), "en", "s", 1),         # chunks: 128 + tail 72+... see below
    ]
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        r["shard"]: (r["docs"], r["chunks"], r["tokens"])
        for r in curation.pretrain_build(spark, d).collect()
    }
    # survivors: doc 2 (one 10-token chunk), doc 4 (200 tokens ->
    # n_starts = 1 + ceil(72/96) = 2: chunk 128 + chunk (200-96)=104)
    def shard_of(doc_id):
        return hashlib.md5(f"{curation.SHUFFLE_SEED}{doc_id}".encode()).hexdigest()[0]

    want: dict[str, list] = {}
    want.setdefault(shard_of(2), [0, 0, 0])
    want[shard_of(2)][0] += 1; want[shard_of(2)][1] += 1; want[shard_of(2)][2] += 10
    want.setdefault(shard_of(4), [0, 0, 0])
    want[shard_of(4)][0] += 1; want[shard_of(4)][1] += 2; want[shard_of(4)][2] += 128 + 104
    assert got == {k: tuple(v) for k, v in want.items()}, (got, want)


def test_classifier_roc_monotone_and_conserved(spark, sf_dir):
    """ROC invariants on the real fixture: every row's confusion counts
    sum to the same corpus total; tp and fp are monotone NON-INCREASING
    in the threshold (raising the bar can only drop predictions); tpr
    and fpr follow; the -200 row (everything kept at fixture scores)
    pins tp = all positives."""
    from flink_gmall_spark.operators import textstats

    rows = sorted(
        textstats.classifier_roc_sweep(spark, sf_dir).collect(),
        key=lambda r: r["threshold"],
    )
    totals = {r["tp"] + r["fp"] + r["fn"] + r["tn"] for r in rows}
    assert len(totals) == 1 and totals.pop() > 0
    for lo, hi in zip(rows, rows[1:]):
        assert hi["tp"] <= lo["tp"] and hi["fp"] <= lo["fp"]
        assert hi["fn"] >= lo["fn"] and hi["tn"] >= lo["tn"]
    pos = rows[0]["tp"] + rows[0]["fn"]
    assert all(r["tp"] + r["fn"] == pos for r in rows)


def test_winnowing_spark_matches_pure_python_mirror(spark):
    """Pins the Spark winnowing transform to the pure-python mirror the
    property tests sweep (tests/test_properties.py::_winnow_fps) — so
    the SIGMOD'03 guarantee proven there actually constrains the
    operator. Checks every doc at sf0.001."""
    import hashlib
    import re

    import duckdb

    from flink_gmall_spark.functions.tokenize import TOKEN_SPLIT_RE
    from flink_gmall_spark.operators import dedup

    sf_dir = "/root/testdata/sf0.001"
    got: dict[int, set[str]] = {}
    for r in dedup.winnowing_fingerprints(spark, sf_dir).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    want: dict[int, set[str]] = {}
    for doc_id, text in rows:
        toks = [t for t in re.split(TOKEN_SPLIT_RE, text.lower()) if t]
        if len(toks) < dedup.SHINGLE_K:
            continue
        hs = [
            hashlib.md5(
                " ".join(toks[i : i + dedup.SHINGLE_K]).encode()
            ).hexdigest()
            for i in range(len(toks) - dedup.SHINGLE_K + 1)
        ]
        nw = max(1, len(hs) - dedup.WINNOW_W + 1)
        want[doc_id] = {min(hs[j : j + dedup.WINNOW_W]) for j in range(nw)}
    assert got == want


def test_ivf_range_search_whole_query_miss_sentinel(spark, tmp_path):
    """Review r10 fix: a query whose in-radius truth lives entirely in
    unprobed cells must surface as a sentinel ledger row, not vanish.
    Crafted fixture: 16 basis-vector centroids; the one extra vector
    sits at cos 0.35 from query 0 (in radius) but is assigned to cell 5,
    outside query 0's probed cells {0,1,2,3} -> sentinel for q0; the
    same vector is at cos ~0.937 from query 5, whose probes include
    cell 5 -> a real hit for q5. The DuckDB oracle union must agree
    cell-for-cell."""
    import math
    import os

    import duckdb
    from pyspark.sql import types as T

    from flink_gmall_spark.operators import ann

    dim = 16
    rows = []
    for i in range(16):
        v = [0.0] * dim
        v[i] = 1.0
        rows.append((i, v, 0))
    nvec = [0.0] * dim
    nvec[0] = 0.35
    nvec[5] = math.sqrt(1.0 - 0.35 * 0.35)
    rows.append((16, nvec, 0))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    d = str(tmp_path / "rs")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )

    out = {r["query_id"]: r for r in ann.ivf_range_search(spark, d).collect()}
    assert set(out) == {0, 5}
    # q0: whole-query miss -> sentinel with the true denominator
    assert out[0]["neighbor_id"] == ann.RANGE_MISS_NEIGHBOR
    assert out[0]["rank"] == 0 and out[0]["sim"] == ann.RANGE_MISS_SIM
    assert out[0]["n_exact"] == 1
    # q5: the same vector is served from its probed cell
    assert out[5]["neighbor_id"] == 16 and out[5]["rank"] == 1
    assert out[5]["n_exact"] == 1 and out[5]["sim"] > 0.9

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    want = {r[0]: r for r in con.execute(ann.ORACLE_IVF_RANGE_SEARCH).fetchall()}
    assert set(want) == {0, 5}
    for q in (0, 5):
        got = out[q]
        assert (
            got["neighbor_id"], got["rank"], got["sim"], got["n_exact"]
        ) == want[q][1:]


# --- round-13: exact-substring dedup -----------------------------------------


def _substring_mirror(corpus, k, cap, min_run):
    """Independent python reimplementation of the Lee-et-al-style
    maximal-run detector: positional k-grams, occurrence cap, diagonal
    islands, min-run floor — plus the per-doc merged-interval ledger."""
    import re
    from collections import Counter

    toks = {
        d: [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        for d, t in corpus
    }
    grams = [
        (d, i, " ".join(ts[i : i + k]))
        for d, ts in toks.items()
        for i in range(len(ts) - k + 1)
    ]
    gct = Counter(g for _, _, g in grams)
    bygram: dict = {}
    for d, p, g in grams:
        if gct[g] <= cap:
            bygram.setdefault(g, []).append((d, p))
    diags: dict = {}
    for occ in bygram.values():
        for d1, p1 in occ:
            for d2, p2 in occ:
                if d1 < d2:
                    diags.setdefault((d1, d2, p2 - p1), set()).add(p1)
    runs = []
    for (d1, d2, diag), ps in diags.items():
        sp = sorted(ps)
        start = prev = sp[0]
        for p in sp[1:] + [None]:
            if p is None or p != prev + 1:
                tokens = (prev - start + 1) + k - 1
                if tokens >= min_run:
                    runs.append((d1, d2, start, start + diag, tokens))
                if p is not None:
                    start = p
            prev = p if p is not None else prev
    spans: dict = {}
    for d1, d2, a, b, n in runs:
        spans.setdefault(d1, set()).add((a, a + n - 1))
        spans.setdefault(d2, set()).add((b, b + n - 1))
    ledger = {}
    for d, sp in spans.items():
        merged = []
        for st, en in sorted(sp):
            if merged and st <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], en)
            else:
                merged.append([st, en])
        dup = sum(en - st + 1 for st, en in merged)
        n_tok = len(toks[d])
        ledger[d] = (len(merged), dup, n_tok, (1000 * dup) // n_tok)
    return sorted(runs), ledger


def _substring_corpus():
    """Crafted corpus: a 16-token shared run (kept, at the MIN floor), a
    15-token one (dropped), a 20-token run shared 3 ways, a doc holding
    two disjoint runs, an overlapping-span doc (two partners covering
    [0,19] and [10,29] — the ledger must merge to [0,29]), and a
    triple of fully-identical docs (the duplicate-span determinism
    case). Filler tokens are globally unique so no accidental grams."""
    c = [f"c{i}" for i in range(16)]   # 16-token run
    d = [f"d{i}" for i in range(15)]   # 15-token run (dropped)
    e = [f"e{i}" for i in range(20)]   # 20-token run, 3 docs
    u = [f"u{i}" for i in range(30)]   # overlap machinery
    v = [f"v{i}" for i in range(20)]   # identical triple
    f = lambda tag, n: [f"{tag}{i}" for i in range(n)]  # noqa: E731
    return [
        (0, " ".join(f("fa", 4) + c + f("fb", 4))),
        (1, " ".join(c)),
        (2, " ".join(f("fc", 3) + d)),
        (3, " ".join(d + f("fd", 3))),
        (4, " ".join(e)),
        (5, " ".join(f("fe", 5) + e)),
        (6, " ".join(e + f("ff", 5))),
        (7, " ".join(c + f("fg", 6) + e)),   # two disjoint runs
        (8, " ".join(u)),                     # u0..u29
        (9, " ".join(u[:20])),                # covers [0,19] of doc 8
        (10, " ".join(f("fh", 7) + u[10:])),  # covers [10,29] of doc 8
        (11, " ".join(v)),
        (12, " ".join(v)),
        (13, " ".join(v)),
    ]


def test_exact_substring_runs_matches_mirror(spark):
    from flink_gmall_spark.operators import dedup as D

    corpus = _substring_corpus()
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = sorted(
        map(tuple, D.substring_runs(docs).collect())
    )
    want, _ = _substring_mirror(
        corpus, D.RUN_K, D.MAX_RUN_GRAM_DF, D.MIN_RUN_TOKENS
    )
    assert got == want
    gotset = {(a, b): (s1, s2, n) for a, b, s1, s2, n in got}
    # the crafted shapes actually bit:
    assert gotset[(0, 1)] == (4, 0, 16)       # 16-run kept, offsets right
    assert (2, 3) not in gotset               # 15-run dropped
    assert all((p) in gotset for p in [(4, 5), (4, 6), (5, 6)])  # 3-way
    assert gotset[(11, 12)][2] == 20          # identical docs: full run
    assert {(0, 7), (1, 7)} <= set(gotset)    # doc 7 carries run 1 of 2
    assert (4, 7) in gotset                   # ...and run 2


def test_exact_substring_ledger_matches_mirror(spark):
    from flink_gmall_spark.operators import dedup as D

    corpus = _substring_corpus()
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.dup_tokens, r.n_tokens, r.substr_coverage_x1000)
        for r in D.substring_ledger(docs).collect()
    }
    _, want = _substring_mirror(
        corpus, D.RUN_K, D.MAX_RUN_GRAM_DF, D.MIN_RUN_TOKENS
    )
    assert got == want
    # overlap merge: doc 8's [0,19] + [10,29] collapse to ONE span of 30
    assert got[8] == (1, 30, 30, 1000)
    # disjoint runs stay two spans
    assert got[7][0] == 2 and got[7][1] == 36
    # fully-identical triple: each doc counts its 20 tokens ONCE
    for d in (11, 12, 13):
        assert got[d] == (1, 20, 20, 1000)
    # docs 2/3 (15-run only) never enter the ledger
    assert 2 not in got and 3 not in got


def test_exact_substring_gram_cap_bites(spark, monkeypatch):
    """Occurrence cap: with the cap forced to 3, a gram occurring 4
    times corpus-wide is culled and the run it anchored disappears,
    while sub-cap grams keep matching — Spark vs the mirror with the
    same cap (the shipped fixture never exceeds the production cap, so
    this is the only place the branch runs; the phrase df-cap test
    precedent)."""
    from flink_gmall_spark.operators import dedup as D

    w = [f"w{i}" for i in range(D.RUN_K + 8)]  # one 16-token run
    # 4 docs share the SAME 16-token text -> every gram occurs 4x
    corpus = [(i, " ".join(w)) for i in range(4)]
    # plus one under-cap pair on different tokens
    z = [f"z{i}" for i in range(D.RUN_K + 8)]
    corpus += [(10, " ".join(z)), (11, " ".join(z))]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")

    monkeypatch.setattr(D, "MAX_RUN_GRAM_DF", 3)
    got = sorted(map(tuple, D.substring_runs(docs).collect()))
    want, _ = _substring_mirror(corpus, D.RUN_K, 3, D.MIN_RUN_TOKENS)
    assert got == want
    # the w-grams (4 occurrences > 3) are culled: no runs among docs 0-3
    assert not [r for r in got if r[0] < 10]
    # the z pair (2 occurrences) still matches end-to-end
    assert got == [(10, 11, 0, 0, D.RUN_K + 8)]


def test_exact_substring_plan_no_allpairs(spark, sf_dir):
    """Plan gate: candidate generation is the gram equi-join — no
    cartesian/nested-loop anywhere, and the gram window + join share
    the gram partitioning (at most one exchange pair on gram, reused)."""
    from flink_gmall_spark.operators import dedup as D

    plan = (
        D.exact_substring_runs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Exchange hashpartitioning(gram" in plan, plan


def test_stream_exact_substring_probe_equals_batch(spark, sf_dir):
    """The streaming probe (arriving docs vs static capped postings,
    d1 < d2 once per pair, runs_finish applied after the drain) must be
    row-identical to the batch self-join."""
    from flink_gmall_spark.operators import dedup as D
    from flink_gmall_spark.streaming.jobs import stream_exact_substring_probe

    batch = sorted(map(tuple, D.exact_substring_runs(spark, sf_dir).collect()))
    served = sorted(
        map(tuple, stream_exact_substring_probe(spark, sf_dir).collect())
    )
    assert batch == served
    assert batch  # non-vacuous: the fixture carries real shared runs


def test_strip_dup_spans_keep_first_policy(spark, tmp_path):
    """The rewrite's keep-first semantics on the crafted corpus: the
    lowest-id holder of a span keeps every token; higher-id duplicates
    lose exactly the covered positions (full wipe for identical docs);
    docs outside any pair are untouched byte-for-byte; removed counts
    reconcile with the b-side span coverage."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from flink_gmall_spark.operators import dedup as D

    corpus = _substring_corpus()
    d = str(tmp_path / "strip_sf")
    spark.createDataFrame(corpus, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.removed_tokens, r.kept_md5)
        for r in D.strip_dup_spans(spark, d).collect()
    }
    toks = {i: t.split() for i, t in corpus}
    runs, _ = _substring_mirror(
        corpus, D.RUN_K, D.MAX_RUN_GRAM_DF, D.MIN_RUN_TOKENS
    )
    cuts: dict[int, set[int]] = {}
    for _d1, d2, _a, b, n in runs:
        cuts.setdefault(d2, set()).update(range(b, b + n))
    for i, ts in toks.items():
        kept = [w for p, w in enumerate(ts) if p not in cuts.get(i, set())]
        md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert got[i] == (len(ts), len(kept), len(ts) - len(kept), md5), i
    # identical triple: min id keeps all, the other two fully wiped
    assert got[11][2] == 0
    assert got[12][1] == 0 and got[13][1] == 0
    # doc 1 (the 16-run's higher-id holder vs doc 0) is fully cut;
    # doc 0 keeps everything
    assert got[0][2] == 0 and got[1][1] == 0
    # untouched doc: zero removals and the identity hash of its text
    assert got[2][2] == 0


def test_strip_dup_spans_long_document_is_linear(spark):
    """The straggler contract of the span-cut rewrite (VERDICT r13
    `weak`): ONE 400k-token document with 12,500 disjoint 16-token cut
    spans — the long, heavily-duplicated shape this operator exists to
    rewrite — flows through apply_span_cuts in bounded wall time with
    exact Python-mirror results. The displaced per-token
    `exists(cuts, ...)` scan costs ~5x10^9 span comparisons inside one
    task on this input (minutes); the slice-concatenation fold is
    ~4x10^5 — the time bound discriminates hard without flaking on a
    loaded host (mirrors the r13 histogram linearity test)."""
    import hashlib
    import time

    from pyspark.sql import functions as F

    from flink_gmall_spark.operators import dedup as D

    n, span_len, stride = 400_000, 16, 32
    toks = [f"w{i}" for i in range(n)]
    # cuts at [s, s+15] for s = 0, 32, 64, ... — disjoint, sorted
    starts = list(range(0, n, stride))
    cuts = [(s, s + span_len - 1) for s in starts]
    kept = [
        w for p, w in enumerate(toks) if (p % stride) >= span_len
    ]
    df = spark.createDataFrame(
        [(0, toks, cuts), (1, toks, None)],
        "doc_id long, t array<string>, "
        "cuts array<struct<mst: int, men: int>>",
    )

    t0 = time.monotonic()
    got = {r.doc_id: r for r in D.apply_span_cuts(df).collect()}
    elapsed = time.monotonic() - t0
    assert elapsed < 90, f"span cut not linear: {elapsed:.1f}s"

    md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
    r0 = got[0]
    assert (r0.n_tokens, r0.kept_tokens, r0.removed_tokens, r0.kept_md5) == (
        n, len(kept), n - len(kept), md5
    )
    # NULL cuts: identity rewrite
    r1 = got[1]
    assert (r1.kept_tokens, r1.removed_tokens) == (n, 0)
    assert r1.kept_md5 == hashlib.md5(" ".join(toks).encode()).hexdigest()


def test_blocklist_scrub_crafted(spark, tmp_path):
    """Anchor-vote semantics on a crafted corpus: multiple phrases per
    doc, adjacent spans, repeated occurrences of one phrase, a fully
    wiped doc, an untouched doc — removed counts and kept hashes match
    a direct Python mirror."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from flink_gmall_spark.operators import curation as C

    docs = [
        (0, "x slow hash batch y table hash merge group"),
        (1, "table hash"),                        # full wipe
        (2, "plain words only here"),             # untouched
        (3, "table hash z table hash"),           # same phrase twice
        (4, "slow hash plain batch"),             # near-miss: no hit
    ]
    d = str(tmp_path / "bl_sf")
    spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", "text",
        F.lit("en").alias("lang"), F.lit("t").alias("source"),
        F.length("text").alias("n_chars"),
    ).write.parquet(os.path.join(d, "documents.parquet"))

    phrases = [p.split() for p in C.BLOCKLIST_PHRASES]
    want = {}
    for doc_id, text in docs:
        ts = text.split()
        cut, hits = set(), 0
        for p in phrases:
            for a in range(len(ts) - len(p) + 1):
                if ts[a : a + len(p)] == p:
                    hits += 1
                    cut.update(range(a, a + len(p)))
        kept = [w for i, w in enumerate(ts) if i not in cut]
        want[doc_id] = (
            len(ts), len(kept), len(ts) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(), hits,
        )
    got = {
        r.doc_id: (
            r.n_tokens, r.kept_tokens, r.removed_tokens, r.kept_md5, r.n_hits
        )
        for r in C.blocklist_scrub(spark, d).collect()
    }
    assert got == want
    assert want[0][4] == 3 and want[1][1] == 0 and want[3][4] == 2


def test_stream_blocklist_scrub_equals_batch(spark, sf_dir):
    """The ingest-time scrub (stream-static vote join, anchor/span/cut
    batch-side) must be row-identical to the batch corpus pass —
    transport must never change the scrub ledger (shared oracle)."""
    from flink_gmall_spark.operators.curation import blocklist_scrub
    from flink_gmall_spark.streaming.jobs import stream_blocklist_scrub

    served = sorted(map(tuple, stream_blocklist_scrub(spark, sf_dir).collect()))
    batch = sorted(map(tuple, blocklist_scrub(spark, sf_dir).collect()))
    assert served == batch
    assert any(r[-1] > 0 for r in batch)  # non-vacuous: real hits


def test_copurchase_edges_symmetric(spark, tmp_path):
    """_pr_round's union-aggregate only preserves the node set because
    the edge list is SYMMETRIC (ADVICE r15): dst ⊆ src must hold for
    _copurchase_edges(canonical=False), or dst-only nodes would enter
    the rank vector with deg=NULL. Pin the precondition at the
    producer — every dst value appears as a src and vice versa."""
    from flink_gmall_spark.plans import ads

    pairs = [
        (1, 1), (1, 2), (2, 1), (2, 2),
        (3, 2), (3, 3), (4, 2), (4, 3),
    ]
    d = _write_lineitem(spark, tmp_path, pairs)
    und = ads._copurchase_edges(spark, d)
    src = {r.src for r in und.select("src").distinct().collect()}
    dst = {r.dst for r in und.select("dst").distinct().collect()}
    assert src == dst and src  # symmetric and non-vacuous


def test_release_local_checkpoint_unpersists(spark):
    """release_local_checkpoint reaches through private Spark internals
    (queryExecution().logical().rdd()) and swallows exceptions, so on an
    internals move it silently degrades to a no-op and round vectors
    accumulate until GC (ADVICE r15). Assert the reflection path still
    actually unpersists an eagerly checkpointed frame — if Spark moves
    the cheese, THIS fails loudly instead of a slow memory regression."""
    from flink_gmall_spark.plans import ads

    df = spark.range(100).localCheckpoint(eager=True)
    rdd = df._jdf.queryExecution().logical().rdd()
    assert rdd.getStorageLevel().useMemory() or rdd.getStorageLevel().useDisk()
    ads.release_local_checkpoint(df)
    lvl = rdd.getStorageLevel()
    assert not lvl.useMemory() and not lvl.useDisk()
