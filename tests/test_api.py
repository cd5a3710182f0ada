"""The parameterized ADS API (gmall-publisher endpoint parity) against
DuckDB with the same parameters bound."""

from __future__ import annotations

import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from flink_gmall_spark.plans import api
from flink_gmall_spark.session import tune
from flink_gmall_spark.sources import tables
from tests.conftest import jobs_run
from tests.oracle import compare, duck_connection

GMV_SQL = """
SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv
FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') = '{date}'
HAVING count(*) > 0
"""

VISITOR_STATS_BY_HOUR_SQL = """
SELECT CAST(hour(ts) AS BIGINT) AS hr,
       CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
       count(DISTINCT user_id) AS uv_ct
FROM events WHERE strftime(ts, '%Y-%m-%d') = '{date}'
GROUP BY 1
"""


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def test_gmv_for_date(spark, sf_dir, duck):
    df = api.gmv(spark, sf_dir, "1995-06-01")
    compare(df, duck, GMV_SQL.format(date="1995-06-01"), name="api.gmv")


def test_visitor_stats_by_hour(spark, sf_dir, duck):
    df = api.visitor_stats_by_hour(spark, sf_dir, "2024-01-03")
    compare(
        df,
        duck,
        VISITOR_STATS_BY_HOUR_SQL.format(date="2024-01-03"),
        name="api.visitor_stats_by_hour",
    )


def test_keyword_stats_topn(spark, sf_dir, duck):
    df = api.keyword_stats(spark, sf_dir, limit=10)
    compare(
        df,
        duck,
        """
        SELECT keyword, CAST(count(*) AS BIGINT) AS ct
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        t -> t <> '')) AS keyword
              FROM documents)
        GROUP BY 1 ORDER BY ct DESC, keyword ASC LIMIT 10
        """,
        name="api.keyword_stats",
    )


def test_product_stats_by_sku_topn(spark, sf_dir, duck):
    df = api.product_stats_by_sku(spark, sf_dir, limit=5)
    compare(
        df,
        duck,
        """
        SELECT l.l_partkey AS sku_id,
               any_value(p.p_name) AS sku_name,
               any_value(p.p_brand) AS tm_name,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS order_sku_num,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
               count(DISTINCT l.l_orderkey) AS order_ct,
               CAST(count(*) AS BIGINT) AS item_ct
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1 ORDER BY order_amount DESC, sku_id ASC LIMIT 5
        """,
        name="api.product_stats_by_sku",
    )


def test_visitor_stats_by_new_flag(spark, sf_dir, duck):
    df = api.visitor_stats_by_new_flag(spark, sf_dir, "2024-01-02")
    compare(
        df,
        duck,
        """
        WITH flagged AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                        THEN '1' ELSE '0' END AS is_new
            FROM events
        )
        SELECT is_new, CAST(count(*) AS BIGINT) AS pv_ct,
               count(DISTINCT user_id) AS uv_ct
        FROM flagged WHERE strftime(ts, '%Y-%m-%d') = '2024-01-02'
        GROUP BY 1
        """,
        name="api.visitor_stats_by_new_flag",
    )


def test_province_stats_for_date(spark, sf_dir, duck):
    df = api.province_stats(spark, sf_dir, "1996-03-12")
    compare(
        df,
        duck,
        """
        SELECT n.n_name AS province_name,
               count(DISTINCT o.o_orderkey) AS order_ct,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE strftime(o.o_orderdate, '%Y-%m-%d') = '1996-03-12'
        GROUP BY 1
        """,
        name="api.province_stats",
    )


def _refresh(spark, sf_dir):
    """One dashboard refresh: every panel once."""
    return {
        "gmv": lambda: api.gmv(spark, sf_dir, "1995-06-19").collect(),
        "product_stats_by_trademark": lambda: api.product_stats_by_trademark(
            spark, sf_dir, 5).collect(),
        "product_stats_by_sku": lambda: api.product_stats_by_sku(
            spark, sf_dir, 5).collect(),
        "visitor_stats_by_hour": lambda: api.visitor_stats_by_hour(
            spark, sf_dir, "2024-01-03").collect(),
        "visitor_stats_by_new_flag": lambda: api.visitor_stats_by_new_flag(
            spark, sf_dir, "2024-01-02").collect(),
        "keyword_stats": lambda: api.keyword_stats(spark, sf_dir, 10).collect(),
        "province_stats": lambda: api.province_stats(spark, sf_dir, "1996-03-12").collect(),
    }


def test_warm_refresh_runs_one_job_per_panel(spark, sf_dir):
    """Once its table is built, a panel runs only its last step: one job."""
    panels = _refresh(spark, sf_dir)
    for call in panels.values():
        call()
    jobs = {name: jobs_run(spark, call) for name, call in panels.items()}
    assert sum(jobs.values()) <= 7, jobs


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_rewritten_source_rebuilds_and_releases_the_served_table(spark, sf_dir, tmp_path):
    """Rewriting a source table in place changes the panel's answer in the
    same session, and the superseded table's blocks are released."""
    d = str(tmp_path)
    p = tables.path(d, "orders")
    shutil.copy(tables.path(sf_dir, "orders"), p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{p}')")
    date = "1995-06-19"
    try:
        compare(api.gmv(spark, d, date), con, GMV_SQL.format(date=date), name="api.gmv")
        before = api.gmv(spark, d, date).first()["gmv"]
        held = _persistent_rdds(spark)
        answers = [before]
        for factor in (2, 3):
            served = api._SERVED["gmv"][1]
            identity = tables.file_identity(p)
            t = pq.read_table(tables.path(sf_dir, "orders"))
            i = t.schema.get_field_index("o_totalprice")
            pq.write_table(
                t.set_column(i, "o_totalprice", pc.multiply(t["o_totalprice"], factor)), p
            )
            assert tables.file_identity(p) != identity
            compare(api.gmv(spark, d, date), con, GMV_SQL.format(date=date), name="api.gmv")
            answers.append(api.gmv(spark, d, date).first()["gmv"])
            level = served._jdf.queryExecution().logical().rdd().getStorageLevel()
            assert not level.useMemory() and not level.useDisk()
            assert _persistent_rdds(spark) <= held
        assert len(set(answers)) == 3, answers
    finally:
        con.close()


def test_panel_under_hostile_conf_before_and_after_its_table_exists(
    spark, sf_dir, tmp_path, duck
):
    """The caller's session carries the driver's hostile config on the
    call that builds the panel's table and on the call served from it."""
    from tests.test_tuning import HOSTILE_CONFS

    d = str(tmp_path)
    # a private copy: no earlier call in the session built its table
    p = tables.path(d, "events")
    shutil.copy(tables.path(sf_dir, "events"), p)
    sql = VISITOR_STATS_BY_HOUR_SQL.format(date="2024-01-05")
    entries = []
    try:
        for _ in range(2):
            for k, v in HOSTILE_CONFS.items():
                spark.conf.set(k, v)
            df = api.visitor_stats_by_hour(spark, d, "2024-01-05")
            compare(df, duck, sql, name="api.visitor_stats_by_hour")
            entries.append(api._SERVED["visitor_stats_by_hour"])
    finally:
        tune(spark)
    (key, _), served = entries
    assert key[1] == (tables.file_identity(p),)
    # the first call built the table, the second was served from it
    assert served is entries[0]


def test_observe_metrics_on_query(spark, sf_dir):
    """df.observe: per-action operational metrics (row counts, sums)
    collected by the engine alongside the query — the monitoring hook a
    production warehouse attaches to every sink write (the reference
    relies on external ClickHouse row counts for the same purpose)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from flink_gmall_spark.plans import dwd

    obs = Observation("pv_metrics")
    # DISTINCT aggregates are illegal in observed metrics — approx (HLL,
    # merge-commutative, deterministic on fixed data) is the sanctioned form
    df = dwd.page_views(spark, sf_dir).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.approx_count_distinct("user_id").alias("users"),
    )
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    direct = dwd.page_views(spark, sf_dir).agg(
        F.count(F.lit(1)), F.approx_count_distinct("user_id")
    ).first()
    assert got["rows"] == direct[0] and got["users"] == direct[1], got
