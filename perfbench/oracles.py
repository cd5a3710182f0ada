"""DuckDB answers for every checked op, computed on the staged input.

Warehouse and curation ops reuse the engine's own composed oracles
(``pipeline.ORACLE_PIPELINE_E2E_HOURLY``, ``curation.ORACLE_CURATION_PIPELINE``).
The publisher panels are parameterized, so their SQL lives here with the
parameter bound by DuckDB, one statement per ``plans.api`` function, in
the pattern of the engine's API tests.
"""

from __future__ import annotations

import os

import duckdb

#: panel name -> (parameter kind, parameter-bound oracle SQL). Parameter
#: kinds: ``order_date`` (orders calendar, 1995..2001), ``event_date``
#: (events calendar, 2024-01-01..30), ``limit`` (top-N size).
PANELS: dict[str, tuple[str, str]] = {
    "gmv": ("order_date", """
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv
        FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') = $1
        HAVING count(*) > 0
    """),
    "product_stats_by_trademark": ("limit", """
        SELECT p.p_brand AS tm_name,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1
        HAVING sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) > 0
        ORDER BY order_amount DESC, tm_name ASC
        LIMIT least($1, 10)
    """),
    "product_stats_by_sku": ("limit", """
        SELECT l.l_partkey AS sku_id,
               any_value(p.p_name) AS sku_name,
               any_value(p.p_brand) AS tm_name,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS order_sku_num,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
               count(DISTINCT l.l_orderkey) AS order_ct,
               CAST(count(*) AS BIGINT) AS item_ct
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1 ORDER BY order_amount DESC, sku_id ASC LIMIT $1
    """),
    "visitor_stats_by_hour": ("event_date", """
        SELECT CAST(hour(ts) AS BIGINT) AS hr,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
               count(DISTINCT user_id) AS uv_ct
        FROM events WHERE strftime(ts, '%Y-%m-%d') = $1
        GROUP BY 1
    """),
    "visitor_stats_by_new_flag": ("event_date", """
        WITH flagged AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                        THEN '1' ELSE '0' END AS is_new
            FROM events
        )
        SELECT is_new, CAST(count(*) AS BIGINT) AS pv_ct, count(DISTINCT user_id) AS uv_ct
        FROM flagged WHERE strftime(ts, '%Y-%m-%d') = $1
        GROUP BY 1
    """),
    "keyword_stats": ("limit", """
        SELECT keyword, CAST(count(*) AS BIGINT) AS ct
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        t -> t <> '')) AS keyword
              FROM documents)
        GROUP BY 1 ORDER BY ct DESC, keyword ASC LIMIT $1
    """),
    "province_stats": ("order_date", """
        SELECT n.n_name AS province_name,
               count(DISTINCT o.o_orderkey) AS order_ct,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE strftime(o.o_orderdate, '%Y-%m-%d') = $1
        GROUP BY 1
    """),
}

#: top-N sizes a refresh may ask for
LIMITS = (3, 5, 10)


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(rows) -> list[tuple]:
    """Order-insensitive canonical form: doubles rounded to 6 places,
    every row a tuple, rows sorted by their rendering."""
    return sorted(
        (tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows),
        key=repr,
    )


def answer(con: duckdb.DuckDBPyConnection, sql: str, params=None) -> list[tuple]:
    return canon(con.execute(sql, params or []).fetchall())
