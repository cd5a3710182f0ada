#!/usr/bin/env python
"""Generate a LARGER scale-ladder dataset for the 100 TB scaling story
(VERDICT r15 ask #6) WITHOUT touching the driver's read-only
/root/testdata: K disjoint, key-remapped copies of sf0.1 land in
--out (default /root/scaledata/sf1 at K=10 ≈ sf1).

Construction (deterministic, pure SQL over the committed sf0.1
parquet): copy k offsets every join/group key so the copies never
interact — lineitem gets l_orderkey += k*N_ORDERS and
l_partkey += k*N_PARTS (10 disjoint co-purchase graphs), orders,
part and customer get the same offsets on o_orderkey/p_partkey and
o_custkey/c_custkey += k*N_CUSTS (every foreign key resolves inside
its own copy; the run prints the dangling counts), documents get
doc_id += k*N_DOCS and every token suffixed with 'k<k>' (alnum suffix,
so tokens_col's [^a-z0-9]+ split keeps each token whole; 10 disjoint
vocabularies / shingle spaces). Per-copy distributions are EXACTLY
sf0.1's, so per-key work (basket sizes, doc lengths, shingle df) stays
constant while rows, distinct keys and shuffle bytes scale by K — the
ladder measures data-volume scaling at fixed skew, which is the claim
the 32-vs-8-core ratios are meant to test. doc_id < N_RETR_QUERIES
query docs exist only in copy 0, so retrieval probes keep their
fixed-size query set against a K× corpus, as in production.

NOT an oracle fixture: bench timing only (SPARK_GRAFT_SF_DIR +
SPARK_GRAFT_BENCH_ONLY). Run: python tools/gen_scale_sf.py [--k 10]
[--out /root/scaledata/sf1]
"""

from __future__ import annotations

import argparse
import os

import duckdb

SRC = "/root/testdata/sf0.1"
N_ORDERS = 150_000  # max(l_orderkey)+1 in sf0.1
N_PARTS = 20_000    # max(l_partkey)+1
N_DOCS = 5_000      # max(doc_id)+1
N_CUSTS = 15_000    # max(c_custkey)+1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", default="/root/scaledata/sf1")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()
    ks = ", ".join(str(k) for k in range(args.k))

    con.execute(f"""
    COPY (
      SELECT l_orderkey + k.k * {N_ORDERS} AS l_orderkey,
             l_partkey + k.k * {N_PARTS} AS l_partkey,
             l_suppkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
      FROM read_parquet('{SRC}/lineitem.parquet'),
           (SELECT unnest([{ks}]) AS k) k
    ) TO '{args.out}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT doc_id + k.k * {N_DOCS} AS doc_id,
             array_to_string(
               list_transform(string_split(text, ' '),
                              x -> x || 'k' || CAST(k.k AS VARCHAR)),
               ' ') AS text,
             lang, source,
             CAST(length(array_to_string(
               list_transform(string_split(text, ' '),
                              x -> x || 'k' || CAST(k.k AS VARCHAR)),
               ' ')) AS BIGINT) AS n_chars
      FROM read_parquet('{SRC}/documents.parquet'),
           (SELECT unnest([{ks}]) AS k) k
    ) TO '{args.out}/documents.parquet' (FORMAT PARQUET)
    """)
    # the lineitem/orders dimension side, offset per copy exactly like
    # the fact keys above
    offsets = {
        "orders": f"o_orderkey + k.k * {N_ORDERS} AS o_orderkey,"
        f" o_custkey + k.k * {N_CUSTS} AS o_custkey",
        "part": f"p_partkey + k.k * {N_PARTS} AS p_partkey",
        "customer": f"c_custkey + k.k * {N_CUSTS} AS c_custkey",
    }
    for t, repl in offsets.items():
        con.execute(f"""
        COPY (
          SELECT * REPLACE ({repl})
          FROM read_parquet('{SRC}/{t}.parquet'),
               (SELECT unnest([{ks}]) AS k) k
        ) TO '{args.out}/{t}.parquet' (FORMAT PARQUET)
        """)
    for t in ("supplier", "nation", "region", "events", "embeddings"):
        # unscaled companions so loaders and the bench warmup resolve
        # (l_suppkey is not offset, so one supplier table serves all)
        src = f"{SRC}/{t}.parquet"
        if os.path.exists(src):
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) TO "
                f"'{args.out}/{t}.parquet' (FORMAT PARQUET)"
            )
    for t in ("lineitem", "documents", "orders", "part", "customer"):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{args.out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")
    for child, fk, parent, pk in (
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
    ):
        n = con.execute(f"""
        SELECT count(*) FROM read_parquet('{args.out}/{child}.parquet') c
        ANTI JOIN read_parquet('{args.out}/{parent}.parquet') p
          ON c.{fk} = p.{pk}
        """).fetchone()[0]
        print(f"dangling {child}.{fk} -> {parent}.{pk}: {n}")


if __name__ == "__main__":
    main()
