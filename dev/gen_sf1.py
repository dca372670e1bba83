#!/usr/bin/env python3
"""Derive an sf1-scale dataset (10x sf0.1) for the SCALING tier.

The driver ships sf{0.001,0.01,0.1} only; at sf0.1 (~600k lineitem rows)
the whole suite is fixed-overhead-bound and 8 cores beat 32 (r20 PERF),
so parallel-scaling evidence needs a bigger input. This derives one:
10 replicas of every sf0.1 table with disjoint key offsets, foreign keys
offset CONSISTENTLY (replica k's lineitem references replica k's orders/
part/supplier; orders reference replica k's customers; events carry
replica-k user/event ids) so join selectivities and per-key cardinalities
match sf0.1 while totals scale 10x. region/nation stay fixed (TPC-H dims
don't scale). Timestamps, texts and embeddings are copied verbatim —
the tier measures wall-clock scaling, not oracle correctness (sf1 has no
oracle), and identical texts keep the BPE vocabulary/near-dup cluster
shapes interpretable (documented in OPTIMIZATION_r21.md).

Usage: python3 dev/gen_sf1.py [outDir]   (default /root/sf1)
Deterministic: pure arithmetic on the sf0.1 tables, no randomness.
Before writing anything it checks that every offset key of sf0.1 lies in
[0, K), so no two replicas can share a key (check_keys; one query per
table), and exits with the offending column otherwise.
"""
import os, sys
import duckdb

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/sf1"
REPLICAS = 10
K = 10_000_000  # key offset stride per replica: every offset key must be < K

# table -> its columns in order; the *starred ones get + k*K per replica
TABLES = {
    "customer": "*c_custkey c_name c_nationkey c_acctbal c_mktsegment",
    "supplier": "*s_suppkey s_name s_nationkey s_acctbal",
    "part": "*p_partkey p_name p_brand p_type p_size p_retailprice",
    "orders": "*o_orderkey *o_custkey o_orderstatus o_totalprice o_orderdate "
              "o_orderpriority",
    "lineitem": "*l_orderkey *l_partkey *l_suppkey l_linenumber l_quantity "
                "l_extendedprice l_discount l_tax l_returnflag l_linestatus "
                "l_shipdate",
    "events": "*event_id ts *user_id event_type value props",
    "documents": "*doc_id text lang source n_chars",
    "embeddings": "*vec_id embedding label",
}


def offset_columns(table):
    return [c[1:] for c in TABLES[table].split() if c.startswith("*")]


def check_keys(con, src=SRC, k=K):
    """Fail loudly unless every offset column holds keys in [0, k): a key
    at or past k would collide with replica 1's copy of another key."""
    for table in TABLES:
        cols = offset_columns(table)
        bounds = con.sql(
            "SELECT " + ", ".join(f"MIN({c}), MAX({c})" for c in cols) +
            f" FROM '{src}/{table}.parquet'").fetchone()
        for c, lo, hi in zip(cols, bounds[0::2], bounds[1::2]):
            if lo is not None and not (0 <= lo and hi < k):
                raise SystemExit(
                    f"{table}.{c} spans [{lo}, {hi}], outside [0, {k}): "
                    f"replica offsets of {k} would collide")
    print(f"keys fit: every offset column is in [0, {k})")


def gen(con, out_dir, table):
    out = f"{out_dir}/{table}.parquet"
    select = ", ".join(
        f"{c[1:]} + k*{K} AS {c[1:]}" if c.startswith("*") else c
        for c in TABLES[table].split())
    con.execute(f"""
        COPY (
          SELECT {select}
          FROM '{SRC}/{table}.parquet' t
          CROSS JOIN (SELECT unnest(range({REPLICAS})) AS k) r
        ) TO '{out}' (FORMAT PARQUET)""")
    n = con.sql(f"SELECT COUNT(*) FROM '{out}'").fetchone()[0]
    print(f"{table}: {n} rows -> {out}")


def copy(con, out_dir, table):
    out = f"{out_dir}/{table}.parquet"
    con.execute(
        f"COPY (SELECT * FROM '{SRC}/{table}.parquet') TO '{out}' (FORMAT PARQUET)")
    print(f"{table}: copied verbatim")


def main(out_dir=OUT):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    check_keys(con)
    os.makedirs(out_dir, exist_ok=True)
    for table in TABLES:
        gen(con, out_dir, table)
    copy(con, out_dir, "region")
    copy(con, out_dir, "nation")
    print("done:", out_dir)


if __name__ == "__main__":
    main()
