#!/usr/bin/env python3
"""Dev-side oracle parity check (mirrors the driver's t2 gate).

Usage: python3 dev/compare.py <sfDir> <verifyOutDir> [--json <path>] [query ...]

Exits 1 if any query FAILs or is only CLOSE, or if a named query has no
oracle entry; 0 otherwise.

--json writes the per-query results as a CORRECTNESS-style artifact
(rows_match / schema_match / hash_match per query) in addition to the
text report — the sf0.1 spot-check tier (dev/verify_sf01.sh) commits
that file each round.

Reads each <verifyOutDir>/<name>/ parquet dump produced by graft.Verify,
runs the matching SQL from oracle_sql.json in DuckDB against the sfDir
tables, sorts columns by name and rows by all columns, and diffs values
exactly (floats: exact bit equality first, then 1e-9 relative tolerance
reported separately).
"""
import json, math, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        return v
    return v

# The driver's hash round-trips both sides through arrow/pandas, where
# int32/int64 unify (CORRECTNESS_r03: q03/q35/q36/q37/q43/q47 hash-pass
# with Spark INTEGER vs DuckDB BIGINT) but HUGEINT becomes decimal128 and
# FAILS (q61/q62). Normalize integer widths; keep everything else strict.
INT_WIDTHS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}

def norm_type(t):
    return "BIGINT" if t in INT_WIDTHS else t

def rows_of(rel):
    cols = rel.columns
    types = [norm_type(str(t)) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = rel.fetchall()
    rows = [tuple(r[i] for i in order) for r in data]
    return [cols[i] for i in order], [types[i] for i in order], rows

def cmp_val(a, b):
    if a is None or b is None:
        return (a is None) == (b is None), False
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False, False
        if af == bf or (math.isnan(af) and math.isnan(bf)):
            return True, False
        if bf != 0 and abs(af - bf) / max(abs(af), abs(bf)) < 1e-9:
            return True, True  # close but not exact
        return False, False
    return a == b, False

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    json_path = None
    only = set()
    i = 0
    while i < len(rest):  # --json anywhere; a trailing flag must not
        if rest[i] == "--json":  # silently join the query filter
            json_path = rest[i + 1]
            i += 2
        else:
            only.add(rest[i])
            i += 1
    report = {}

    def record(name, rows_match, schema_match, hash_match,
               spark_rows=None, oracle_rows=None, err=None):
        report[name] = {"rows_match": rows_match,
                        "schema_match": schema_match,
                        "hash_match": hash_match,
                        "spark_rows": spark_rows,
                        "oracle_rows": oracle_rows,
                        "err": err}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_close = 0
    for name in sorted(only - oracle.keys()):
        print(f"FAIL {name}: no oracle entry")
        record(name, None, None, None, err="no oracle entry")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            scols, stypes, srows = rows_of(con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
        except Exception as e:
            print(f"FAIL {name}: spark dump unreadable: {e}")
            record(name, None, None, None, err=f"spark dump unreadable: {e}")
            n_fail += 1
            continue
        try:
            ocols, otypes, orows = rows_of(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e)[:300]}")
            record(name, None, None, None, spark_rows=len(srows),
                   err=f"oracle SQL error: {str(e)[:300]}")
            n_fail += 1
            continue
        if scols != ocols:
            print(f"FAIL {name}: columns spark={scols} oracle={ocols}")
            record(name, len(srows) == len(orows), False, False,
                   len(srows), len(orows))
            n_fail += 1
            continue
        # The driver's hash is TYPE-sensitive (e.g. DuckDB widens SUM to
        # HUGEINT, which hashes differently from Spark's BIGINT even when
        # every value is equal) — so the dev gate must diff types too.
        if stypes != otypes:
            diffs = [f"{c}: spark={s} oracle={o}"
                     for c, s, o in zip(scols, stypes, otypes) if s != o]
            print(f"FAIL {name}: result types differ — {'; '.join(diffs)}")
            record(name, len(srows) == len(orows), False, False,
                   len(srows), len(orows))
            n_fail += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            record(name, False, True, False, len(srows), len(orows))
            n_fail += 1
            continue
        srows.sort(key=repr)
        orows.sort(key=repr)
        bad = close = 0
        first_bad = None
        for sr, orow in zip(srows, orows):
            for c, (sv, ov) in enumerate(zip(sr, orow)):
                ok, was_close = cmp_val(sv, ov)
                if was_close:
                    close += 1
                if not ok:
                    bad += 1
                    if first_bad is None:
                        first_bad = (scols[c], sv, ov)
        if bad:
            print(f"FAIL {name}: {bad} mismatched values; first: "
                  f"col={first_bad[0]} spark={first_bad[1]!r} oracle={first_bad[2]!r}")
            record(name, True, True, False, len(srows), len(orows),
                   err=f"{bad} mismatched values")
            n_fail += 1
        elif close:
            print(f"CLOSE {name}: {len(srows)} rows OK but {close} floats "
                  f"only ~equal (1e-9) — hash compare would fail")
            record(name, True, True, False, len(srows), len(orows),
                   err=f"{close} floats only ~equal (1e-9)")
            n_close += 1
        else:
            print(f"PASS {name}: {len(srows)} rows")
            record(name, True, True, True, len(srows), len(orows))
            n_pass += 1
    print(f"\n{n_pass} pass, {n_close} close, {n_fail} fail "
          f"(+{len(oracle)} oracles total)")
    if json_path:
        with open(json_path, "w") as f:
            json.dump(dict(sorted(report.items())), f, indent=2)
        print(f"wrote {json_path}")
    return 1 if n_fail or n_close else 0

if __name__ == "__main__":
    sys.exit(main())
