#!/usr/bin/env python3
"""Local oracle self-check, mimicking the driver's compare:
run each oracle SQL in DuckDB over the sf tables, read the engine's
Verify parquet dump, sort columns by name, sort rows, compare values.

Queries that Verify lists as failed in failures.json count as FAIL,
with or without an oracle entry. A dumped query with no oracle entry is
rows-only: it counts as SKIP with its row count. A query named on the
command line that is in none of the oracle, failures.json or the dump
counts as FAIL.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if v is None:
                vals.append("NULL")
            elif isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(v))
            elif isinstance(v, bool):
                vals.append(str(v))
            elif isinstance(v, (list, tuple)):
                vals.append(str(list(v)))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures_path = f"{out_dir}/failures.json"
    errors = {}
    if os.path.exists(failures_path):
        errors = json.load(open(failures_path))["errors"]
    dumped = {d for d in os.listdir(out_dir)
              if os.path.isdir(os.path.join(out_dir, d))}
    n_pass = n_fail = n_skip = 0
    for name in sorted(only - set(oracle) - set(errors) - dumped):
        print(f"FAIL {name}: not in the oracle, failures.json or the dump")
        n_fail += 1
    for name in sorted(errors):
        if only and name not in only:
            continue
        print(f"FAIL {name}: Verify failed: {errors[name][:200]}")
        n_fail += 1
    for name in sorted(oracle):
        if (only and name not in only) or name in errors:
            continue
        sql = oracle[name]
        try:
            exp_rel = con.execute(sql)
            exp_cols = sorted(d[0].lower() for d in exp_rel.description)
            idx = [
                [d[0].lower() for d in exp_rel.description].index(c)
                for c in exp_cols]
            exp = canon([[r[i] for i in idx] for r in exp_rel.fetchall()])
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            n_fail += 1
            continue
        try:
            got_rel = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = sorted(d[0].lower() for d in got_rel.description)
            gidx = [
                [d[0].lower() for d in got_rel.description].index(c)
                for c in got_cols]
            got = canon([[r[i] for i in gidx] for r in got_rel.fetchall()])
        except Exception as e:
            print(f"FAIL {name}: engine output unreadable: {str(e)[:200]}")
            n_fail += 1
            continue
        if exp_cols != got_cols:
            print(f"FAIL {name}: columns exp={exp_cols} got={got_cols}")
            n_fail += 1
        elif len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_fail += 1
        elif exp != got:
            bad = [(e, g) for e, g in zip(exp, got) if e != g][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows)")
            n_pass += 1
    for name in sorted(dumped - set(oracle) - set(errors)):
        if only and name not in only:
            continue
        try:
            (n,) = con.execute(
                f"SELECT count(*) FROM '{out_dir}/{name}/*.parquet'").fetchone()
        except Exception as e:
            print(f"FAIL {name}: engine output unreadable: {str(e)[:200]}")
            n_fail += 1
            continue
        print(f"SKIP {name} ({n} rows)")
        n_skip += 1
    print(f"== {n_pass} pass / {n_fail} fail / {n_skip} skip ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
