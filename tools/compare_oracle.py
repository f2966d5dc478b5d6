#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/compare_oracle.py <sfDir> <outDir> [query ...]
       python3 tools/compare_oracle.py --typecheck <sfDir> <oracleJson|outDir> [query ...]

Reads <outDir>/oracle_sql.json (written by graft.Verify; a subset run
`Verify <sfDir> <outDir> q…` writes only those queries and their oracles),
registers the parquet tables from <sfDir> as DuckDB views, runs each oracle
SQL, and compares against the Spark result parquet at <outDir>/<name>/.

Compare semantics mirror the driver: columns sorted by NAME, rows sorted by
all columns, values hashed after normalization (floats rounded to 9 sig
figs, NaN/None canonicalized). Prints one line per query + a summary.

--typecheck: DESCRIBE every oracle SQL (bind only, no execution) and fail
on any column DuckDB types as HUGEINT/UHUGEINT. Those come from bare
integer sum()s and hash differently than Spark's BIGINT at the driver even
when values are numerically identical — while THIS script's compare coerces
int128 to Python int and cannot see the difference. Round-6 postmortem:
q103/q104/q108/q110/q111 were bit-exact locally yet hash-mismatched at the
driver for exactly this reason.
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0NAN"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def canon(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    rows.sort()
    return [cols[i] for i in order], rows


BAD_TYPES = ("HUGEINT",)  # matches UHUGEINT too (substring check)


def typecheck(con, oracle, only):
    n_ok = n_bad = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        try:
            rows = con.execute(f"DESCRIBE {oracle[name]}").fetchall()
        except Exception as e:
            print(f"FAIL {name}: describe error {e}")
            n_bad += 1
            continue
        offenders = [(r[0], r[1]) for r in rows
                     if any(b in r[1].upper() for b in BAD_TYPES)]
        if offenders:
            print(f"FAIL {name}: driver-unhashable column types {offenders}"
                  " — wrap the aggregate in CAST(... AS BIGINT)")
            n_bad += 1
        else:
            n_ok += 1
    print(f"== typecheck: {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)


def main():
    args = sys.argv[1:]
    tc = "--typecheck" in args
    if tc:
        args.remove("--typecheck")
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")
    oracle_path = (out_dir if out_dir.endswith(".json")
                   else f"{out_dir}/oracle_sql.json")
    oracle = json.load(open(oracle_path))
    if tc:
        typecheck(con, oracle, only)
    n_ok = n_bad = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        try:
            o_cols, o_rows = canon(con.execute(sql))
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_bad += 1
            continue
        try:
            s_cols, s_rows = canon(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
        except Exception as e:
            print(f"FAIL {name}: spark read error {e}")
            n_bad += 1
            continue
        if s_cols != o_cols:
            print(f"FAIL {name}: schema spark={s_cols} oracle={o_cols}")
            n_bad += 1
        elif len(s_rows) != len(o_rows):
            print(f"FAIL {name}: rows spark={len(s_rows)} oracle={len(o_rows)}")
            n_bad += 1
        elif s_rows != o_rows:
            diff = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows))
                        if a != b)
            print(f"FAIL {name}: hash mismatch first diff row {diff}:\n"
                  f"  spark : {s_rows[diff]}\n  oracle: {o_rows[diff]}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(s_rows)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
