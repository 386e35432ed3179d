#!/usr/bin/env python3
"""Local replica of the driver's t2 DuckDB-oracle compare.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify: run its oracle SQL in DuckDB over the
same parquet tables, load the Spark parquet result, sort columns by name,
sort rows, and compare values exactly. Prints PASS/FAIL per query.
"""
import json, sys, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cell_eq(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = canon(con.sql(
                f"SELECT * FROM parquet_scan('{out_dir}/{name}/*.parquet')").df())
            want = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            n_fail += 1
            continue
        # The driver hashes stringified values, so an int64 Spark column vs a
        # float64 oracle column (e.g. DuckDB HUGEINT sum -> pandas float)
        # mismatches ("99111" vs "99111.0") even when values compare equal.
        kind_bad = [
            c for c in got.columns
            if {got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}
        ]
        if kind_bad:
            print(f"FAIL {name}: dtype kind mismatch (int vs float) in "
                  f"{kind_bad}: spark={[str(got[c].dtype) for c in kind_bad]} "
                  f"duckdb={[str(want[c].dtype) for c in kind_bad]}")
            n_fail += 1
            continue
        bad = None
        for c in got.columns:
            ga, wa = got[c].tolist(), want[c].tolist()
            for i, (x, y) in enumerate(zip(ga, wa)):
                if not cell_eq(x, y):
                    try:
                        if pd.isna(x) and pd.isna(y):
                            continue
                    except (TypeError, ValueError):
                        pass
                    bad = (c, i, x, y)
                    break
            if bad:
                break
        if bad:
            c, i, x, y = bad
            print(f"FAIL {name}: col {c} row {i}: spark={x!r} duckdb={y!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if n_pass + n_fail == 0:
        print(f"FAIL: {out_dir}/oracle_sql.json names no query; nothing was compared")
        return 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
