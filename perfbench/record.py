#!/usr/bin/env python3
"""Record the digests ``run.py`` checks outputs against (``expected.json``).

    python3 perfbench/record.py            # from the repository root

* ``dashboard`` and ``pipeline``: each query's DuckDB oracle SQL
  (``SparkEntry.oracleSql``) runs over the generated tables of the
  workload's scale; the digest of its result is the expected one.
* ``stream``: no oracle exists, so the digests are those of the engine's
  own stream outputs at the commit that recorded them, for two different
  seeds, which must agree (the seed moves arrival order and replica slots,
  never the multiset of rows).
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import canon  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def oracle_digests(data: str, sqls: dict, names) -> dict:
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for n in names:
        rel = con.sql(sqls[n])
        out[n] = canon.digest(rel.columns, rel.fetchall())
    return out


def stream_digests(root: str) -> dict:
    seen = []
    for seed in (1, 2):
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream",
                        "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                       cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       check=True)
        raw = json.load(open(os.path.join(root, ".bench_out", f"raw-stream-{seed}-0.json")))
        got = {}
        for s in raw["samples"]:
            if got.setdefault(s["name"], s["digest"]) != s["digest"]:
                raise SystemExit(f"stream {s['name']} digests differ between passes")
        seen.append(got)
    if seen[0] != seen[1] or len(seen[0]) != len(run.WORKLOADS["stream"]["queries"]):
        raise SystemExit(f"stream digests differ between seeds or are missing: {seen}")
    return seen[0]


def main() -> int:
    root = os.getcwd()
    cp = build.build(root, os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "oracle.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--oracle", path], check=True)
        sqls = json.load(open(path))
    path = os.path.join(HERE, "expected.json")
    expected = {w: {} for w in run.WORKLOADS}
    for w in ("dashboard", "pipeline"):
        cfg = run.WORKLOADS[w]
        expected[w] = oracle_digests(run.tables_dir(root, cfg["scale"]), sqls, cfg["queries"])
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    expected["stream"] = stream_digests(root)
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
