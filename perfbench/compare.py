#!/usr/bin/env python3
"""Paired A/B compare of benchmark results.

Collect results (one JSON line per run, as ``run.py`` prints them, each
line prefixed by nothing else) into one file per side and workload, ideally
from alternating A, B, A, B ... runs on the same machine:

    python3 perfbench/compare.py collect <checkout A> <checkout B> \
        --workload dashboard --pairs 10 --seconds 20 --out <dir>
    python3 perfbench/compare.py report <A.jsonl> <B.jsonl> [--workload dashboard]
    python3 perfbench/compare.py spread <runs.jsonl>

``collect`` runs the pairs itself (A then B, seeds 1..n shared by both
sides) and writes ``<dir>/<workload>-A.jsonl`` and ``-B.jsonl``; then it
reports. ``report`` prints, per end-to-end metric, each side's median and
quartiles and B's win fraction over the pairs, and the verdict: "B wins"
when B is better in at least 9 of 10 pairs and the gap between medians
exceeds A's interquartile range, "unresolved" when either side's spread
(interquartile range over median) exceeds the metric's bound in
BENCHMARK.json, and "no change" otherwise. ``spread`` prints, for the runs of
one side, each metric's median and its interquartile range over the median
against a third of the metric's bound (the steadiness a benchmark needs).
Lines may also wrap a result as ``{"result": {...}}``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list:
    out = []
    for line in open(path):
        line = line.strip()
        if line.startswith("{"):
            obj = json.loads(line)
            out.append(obj.get("result", obj)["metrics"])
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def report(a_runs: list, b_runs: list, spec: list) -> list:
    """One row per metric: (name, A q1/med/q3, B q1/med/q3, win frac, verdict)."""
    rows = []
    for m in spec:
        name = m["name"]
        a = [r[name]["value"] for r in a_runs if name in r]
        b = [r[name]["value"] for r in b_runs if name in r]
        if not a or not b:
            continue
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        lower = m["better"] == "lower"
        pairs = list(zip(a, b))
        wins = sum(1 for x, y in pairs if (y < x if lower else y > x)) / len(pairs)
        spread = max((a3 - a1) / am if am else 0.0, (b3 - b1) / bm if bm else 0.0)
        if spread > m["bound"]:
            verdict = "unresolved"
        elif wins >= 0.9 and abs(bm - am) > (a3 - a1):
            verdict = "B wins"
        elif wins <= 0.1 and abs(bm - am) > (a3 - a1):
            verdict = "A wins"
        else:
            verdict = "no change"
        rows.append((name, (a1, am, a3), (b1, bm, b3), wins, spread, verdict))
    return rows


def print_report(rows, workload: str) -> None:
    print(f"== {workload}")
    print(f"{'metric':16s} {'A q1':>10s} {'A med':>10s} {'A q3':>10s} "
          f"{'B q1':>10s} {'B med':>10s} {'B q3':>10s} {'B wins':>7s} {'spread':>7s}  verdict")
    for name, a, b, wins, spread, verdict in rows:
        print(f"{name:16s} {a[0]:10.4g} {a[1]:10.4g} {a[2]:10.4g} "
              f"{b[0]:10.4g} {b[1]:10.4g} {b[2]:10.4g} {wins:7.2f} {spread:7.3f}  {verdict}")


def print_spread(runs: list, spec: list) -> bool:
    """Per metric: median, IQR/median, and whether it is under bound/3."""
    steady = True
    for m in spec:
        xs = [r[m["name"]]["value"] for r in runs if m["name"] in r]
        if not xs:
            continue
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else 0.0
        ok = m["name"] == "setup_s" or spread < m["bound"] / 3
        steady &= ok
        print(f"{m['name']:16s} median {med:12.5g}  spread {spread:7.4f}  "
              f"bound/3 {m['bound'] / 3:7.4f}  {'ok' if ok else 'TOO WIDE'}")
    return steady


def spec_of(root: str) -> list:
    return json.load(open(os.path.join(root, "BENCHMARK.json")))["end_to_end"]


def collect(a_root, b_root, workload, pairs, seconds, out_dir) -> tuple:
    os.makedirs(out_dir, exist_ok=True)
    paths = {s: os.path.join(out_dir, f"{workload}-{s}.jsonl") for s in "AB"}
    for s in "AB":
        open(paths[s], "w").close()
    for seed in range(1, pairs + 1):
        for side, root in (("A", a_root), ("B", b_root)):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                               cwd=root, stdout=subprocess.PIPE, text=True, check=True)
            with open(paths[side], "a") as fh:
                fh.write(p.stdout.strip().splitlines()[-1] + "\n")
    return paths["A"], paths["B"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("a_root")
    c.add_argument("b_root")
    c.add_argument("--workload", required=True)
    c.add_argument("--pairs", type=int, default=10)
    c.add_argument("--seconds", type=float, default=20)
    c.add_argument("--out", required=True)
    r = sub.add_parser("report")
    r.add_argument("a_file")
    r.add_argument("b_file")
    r.add_argument("--workload", default="")
    sp = sub.add_parser("spread")
    sp.add_argument("runs_file")
    a = ap.parse_args(argv)
    spec = spec_of(os.path.dirname(HERE))
    if a.cmd == "collect":
        fa, fb = collect(os.path.abspath(a.a_root), os.path.abspath(a.b_root), a.workload,
                         a.pairs, a.seconds, a.out)
        print_report(report(load(fa), load(fb), spec), a.workload)
    elif a.cmd == "report":
        print_report(report(load(a.a_file), load(a.b_file), spec), a.workload)
    else:
        return 0 if print_spread(load(a.runs_file), spec) else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
