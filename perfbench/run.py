#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <dashboard|pipeline|stream> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark JVM
code from source (``perfbench/build.py``), generates the inputs
(``perfbench/gen.py``), runs one JVM with one client thread in a closed
loop, checks every output against the recorded digests, and prints one
JSON line last: the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). A traced run also writes its spans to
``.bench_out/trace-<workload>-<seed>.json``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402

# Each workload: scale factor of its tables, its query set, the warm
# passes a run makes at least, and for `stream` the shape of its input.
WORKLOADS = {
    "dashboard": {
        "scale": 0.01, "min_passes": 3,
        "queries": [
            "q_topk_revenue", "q_pricing_summary", "q_join_broadcast_star",
            "q_join_shuffle", "q_dedup_groupmax", "q_setops", "q_rollup",
            "q_window_lag", "q_window_movavg", "q_row_align_join",
            "q_estimator_slopes", "q_county_series", "q_wrangle"],
    },
    "pipeline": {
        "scale": 0.05, "min_passes": 4,
        "queries": ["q_dedup_canonical", "q_pagerank", "q_basket_rules"],
    },
    "stream": {
        "scale": 0.1, "min_passes": 1, "replicas": 2, "files": 5,
        "queries": ["funnel", "session_tws", "concurrency", "hll_group_regs"],
    },
}
# Jobs per warm pass of `dashboard` and `pipeline` are in the hundreds, so
# their job-latency tail can be p90; see tails().
JOB_TAIL = 90
SETUP_ROUNDS = 3
MAX_PASSES = 64
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def pass_orders(workload: str, seed: int, n: int = MAX_PASSES):
    """Seeded permutation of the workload's queries for each pass."""
    qs = WORKLOADS[workload]["queries"]
    key = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    rng = np.random.Generator(np.random.PCG64([seed, key]))
    return [[qs[i] for i in rng.permutation(len(qs))] for _ in range(n)]


def tails(workload: str):
    """(query tail percentile, batch tail percentile) of a workload: the
    highest ladder percentile with at least ten samples beyond it in the
    smallest run the workload can make."""
    w = WORKLOADS[workload]
    n_units = len(w["queries"]) * w["min_passes"]
    if workload == "stream":
        return metrics.tail_percentile(n_units), metrics.tail_percentile(n_units * w["files"])
    return metrics.tail_percentile(n_units), JOB_TAIL


def tables_dir(root: str, scale: float) -> str:
    """Generated tables for ``scale``, regenerated when gen.py changes."""
    d = os.path.join(root, ".bench_data", f"sf{scale}")
    stamp = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()
    sp = os.path.join(d, "stamp")
    if not (os.path.exists(sp) and open(sp).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(scale, d)
        with open(sp, "w") as fh:
            fh.write(stamp)
    return d


def table_rows(data: str) -> dict:
    return {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
            for t in gen.TABLES}


def java_cmd(cp: str, plan_path: str, work: str):
    """One JVM per run. A fixed-size heap with a fixed young generation
    under the parallel collector makes GC work, and with it the resident
    set, repeat from run to run; a metaspace threshold above what the run
    loads keeps class loading from triggering full collections. Temporary
    files, Spark's shuffle and block files and the RocksDB working
    directories stay under ``work``."""
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn640m",
             "-XX:MetaspaceSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens + ["-cp", cp, "perfbench.Main", plan_path])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    w = WORKLOADS[a.workload]

    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build.build(root, build_dir)
    data = tables_dir(root, w["scale"])
    out_dir = os.path.join(root, ".bench_out")
    work = os.path.join(out_dir, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expected = json.load(open(os.path.join(HERE, "expected.json")))[a.workload]
    try:
        lines = [f"workload {a.workload}", f"data {data}", f"work {work}",
                 f"out {work}/raw.json", f"seconds {a.seconds}",
                 # a traced run needs a traced and an untraced warm pass
                 f"min_passes {max(w['min_passes'], 2 * a.trace)}",
                 f"setup_rounds {SETUP_ROUNDS}",
                 f"trace {a.trace}"]
        if a.workload == "stream":
            sdir = os.path.join(work, "arrivals")
            gen.stream_files(os.path.join(data, "events.parquet"), a.seed, sdir,
                             w["replicas"], w["files"])
            lines.append(f"stream {sdir}")
        lines += ["pass " + " ".join(p) for p in pass_orders(a.workload, a.seed)]
        lines += [f"expect {k} {v}" for k, v in sorted(expected.items())]
        lines += [f"rows {t} {n}" for t, n in sorted(table_rows(data).items())]
        plan_path = os.path.join(work, "plan.txt")
        with open(plan_path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        log = os.path.join(out_dir, f"{a.workload}-{a.seed}.log")
        with open(log, "w") as lf:
            r = subprocess.run(java_cmd(cp, plan_path, work), stdout=lf, stderr=subprocess.STDOUT,
                               timeout=170)
        if r.returncode != 0:
            sys.stderr.write(open(log).read()[-3000:])
            return 3
        raw = json.load(open(os.path.join(work, "raw.json")))
        shutil.copy(os.path.join(work, "raw.json"),
                    os.path.join(out_dir, f"raw-{a.workload}-{a.seed}-{a.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = raw["samples"]
    failed = [s for s in samples if not s["ok"]]
    for s in failed:
        sys.stderr.write(f"FAILED {s['name']} (pass {s['pass']}): {s['error']}\n")
    if a.trace:
        m = metrics.per_layer(raw, int(raw["cores"]))
        spans.write(raw, os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"))
    else:
        m = metrics.end_to_end(raw, *tails(a.workload))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
