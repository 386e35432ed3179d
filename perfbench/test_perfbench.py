"""The benchmark's own tests (no JVM needed):

    python3 -m unittest perfbench/test_perfbench.py     # from the repository root
"""
import json
import os
import pathlib
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SPEC = json.loads(pathlib.Path(os.path.dirname(HERE), "BENCHMARK.json").read_text())
ABOUT = json.loads(pathlib.Path(HERE, "about.json").read_text())


def fake_raw(n_warm_passes=3, queries=("q_a", "q_b", "q_c", "q_d"), fail=None):
    """A JVM result with deterministic walls; `fail` names a query whose
    every execution fails fast."""
    samples, traced = [], []
    for p in range(n_warm_passes + 1):
        for i, q in enumerate(queries):
            wall = 100.0 + 10 * i + p
            ok = q != fail
            samples.append({"pass": p, "name": q, "span": f"q{p}{i}", "ok": ok,
                            "wall_ms": 1.0 if not ok else wall, "input_rows": 1000,
                            "start_ms": 1000 * p + 100 * i, "error": "" if ok else "boom"})
            if p % 2 == 1:
                traced.append({k: 1.0 for k in (
                    "tables_read_ms", "tables_read_jobs", "tables", "build_ms", "build_jobs",
                    "analysis_ms", "optimization_ms", "planning_ms", "jobs", "stages",
                    "stages_skipped", "tasks", "empty_tasks", "job_gap_ms", "task_run_ms",
                    "task_cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                    "spill_bytes", "peak_exec_mem_bytes", "codegen_compile_ms",
                    "scan_rows", "out_rows", "wscg_ms", "exchange_write_ms", "aqe_stages",
                    "pin_blocks", "pin_bytes", "task_union_ms", "plan_ms")}
                    | {"span": f"q{p}{i}", "name": q, "wall_ms": wall, "execute_ms": wall - 2})
    jobs = [{"start": s["start_ms"] + 1, "end": s["start_ms"] + 5} for s in samples]
    return {"samples": samples, "traced": traced, "jobs": jobs, "setup_s": [5.0, 0.3, 0.4],
            "rss_peak_mb": 900.0, "cores": 4}


class SeedTest(unittest.TestCase):
    def test_query_order_follows_seed(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.pass_orders(w, 11), run.pass_orders(w, 11))
            self.assertNotEqual(run.pass_orders(w, 11), run.pass_orders(w, 12))
            for p in run.pass_orders(w, 11):
                self.assertEqual(sorted(p), sorted(run.WORKLOADS[w]["queries"]))

    def test_stream_files_follow_seed(self):
        with tempfile.TemporaryDirectory() as td:
            gen.tables(0.001, os.path.join(td, "t"))
            ev = os.path.join(td, "t", "events.parquet")

            def files(seed, name):
                d = os.path.join(td, name)
                gen.stream_files(ev, seed, d, replicas=2, files=3)
                return [pathlib.Path(d, f).read_bytes() for f in sorted(os.listdir(d))]

            a, b, c = files(5, "a"), files(5, "b"), files(6, "c")
            self.assertEqual(a, b)
            self.assertEqual(len(a), 3)
            self.assertNotEqual(a, c)


class MetricTest(unittest.TestCase):
    def test_names_and_sets(self):
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9_.-]+$")
        raw = fake_raw()
        e2e = metrics.end_to_end(raw, 75, 90)
        self.assertEqual(set(e2e), {m["name"] for m in SPEC["end_to_end"]})
        layers = metrics.per_layer(raw, 4)
        self.assertEqual(set(layers), {m["name"] for m in SPEC["per_layer"]})
        for m in SPEC["end_to_end"]:
            self.assertEqual(e2e[m["name"]][1], m["unit"])
        for m in SPEC["per_layer"]:
            self.assertEqual(layers[m["name"]][1], m["unit"])

    def test_injected_failure_counts_and_stays_in_latency(self):
        ok = metrics.end_to_end(fake_raw(), 75, 90)
        bad_raw = fake_raw(fail="q_a")
        bad = metrics.end_to_end(bad_raw, 75, 90)
        n = len(bad_raw["samples"])
        self.assertAlmostEqual(bad["ok_frac"][0], (n - 4) / n)
        # the fast failures are charged the worst wall, never dropped
        walls = metrics.effective_walls(bad_raw["samples"])
        self.assertEqual(len(walls), n)
        self.assertEqual(min(walls), min(s["wall_ms"] for s in bad_raw["samples"] if s["ok"]))
        self.assertGreater(bad["query_p50_ms"][0], ok["query_p50_ms"][0])
        self.assertLess(bad["queries_per_s"][0], ok["queries_per_s"][0])

    def test_query_p50_is_per_query_median(self):
        # fake_raw walls: query i in warm pass p takes 100 + 10 i + p ms,
        # so each query's median warm wall is 100 + 10 i + 2
        e2e = metrics.end_to_end(fake_raw(), 75, 90)
        medians = [102.0, 112.0, 122.0, 132.0]
        self.assertAlmostEqual(e2e["query_p50_ms"][0], metrics.geo_mean(medians))
        self.assertGreater(e2e["query_tail_ms"][0], e2e["query_p50_ms"][0])

    def test_tail_has_ten_samples_beyond(self):
        collapsed = set(ABOUT["tail_percentiles"]["collapsed_to_p50"])
        for w, cfg in run.WORKLOADS.items():
            qt, bt = run.tails(w)
            n_units = len(cfg["queries"]) * cfg["min_passes"]
            counts = [(f"{w}.query_tail_ms", qt, n_units)]
            if w == "stream":
                counts.append((f"{w}.batch_tail_ms", bt, n_units * cfg["files"]))
            for name, p, n_min in counts:
                self.assertEqual(ABOUT["tail_percentiles"][name], p)
                if name in collapsed:
                    self.assertEqual(p, 50)
                    self.assertLess(n_min, 20)
                    continue
                for n in range(n_min, n_min + 40):
                    self.assertGreaterEqual(metrics.beyond([float(i) for i in range(n)], p), 10)


class CanonTest(unittest.TestCase):
    def test_cells(self):
        import datetime as dt
        self.assertEqual(canon.cell(None), "N")
        self.assertEqual(canon.cell(float("nan")), "N")
        self.assertEqual(canon.cell(-0.0), "f0")
        self.assertEqual(canon.cell(3), "i3")
        self.assertEqual(canon.cell(dt.date(1970, 1, 2)), "t86400000000")
        self.assertEqual(canon.cell(dt.datetime(1970, 1, 1, 0, 0, 1)), "t1000000")
        self.assertEqual(canon.digest(["b", "a"], [(1, 2), (3, 4)]),
                         canon.digest(["b", "a"], [(3, 4), (1, 2)]))


if __name__ == "__main__":
    unittest.main()
