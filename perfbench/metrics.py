"""Aggregation of one run's raw samples into the benchmark's metrics.

Pure functions over the JSON the JVM writes, so the benchmark's own tests
exercise them without a JVM.
"""
import math
import statistics

TAIL_LADDER = (99, 95, 90, 80, 75, 50)
MIN_BEYOND = 10


def percentile(xs, p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n_min: int) -> int:
    """The highest ladder percentile that leaves at least MIN_BEYOND of
    ``n_min`` distinct samples strictly above it; the median when a run
    holds too few samples for any tail."""
    for p in TAIL_LADDER:
        if beyond(list(range(n_min)), p) >= MIN_BEYOND:
            return p
    return 50


def central_mean(xs, lo: float = 40, hi: float = 60) -> float:
    """Mean of the samples between two percentiles: a median that does not
    stick to one value when the samples are whole milliseconds."""
    a, b = percentile(xs, lo), percentile(xs, hi)
    mid = [x for x in xs if a <= x <= b]
    return sum(mid) / len(mid)


def tail_mean(xs, p: float) -> float:
    """Mean of the samples strictly above the p-th percentile (all of them
    when none is)."""
    v = percentile(xs, p)
    top = [x for x in xs if x > v] or list(xs)
    return sum(top) / len(top)


def beyond(xs, p: float) -> int:
    v = percentile(xs, p)
    return sum(1 for x in xs if x > v)


def geo_mean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def per_name_median(samples, walls) -> float:
    """Geometric mean over the unit names of each name's median wall: the
    typical unit latency of a mix of unlike queries, which does not jump
    from one query's latency to another's as the pooled median does."""
    by = {}
    for s, w in zip(samples, walls):
        by.setdefault(s["name"], []).append(w)
    return geo_mean([statistics.median(v) for v in by.values()])


def effective_walls(samples):
    """Wall time per sample, with every failed or wrong sample charged the
    run's worst wall time, so a fast failure can never read as a gain."""
    worst = max(s["wall_ms"] for s in samples)
    return [s["wall_ms"] if s["ok"] else worst for s in samples]


def end_to_end(raw: dict, tail_p: int, batch_tail_p: int) -> dict:
    samples = raw["samples"]
    walls = effective_walls(samples)
    warm_samples = [s for s in samples if s["pass"] >= 1]
    warm = [w for s, w in zip(samples, walls) if s["pass"] >= 1]
    cold = [w for s, w in zip(samples, walls) if s["pass"] == 0]
    warm_rows = sum(s["input_rows"] for s in samples if s["pass"] >= 1)
    if "batches" in raw:
        batches = [b["ms"] for b in raw["batches"] if b["pass"] >= 1]
    else:
        batches = warm_job_ms(raw)
    ok = sum(1 for s in samples if s["ok"])
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "ok_frac": (ok / len(samples), "frac"),
        "rss_peak_mb": (raw["rss_peak_mb"], "MiB"),
        "first_pass_s": (sum(cold) / 1e3, "s"),
        "queries_per_s": (len(warm) / (sum(warm) / 1e3), "1/s"),
        "query_p50_ms": (per_name_median(warm_samples, warm), "ms"),
        "query_tail_ms": (tail_mean(warm, tail_p), "ms"),
        "rows_per_s": (warm_rows / (sum(warm) / 1e3), "1/s"),
        "batch_p50_ms": (central_mean(batches), "ms"),
        "batch_tail_ms": (tail_mean(batches, batch_tail_p), "ms"),
    }


def warm_job_ms(raw: dict):
    """Durations of the Spark jobs that ran inside warm query windows."""
    wins = sorted((s["start_ms"], s["start_ms"] + s["wall_ms"])
                  for s in raw["samples"] if s["pass"] >= 1)
    out = []
    for j in raw.get("jobs", []):
        for a, b in wins:
            if a <= j["start"] <= b:
                out.append(j["end"] - j["start"])
                break
    return out or [0.0]


def _med(rows, key):
    return statistics.median([r[key] for r in rows]) if rows else 0.0


def _mean(rows, key):
    return sum(r[key] for r in rows) / len(rows) if rows else 0.0


def _ratio(rows, num, den):
    d = sum(r[den] for r in rows)
    return sum(r[num] for r in rows) / d if d else 0.0


def per_layer(raw: dict, cores: int) -> dict:
    """Per-layer metrics of a traced run: medians per query (or per stream)
    over the traced warm passes; shares as ratios of sums."""
    q = [r for r in raw.get("traced", [])]
    st = [r for r in raw.get("traced_streams", [])]
    units = q or st
    m = {}
    m["tables.read_ms"] = (_med(q, "tables_read_ms"), "ms")
    m["tables.read_jobs"] = (_ratio(q, "tables_read_jobs", "tables"), "count")
    m["queries.build_ms"] = (_med(q, "build_ms"), "ms")
    m["queries.build_jobs"] = (_mean(q, "build_jobs"), "count")
    m["queries.build_share"] = (_ratio(q, "build_ms", "wall_ms"), "frac")
    m["catalyst.analysis_ms"] = (_med(q, "analysis_ms"), "ms")
    m["catalyst.optimization_ms"] = (_med(q, "optimization_ms"), "ms")
    m["catalyst.planning_ms"] = (_med(q, "planning_ms"), "ms")
    m["scheduler.jobs"] = (_mean(units, "jobs"), "count")
    m["scheduler.stages"] = (_mean(units, "stages"), "count")
    m["scheduler.tasks"] = (_mean(units, "tasks"), "count")
    m["scheduler.job_gap_ms"] = (_med(q, "job_gap_ms"), "ms")
    m["scheduler.empty_task_frac"] = (_ratio(units, "empty_tasks", "tasks"), "frac")
    m["scheduler.stages_skipped_frac"] = (_ratio(units, "stages_skipped", "stages"), "frac")
    m["exec.task_run_ms"] = (_med(units, "task_run_ms"), "ms")
    m["exec.task_cpu_ms"] = (_med(units, "task_cpu_ms"), "ms")
    m["exec.gc_ms"] = (_mean(units, "gc_ms"), "ms")
    m["exec.shuffle_write_bytes"] = (_mean(units, "shuffle_write_bytes"), "B")
    m["exec.shuffle_read_bytes"] = (_mean(units, "shuffle_read_bytes"), "B")
    m["exec.spill_bytes"] = (_mean(units, "spill_bytes"), "B")
    m["exec.peak_exec_mem_bytes"] = (max([r["peak_exec_mem_bytes"] for r in units] or [0]), "B")
    busy = sum(r["task_run_ms"] for r in units)
    span = sum(r["wall_ms"] for r in units)
    m["exec.core_busy_frac"] = (busy / (span * cores) if span else 0.0, "frac")
    m["exec.codegen_compile_ms"] = (_mean(q, "codegen_compile_ms"), "ms")
    m["ops.scan_rows"] = (_mean(q, "scan_rows"), "count")
    m["ops.rows_examined_per_output"] = (_ratio(q, "scan_rows", "out_rows"), "ratio")
    m["ops.wscg_ms"] = (_med(q, "wscg_ms"), "ms")
    m["ops.exchange_write_ms"] = (_med(q, "exchange_write_ms"), "ms")
    m["ops.aqe_stages"] = (_mean(q, "aqe_stages"), "count")
    m["pin.blocks_held"] = (_mean(q, "pin_blocks"), "count")
    m["pin.bytes_held"] = (_mean(q, "pin_bytes"), "B")
    m["pin.bytes_held_max"] = (max([r["pin_bytes"] for r in q] or [0]), "B")
    for k, unit in (("trigger_ms", "ms"), ("add_batch_ms", "ms"), ("query_planning_ms", "ms"),
                    ("wal_commit_ms", "ms"), ("state_commit_ms", "ms")):
        m["streams." + k] = (_ratio(st, k, "batches"), unit)
    m["streams.state_rows_total"] = (_mean(st, "state_rows_total"), "count")
    m["streams.state_rows_updated"] = (_mean(st, "state_rows_updated"), "count")
    m["streams.state_mem_bytes"] = (_mean(st, "state_mem_bytes"), "B")
    m["streams.batches"] = (_mean(st, "batches"), "count")
    # fixed cost: the share of a unit's wall time in which none of its
    # tasks runs (table reads, builders, Catalyst, scheduling, result
    # handling); the rest is task execution
    m["trace.fixed_share"] = (1.0 - _ratio(units, "task_union_ms", "wall_ms"), "frac")
    m["trace.reconcile_err_frac"] = (max([abs(r["wall_ms"] - r["build_ms"] - r["plan_ms"]
                                              - r["execute_ms"]) / r["wall_ms"] for r in q] or [0.0]),
                                     "frac")
    m["trace.overhead_frac"] = (trace_overhead(raw), "frac")
    return m


def trace_overhead(raw: dict) -> float:
    """Median wall of traced over untraced warm units, minus one. Traced
    runs alternate the two kinds of pass, so both see the same warmth."""
    traced = {r["span"] for r in raw.get("traced", []) + raw.get("traced_streams", [])}
    by = {}
    for s in raw["samples"]:
        if s["pass"] >= 1:
            by.setdefault((s["name"], s["span"] in traced), []).append(s["wall_ms"])
    ratios = [statistics.median(by[(n, True)]) / statistics.median(by[(n, False)])
              for (n, t) in by if t and (n, False) in by]
    return statistics.median(ratios) - 1.0 if ratios else 0.0
