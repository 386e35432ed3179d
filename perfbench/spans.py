"""Span tree of a traced run, written once when the run ends.

Root spans are the units of work (a query or a stream query), each with an
id. Under a query root sit the benchmark-timed build / plan / execute calls;
under those the Catalyst tracker phases that ran in them and the Spark jobs
attributed to the call through the span local property; under a job its
stages. Under a stream
root sit its jobs and its micro-batch triggers. Times are epoch milliseconds.
"""
import json

def build_spans(raw: dict) -> list:
    out = []

    def add(sid, parent, name, kind, start, end, **kw):
        out.append({"id": sid, "parent": parent, "name": name, "kind": kind,
                    "start_ms": start, "end_ms": end, **kw})

    for r in raw.get("traced", []):
        sid, t = r["span"], r["start_ms"]
        add(sid, None, r["name"], "query", t, t + r["wall_ms"], ok=r["ok"])
        for c in ("build", "plan", "execute"):
            add(f"{sid}/{c}", sid, c, "call", t, t + r[c + "_ms"])
            t += r[c + "_ms"]
    calls = [s for s in out if s["kind"] == "call"]
    for p in raw.get("trace_phases", []):
        # a phase hangs under the call it ran in (analysis may run lazily)
        parent = next((c["id"] for c in calls if c["parent"] == p["span"]
                       and c["start_ms"] <= p["start"] <= c["end_ms"]), p["span"])
        add(f"{p['span']}/{p['phase']}", parent, p["phase"], "catalyst", p["start"], p["end"])
    for r in raw.get("traced_streams", []):
        add(r["span"], None, r["name"], "stream", r["start_ms"], r["start_ms"] + r["wall_ms"],
            ok=r["ok"])
    for r in raw.get("triggers", []):
        add(f"{r['span']}/trigger{r['batch']}", r["span"], f"trigger {r['batch']}", "trigger",
            r["start"], r["start"] + r["ms"])
    ids = {s["id"] for s in out}
    for j in raw.get("trace_jobs", []):
        # a job hangs under its call span, or under the unit root when the
        # unit has no call spans (streams); table-read jobs have neither
        parent = next((p for p in (j["span"], j["span"].split("/")[0]) if p in ids), None)
        add(f"job{j['id']}", parent, f"job {j['id']}", "job", j["start"], j["end"],
            stages=j["stages"])
    for s in raw.get("trace_stages", []):
        add(f"job{s['job']}/stage{s['id']}", f"job{s['job']}", f"stage {s['id']}", "stage",
            s["start"], s["end"], tasks=s["tasks"])
    return out


def covered(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            total += (cur_e - cur_s) if cur_e is not None else 0.0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def self_times(spans: list) -> dict:
    """Self time summed per span kind: a span's duration minus the part of
    its interval that its child spans cover."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        own = (hi - lo) - covered(kids.get(s["id"], []), lo, hi)
        out[s["kind"]] = out.get(s["kind"], 0.0) + own
    return out


def write(raw: dict, path: str) -> None:
    spans = build_spans(raw)
    with open(path, "w") as fh:
        json.dump({"spans": spans, "self_ms_by_kind": self_times(spans),
                   "units": raw.get("traced", []) + raw.get("traced_streams", [])}, fh)
