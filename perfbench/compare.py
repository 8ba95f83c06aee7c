#!/usr/bin/env python3
"""Print two benchmark run records side by side.

Usage:
  python3 perfbench/compare.py <before.json> <after.json>

Records are written by perfbench/run.py to
.bench_build/records/<workload>-s<seed>-t<trace>.json. For traced records
(--trace 1) the output has, per workload: the end-to-end metrics, the
per-layer metrics, each layer's self time (span time minus the time of
its child spans, per-op median) and the Spark jobs each call caused
(per-op median, by job group), and the time and jobs of calls made
only in set-up (cube_serve's refresh and curate). Comparing an untraced record with a
traced one of the same workload prints the tracing overhead: the gap in
op_p50_ms and rows_per_s.
"""
import json
import statistics
import sys

PRIMARY = {"esi_load": "load", "cube_serve": "read"}


def load(path):
    with open(path) as f:
        return json.load(f)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def primary_ops(rec):
    return [o for o in rec["ops"] if o["ok"] and o["kind"] == PRIMARY[rec["workload"]]
            and "layers" in o]


def self_times(rec):
    ops = primary_ops(rec)
    layers = sorted({k for o in ops for k in o["layers"]["self_ms"]})
    return {k: med([o["layers"]["self_ms"].get(k, 0.0) for o in ops]) for k in layers}


def job_groups(rec):
    ops = primary_ops(rec)
    groups = sorted({g for o in ops for g in o["layers"]["job_groups"]})
    return {g: med([o["layers"]["job_groups"].get(g, 0) for o in ops]) for g in groups}


def setup_calls(rec):
    """Calls made only in set-up and warmup, such as cube_serve's rollup
    refresh and curation: per call, the median over the set-up steps
    that made it of its span time and of the Spark jobs it caused."""
    timed = {n for o in primary_ops(rec) for n in o["layers"]["call_ms"]}
    ms, jobs = {}, {}
    for sp in rec["spans"]:
        if sp["trace"] < 0 and sp["layer"] != "op" and sp["name"] not in timed:
            per = ms.setdefault(sp["name"], {})
            per[sp["trace"]] = per.get(sp["trace"], 0.0) + sp["end_ms"] - sp["start_ms"]
    for j in rec["jobs"]:
        name = j["group"].split("/", 1)[-1]
        if j["trace"] < 0 and name in ms:
            per = jobs.setdefault(name, {})
            per[j["trace"]] = per.get(j["trace"], 0) + 1
    out = {}
    for name, per in ms.items():
        out[f"{name} ms"] = med(list(per.values()))
        out[f"{name} jobs"] = med([jobs.get(name, {}).get(t, 0) for t in per])
    return out


def fmt(v):
    if v is None:
        return "-"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def table(title, a, b):
    keys = list(dict.fromkeys(list(a) + list(b)))
    if not keys:
        return
    print(f"\n{title}")
    width = max(len(k) for k in keys) + 2
    print(f"  {'':<{width}}{'before':>14}{'after':>14}{'after/before':>14}")
    for k in keys:
        x, y = a.get(k), b.get(k)
        ratio = f"{y / x:.3f}" if isinstance(x, (int, float)) and isinstance(y, (int, float)) and x else "-"
        print(f"  {k:<{width}}{fmt(x):>14}{fmt(y):>14}{ratio:>14}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    for label, r in (("before", a), ("after", b)):
        print(f"{label}: workload={r['workload']} seed={r['seed']} trace={int(r['trace'])} "
              f"cores={r['cores']} window={r['window_s']:.2f}s ops={len(r['ops'])}")
    if a["workload"] != b["workload"]:
        print("warning: the records are of different workloads")
    table("end-to-end", a.get("end_to_end", {}), b.get("end_to_end", {}))
    table("per layer", a.get("per_layer", {}), b.get("per_layer", {}))
    table("self time per layer (ms, per-op median)", self_times(a), self_times(b))
    table("Spark jobs per call (per-op median, by job group)", job_groups(a), job_groups(b))
    table("set-up calls (median per set-up step)", setup_calls(a), setup_calls(b))
    if a["workload"] == b["workload"] and bool(a["trace"]) != bool(b["trace"]):
        plain, traced = (a, b) if not a["trace"] else (b, a)
        print("\ntracing overhead (traced / untraced)")
        for k in ("op_p50_ms", "rows_per_s"):
            x, y = plain["end_to_end"][k], traced["end_to_end"][k]
            print(f"  {k:<14}{fmt(x):>14}{fmt(y):>14}{y / x:>14.3f}")


if __name__ == "__main__":
    main()
