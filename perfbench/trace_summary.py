#!/usr/bin/env python3
"""Trace summarizer: per-layer self time, counts and tracing overhead.

Reads the span file a traced run writes (`spans.jsonl`) and the run's
operation records (`records.jsonl`), both under
`.bench_build/runs/<workload>/` after `run.py --trace 1`:

    python3 perfbench/trace_summary.py .bench_build/runs/etl_parquet

Spans come from two sources. The harness records the operation
(`catalog.query`, `Incremental.runOnceTo`) and the calls into the
program inside it (`SparkEntry.construct`, `EventOps.ga4Pipeline`,
`Sinks.upsertAppend`, `Sinks.copyUpsertPostgres`, `exec.collect`).
A listener records SQL executions (`sql.execution`) with their Catalyst
phases (`catalyst.*`), and Spark jobs and stages (`exec.job`,
`exec.stage`). Every span names its parent: a listener span's chain
reaches a harness span through the job tags the harness sets, so each
span belongs to the operation at the top of its chain. A span's self
time is the part of its interval, cut to its parent's, that no child
covers; the self times of an operation add up to its wall time.
"""
import json
import os
import statistics
import sys

OPS = ("catalog.query", "Incremental.runOnceTo")
LAYER = [("catalog.query", "harness"), ("exec.collect", "exec"),
         ("Incremental.", "Incremental"), ("SparkEntry.", "SparkEntry"),
         ("EventOps.", "EventOps"), ("Sinks.", "Sinks"), ("catalyst.", "Catalyst"),
         ("sql.execution", "exec"), ("exec.", "exec"), ("session.", "session")]
CONSTRUCTS = ("SparkEntry.construct", "EventOps.ga4Pipeline")


def layer_of(name):
    for prefix, layer in LAYER:
        if name.startswith(prefix):
            return layer
    return "other"


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union(intervals, lo, hi):
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _dur(s):
    return (s["end_ms"] - s["start_ms"]) / 1e3


def attribute(spans):
    """Groups spans under their operation: {op id: (op span, [spans])}.
    A span whose chain of parents reaches no operation is left out."""
    by_id = {s["id"]: s for s in spans}
    groups = {s["id"]: (s, []) for s in spans if s["name"] in OPS}
    for s in spans:
        p = s
        while p is not None and p["name"] not in OPS:
            p = by_id.get(p["parent"])
        if p is not None and p is not s:
            groups[p["id"]][1].append(s)
    return groups


def summarize_op(op, children):
    """Self time per layer and counts for one operation."""
    by_id = {s["id"]: s for s in [op] + children}
    kids = {}
    for s in children:
        kids.setdefault(s["parent"], []).append(s)
    self_s = {}

    def walk(s, lo, hi):
        lo, hi = max(lo, s["start_ms"]), min(hi, s["end_ms"])
        if hi <= lo:
            return
        ch = kids.get(s["id"], [])
        covered = _union([(k["start_ms"], k["end_ms"]) for k in ch], lo, hi)
        layer = layer_of(s["name"])
        self_s[layer] = self_s.get(layer, 0.0) + (hi - lo - covered) / 1e3
        for k in ch:
            walk(k, lo, hi)

    walk(op, op["start_ms"], op["end_ms"])

    def under_construct(s):
        while s is not None and s is not op:
            if s["name"] in CONSTRUCTS:
                return True
            s = by_id.get(s["parent"])
        return False

    c = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "task_skew": 1.0,
         "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
         "scan_rows": 0, "scan_bytes": 0, "sink_scan_rows": 0, "construct_jobs": 0,
         "catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0, "catalyst.planning_s": 0.0,
         "execute_s": 0.0, "construct_s": 0.0, "sink_s": 0.0}
    for s in children:
        n = s["name"]
        if n == "exec.job":
            c["jobs"] += 1
            c["construct_jobs"] += under_construct(s)
        elif n == "exec.stage":
            c["stages"] += 1
            for k in ("tasks", "task_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                c[k] += s[k]
            c["task_skew"] = max(c["task_skew"], s["task_skew"])
        elif n.startswith("catalyst.") and n + "_s" in c:
            c[n + "_s"] += _dur(s)
        elif n == "sql.execution":
            for k in ("scan_rows", "scan_bytes", "sink_scan_rows"):
                c[k] += s[k]
            # the execution minus the optimization and planning inside it
            plan = [(k["start_ms"], k["end_ms"]) for k in kids.get(s["id"], [])
                    if k["name"] in ("catalyst.optimization", "catalyst.planning")]
            c["execute_s"] += _dur(s) - _union(plan, s["start_ms"], s["end_ms"]) / 1e3
        elif n in CONSTRUCTS:
            c["construct_s"] += _dur(s)
        elif n.startswith("Sinks."):
            c["sink_s"] += _dur(s)
    return self_s, c


def summarize(run_dir, kind_of):
    """Per operation kind (`kind_of(op span)`): summed self time per
    layer, summed counts and the number of traced operations."""
    spans = load(os.path.join(run_dir, "spans.jsonl"))
    kinds = {}
    for op, children in attribute(spans).values():
        kind = kind_of(op)
        self_s, counts = summarize_op(op, children)
        k = kinds.setdefault(kind, {"ops": 0, "wall_s": 0.0, "self_s": {}, "counts": {}})
        k["ops"] += 1
        k["wall_s"] += (op["end_ms"] - op["start_ms"]) / 1e3
        for name, v in self_s.items():
            k["self_s"][name] = k["self_s"].get(name, 0.0) + v
        for name, v in counts.items():
            if name == "task_skew":
                k["counts"][name] = max(k["counts"].get(name, 1.0), v)
            else:
                k["counts"][name] = k["counts"].get(name, 0) + v
    return kinds


def overhead(records, group_key):
    """Median traced steady group (a catalog pass, an ETL round's runs
    after its catch-up) minus the last untraced one before tracing
    began; earlier untraced groups still warm the JVM."""
    traced, untraced = {}, {}
    for r in records:
        g = group_key(r)
        if g is None:
            continue
        (traced if r["traced"] else untraced).setdefault(g, 0.0)
        (traced if r["traced"] else untraced)[g] += r["wall_s"]
    if not traced or not untraced:
        return 0.0
    return statistics.median(traced.values()) - untraced[max(untraced)]


def main(run_dir):
    records = load(os.path.join(run_dir, "records.jsonl"))
    if records and "query" in records[0]:
        with open(os.path.join(run_dir, "families.json")) as f:
            fam = json.load(f)
        kinds = summarize(run_dir, lambda op: fam.get(op.get("query"), "events"))
        ov = overhead(records, lambda r: r["pass"] if r["pass"] > 0 else None)
    else:
        kinds = summarize(run_dir, lambda op: op.get("kind"))
        ov = overhead(records, lambda r: r["round"] if r["kind"] != "backfill" else None)
    for kind, k in sorted(kinds.items()):
        print(f"== {kind}: {k['ops']} traced operations, {k['wall_s']:.3f} s wall")
        for layer, v in sorted(k["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"   self {layer:12s} {v:9.3f} s")
        for name, v in sorted(k["counts"].items()):
            print(f"   {name:24s} {v:.6g}")
    print(f"tracing overhead (traced minus the last untraced round or pass): {ov:.3f} s")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".bench_build/runs/catalog")
