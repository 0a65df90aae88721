#!/usr/bin/env python3
"""Read the span traces a traced run writes (``--trace 1`` leaves them in
``.bench_build/traces/<workload>-seed<n>.jsonl``).

    python3 lakebench/trace_report.py <trace.jsonl>            # per-layer self time
    python3 lakebench/trace_report.py <before.jsonl> <after.jsonl>   # layer-by-layer diff

A span's layer is its name up to the first dot (``lake.write`` -> lake);
a job span named ``<ext module>.<query>`` counts as ``ext.<module>``. A
layer's self time is the time its spans
cover minus the time their child spans cover.
"""
import json
import sys
from collections import defaultdict

EXT_MODULES = {"dedup", "similarity", "textanalysis", "curation", "doremi", "multimodal"}


def layer(name):
    head = name.split(".", 1)[0]
    if head in EXT_MODULES:
        return f"ext.{head}"
    return head


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def self_times(spans):
    """layer -> (self seconds, span count, task cpu seconds)."""
    child_time = defaultdict(float)
    for s in spans:
        if s["parent"]:
            child_time[s["parent"]] += s["end_s"] - s["start_s"]
    out = defaultdict(lambda: [0.0, 0, 0.0])
    for s in spans:
        own = max(0.0, s["end_s"] - s["start_s"] - child_time[s["id"]])
        acc = out[layer(s["name"])]
        acc[0] += own
        acc[1] += 1
        acc[2] += s.get("task_cpu_s", 0.0)
    return dict(out)


def report(path):
    t = self_times(load(path))
    total = sum(v[0] for v in t.values()) or 1.0
    print(f"{'layer':<22}{'self_s':>10}{'share':>8}{'spans':>8}{'task_cpu_s':>12}")
    for k, (s, n, cpu) in sorted(t.items(), key=lambda kv: -kv[1][0]):
        print(f"{k:<22}{s:>10.3f}{s / total:>8.1%}{n:>8}{cpu:>12.3f}")


def diff(a_path, b_path):
    a, b = self_times(load(a_path)), self_times(load(b_path))
    print(f"{'layer':<22}{'before_s':>10}{'after_s':>10}{'delta_s':>10}{'ratio':>8}")
    for k in sorted(set(a) | set(b), key=lambda k: -abs(b.get(k, [0])[0] - a.get(k, [0])[0])):
        x, y = a.get(k, [0.0])[0], b.get(k, [0.0])[0]
        ratio = f"{y / x:.2f}" if x > 0 else "-"
        print(f"{k:<22}{x:>10.3f}{y:>10.3f}{y - x:>+10.3f}{ratio:>8}")


if __name__ == "__main__":
    if len(sys.argv) == 2:
        report(sys.argv[1])
    elif len(sys.argv) == 3:
        diff(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
