#!/usr/bin/env python3
"""Per-module self-time report of a traced run's span file.

A span's self time is its duration minus the part of it that its child
spans cover. The span tree is run -> setup/pass -> query -> build/exec ->
job -> stage; this report sums, per module, the self times of the build,
exec, job and stage spans of the traced timed passes, divided by the
number of those passes.

Usage: python3 perfbench/report.py [.bench_run/out/spans.jsonl]
"""
import json
import sys
from collections import defaultdict


def covered(intervals, lo, hi):
    """Length of the union of the intervals clipped to [lo, hi]."""
    total, reach = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > reach and b > a:
            total += b - max(a, reach)
            reach = b
    return total


def self_times(spans):
    """{module: {kind: seconds per traced pass}} over the traced passes."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    queries = [s for s in spans if s["kind"] == "query"
               and s.get("traced") and s.get("pass", 0) > 0]
    passes = len({q["pass"] for q in queries}) or 1
    out = defaultdict(lambda: defaultdict(float))

    def walk(span, module):
        kids = children[span["id"]]
        own = span["end_ms"] - span["start_ms"] - covered(
            [(k["start_ms"], k["end_ms"]) for k in kids],
            span["start_ms"], span["end_ms"])
        out[module][span["kind"]] += own / 1000.0 / passes
        for k in kids:
            walk(k, module)

    for q in queries:
        out[q["module"]]["wall"] += (q["end_ms"] - q["start_ms"]) / 1000.0 / passes
        for k in children[q["id"]]:
            walk(k, q["module"])
    return out


def print_self_times(path):
    spans = [json.loads(line) for line in open(path)]
    table = self_times(spans)
    cols = ("wall", "build", "exec", "job", "stage")
    print("self time per traced pass (s): " + f"{'module':>13} " + " ".join(
        f"{c:>8}" for c in cols))
    for module in sorted(table, key=lambda m: -table[m]["wall"]):
        print("self time per traced pass (s): " + f"{module:>13} " + " ".join(
            f"{table[module][c]:8.3f}" for c in cols))


if __name__ == "__main__":
    print_self_times(sys.argv[1] if len(sys.argv) > 1
                     else ".bench_run/out/spans.jsonl")
