#!/usr/bin/env python3
"""Compare traced benchmark runs layer by layer, and rank catalog queries.

    python3 perfbench/tools/trace_diff.py BASE.trace.jsonl [NEW.trace.jsonl] [--top N]

A trace file is what `perfbench/run.py --trace 1` leaves under
`.bench_build/results/`: one JSON object per span (name, op, self time,
and the Spark counters of the jobs the span submitted).

With one file: self time and counters per layer, and, for a catalog_small
trace, the queries ranked by shuffle bytes and by overhead share
(1 - task time / (cores x wall)). With two files: the same per-layer table
for both, with the change of each column.
"""
import argparse
import json
import statistics
from collections import defaultdict

CORES = 4
COLS = ("self_ms", "jobs", "tasks", "run_ms", "shuffle_write_bytes", "shuffle_read_bytes",
        "spill_bytes", "compile_ms")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_layer(spans):
    """{layer: {column: value per operation}}."""
    ops = {s["op"] for s in spans}
    n = max(1, len(ops))
    acc = defaultdict(lambda: defaultdict(float))
    for s in spans:
        a = acc[s["name"]]
        a["self_ms"] += s["self_ns"] / 1e6
        a["compile_ms"] += s["compile_ns"] / 1e6 if s["parent"] == -1 else 0.0
        for k in COLS:
            if k in s:
                a[k] += s[k]
    return {layer: {k: v / n for k, v in cols.items()} for layer, cols in acc.items()}


def per_query(spans):
    """{query: (median wall ms, shuffle bytes, overhead share, jobs)} for the
    operations whose root span is a catalog query."""
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    rows = defaultdict(list)
    for op_spans in by_op.values():
        root = [s for s in op_spans if s["parent"] == -1]
        if not root or root[0]["name"] != "query":
            continue
        wall = (root[0]["end_ns"] - root[0]["start_ns"]) / 1e6
        shuffle = sum(s["shuffle_write_bytes"] + s["shuffle_read_bytes"] for s in op_spans)
        run_ms = sum(s["run_ms"] for s in op_spans)
        jobs = sum(s["jobs"] for s in op_spans)
        busy = run_ms / (CORES * wall) if wall > 0 else 0.0
        rows[root[0]["label"]].append((wall, shuffle, 1.0 - busy, jobs))
    return {q: tuple(statistics.median(x[i] for x in v) for i in range(4)) for q, v in rows.items()}


def fmt(v):
    return f"{v:19.1f}" if abs(v) < 1e7 else f"{v:19.3e}"


def show_layers(a, b=None):
    layers = sorted(set(a) | set(b or {}), key=lambda l: -a.get(l, {}).get("self_ms", 0.0))
    head = f"{'layer':<20}" + "".join(f"{c:>20}" for c in COLS)
    print(head)
    for layer in layers:
        ra = a.get(layer, {})
        print(f"{layer:<20}" + "".join(fmt(ra.get(c, 0.0)) + " " for c in COLS))
        if b is not None:
            rb = b.get(layer, {})
            print(f"{'  new':<20}" + "".join(fmt(rb.get(c, 0.0)) + " " for c in COLS))
            delta = []
            for c in COLS:
                x, y = ra.get(c, 0.0), rb.get(c, 0.0)
                delta.append(f"{(y - x) / x * 100:+18.1f}% " if x else f"{'n/a':>19} ")
            print(f"{'  change':<20}" + "".join(delta))


def show_ranking(q, top):
    if not q:
        return
    print(f"\ncatalog queries by shuffle bytes (top {top} of {len(q)}):")
    for name, (wall, sh, ov, jobs) in sorted(q.items(), key=lambda kv: -kv[1][1])[:top]:
        print(f"  {name:<40} {sh:14.0f} B  wall {wall:9.1f} ms  jobs {jobs:4.0f}")
    print(f"\ncatalog queries by overhead share (top {top} of {len(q)}):")
    for name, (wall, sh, ov, jobs) in sorted(q.items(), key=lambda kv: -kv[1][2])[:top]:
        print(f"  {name:<40} {ov:8.3f}  wall {wall:9.1f} ms  jobs {jobs:4.0f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    a = load(args.base)
    b = load(args.new) if args.new else None
    show_layers(per_layer(a), per_layer(b) if b else None)
    show_ranking(per_query(b if b else a), args.top)


if __name__ == "__main__":
    main()
