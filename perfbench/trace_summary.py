#!/usr/bin/env python3
"""Summarize the span files that traced runs write.

    python3 perfbench/trace_summary.py .bench_build/perfbench/traces/*.jsonl

For each file (one workload and seed) it prints each layer's self time
over the traced timed passes, then the top queries by wall with their
dominant layer, job count and the call sites of those jobs.
"""
import argparse
import json
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402

def query_rows(spans):
    """One row per query execution of the timed passes: wall, self time
    per layer, jobs and their call sites."""
    kids = benchlib.children_index(spans)
    index = {s["id"]: s for s in spans}
    rows = []
    for q in spans:
        if q["kind"] != "query" or not index[q["parent"]]["name"].startswith("p"):
            continue
        layer_ms = Counter()
        jobs = []
        stack = [q]
        while stack:
            s = stack.pop()
            layer_ms.update(benchlib.layer_split(s, kids))
            if s["kind"] == "job":
                jobs.append(s["name"])
            stack.extend(kids.get(s["id"], []))
        rows.append({"query": q["name"], "wall_ms": q["end"] - q["start"],
                     "layers": layer_ms, "jobs": jobs})
    return rows


def summarize(spans, top):
    rows = query_rows(spans)
    total = Counter()
    for r in rows:
        total.update(r["layers"])
    wall = sum(r["wall_ms"] for r in rows)
    lines = [f"{len(rows)} query executions, {wall:.0f} ms of query wall",
             "layer self time:"]
    for layer in benchlib.LAYERS:
        ms = total[layer]
        lines.append(f"  {layer:<12} {ms:10.1f} ms  {100 * ms / wall if wall else 0:5.1f}%")
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query"], []).append(r)
    per_query = []
    for name, rs in by_query.items():
        layers = Counter()
        for r in rs:
            layers.update(r["layers"])
        n = len(rs)
        sites = Counter(site for r in rs for site in r["jobs"])
        per_query.append((sum(r["wall_ms"] for r in rs) / n, name,
                          layers.most_common(1)[0][0],
                          sum(len(r["jobs"]) for r in rs) / n,
                          ", ".join(f"{s} x{c // n}" if c // n > 1 else s
                                    for s, c in sites.most_common())))
    lines.append(f"top {top} queries by mean wall:")
    lines.append(f"  {'query':<28} {'wall_ms':>8} {'dominant':<12} {'jobs':>5}  call sites")
    for wall_ms, name, dom, jobs, sites in sorted(per_query, reverse=True)[:top]:
        lines.append(f"  {name:<28} {wall_ms:8.1f} {dom:<12} {jobs:5.1f}  {sites}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+", type=Path)
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    for f in args.files:
        spans = [json.loads(line) for line in f.read_text().splitlines()]
        print(f"== {f.name}")
        print(summarize(spans, args.top))


if __name__ == "__main__":
    main()
