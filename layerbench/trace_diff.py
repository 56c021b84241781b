#!/usr/bin/env python3
"""Compare two traced benchmark outputs, layer by layer and query by query.

Usage:
  python3 layerbench/trace_diff.py BASE NEW [--json]

BASE and NEW are trace summaries written by `run.py --trace 1`
(.bench_build/traces/<workload>-seed<n>.json) or directories holding them;
with directories, every workload found in both is compared. Each row gives
the base value, the new value and new/base. Per query, time is split into
each layer's self time (sources = table opens, operators = the rest of the
build, catalyst = analysis + optimization + planning of the action, exec =
the rest of the action, cache = release), averaged over the query's two
traced runs; counts come from the first of them.
"""
import json
import sys
from pathlib import Path

COUNTS = ["open_jobs", "build_jobs", "build_stages", "action_jobs", "action_stages",
          "tasks", "shuffle_write_b", "leaked_rdds", "batches", "input_rows"]


def load(path):
    p = Path(path)
    if not p.exists():
        sys.exit(f"trace_diff: {p} not found")
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    out = {}
    for f in files:
        d = json.loads(f.read_text())
        out[d["workload"]] = d
    return out


def self_times(c):
    """Layer self times (ms) of one query from its traced counters."""
    if "build_ms" not in c:
        return {}
    cat = c["analysis_ms"] + c["optimization_ms"] + c["planning_ms"]
    return {"sources": c["open_ms"], "operators": c["build_ms"] - c["open_ms"],
            "catalyst": cat, "exec": c["action_ms"] - cat, "cache": c["release_ms"]}


def query_rows(summary):
    """Per query: mean self times over passes A and B, counts from A."""
    a, b = summary["per_query"]["A"], summary["per_query"].get("B", {})
    rows = {}
    for q, ca in a.items():
        ta, tb = self_times(ca), self_times(b.get(q, ca))
        row = {f"{k}.self_ms": (ta[k] + tb[k]) / 2 for k in ta}
        row.update({k: ca[k] for k in COUNTS if k in ca})
        rows[q] = row
    return rows


def ratio(base, new):
    if base == 0:
        return None if new != 0 else 1.0
    return new / base


def compare(base, new):
    layers = [(k, base["layers"][k], new["layers"][k], ratio(base["layers"][k], new["layers"][k]))
              for k in sorted(set(base["layers"]) & set(new["layers"]))]
    qb, qn = query_rows(base), query_rows(new)
    queries = {}
    for q in sorted(set(qb) & set(qn)):
        queries[q] = [(k, qb[q][k], qn[q][k], ratio(qb[q][k], qn[q][k]))
                      for k in qb[q] if k in qn[q]]
    return {"layers": layers, "queries": queries,
            "only_base": sorted(set(qb) - set(qn)), "only_new": sorted(set(qn) - set(qb))}


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    base, new = load(args[0]), load(args[1])
    result = {w: compare(base[w], new[w]) for w in sorted(set(base) & set(new))}
    if "--json" in sys.argv:
        print(json.dumps(result, indent=1))
        return
    for w, r in result.items():
        print(f"== {w}: per layer (base, new, new/base)")
        for k, b, n, x in r["layers"]:
            print(f"  {k:<30} {fmt(b):>12} {fmt(n):>12} {fmt(x):>8}")
        print(f"== {w}: per query (base, new, new/base)")
        for q, rows in r["queries"].items():
            changed = [row for row in rows if row[1] != row[2]]
            for k, b, n, x in changed:
                print(f"  {q:<24} {k:<20} {fmt(b):>12} {fmt(n):>12} {fmt(x):>8}")
        if r["only_base"] or r["only_new"]:
            print(f"  only in base: {r['only_base']}; only in new: {r['only_new']}")


if __name__ == "__main__":
    main()
