#!/usr/bin/env python3
"""Compare two benchmark result files, workload by workload.

Usage: python3 perfbench/diff.py BEFORE.jsonl AFTER.jsonl

Each file holds run records as perfbench/run.py appends them to
.bench_build/perfbench/results.jsonl (one JSON object per run). For every workload in both files it prints
each end-to-end metric of BENCHMARK.json, plus the ungated raw times, with
median, quartiles, n and unit on each side, and the change of the medians,
then each query's warm median (q.<query>.s).
A change is flagged only when it is worse than the metric's bound. Traced
runs' per-layer metrics follow, unflagged (they have no bound). Exits 1 if
any metric is flagged.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UNGATED = {"wall_s": ("s", "lower"), "cpu_s": ("s", "lower")}


def load(path):
    runs = {}
    for line in open(path):
        if line.strip():
            r = json.loads(line)
            runs.setdefault((r["workload"], bool(r["trace"])), []).append(r)
    return runs


def summary(values):
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def values(runs, name):
    out = []
    for r in runs:
        if name in r["metrics"]:
            out.append(r["metrics"][name]["value"])
        elif name in r:
            out.append(r[name])
        elif name.startswith("q.") and name[2:-2] in r["queries"]:
            out.append(r["queries"][name[2:-2]]["warm_s"])
    return out


def compare(name, unit, better, bound, before, after):
    a, b = values(before, name), values(after, name)
    if not a or not b:
        return False
    (ma, qa1, qa3), (mb, qb1, qb3) = summary(a), summary(b)
    change = (mb - ma) / ma if ma else 0.0
    worse = change if better == "lower" else -change
    flag = bound is not None and worse > bound
    print(f"  {name:44s} {ma:11.4g} [{qa1:.4g}, {qa3:.4g}] n={len(a):<3d}"
          f" -> {mb:11.4g} [{qb1:.4g}, {qb3:.4g}] n={len(b):<3d} {unit:6s}"
          f" {change:+7.1%}" + (f"  WORSE (bound {bound:.0%})" if flag else ""))
    return flag


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    before, after = load(sys.argv[1]), load(sys.argv[2])
    flagged = False
    for wl in [w["name"] for w in spec["workloads"]]:
        if (wl, False) in before and (wl, False) in after:
            print(f"{wl}: end to end (median [q1, q3] n before -> after)")
            for m in spec["end_to_end"]:
                flagged |= compare(m["name"], m["unit"], m["better"], m["bound"],
                                   before[(wl, False)], after[(wl, False)])
            queries = sorted(before[(wl, False)][0]["queries"])
            for name, (unit, better) in [*UNGATED.items(),
                                         *((f"q.{q}.s", ("s", "lower")) for q in queries)]:
                compare(name, unit, better, None, before[(wl, False)], after[(wl, False)])
        if (wl, True) in before and (wl, True) in after:
            print(f"{wl}: per layer (traced runs)")
            for m in spec["per_layer"]:
                compare(m["name"], m["unit"], m["better"], None,
                        before[(wl, True)], after[(wl, True)])
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
