#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and of a change.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds the lines `run.py --record FILE` appends, one per run. Runs
are paired by (workload, seed, trace); alternate which side runs first when
making them. For every workload and metric the report gives each side's
median and quartiles, the fraction of pairs the change wins (ties count for
neither side) and a verdict:

- better: the change wins at least 9/10 of the pairs and the medians differ
  by more than the parent's own spread (the distance between its quartiles);
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: the parent's spread is wider than the bound, and not every
  change run beats every parent run;
- unchanged: otherwise.

Per-layer metrics have no bound; their verdict is better, worse or
unchanged by the pair rule alone.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["seed"], r["trace"])] = r["result"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, lower_better, bound):
    sign = -1 if lower_better else 1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    frac = wins / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    spread = pq3 - pq1
    if pairs and frac >= 0.9 and abs(cmed - pmed) > spread:
        return frac, "better"
    if bound is None:
        return frac, "worse" if pairs and losses / len(pairs) >= 0.9 else "unchanged"
    if sign * (cmed - pmed) < -bound * abs(pmed):
        return frac, "worse"
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if pmed and spread / abs(pmed) > bound and not all_better:
        return frac, "unresolved"
    return frac, "unchanged"


def main(parent_path, change_path):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load(parent_path), load(change_path)
    groups = sorted({(w, t) for (w, _, t) in parent} | {(w, t) for (w, _, t) in change})
    print("workload   trace metric                           parent median [q1, q3]"
          "          change median [q1, q3]          wins   verdict")
    for w, t in groups:
        seeds = sorted({s for (x, s, y) in parent if (x, y) == (w, t)} |
                       {s for (x, s, y) in change if (x, y) == (w, t)})
        p_runs = [parent[(w, s, t)] for s in seeds if (w, s, t) in parent]
        c_runs = [change[(w, s, t)] for s in seeds if (w, s, t) in change]
        names = sorted({m for r in p_runs + c_runs for m in r["metrics"]})
        for name in names:
            pv = [r["metrics"][name]["value"] for r in p_runs if name in r["metrics"]]
            cv = [r["metrics"][name]["value"] for r in c_runs if name in r["metrics"]]
            if not pv or not cv:
                continue
            pairs = [(parent[(w, s, t)]["metrics"][name]["value"], change[(w, s, t)]["metrics"][name]["value"])
                     for s in seeds if (w, s, t) in parent and (w, s, t) in change]
            m = meta.get(name, {"better": "lower"})
            frac, v = verdict(pv, cv, pairs, m["better"] == "lower", m.get("bound"))
            pq, cq = quartiles(pv), quartiles(cv)
            print(f"{w:10} {t:5} {name:32} {pq[1]:12.4f} [{pq[0]:.4f}, {pq[2]:.4f}]"
                  f"   {cq[1]:12.4f} [{cq[0]:.4f}, {cq[2]:.4f}]   {frac:4.2f}   {v}")
        failed = sum(r["failed"] for r in c_runs) - sum(r["failed"] for r in p_runs)
        if failed > 0:
            print(f"{w:10} {t:5} the change fails {failed} more operations than the parent")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
