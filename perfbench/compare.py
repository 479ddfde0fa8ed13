#!/usr/bin/env python3
"""Compare two sets of perfbench records, parent against change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the records `run.py --save DIR` writes, one per
(workload, seed, trace). For every workload and metric the table shows
each side's median and quartiles, the pairs the change won (pairs share a
seed; ties count for neither side), and a verdict:

  gain        the change wins at least nine tenths of the pairs and the
              medians differ by more than the parent's quartile spread
  loss        the same, the other way round
  regression  an end-to-end median worse than the parent's by more than
              the bound BENCHMARK.json fixes for it
  unresolved  the parent's own spread is wider than that bound, and not
              every change run beats every parent run
  fails       the change's runs of the workload fail a larger share of
              their ops (thrown or failed output checks) than the
              parent's; no gain counts then
  same        none of the above

Per-layer metrics have no bound, so they read only gain, loss, fails or
same. Each workload's failed and attempted ops are printed per side.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    """(workload, metric) -> {seed: value}, and workload -> [failed, attempted]."""
    runs, ops = {}, {}
    for path in glob.glob(os.path.join(d, "*.json")):
        with open(path) as f:
            r = json.load(f)
        metrics = r["per_layer"] if r["trace"] else r["end_to_end"]
        for name, value in metrics.items():
            runs.setdefault((r["workload"], name), {})[r["seed"]] = value
        n = ops.setdefault(r["workload"], [0, 0])
        n[0] += r["failed"]
        n[1] += r["attempted"]
    return runs, ops


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(p, c, better, bound):
    """p, c: seed -> value for the parent and the change."""
    sign = 1 if better == "higher" else -1
    pv, cv = list(p.values()), list(c.values())
    mp, mc = statistics.median(pv), statistics.median(cv)
    q1, q3 = quartiles(pv)
    seeds = sorted(set(p) & set(c))
    wins = sum(sign * (c[s] - p[s]) > 0 for s in seeds)
    losses = sum(sign * (c[s] - p[s]) < 0 for s in seeds)
    apart = abs(mc - mp) > q3 - q1
    if seeds and wins >= 0.9 * len(seeds) and apart:
        v = "gain"
    elif seeds and losses >= 0.9 * len(seeds) and apart:
        v = "loss"
    else:
        v = "same"
    if bound is not None and mp:
        every_better = min(sign * x for x in cv) > max(sign * x for x in pv)
        if (q3 - q1) / abs(mp) > bound and not every_better:
            v = "unresolved"
        elif sign * (mp - mc) / abs(mp) > bound:
            v = "regression"
    return mp, (q1, q3), mc, quartiles(cv), f"{wins}/{len(seeds)}", v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    (parent, parent_ops), (change, change_ops) = load(sys.argv[1]), load(sys.argv[2])
    worse = set()
    for w in sorted(set(parent_ops) & set(change_ops)):
        (pf, pa), (cf, ca) = parent_ops[w], change_ops[w]
        print(f"{w}: failed/attempted ops  parent {pf}/{pa}  change {cf}/{ca}")
        if cf * max(pa, 1) > pf * max(ca, 1):
            worse.add(w)
    print(f"{'workload':12} {'metric':28} {'parent median [q1, q3]':>34} "
          f"{'change median [q1, q3]':>34} {'wins':>6}  verdict")
    for key in sorted(set(parent) & set(change)):
        m = meta.get(key[1])
        if m is None:
            continue
        mp, qp, mc, qc, wins, v = verdict(parent[key], change[key], m["better"], m.get("bound"))
        if key[0] in worse and v != "regression":
            v = "fails"
        print(f"{key[0]:12} {key[1]:28} {mp:12.4g} [{qp[0]:9.4g}, {qp[1]:9.4g}] "
              f"{mc:12.4g} [{qc[0]:9.4g}, {qc[1]:9.4g}] {wins:>6}  {v}")


if __name__ == "__main__":
    main()
