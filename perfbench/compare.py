#!/usr/bin/env python3
"""Compare benchmark runs of two commits, metric by metric.

    python3 perfbench/compare.py <runs of parent> <runs of change>
    python3 perfbench/compare.py <runs>        # spread of one set of runs

Each argument is a directory of run records as run.py writes them
(perfbench/.work/runs/<workload>-s<seed>-t0.json; copy the directory
away after running each commit). Runs pair up by (workload, seed).
Protocol: at least ten seeds per workload, alternating which commit
runs first; both sides use the same benchmark code and --seconds.

For every workload and end-to-end metric it prints each side's median
and quartiles, the pair-win fraction of the change, and a verdict:

  gain        the change wins >= 9/10 of the pairs and the medians
              differ by more than the parent's quartile spread
  regression  the change's median is worse than the parent's by more
              than the metric's bound (BENCHMARK.json)
  unresolved  a side's quartile spread, as a share of its median,
              exceeds the bound, and the change does not win every pair
  same        none of the above
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in glob.glob(os.path.join(d, "*-t0.json")):
        r = json.load(open(f))
        s = r["stamp"]
        runs[(s["workload"], s["seed"])] = r["end_to_end"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    """a, b: paired values of parent and change, same order."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
    losses = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    qa, qb = quartiles(a), quartiles(b)
    spread_a = (qa[2] - qa[0]) / qa[1] if qa[1] else float("inf")
    spread_b = (qb[2] - qb[0]) / qb[1] if qb[1] else float("inf")
    worse = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    frac = wins / len(a)
    all_better = max(b) < min(a) if better == "lower" else min(b) > max(a)
    if frac >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]):
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif max(spread_a, spread_b) > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return qa, qb, frac, losses / len(a), v


def spread(runs_dir):
    """Median, quartiles and quartile spread (share of the median) of each
    end-to-end metric; steady means a spread below a third of the bound."""
    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    runs = load(runs_dir)
    for wl in [w["name"] for w in spec["workloads"]]:
        seeds = sorted(s for (w, s) in runs if w == wl)
        for m in spec["end_to_end"] if seeds else []:
            q1, q2, q3 = quartiles([runs[(wl, s)][m["name"]] for s in seeds])
            rel = (q3 - q1) / q2 if q2 else float("inf")
            steady = "steady" if rel < m["bound"] / 3 else "NOT steady"
            print(f"{wl:14s} {m['name']:12s} n={len(seeds):2d} median {q2:10.4f} "
                  f"[{q1:.4f}, {q3:.4f}] spread {rel:.3f} bound {m['bound']:.2f} {steady}")


def main(parent, change):
    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    A, B = load(parent), load(change)
    rows = []
    for wl in [w["name"] for w in spec["workloads"]]:
        seeds = sorted(s for (w, s) in A if w == wl and (w, s) in B)
        if not seeds:
            print(f"{wl}: no paired runs")
            continue
        for m in spec["end_to_end"]:
            a = [A[(wl, s)][m["name"]] for s in seeds]
            b = [B[(wl, s)][m["name"]] for s in seeds]
            qa, qb, win, loss, v = verdict(a, b, m["better"], m["bound"])
            rows.append(v)
            print(f"{wl:14s} {m['name']:12s} n={len(seeds):2d} "
                  f"parent {qa[1]:10.4f} [{qa[0]:.4f}, {qa[2]:.4f}]  "
                  f"change {qb[1]:10.4f} [{qb[0]:.4f}, {qb[2]:.4f}]  "
                  f"{m['unit']:5s} wins {win:.2f} losses {loss:.2f}  "
                  f"bound {m['bound']:.2f}  {v}")
    return 1 if "regression" in rows else 0


if __name__ == "__main__":
    if len(sys.argv) == 2:
        spread(sys.argv[1])
    elif len(sys.argv) == 3:
        sys.exit(main(sys.argv[1], sys.argv[2]))
    else:
        sys.exit(__doc__)
