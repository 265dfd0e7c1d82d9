#!/usr/bin/env python3
"""Compare two sets of benchmark results: a parent commit's and a change's.

    python3 tools/perfbench_diff.py PARENT_WORK CHANGE_WORK [--show NAME ...]

Each argument is a directory of `result-<workload>-seed<N>-trace<T>.json`
files as `perfbench/run.py` leaves them in `perfbench/.work/` of its
checkout. Runs are paired by workload and seed. Reads files only.

For every workload with untraced runs (trace 0) it prints, per end-to-end
metric of BENCHMARK.json: each side's median and quartiles, the change of
the median, the share of pairs the change wins (ties count for neither)
and a verdict:
  gain        wins >= 9/10 of the pairs and the medians differ by more
              than the parent's interquartile range;
  regression  the change's median is worse by more than the metric's bound;
  unresolved  not a regression, but either side's interquartile range is
              wider than the bound and the change does not beat every
              parent run;
  within      otherwise.
For traced runs (trace 1) it ranks the per-layer metrics that count work
(jobs, tasks, rows, bytes) by how far their median moved, and never ranks
by time: timings on a shared 4-core box move by tens of percent between
runs. `--show` prints the named per-layer metrics as well, timings included.
"""
import argparse
import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"result-(?P<wl>.+)-seed(?P<seed>\d+)-trace(?P<trace>[01])\.json$")
COUNT_UNITS = {"count", "rows", "bytes"}


def load(work):
    """{(workload, trace): {seed: result}} for one directory."""
    runs = {}
    for f in sorted(os.listdir(work)):
        m = NAME.match(f)
        if m:
            with open(os.path.join(work, f)) as fh:
                runs.setdefault((m["wl"], int(m["trace"])), {})[int(m["seed"])] = json.load(fh)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(v):
    return f"{v:.4g}"


def pct(new, old):
    return f"{(new - old) / old * 100:+.1f}%" if old else "n/a"


def end_to_end(wl, parent, change, spec):
    seeds = sorted(set(parent) & set(change))
    if not seeds:
        return
    failed = lambda side: "{}/{}".format(sum(side[s]["failed"] for s in seeds),
                                         sum(side[s]["attempted"] for s in seeds))
    print(f"\n== {wl}: {len(seeds)} pairs, seeds {seeds[0]}..{seeds[-1]}; "
          f"failed/attempted parent {failed(parent)}, change {failed(change)}")
    print(f"{'metric':24} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'median':>8} {'wins':>6}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(parent[s]["end_to_end"][name], change[s]["end_to_end"][name])
                 for s in seeds if name in parent[s]["end_to_end"] and name in change[s]["end_to_end"]]
        if not pairs:
            continue
        p = sorted(a for a, _ in pairs)
        c = sorted(b for _, b in pairs)
        pq, cq = quartiles(p), quartiles(c)
        better = (lambda new, old: new < old) if lower else (lambda new, old: new > old)
        wins = sum(better(b, a) for a, b in pairs)
        worse_by = (cq[1] - pq[1]) / pq[1] * (1 if lower else -1) if pq[1] else 0.0
        spread = max((pq[2] - pq[0]) / pq[1] if pq[1] else 0.0,
                     (cq[2] - cq[0]) / cq[1] if cq[1] else 0.0)
        beats_all = better(max(c), min(p)) if lower else better(min(c), max(p))
        if wins >= 0.9 * len(pairs) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
            verdict = "gain"
        elif worse_by > m["bound"]:
            verdict = "regression"
        elif spread > m["bound"] and not beats_all:
            verdict = "unresolved"
        else:
            verdict = "within"
        side = lambda q: f"{fmt(q[1])} [{fmt(q[0])}, {fmt(q[2])}]"
        print(f"{name:24} {side(pq):>30} {side(cq):>30} {pct(cq[1], pq[1]):>8} "
              f"{wins:>3}/{len(pairs):<2}  {verdict}")


def per_layer(wl, parent, change, spec, show):
    seeds = sorted(set(parent) & set(change))
    if not seeds:
        return
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    med = lambda side, name: statistics.median(
        side[s]["per_layer"][name] for s in seeds if name in side[s]["per_layer"])
    names = sorted(set.intersection(*(set(r["per_layer"]) for side in (parent, change)
                                      for s, r in side.items() if s in seeds)))
    print(f"\n== {wl}, traced: {len(seeds)} pairs, seeds {seeds}")
    moved = []
    for n in names:
        if units.get(n) not in COUNT_UNITS:
            continue
        a, b = med(parent, n), med(change, n)
        if a != b:
            moved.append((abs(b - a) / abs(a) if a else float("inf"), n, a, b))
    moved.sort(key=lambda t: (-t[0], t[1]))
    print(f"counters that moved ({len(moved)} of "
          f"{sum(units.get(n) in COUNT_UNITS for n in names)}), largest relative move first:")
    for _, n, a, b in moved:
        print(f"  {n:44} {fmt(a):>12} -> {fmt(b):<12} {pct(b, a):>8}  [{units[n]}]")
    for n in show:
        if n in names:
            a, b = med(parent, n), med(change, n)
            print(f"  {n:44} {fmt(a):>12} -> {fmt(b):<12} {pct(b, a):>8}  [{units.get(n, '?')}] (shown)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="the parent commit's perfbench/.work")
    ap.add_argument("change", help="the change's perfbench/.work")
    ap.add_argument("--show", nargs="*", default=[], help="per-layer metrics to print too")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(args.parent), load(args.change)
    keys = sorted(set(parent) & set(change))
    if not keys:
        sys.exit("no workload with runs on both sides")
    for wl, trace in keys:
        if trace == 0:
            end_to_end(wl, parent[(wl, 0)], change[(wl, 0)], spec)
        else:
            per_layer(wl, parent[(wl, 1)], change[(wl, 1)], spec, args.show)


if __name__ == "__main__":
    main()
