#!/usr/bin/env python3
"""Steadiness of the benchmark: spreads of one set of runs, or two sets
compared against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py A.json ...                 # one set
    python3 perfbench/steady.py A.json ... --vs B.json ...   # two sets

Arguments are run artifacts (what run.py saves under
.bench_build/perfbench/results/). For each workload and end-to-end
metric it prints each set's median and quartile spread, the spread as a
share of the median, and a verdict:

  steady      spread below a third of the bound (one set)
  wide        spread at or above a third of the bound (one set)
  same        B's median within the bound of A's (two sets)
  worse       B's median beyond the bound, in the metric's bad direction
  better      B's median beyond the bound, in the good direction
  unresolved  a set's spread exceeds the bound, so a difference of the
              bound's size cannot be told from noise; B wins only when
              every run of B beats every run of A

Each metric also gets r(steal), the correlation over a set's runs of the
metric with the CPU time the host took from the VM during the run
(steal_s in the artifact): near 1 when host contention drives the spread.
Results whose digest differs between runs with different seeds are
listed as seed-dependent.
Exits 1 if any verdict is wide, worse or unresolved.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(paths):
    runs = {}
    for p in paths:
        with open(p) as f:
            art = json.load(f)
        if art.get("trace"):
            continue
        runs.setdefault(art["workload"], []).append(art)
    return runs


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def steal_r(runs, values):
    """Correlation of a metric with the run's stolen CPU time, or nan."""
    steal = [r.get("steal_s", 0.0) for r in runs]
    try:
        return statistics.correlation(steal, values)
    except statistics.StatisticsError:  # fewer than two runs, or constant
        return float("nan")


def seed_dependent(runs):
    seen = {}
    for art in runs:
        for q, d in art["checks"]["digests"].items():
            seen.setdefault(q, {}).setdefault(d, set()).add(art["seed"])
    return {q: {d: sorted(s) for d, s in ds.items()} for q, ds in seen.items() if len(ds) > 1}


def verdict(spec, a, b):
    bound, lower = spec["bound"], spec["better"] == "lower"
    ma, _, _, sa = spread(a)
    if b is None:
        return "steady" if sa < bound / 3 else "wide"
    mb, _, _, sb = spread(b)
    change = (mb - ma) / ma if ma else 0.0
    bad = change > bound if lower else change < -bound
    good = change < -bound if lower else change > bound
    if max(sa, sb) > bound:
        beats = max(b) < min(a) if lower else min(b) > max(a)
        return "better" if beats else "unresolved"
    return "worse" if bad else "better" if good else "same"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a", nargs="+", help="artifacts of the first set")
    ap.add_argument("--vs", nargs="+", default=None, help="artifacts of the second set")
    args = ap.parse_args(argv)
    with open(BENCHMARK) as f:
        specs = json.load(f)["end_to_end"]
    sets = [load(args.a)] + ([load(args.vs)] if args.vs else [])
    failing = 0
    for wl in sorted(sets[0]):
        runs = [s.get(wl, []) for s in sets]
        if not all(runs):
            print(f"{wl}: missing from one set")
            failing += 1
            continue
        steal = " vs ".join(f"{statistics.median(r.get('steal_s', 0) for r in rs):.1f}" for rs in runs)
        print(f"{wl}: {' vs '.join(str(len(r)) for r in runs)} runs;"
              f" median CPU time stolen by the host per run: {steal} s")
        for spec in specs:
            vals = [[r["metrics"][spec["name"]] for r in rs] for rs in runs]
            v = verdict(spec, vals[0], vals[1] if len(vals) > 1 else None)
            cols = []
            for rs, vs in zip(runs, vals):
                med, q1, q3, sp = spread(vs)
                cols.append(f"median {med:10.4f} IQR [{q1:.4f}, {q3:.4f}] spread {sp:6.1%}"
                            f" r(steal) {steal_r(rs, vs):+.2f}")
            print(f"  {spec['name']:18s} {' | '.join(cols)}  bound {spec['bound']:.0%}  {v}")
            failing += v in ("wide", "worse", "unresolved")
        for i, rs in enumerate(runs):
            dep = seed_dependent(rs)
            for q, ds in sorted(dep.items()):
                print(f"  set {i + 1}: {q} gives seed-dependent results {ds}")
            failing += len(dep)
    return 1 if failing else 0


if __name__ == "__main__":
    sys.exit(main())
