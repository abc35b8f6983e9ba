#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py          # fast checks, no JVM
    python3 perfbench/selftest.py --run    # plus one short traced run

Fast checks: the metric names and units run.py prints are exactly those
of BENCHMARK.json; the tail percentile and the span self-time split
behave as documented; a copied input that lost its shape is rejected.

The traced run (about a minute; builds first if needed) runs a few
commerce queries plus two injected queries that throw, and checks that
  - every injected execution lands in `failed`, none is timed as ok;
  - construct_s + exec_s matches each query's timed wall within
    WALL_TOLERANCE_S;
  - the span self times account for each query's wall (spans.TOLERANCE_MS);
  - the per-layer and end-to-end metric names match BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import sys
import tempfile

import gen
import run
import spans
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WALL_TOLERANCE_S = 0.005


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    return 0 if cond else 1


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fast():
    bad = 0
    b = benchmark()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in b["per_layer"]}
    bad += expect(e2e == {n: run.UNITS[n] for n in run.END_TO_END},
                  "end-to-end names and units match BENCHMARK.json")
    bad += expect(layer == dict(run.PER_LAYER),
                  "per-layer names and units match BENCHMARK.json")
    bad += expect(sorted(w["name"] for w in b["workloads"]) == sorted(WORKLOADS),
                  "workloads match BENCHMARK.json")

    v, pct, n = run.tail(list(range(1, 41)))
    bad += expect((v, pct, n) == (30, 75.0, 40), "tail of 1..40 is p75 = 30 with 10 beyond")

    # run 0..100 > pass 10..90 > query 10..60 > construct 10..30 (job 20..40
    # overlaps its end), execute 30..60 with two overlapping jobs
    s = [dict(id=1, parent=0, name="run", start_us=0, end_us=100, attrs={}),
         dict(id=2, parent=1, name="cold", start_us=10, end_us=90, attrs={"pass": 0}),
         dict(id=3, parent=2, name="query:q", start_us=10, end_us=60, attrs={"pass": 0}),
         dict(id=4, parent=3, name="construct", start_us=10, end_us=30, attrs={}),
         dict(id=5, parent=3, name="execute", start_us=30, end_us=60, attrs={}),
         dict(id=6, parent=4, name="job", start_us=20, end_us=40, attrs={}),
         dict(id=7, parent=5, name="job", start_us=35, end_us=50, attrs={}),
         dict(id=8, parent=5, name="job", start_us=45, end_us=55, attrs={})]
    st = spans.self_times(s)[0]
    bad += expect(abs(sum(st.values()) * 1e6 - 50) < 1e-6,
                  "self times of a query add up to its duration")
    bad += expect(round(st["job"] * 1e6) == 30 and round(st["execute"] * 1e6) == 10,
                  "overlapping jobs are counted once")
    acc = spans.accounting(s, [{"pass": 0, "q": "q", "wall_s": 50e-6}])
    bad += expect(acc["ok"] and acc["queries"] == 1, "accounting closes on a nested tree")

    scratch = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(scratch, exist_ok=True)
    d = tempfile.mkdtemp(dir=scratch)
    try:
        gen.base(os.path.join(d, "base"), 0.001)
        gen.permute(os.path.join(d, "base"), os.path.join(d, "a"), 7)
        gen.permute(os.path.join(d, "base"), os.path.join(d, "b"), 7)
        gen.check_copy(os.path.join(d, "base"), os.path.join(d, "a"))
        same = all(open(os.path.join(d, "a", f), "rb").read() ==
                   open(os.path.join(d, "b", f), "rb").read() for f in os.listdir(os.path.join(d, "a")))
        bad += expect(same, "the same seed gives the same inputs")
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(d, "a", "orders.parquet"))
        pq.write_table(t, os.path.join(d, "a", "orders.parquet"), row_group_size=100)
        try:
            gen.check_copy(os.path.join(d, "base"), os.path.join(d, "a"))
            rejected = False
        except AssertionError:
            rejected = True
        bad += expect(rejected, "a copy with several row groups is rejected")
    finally:
        shutil.rmtree(d)
    return bad


def traced():
    bad = 0
    WORKLOADS["selftest"] = dict(
        queries=["top_spenders", "revenue_cube", "sessionize", "also_bought_pairs"],
        sf=0.001, warm_s=1.0)
    art = run.execute(ROOT, "selftest", 5, 0, True, inject=True, setups=1, warm=3)
    recs = art["result"]["queries"]
    injected = [r for r in recs if r["q"].startswith("perfbench_fail_")]
    c = art["checks"]
    bad += expect(len(injected) > 0 and all(not r["ok"] for r in injected),
                  "injected queries fail")
    bad += expect(c["failed"] == len(injected) and
                  c["failed_queries"] == sorted({r["q"] for r in injected}),
                  f"failed counts exactly the injected executions ({c['failed']} of {c['attempted']})")
    bad += expect(c["wrong_results"] == 0, "no wrong results among the real queries")
    worst = max(abs(r["construct_s"] + r["exec_s"] - r["wall_s"]) for r in recs if r["ok"])
    bad += expect(worst <= WALL_TOLERANCE_S,
                  f"construct_s + exec_s = wall within {WALL_TOLERANCE_S * 1e3:.0f} ms"
                  f" (worst {worst * 1e3:.3f} ms)")
    a = art["accounting"]
    bad += expect(a["ok"], f"span self times account for each query's wall"
                  f" (worst {a['max_abs_err_ms']:.3f} ms)")
    layer = {m["name"] for m in benchmark()["per_layer"]}
    bad += expect(set(art["metrics"]) == layer, "traced run prints every per-layer name")
    res = dict(art["result"], queries=[r for r in recs if r["ok"]])
    e2e, _ = run.end_to_end(res)
    bad += expect(set(e2e) == {m["name"] for m in benchmark()["end_to_end"]},
                  "end-to-end metrics cover every end-to-end name")
    return bad


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--run", action="store_true", help="also make one short traced run")
    a = ap.parse_args(argv)
    bad = fast()
    if a.run:
        bad += traced()
    print("selftest:", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
