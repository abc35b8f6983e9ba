#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload commerce --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. Each run then

  1. generates the inputs: fixed base tables, row-permuted by --seed;
  2. starts one fresh JVM with a private, empty java.io.tmpdir (which
     holds DerivedCache layouts, checkpoints and Spark's local dirs);
  3. sets up several times and reports the median, then runs one cold
     pass, then as many warm passes over the workload's queries as its
     expected warm-pass time fits into --seconds (a fixed count for a
     given --seconds, so every run pools the same samples);
  4. checks the results: the DuckDB oracle for queries that have one,
     equal digests across passes for every query;
  5. prints one line per metric, then the result as a JSON line.

--trace 0 prints the end-to-end metrics; --trace 1 registers the
listeners and spans and prints the per-layer metrics instead.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import gen  # noqa: E402
import spans as spanlib  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUPS = 3          # set-ups per run; setup_s is their median
WARM_MIN = 2        # warm passes per run, at least
TAIL_BEYOND = 10    # samples beyond the reported tail percentile
HEAP = "1g"         # fixed driver heap, so the peak RSS does not follow heap growth
RUN_LIMIT_S = 170   # a run (after the build) must end within this
BUILD_LIMIT_S = 850

END_TO_END = ["setup_s", "cold_pass_s", "warm_pass_s", "warm_query_p50_s",
              "warm_query_tail_s", "rss_peak_mb"]
UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
         "warm_query_p50_s": "s", "warm_query_tail_s": "s",
         "rss_peak_mb": "MB", "failed_frac": "ratio", "wrong_results": "count"}

# per-layer metrics: (name, unit), each reported as cold.<name> and warm.<name>
LAYER = [
    ("pass_s", "s"),
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("sources.build_s", "s"), ("sources.builds", "count"),
    ("sources.derived_mb", "MB"), ("sources.input_mb", "MB"),
    ("sources.scans", "count"), ("sources.dup_scans", "count"),
    ("catalyst.rule_s", "s"),
    ("codegen.src_s", "s"), ("codegen.janino_s", "s"), ("codegen.classes", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_cpu_s", "s"), ("exec.task_run_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"),
    ("jvm.gc_s", "s"),
    ("self.query_s", "s"), ("self.construct_s", "s"), ("self.execute_s", "s"),
    ("self.job_s", "s"), ("self.batch_s", "s"),
]
PER_LAYER = [(f"{p}.{n}", u) for p in ("cold", "warm") for n, u in LAYER]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_hash(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise BenchError(f"{cmd[0]} exceeded {limit_s:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build(root, work):
    """Classpath of the harness, compiling it (and the engine) if needed."""
    stamp = _source_hash(root)
    cp_file = os.path.join(work, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt")
    t0 = time.time()
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export harness/Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
        text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        raise BenchError(f"sbt build failed (exit {code})")
    classpath = lines[-1].strip()
    os.makedirs(work, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"build done in {time.time() - t0:.1f} s")
    return classpath


# ---------------------------------------------------------------- inputs

def inputs(work, run_dir, sf, seed, copies):
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    base = os.path.join(work, "data", f"base-sf{sf}-{version}")
    if not os.path.exists(os.path.join(base, "_done")):
        shutil.rmtree(base, ignore_errors=True)
        gen.base(base, sf)
        open(os.path.join(base, "_done"), "w").close()
    first = os.path.join(run_dir, "in", "0")
    gen.permute(base, first, seed)
    gen.check_copy(base, first)
    dirs = [first]
    for k in range(1, copies):
        d = os.path.join(run_dir, "in", str(k))
        shutil.copytree(first, d)
        dirs.append(d)
    return dirs


# ---------------------------------------------------------------- checks

def oracle_check(root, data_dir, dump_dir):
    """Names of oracle queries whose dump disagrees with DuckDB, judged by
    the repository's own comparison (tools/check.py)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check
    finally:
        sys.path.pop(0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data_dir, dump_dir)
    fails = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(":")
            fails[name.strip()] = why.strip()
    n_pass = sum(1 for l in buf.getvalue().splitlines() if l.startswith("PASS "))
    return n_pass, fails


def tail(values):
    """(value, percentile, n): the highest percentile with at least
    TAIL_BEYOND samples beyond it."""
    v = sorted(values)
    n = len(v)
    if n <= TAIL_BEYOND:
        raise BenchError(f"only {n} warm samples; the tail needs more than {TAIL_BEYOND}")
    return v[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


# ---------------------------------------------------------------- metrics

def end_to_end(res):
    recs = res["queries"]
    ok = [r for r in recs if r["ok"]]
    passes = sorted({r["pass"] for r in recs})
    pass_s = {p: sum(r["wall_s"] for r in ok if r["pass"] == p) for p in passes}
    warm = [p for p in passes if p > 0]
    samples = [r["wall_s"] for r in ok if r["pass"] > 0]
    t, pct, n = tail(samples)
    m = {
        "setup_s": statistics.median(res["setup_s"]),
        "cold_pass_s": pass_s[0],
        "warm_pass_s": statistics.median(pass_s[p] for p in warm),
        "warm_query_p50_s": statistics.median(samples),
        "warm_query_tail_s": t,
        "rss_peak_mb": res["rss_peak_mb"],
    }
    info = {"tail_percentile": pct, "tail_n": n, "warm_passes": len(warm),
            "setup_all_s": res["setup_s"]}
    return m, info


def _sum_pass(res, p, key):
    return sum((r.get(key) or 0) for r in res["queries"] if r["pass"] == p and r["ok"])


def per_layer(res, span_list):
    passes = sorted({r["pass"] for r in res["queries"]})
    counters = {}
    for c in res["counters"] or []:
        counters.setdefault(c["pass"], {})[c["query"]] = c["counters"]
    selfs = spanlib.self_times(span_list)
    derived = {p["pass"]: p["derived_b"] for p in res["passes"]}
    mb = 1 / (1024 * 1024)

    def one(p):
        name = "cold" if p == 0 else "warm"
        qs = {r["q"] for r in res["queries"] if r["pass"] == p}
        cs = [v for q, v in counters.get(name, {}).items() if q in qs]
        csum = lambda k: sum(c[k] for c in cs)  # noqa: E731
        # counters of warm passes are pooled; divide by the pass count
        share = 1.0 if p == 0 else 1.0 / max(1, len(passes) - 1)
        builds = [b for r in res["queries"] if r["pass"] == p for b in r["builds"]]
        st = selfs.get(p, {})
        return {
            "pass_s": _sum_pass(res, p, "wall_s"),
            "operators.construct_s": _sum_pass(res, p, "construct_s"),
            "operators.construct_jobs": csum("construct_jobs") * share,
            "sources.build_s": sum(b["s"] for b in builds),
            "sources.builds": len(builds),
            "sources.derived_mb": derived.get(p, 0) * mb,
            "sources.input_mb": csum("input_b") * mb * share,
            "sources.scans": _sum_pass(res, p, "scans"),
            "sources.dup_scans": _sum_pass(res, p, "dup_scans"),
            "catalyst.rule_s": _sum_pass(res, p, "rule_s"),
            "codegen.src_s": _sum_pass(res, p, "codegen_src_s"),
            "codegen.janino_s": _sum_pass(res, p, "janino_s"),
            "codegen.classes": _sum_pass(res, p, "classes"),
            "exec.s": _sum_pass(res, p, "exec_s"),
            "exec.jobs": csum("jobs") * share,
            "exec.stages": csum("stages") * share,
            "exec.tasks": csum("tasks") * share,
            "exec.task_cpu_s": csum("task_cpu_ns") / 1e9 * share,
            "exec.task_run_s": csum("task_run_ms") / 1e3 * share,
            "exec.shuffle_write_mb": csum("shuffle_write_b") * mb * share,
            "exec.shuffle_read_mb": csum("shuffle_read_b") * mb * share,
            "exec.spill_mb": csum("spill_b") * mb * share,
            "streaming.batches": st.get("batch_n", 0),
            "streaming.batch_s": st.get("batch_span", 0.0),
            "jvm.gc_s": _sum_pass(res, p, "gc_s"),
            "self.query_s": st.get("query", 0.0),
            "self.construct_s": st.get("construct", 0.0),
            "self.execute_s": st.get("execute", 0.0),
            "self.job_s": st.get("job", 0.0),
            "self.batch_s": st.get("batch", 0.0),
        }

    cold = one(0)
    warm_each = [one(p) for p in passes if p > 0]
    warm = {}
    for k in cold:
        if k in ("sources.scans", "sources.dup_scans"):
            warm[k] = warm_each[0][k]          # plans are read on the first warm pass
        elif k.startswith("exec.") and k != "exec.s" or k in (
                "operators.construct_jobs", "sources.input_mb"):
            warm[k] = warm_each[0][k]          # already a per-pass mean of the pool
        else:
            warm[k] = statistics.median(w[k] for w in warm_each)
    out = {f"cold.{k}": v for k, v in cold.items()}
    out.update({f"warm.{k}": v for k, v in warm.items()})
    return out


def digest(path):
    """Order-insensitive digest of a dumped result (row order is the
    oracle comparison's business; ties in a sort may legally reorder)."""
    import pyarrow.parquet as pq
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    rows = []
    for f in files:
        t = pq.read_table(os.path.join(path, f))
        rows += [repr(tuple(r.items())) for r in t.to_pylist()]
    h = hashlib.md5("\n".join(sorted(rows)).encode())
    return h.hexdigest()[:16], len(rows)


def checks(root, res, run_dir):
    """Correctness outside the timed windows: failures, the oracle, and
    equal digests on the cold and the last warm pass."""
    recs = res["queries"]
    failed = [r for r in recs if not r["ok"]]
    wrong = {}
    digests = {}
    dump = os.path.join(run_dir, "out", "dump")
    for r in recs:
        if r["check_err"]:
            wrong.setdefault(r["q"], f"result dump failed: {r['check_err']}")
        elif r["dump"]:
            digests.setdefault(r["q"], {})[r["dump"]] = digest(
                os.path.join(dump, r["dump"], r["q"]))
    for q, ds in digests.items():
        if len(set(ds.values())) > 1:
            wrong.setdefault(q, f"cold and warm results differ: {ds}")
    n_pass, ofails = oracle_check(root, res["data_dir"], os.path.join(dump, "cold"))
    cold_failed = {r["q"] for r in failed if r["pass"] == 0}
    ofails = {q: why for q, why in ofails.items() if q not in cold_failed}
    for q, why in ofails.items():
        wrong.setdefault(q, f"oracle: {why}")
    return {
        "attempted": len(recs),
        "failed": len(failed),
        "failed_queries": sorted({r["q"] for r in failed}),
        "failed_frac": len(failed) / len(recs),
        "wrong_results": len(wrong),
        "wrong": wrong,
        "oracle_pass": n_pass,
        "oracle_checked": n_pass + len(ofails),
        "digests": {q: ds.get("cold", ds.get("warm"))[0] for q, ds in digests.items()},
    }


# ---------------------------------------------------------------- run

def steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs (Linux);
    a run with much of it was measured on a contended host."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def java_cmd(classpath, run_dir, heap):
    tmp = os.path.join(run_dir, "tmp")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "perfbench.Harness"])


def warm_passes(wl, seconds):
    """Warm passes that fill --seconds at the workload's expected warm-pass
    time: a fixed count for a given --seconds, so every run of a workload
    pools the same number of samples."""
    return max(WARM_MIN, round(seconds / wl["warm_s"]))


def execute(root, workload, seed, seconds, trace, inject=False,
            setups=SETUPS, warm=None):
    """One run; returns the artifact dict (raises BenchError on failure)."""
    wl = WORKLOADS[workload]
    work = os.path.join(root, ".bench_build", "perfbench")
    run_dir = os.path.join(work, "runs", f"{workload}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        classpath = build(root, work)
        t_start = time.time()
        os.makedirs(os.path.join(run_dir, "tmp"))
        os.makedirs(os.path.join(run_dir, "out"))
        dirs = inputs(work, run_dir, wl["sf"], seed, setups)
        queries = list(wl["queries"])
        if inject:
            queries += ["perfbench_fail_construct", "perfbench_fail_execute"]
        # one seeded order for every pass: the warm passes then cycle through
        # the same plans, so what the codegen cache keeps does not depend on
        # a per-pass draw
        random.Random(seed).shuffle(queries)
        cpus = os.cpu_count() or 1
        args = ["--workload", workload, "--queries", ",".join(queries),
                "--data", ",".join(dirs),
                "--out", os.path.join(run_dir, "out"), "--seed", str(seed),
                "--cpus", str(cpus), "--warm-passes", str(warm or warm_passes(wl, seconds)),
                "--trace", "1" if trace else "0", "--inject", "1" if inject else "0"]
        limit = RUN_LIMIT_S - (time.time() - t_start)
        steal0 = steal_s()
        with open(os.path.join(run_dir, "harness.log"), "w") as logf:
            code, _, _ = run_group(java_cmd(classpath, run_dir, HEAP) + args, limit,
                                   cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL)
        if code != 0:
            with open(os.path.join(run_dir, "harness.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise BenchError(f"harness exited with {code}")
        steal = steal_s() - steal0
        with open(os.path.join(run_dir, "out", "result.json")) as f:
            res = json.load(f)
        res["data_dir"] = dirs[-1]
        span_list = []
        if trace:
            with open(os.path.join(run_dir, "out", "spans.json")) as f:
                span_list = json.load(f)
        art = {"workload": workload, "seed": seed, "trace": int(trace),
               "seconds": seconds, "sf": wl["sf"], "cpus": cpus,
               "checks": checks(root, res, run_dir)}
        if trace:
            art["metrics"] = per_layer(res, span_list)
            art["accounting"] = spanlib.accounting(span_list, res["queries"])
            art["span_layers"] = spanlib.layer_totals(span_list)
        else:
            art["metrics"], art["info"] = end_to_end(res)
        art["result"] = {k: v for k, v in res.items() if k != "counters"}
        art["wall_s"] = time.time() - t_start
        art["steal_s"] = steal
        return art
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def save(root, art):
    d = os.path.join(root, ".bench_build", "perfbench", "results")
    os.makedirs(d, exist_ok=True)
    name = f"{art['workload']}-seed{art['seed']}-trace{art['trace']}-{int(time.time() * 1000)}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(art, f)
    return os.path.join(d, name)


def overhead(root, art):
    """Traced pass time against the untraced runs of the same workload and
    --seconds found in the results directory, as (metric, untraced median,
    traced)."""
    d = os.path.join(root, ".bench_build", "perfbench", "results")
    base = {"cold": [], "warm": []}
    for f in os.listdir(d) if os.path.isdir(d) else []:
        if f.startswith(f"{art['workload']}-") and "-trace0-" in f:
            with open(os.path.join(d, f)) as fh:
                other = json.load(fh)
            if other["seconds"] != art["seconds"]:
                continue
            base["cold"].append(other["metrics"]["cold_pass_s"])
            base["warm"].append(other["metrics"]["warm_pass_s"])
    return {k: (statistics.median(v), art["metrics"][f"{k}.pass_s"], len(v))
            for k, v in base.items() if v}


def report(art, units):
    c = art["checks"]
    for name, value in art["metrics"].items():
        print(f"{art['workload']:9s} {name:32s} {value:14.4f} {units[name]}")
    print(f"{art['workload']:9s} {'failed_frac':32s} {c['failed_frac']:14.4f} ratio"
          f"  ({c['failed']} of {c['attempted']} executions)")
    print(f"{art['workload']:9s} {'wrong_results':32s} {c['wrong_results']:14d} count"
          f"  (oracle {c['oracle_pass']}/{c['oracle_checked']} pass; digests of"
          f" {len(c['digests'])} queries equal across passes)")
    for q, why in sorted(c["wrong"].items()):
        print(f"{art['workload']:9s} WRONG {q}: {why}")
    for q in c["failed_queries"]:
        print(f"{art['workload']:9s} FAILED {q}")
    if "info" in art:
        i = art["info"]
        print(f"{art['workload']:9s} warm_query_tail_s is p{i['tail_percentile']:.2f}"
              f" of n={i['tail_n']} warm query executions ({i['warm_passes']} warm passes)")
    if "accounting" in art:
        a = art["accounting"]
        print(f"{art['workload']:9s} span self times account for query wall within"
              f" {a['max_abs_err_ms']:.3f} ms (tolerance {a['tolerance_ms']} ms;"
              f" {a['queries']} queries, ok={a['ok']})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    # a terminated run still kills its JVM's process group (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    needed = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py",
              "perfbench/harness/build.sbt"]
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not a source checkout of the engine (missing {', '.join(missing)});"
            " run from the repository root")
        return 2
    try:
        art = execute(root, a.workload, a.seed, a.seconds, bool(a.trace))
    except BenchError as e:
        log(f"run failed: {e}")
        return 1
    path = save(root, art)
    units = dict(UNITS, **dict(PER_LAYER))
    report(art, units)
    if a.trace:
        for k, (u, t, n) in overhead(root, art).items():
            print(f"{a.workload:9s} tracing overhead on {k}_pass_s: {t - u:+.3f} s"
                  f" ({(t / u - 1) * 100:+.1f}%) against the median of {n} untraced runs")
    print(f"{a.workload:9s} artifact {os.path.relpath(path, root)}")
    c = art["checks"]
    print(json.dumps({
        "correct": c["wrong_results"] == 0,
        "attempted": c["attempted"],
        "failed": c["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in art["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
