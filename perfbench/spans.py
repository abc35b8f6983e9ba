"""Self times from a traced run's spans.

Spans form one tree per run: run > setup, and run > cold|warm pass >
query:<q> > construct|execute > job, with streaming micro-batch spans
between a construct span and its jobs.
Each span's time is split into its own ("self") time and its
children's: a child is clipped to its parent, and where siblings
overlap (concurrent jobs), the overlap goes to the one that started
first. So the self times of a subtree add up to the subtree's root
duration exactly, and every second of a query lands in one layer.
"""
from collections import defaultdict

TOLERANCE_MS = 5.0  # per query: |sum of self times - timed query wall|


def layer(name):
    if name.startswith("query:"):
        return "query"
    if name in ("cold", "warm"):
        return "pass"
    return name


def _tree(spans):
    by_id = {s["id"]: dict(s) for s in spans}
    hosts = [s for s in by_id.values() if s["name"] == "construct"]
    # micro-batches carry no parent: give each to the construct span that
    # ran its stream (the one containing its start)
    for b in by_id.values():
        if b["name"] == "batch":
            inside = [h for h in hosts if h["start_us"] <= b["start_us"] <= h["end_us"]]
            b["parent"] = inside[0]["id"] if inside else -1
    batches = defaultdict(list)
    for b in by_id.values():
        if b["name"] == "batch" and b["parent"] > 0:
            batches[b["parent"]].append(b)
    # jobs a micro-batch launched belong to that batch
    for j in by_id.values():
        if j["name"] == "job":
            for b in batches.get(j["parent"], ()):
                if b["start_us"] <= j["start_us"] <= b["end_us"]:
                    j["parent"] = b["id"]
                    break
    kids = defaultdict(list)
    for s in by_id.values():
        if s["parent"] in by_id:
            kids[s["parent"]].append(s)
    return by_id, kids


def _self(span, lo, hi, kids, out):
    """Fill out[id] = self microseconds for span's subtree, span clipped
    to [lo, hi]."""
    cursor = lo
    covered = 0
    for c in sorted(kids.get(span["id"], ()), key=lambda s: (s["start_us"], s["id"])):
        cs, ce = max(c["start_us"], cursor), min(c["end_us"], hi)
        if ce > cs:
            _self(c, cs, ce, kids, out)
            covered += ce - cs
            cursor = ce
        else:
            _self(c, 0, 0, kids, out)
    out[span["id"]] = max(hi - lo, 0) - covered


def _all_self(spans):
    by_id, kids = _tree(spans)
    out = {}
    for s in by_id.values():
        if s["parent"] not in by_id and s["name"] == "run":
            _self(s, s["start_us"], s["end_us"], kids, out)
    return by_id, kids, out


def _subtree(root, kids):
    stack = [root]
    while stack:
        s = stack.pop()
        yield s
        stack.extend(kids.get(s["id"], ()))


def self_times(spans):
    """{pass index: {layer: self seconds, "batch_n": n, "batch_span": s}}
    over the query subtrees of each pass."""
    by_id, kids, own = _all_self(spans)
    out = defaultdict(lambda: defaultdict(float))
    for q in by_id.values():
        if layer(q["name"]) != "query":
            continue
        p = q["attrs"]["pass"]
        for s in _subtree(q, kids):
            out[p][layer(s["name"])] += own.get(s["id"], 0) / 1e6
            if s["name"] == "batch":
                out[p]["batch_n"] += 1
                out[p]["batch_span"] += (s["end_us"] - s["start_us"]) / 1e6
    return {p: dict(v) for p, v in out.items()}


def layer_totals(spans):
    """Self seconds of each layer over the whole run."""
    by_id, _, own = _all_self(spans)
    out = defaultdict(float)
    for i, us in own.items():
        out[layer(by_id[i]["name"])] += us / 1e6
    return dict(out)


def accounting(spans, records):
    """Check that each query's self times add up to its timed wall."""
    by_id, kids, own = _all_self(spans)
    wall = {(r["pass"], r["q"]): r["wall_s"] for r in records}
    errs = []
    for q in by_id.values():
        if layer(q["name"]) != "query":
            continue
        key = (q["attrs"]["pass"], q["name"][len("query:"):])
        total = sum(own.get(s["id"], 0) for s in _subtree(q, kids)) / 1e6
        errs.append(abs(total - wall[key]) * 1e3)
    worst = max(errs) if errs else 0.0
    return {"queries": len(errs), "max_abs_err_ms": worst,
            "tolerance_ms": TOLERANCE_MS, "ok": worst <= TOLERANCE_MS}
