#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent and change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are each a directory of run reports (run.py keeps one per
run under .bench_build/runs/) or a file of report lines (run.py's
second-to-last stdout line, one per run). Traced runs are skipped.

Prints one row per workload and end-to-end metric, then the workload's own
named metrics: both sides' medians and quartiles, the share of pairs the
change wins, and a verdict (choosing-metrics sections 5 and 8):

  improved      the change wins at least 9 in 10 pairs and the medians differ
                by more than the parent's own quartile spread
  worse         the change's median is worse than the parent's by more than
                the metric's bound
  unresolved    the parent's runs spread wider than the bound, and not every
                change run beats every parent run
  within bound  otherwise

Runs pair by seed when both sides ran the same seeds, else in order.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# the workloads' own named metrics, as (report key, field)
DETAIL = {
    "copy_full": [("copy_job_s", "p50"), ("stored_bytes_ratio", None)],
    "query_suite": [("query_suite_s", "p50")] + [
        ("query_s", m) for m in ("ops", "text", "dedup", "sim", "mm")],
}


def load(path):
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
        lines = []
        for f in files:
            with open(f) as fh:
                lines.append(fh.read())
    else:
        with open(path) as fh:
            lines = [l for l in fh if l.strip().startswith("{")]
    runs = [json.loads(l) for l in lines]
    return [r for r in runs if "workload" in r and r.get("trace_mode", 0) == 0]


def values(runs, workload):
    """metric name -> list of (seed, value), for one workload."""
    out = {}
    for r in runs:
        if r["workload"] != workload:
            continue
        seed = r["self"]["seed"]
        for k, v in r["metrics"].items():
            out.setdefault(k, []).append((seed, v["value"]))
        for key, field in DETAIL.get(workload, []):
            x = r.get(key)
            if isinstance(x, dict):
                x = x.get(field)
            if isinstance(x, (int, float)):
                name = key if field is None else f"{key}.{field}"
                out.setdefault(name, []).append((seed, x))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(a, b):
    sa, sb = dict(a), dict(b)
    common = [s for s in sa if s in sb]
    if common and len(common) == min(len(sa), len(sb)):
        return [(sa[s], sb[s]) for s in common]
    return list(zip([v for _, v in a], [v for _, v in b]))


def verdict(pa, pb, bound, lower_better):
    xa, xb = [v for _, v in pa], [v for _, v in pb]
    q1a, ma, q3a = quartiles(xa)
    _, mb, _ = quartiles(xb)
    better = (lambda x, y: x < y) if lower_better else (lambda x, y: x > y)
    ps = pairs(pa, pb)
    wins = sum(1 for x, y in ps if better(y, x))
    share = wins / len(ps) if ps else 0.0
    worse_by = ((mb - ma) if lower_better else (ma - mb)) / ma if ma else 0.0
    spread = (q3a - q1a) / ma if ma else 0.0
    if share >= 0.9 and better(mb, ma) and abs(mb - ma) > (q3a - q1a):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all(better(y, x) for y in xb for x in xa):
        v = "unresolved"
    else:
        v = "within bound"
    return share, v


def fmt(xs):
    q1, m, q3 = quartiles(xs)
    return f"{m:11.4g} [{q1:.4g}, {q3:.4g}]"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':17} {'metric':26} {'parent median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'wins':>5}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        va, vb = values(parent, w), values(change, w)
        for name in list(e2e) + [n for n in va if n not in e2e]:
            if name not in va or name not in vb:
                continue
            m = e2e.get(name)
            # a named metric carries the bound of the end-to-end metric it details
            bound = m["bound"] if m else e2e["op_s.p50"]["bound"]
            lower = (m["better"] == "lower") if m else True
            share, v = verdict(va[name], vb[name], bound, lower)
            print(f"{w:17} {name:26} {fmt([x for _, x in va[name]]):>32} "
                  f"{fmt([x for _, x in vb[name]]):>32} {share:5.2f}  {v}")


if __name__ == "__main__":
    main()
