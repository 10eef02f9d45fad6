#!/usr/bin/env python3
"""Steadiness and comparison tooling for the CDC benchmark.

    # each end-to-end metric's median, quartiles and spread next to its bound
    python3 perfbench/compare.py repeat --workload catchup --seeds 1-10

    # tracing overhead: traced minus untraced medians, per metric
    python3 perfbench/compare.py overhead --workload live-tail --seeds 1-5

    # catchup on local[1] beside local[N] (the single-threaded baseline; not gated)
    python3 perfbench/compare.py baseline --seeds 1-5

    # parent vs change, alternating which side runs first in each pair
    python3 perfbench/compare.py pair --parent ../parent --change . \
        --workload catchup --pairs 10

Runs use the spec's run_seconds, on local[nproc] unless stated. Each side
of `pair` is the root of a checkout holding its own perfbench/; the pairs use
seeds 101, 102, ... Spread is (q3 - q1) / median with Python's
statistics.quantiles(n=4).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIR_SEED_BASE = 101


def spec():
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


def seeds(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run_once(root, workload, seed, trace=0, cores=None):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec()["run_seconds"]), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {p.returncode})")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"incorrect result: {workload} seed {seed}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    spread = (q3 - q1) / med if med else float("inf")
    return med, q1, q3, spread


def cmd_repeat(a):
    sp = spec()
    runs = []
    for s in seeds(a.seeds):
        m = run_once(ROOT, a.workload, s)
        runs.append(m)
        print(f"seed {s}: " + ", ".join(f"{k}={v:.4g}" for k, v in m.items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in sp["end_to_end"]}
    print(f"\n{a.workload}: {len(runs)} runs")
    print(f"{'metric':<24}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  verdict")
    for k in runs[0]:
        med, q1, q3, spread = summary([r[k] for r in runs])
        b = bounds.get(k)
        if b is None:
            verdict = ""
        else:
            verdict = "steady" if spread < b / 3 else ("within bound" if spread <= b else "TOO WIDE")
        print(f"{k:<24}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
              f"{(b if b is not None else float('nan')):>7.2f}  {verdict}")


def cmd_overhead(a):
    sp = spec()
    plain, traced = [], []
    for s in seeds(a.seeds):
        plain.append(run_once(ROOT, a.workload, s, 0))
        traced.append(run_once(ROOT, a.workload, s, 1))
    print(f"{a.workload}: tracing overhead over {len(plain)} seed(s)")
    for m in sp["end_to_end"]:
        k = m["name"]
        if f"traced.{k}" not in traced[0]:
            continue
        u = statistics.median(r[k] for r in plain)
        t = statistics.median(r[f"traced.{k}"] for r in traced)
        print(f"{k:<24} untraced {u:>12.4g}  traced {t:>12.4g}  "
              f"difference {t - u:>+10.4g} ({(t - u) / u:+.1%})")
    stages = statistics.median(r.get("trace.materialized", 0) for r in traced)
    if stages:
        print(f"stage outputs filled inside their span (one extra count job each): {stages:g} per run")


def cmd_baseline(a):
    ncores = len(os.sched_getaffinity(0))
    sides = {ncores: [], 1: []}
    for s in seeds(a.seeds):
        for c in sides:
            sides[c].append(run_once(ROOT, "catchup", s, 0, c))
    print(f"catchup, local[{ncores}] vs local[1] (single-threaded baseline, not gated)")
    for k in sides[ncores][0]:
        n = statistics.median(r[k] for r in sides[ncores])
        one = statistics.median(r[k] for r in sides[1])
        print(f"{k:<24} local[{ncores}] {n:>12.4g}   local[1] {one:>12.4g}   ratio {n / one:.3f}")


def cmd_pair(a):
    sp = spec()
    par, chg = [], []
    for i in range(a.pairs):
        seed = PAIR_SEED_BASE + i
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {name: run_once(root, a.workload, seed) for name, root in order}
        par.append(got["parent"])
        chg.append(got["change"])
        print(f"pair {i} (seed {seed}, {order[0][0]} first) done", flush=True)
    print(f"\n{a.workload}: {a.pairs} pairs")
    for m in sp["end_to_end"]:
        k, better, bound = m["name"], m["better"], m["bound"]
        p = [r[k] for r in par]
        c = [r[k] for r in chg]
        pm, pq1, pq3, psp = summary(p)
        cm, cq1, cq3, csp = summary(c)
        wins = sum(1 for x, y in zip(p, c) if (y < x if better == "lower" else y > x))
        worse = (cm - pm) / pm if better == "lower" else (pm - cm) / pm
        if wins >= 0.9 * a.pairs and abs(cm - pm) > (pq3 - pq1):
            verdict = "GAIN"
        elif max(psp, csp) > bound:
            every = all(y < min(p) for y in c) if better == "lower" else all(y > max(p) for y in c)
            verdict = "better on every run" if every else "UNRESOLVED (spread > bound)"
        elif worse > bound:
            verdict = "REGRESSION"
        else:
            verdict = "no change"
        print(f"{k:<20} parent {pm:>10.4g} [{pq1:.4g}, {pq3:.4g}]  change {cm:>10.4g} "
              f"[{cq1:.4g}, {cq3:.4g}]  wins {wins}/{a.pairs}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("repeat")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    o = sub.add_parser("overhead")
    o.add_argument("--workload", required=True)
    o.add_argument("--seeds", default="1-3")
    b = sub.add_parser("baseline")
    b.add_argument("--seeds", default="1-3")
    p = sub.add_parser("pair")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    {"repeat": cmd_repeat, "overhead": cmd_overhead, "baseline": cmd_baseline,
     "pair": cmd_pair}[a.cmd](a)


if __name__ == "__main__":
    main()
