#!/usr/bin/env python3
"""Steadiness tool: run one workload K times with K seeds, print each
metric's median and quartiles, and compare two saved sets of runs.

    python3 perfbench/steady.py run --workload W --runs 10 [--seed0 100]
                                    [--trace 0] [--out set.json]
    python3 perfbench/steady.py compare first.json second.json

`run` prints, per metric, the median, the first and third quartile (as
`statistics.quantiles(values, n=4)` gives them) and the spread: the
distance between the quartiles as a share of the median, next to a third
of the metric's bound. `compare` prints, per metric, how much worse the
second median is than the first, as a share of the first, and whether
that stays within the bound. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_set(a):
    b = spec()
    runs = []
    for k in range(a.runs):
        seed = a.seed0 + k
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(b["run_seconds"]),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"] = seed
        runs.append(res)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}", file=sys.stderr)
    out = {"workload": a.workload, "trace": a.trace, "runs": runs}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)
    report(out, b)


def report(s, b):
    bounds = {m["name"]: m.get("bound") for m in b["end_to_end"]}
    names = list(s["runs"][0]["metrics"])
    print(f"{s['workload']}: {len(s['runs'])} runs")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound/3':>8}")
    for n in names:
        med, q1, q3, spread = summary([r["metrics"][n]["value"] for r in s["runs"]])
        bd = bounds.get(n)
        flag = "" if bd is None else f"{bd / 3:8.3f}" + ("  !" if spread > bd / 3 else "")
        print(f"{n:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {flag}")


def compare(a):
    b = spec()
    with open(a.first) as f:
        s1 = json.load(f)
    with open(a.second) as f:
        s2 = json.load(f)
    print(f"{s1['workload']}: {len(s1['runs'])} vs {len(s2['runs'])} runs")
    ok = True
    for m in b["end_to_end"]:
        n = m["name"]
        m1 = statistics.median(r["metrics"][n]["value"] for r in s1["runs"])
        m2 = statistics.median(r["metrics"][n]["value"] for r in s2["runs"])
        worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
        good = worse <= m["bound"]
        ok &= good
        print(f"{n:24} {m1:12.4f} {m2:12.4f} worse by {worse:+.3f} (bound {m['bound']})"
              + ("" if good else "  !"))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=100)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    run_set(a) if a.cmd == "run" else compare(a)


if __name__ == "__main__":
    main()
