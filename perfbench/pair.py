#!/usr/bin/env python3
"""Interleaved parent/change comparison with the benchmark.

    python3 perfbench/pair.py --parent <tree> --change <tree> [--pairs 10]
        [--claim workload:metric ...]

Each tree is a checkout holding `perfbench/run.py`. Pair i runs every
workload of the change's BENCHMARK.json once on each tree with seed
1000 + i and that file's `run_seconds`, the parent first on even pairs
and the change first on odd ones. Both sides run on `local[nproc]` of
this machine.

For every workload and end-to-end metric it prints each side's median and
quartiles and the change's wins, then a verdict:

- `gain` (claimed metrics only): the change wins at least 9 of 10 pairs,
  ties counting for neither, and the medians differ by more than the
  parent's own quartile spread;
- `regression`: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
- `unresolved`: the parent's own spread is wider than the bound, so a
  difference of that size cannot be told from noise, unless every change
  run beats every parent run;
- `same` otherwise.

It also lists every known-defect probe (README.md) whose value differs
between the two trees, so a defect fixed or made worse shows.

Exits 1 if any verdict is `regression`, or if any run failed or gave an
incorrect result.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path


SEED_BASE = 1000
PROBE = re.compile(r"^# known defect probe: (\S+) = (\S+): (.*)$")


def run_once(tree, workload, seed, seconds):
    """The result line of one run, and its probe values by metric name."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=1200)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{tree}: {workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    probes = {m[1]: (m[2], m[3]) for m in map(PROBE.match, lines) if m}
    return json.loads(lines[-1]), probes


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(metric, parent, change, claimed):
    lower = metric["better"] == "lower"
    def better(a, b):
        return a < b if lower else a > b
    wins = sum(better(c, p) for p, c in zip(parent, change))
    ties = sum(c == p for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    spread = pq3 - pq1
    worse_by = (cmed - pmed if lower else pmed - cmed) / abs(pmed) if pmed else 0.0
    all_better = all(better(c, p) for c in change for p in parent)
    if claimed and wins >= 0.9 * len(parent) and abs(cmed - pmed) > spread and better(cmed, pmed):
        v = "gain"
    elif worse_by > metric["bound"]:
        v = "regression"
    elif pmed and spread / abs(pmed) > metric["bound"] and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return {"wins": wins, "ties": ties, "pairs": len(parent), "worse_by": worse_by,
            "verdict": v}


def main():
    p = argparse.ArgumentParser(description="interleaved parent/change benchmark pairs")
    p.add_argument("--parent", required=True, type=Path)
    p.add_argument("--change", required=True, type=Path)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--claim", action="append", default=[],
                   help="workload:metric the change claims to improve")
    args = p.parse_args()
    if args.pairs < 10:
        p.error("the win rule needs at least ten pairs")
    spec = json.loads((args.change / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    results = {w: {"parent": [], "change": []} for w in workloads}
    probes = {w: {"parent": {}, "change": {}} for w in workloads}
    bad = 0
    for i in range(args.pairs):
        sides = [("parent", args.parent), ("change", args.change)]
        if i % 2:
            sides.reverse()
        for w in workloads:
            for side, tree in sides:
                r, pr = run_once(tree, w, SEED_BASE + i, spec["run_seconds"])
                bad += r["failed"] > 0 or not r["correct"]
                results[w][side].append(r["metrics"])
                probes[w][side].update(pr)
        print(f"pair {i + 1}/{args.pairs} done", file=sys.stderr, flush=True)

    report = {}
    regressions = 0
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':14s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s}  wins  verdict")
        for m in spec["end_to_end"]:
            par = [r[m["name"]]["value"] for r in results[w]["parent"]]
            chg = [r[m["name"]]["value"] for r in results[w]["change"]]
            v = verdict(m, par, chg, f"{w}:{m['name']}" in args.claim)
            v.update({"parent": quartiles(par), "change": quartiles(chg), "unit": m["unit"]})
            report[f"{w}:{m['name']}"] = v
            regressions += v["verdict"] == "regression"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"  {m['name']:14s} {fmt(v['parent']):>28s} {fmt(v['change']):>28s}"
                  f"  {v['wins']:2d}/{v['pairs']}  {v['verdict']}")
        for name in sorted(set(probes[w]["parent"]) | set(probes[w]["change"])):
            par, chg = probes[w]["parent"].get(name), probes[w]["change"].get(name)
            if par is None or chg is None or par[0] != chg[0]:
                print(f"  probe {name} changed: parent {par}, change {chg}")
                report[f"{w}:{name}"] = {"parent": par, "change": chg, "verdict": "probe changed"}
    print(json.dumps(report))
    return 1 if regressions or bad else 0


if __name__ == "__main__":
    sys.exit(main())
