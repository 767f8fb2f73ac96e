"""Pair comparison of two checkouts on the benchmark's end-to-end metrics.

Usage::

    python3 perfbench/compare.py --parent /path/to/parent --change /path/to/change \\
        [--workload csv_bulk ...] [--seed 1000]

Each side is a checkout holding ``BENCHMARK.json``, ``perfbench/`` and the
engine. A change that claims a gain does not edit the benchmark, so both
sides run the same benchmark code. For every workload the command runs
ten pairs, one run of each side per pair with the same seed, and
alternates which side runs first. A run that prints no result (it crashed
or timed out) counts as one failed operation of its side, and its pair is
lost: the quartiles cover the pairs where both sides produced a result,
while wins are counted against all ten. It prints each side's median and
quartiles per metric and a verdict, tried in this order:

* ``unresolved``: either side's spread (IQR / median) exceeds the bound,
  unless every change run is better than every parent run;
* ``gain``: the change is better in at least 9 of the 10 pairs (ties and
  lost pairs count for neither side), the medians differ by more than the
  parent's interquartile range, and the change failed no more operations
  than the parent;
* ``regression``: the change's median is worse than the parent's by more
  than the metric's bound;
* ``better (all runs)``: every change run beats every parent run, but the
  gain rule above does not hold;
* ``same``: none of the above.

The last line of stdout is the whole comparison as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 10


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=900)
    except subprocess.TimeoutExpired:
        print(f"  {checkout} {workload} seed {seed}: timed out", file=sys.stderr)
        return None
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"  {checkout} {workload} seed {seed}: no result (exit {proc.returncode})",
              file=sys.stderr)
        return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return q1, q2, q3


def verdict(metric: dict, parent: list[float], change: list[float],
            failed: tuple[int, int]) -> dict:
    higher = metric["better"] == "higher"
    bound = metric["bound"]
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum((c > p) if higher else (c < p) for p, c in zip(parent, change))
    losses = sum((c < p) if higher else (c > p) for p, c in zip(parent, change))
    worse_by = ((pm - cm) if higher else (cm - pm)) / abs(pm) if pm else 0.0
    all_better = (min(change) > max(parent)) if higher else (max(change) < min(parent))
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    if spread > bound and not all_better:
        kind = "unresolved"
    elif (wins >= 0.9 * PAIRS and worse_by < 0 and abs(cm - pm) > p3 - p1
          and failed[1] <= failed[0]):
        kind = "gain"
    elif worse_by > bound:
        kind = "regression"
    elif all_better:
        kind = "better (all runs)"
    else:
        kind = "same"
    return {"parent": {"median": pm, "q1": p1, "q3": p3},
            "change": {"median": cm, "q1": c1, "q3": c3},
            "wins": wins, "losses": losses, "pairs": PAIRS,
            "worse_by": worse_by, "spread": spread, "verdict": kind}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Pair comparison of two checkouts.")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", action="append")
    p.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    args = p.parse_args(argv)

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    report = {}
    for workload in workloads:
        values = {side: {} for side in sides}
        failed = {side: 0 for side in sides}
        lost = 0
        for i in range(PAIRS):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {side: run_once(sides[side], workload, seed, bench["run_seconds"])
                   for side in order}
            for side, r in got.items():
                # no result at all is a failed run of that side
                failed[side] += 1 if r is None else r["failed"] + (0 if r["correct"] else 1)
            if any(r is None for r in got.values()):
                lost += 1
                continue
            for side, r in got.items():
                for name, m in r["metrics"].items():
                    values[side].setdefault(name, []).append(m["value"])
            print(f"{workload}: pair {i + 1}/{PAIRS} done", file=sys.stderr)
        report[workload] = {"failed": failed, "lost_pairs": lost, "metrics": {}}
        for metric in bench["end_to_end"]:
            name = metric["name"]
            if not values["parent"].get(name) or not values["change"].get(name):
                continue
            report[workload]["metrics"][name] = verdict(
                metric, values["parent"][name], values["change"][name],
                (failed["parent"], failed["change"]))

    for workload, r in report.items():
        print(f"\n{workload}  (failed ops: parent {r['failed']['parent']}, "
              f"change {r['failed']['change']}; pairs lost: {r['lost_pairs']}/{PAIRS})")
        print(f"  {'metric':<14} {'parent median [q1, q3]':>34} "
              f"{'change median [q1, q3]':>34} {'wins':>6}  verdict")
        for name, v in r["metrics"].items():
            pa, ch = v["parent"], v["change"]
            print(f"  {name:<14} {pa['median']:>12.4g} [{pa['q1']:.4g}, {pa['q3']:.4g}]"
                  f"{'':>4} {ch['median']:>12.4g} [{ch['q1']:.4g}, {ch['q3']:.4g}]"
                  f"{'':>4} {v['wins']:>3}/{v['pairs']:<3} {v['verdict']}")
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
