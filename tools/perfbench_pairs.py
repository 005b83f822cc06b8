#!/usr/bin/env python3
"""Paired benchmark runs of two graft checkouts, side by side.

Usage:
    perfbench_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S
                       [--also m1,m2,...]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds T
--trace 0` once in each checkout, both with the same seed, where T is
BENCHMARK.json's run_seconds; the side that runs first alternates from pair
to pair, so a drift in the host's load falls on both sides alike.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the change's median relative to the parent's, and the share
of pairs the change won, reading the direction from `better`. A metric is
marked WORSE when the change's median is worse than the parent's by more
than its `bound`, and UNRESOLVED when either side's spread (interquartile
range over median) is wider than that bound. `--also` adds metrics the run
prints only as text (say edge.burst_send_s), compared the same way with
lower taken as better unless BENCHMARK.json's per-layer list says otherwise.

The script only reads BENCHMARK.json and runs perfbench/run.py; it writes
nothing under either (run.py keeps its own build in .bench_build/).
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

METRIC_LINE = re.compile(r"^  (\S+)\s+(-?[0-9.]+(?:e[-+]?\d+)?) \S+$")


def run_once(checkout, workload, seed, seconds):
    """One untraced run: its final JSON object plus every printed metric."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(p.stderr[-2000:], file=sys.stderr)
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    printed = {}
    for line in lines[:-1]:
        m = METRIC_LINE.match(line)
        if m:
            printed[m.group(1)] = float(m.group(2))
    values = {k: v["value"] for k, v in res["metrics"].items()}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "values": {**printed, **values},
            "wall_s": time.time() - t0}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(name, better, bound, pairs):
    both = [(p["parent"]["values"].get(name), p["change"]["values"].get(name)) for p in pairs]
    both = [(a, b) for a, b in both if a is not None and b is not None]
    if not both:
        print(f"  {name:28s} not reported")
        return
    par, chg = [a for a, _ in both], [b for _, b in both]
    pq, cq = quartiles(par), quartiles(chg)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in both if sign * (b - a) > 0)
    rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    flags = []
    if bound is not None:
        if -sign * rel > bound:
            flags.append("WORSE")
        spread = [(q[2] - q[0]) / q[1] for q in (pq, cq) if q[1]]
        if any(s > bound for s in spread):
            flags.append("UNRESOLVED")
    if sign * (cq[1] - pq[1]) > pq[2] - pq[0]:
        flags.append("beyond-parent-IQR")
    print(f"  {name:28s} parent {pq[1]:10.3f} [{pq[0]:.3f}, {pq[2]:.3f}]"
          f"  change {cq[1]:10.3f} [{cq[0]:.3f}, {cq[2]:.3f}]"
          f"  {rel * 100:+7.1f}%  change won {wins}/{len(both)}"
          + (f"  bound {bound:.2f}" if bound is not None else "")
          + ("  " + " ".join(flags) if flags else ""))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--also", default="", help="comma-separated printed metrics to compare too")
    a = ap.parse_args()

    with open(os.path.join(a.change_dir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    sides = {"parent": a.parent_dir, "change": a.change_dir}
    pairs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(sides[side], a.workload, seed, seconds)
        pairs.append(pair)
        print(f"pair {i + 1}/{a.pairs} seed {seed} first {order[0]}: " + "  ".join(
            f"{s} correct={pair[s]['correct']} failed={pair[s]['failed']} "
            f"({pair[s]['wall_s']:.0f} s)" for s in ("parent", "change")), flush=True)

    e2e = spec["end_to_end"]
    per_layer = {m["name"]: m["better"] for m in spec["per_layer"]}
    print(f"\n{a.workload}: {len(pairs)} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}, "
          f"{seconds} s per run; median [q1, q3]")
    for side in ("parent", "change"):
        bad = [p["seed"] for p in pairs if not p[side]["correct"] or p[side]["failed"]]
        print(f"  {side}: {len(pairs) - len(bad)}/{len(pairs)} runs correct with failed=0"
              + (f" (not: seeds {bad})" if bad else ""))
    for m in e2e:
        summarize(m["name"], m["better"], m.get("bound"), pairs)
    for name in filter(None, a.also.split(",")):
        summarize(name, per_layer.get(name, "lower"), None, pairs)
    if any(not p[s]["correct"] or p[s]["failed"] for p in pairs for s in sides):
        sys.exit(1)


if __name__ == "__main__":
    main()
