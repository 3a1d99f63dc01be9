#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark between two checkouts.

Usage (from anywhere):
  python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N \
      [--seed S] [--seconds T] [--metric NAME] [--trace-seed S]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds T
--trace 0` once in each checkout, the parent first in even pairs and the
change first in odd ones. Both sides use the parent's BENCHMARK.json for
the metric list and which direction is better. For every end-to-end
metric it prints each side's median and quartiles; for --metric
(default op_s_p50) it also prints the win count and whether the gain
rule holds: the change wins at least 9/10 of the pairs (ties count for
neither) and the medians differ by more than the parent's quartile
spread. With --trace-seed S it then runs `run.py --trace 1 --seed S` once
in each checkout and prints every *.jobs, *.tasks, *.shuffle_bytes and
*.wall_s counter side by side. The last stdout line is one JSON object
with every run.
Nothing is written into either checkout beyond what run.py writes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, trace=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"ab_pairs: run.py failed in {checkout} (exit {p.returncode})")
    return json.loads(lines[-1])


def fmt(v):
    if v is None:
        return "-"
    return str(int(v)) if float(v).is_integer() else f"{v:.6g}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--metric", default="op_s_p50")
    ap.add_argument("--trace-seed", type=int)
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run_once(sides[side], args.workload, seed, args.seconds))
        p, c = (runs[s][-1]["metrics"][args.metric]["value"] for s in ("parent", "change"))
        print(f"pair {i + 1} seed {seed} ({order[0]} first): "
              f"{args.metric} parent {p:.4g} change {c:.4g}", file=sys.stderr, flush=True)

    summary = {}
    for name, direction in better.items():
        row = {}
        for side in ("parent", "change"):
            xs = [r["metrics"][name]["value"] for r in runs[side]]
            lo, hi = quartiles(xs)
            row[side] = {"median": statistics.median(xs), "q1": lo, "q3": hi}
        summary[name] = row
        print(f"{name:12s} parent {row['parent']['median']:.4g} "
              f"({row['parent']['q1']:.4g}-{row['parent']['q3']:.4g})  "
              f"change {row['change']['median']:.4g} "
              f"({row['change']['q1']:.4g}-{row['change']['q3']:.4g})")

    sign = 1 if better[args.metric] == "lower" else -1
    pv = [r["metrics"][args.metric]["value"] for r in runs["parent"]]
    cv = [r["metrics"][args.metric]["value"] for r in runs["change"]]
    wins = sum(1 for p, c in zip(pv, cv) if sign * (p - c) > 0)
    row = summary[args.metric]
    gap = sign * (row["parent"]["median"] - row["change"]["median"])
    iqr = row["parent"]["q3"] - row["parent"]["q1"]
    holds = wins >= 0.9 * args.pairs and gap > iqr
    failed = {s: sum(r["failed"] for r in runs[s]) for s in runs}
    print(f"{args.metric}: change wins {wins}/{args.pairs}; median gain {gap:.4g} "
          f"vs parent IQR {iqr:.4g}; gain rule {'holds' if holds else 'does not hold'}; "
          f"failed parent {failed['parent']} change {failed['change']}")
    traced = {}
    if args.trace_seed is not None:
        for side in ("parent", "change"):
            traced[side] = run_once(sides[side], args.workload, args.trace_seed, args.seconds, trace=1)
        counters = (".jobs", ".tasks", ".shuffle_bytes", ".wall_s")
        names = sorted({n for t in traced.values() for n in t["metrics"] if n.endswith(counters)})
        print(f"traced, seed {args.trace_seed}: parent / change")
        for name in names:
            p, c = (fmt(traced[s]["metrics"].get(name, {}).get("value")) for s in ("parent", "change"))
            print(f"  {name:40s} {p} / {c}")
    print(json.dumps({"workload": args.workload, "metric": args.metric, "wins": wins,
                      "pairs": args.pairs, "holds": holds, "failed": failed,
                      "summary": summary, "runs": runs, "traced": traced}))


if __name__ == "__main__":
    main()
