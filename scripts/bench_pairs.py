#!/usr/bin/env python3
"""Interleaved parent/change pairs of perfbench runs, with medians and quartiles.

    python3 scripts/bench_pairs.py --parent ../parent --change . \\
        --workload transcripts --seeds 101 102 103 [--trace 0] [--out pairs.json]

Each seed is one pair: `perfbench/run.py` runs once in the parent checkout and
once in the change checkout, with the same workload, seed and run length (the
`run_seconds` of the change's BENCHMARK.json unless --seconds is given). The
side that runs first flips every pair, so a drift in the machine's load lands
on both sides. Every run prints one line with its load1, its correctness and
its metrics; at the end, each metric gets both sides' medians and quartiles,
the change's median as a share of the parent's, and the number of pairs the
change won (ties count for neither side). The benchmark runs as it is in each
checkout; nothing under perfbench/ is edited.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(checkout, "perfbench", "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=checkout, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run of {workload} seed {seed} in {checkout} failed")
    lines = out.stdout.strip().splitlines()
    detail, res = json.loads(lines[-2]), json.loads(lines[-1])
    return dict(seed=seed, load1=round(detail["load1"], 2), correct=res["correct"],
                attempted=res["attempted"], failed=res["failed"],
                metrics={k: v["value"] for k, v in res["metrics"].items()})


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="also write every run and the summary to this JSON file")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], args.workload, seed, seconds, args.trace)
            runs[side].append(r)
            shown = " ".join(f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items()))
            print(f"pair {i} {side:6} seed {seed} load1 {r['load1']} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {shown}", flush=True)

    summary = {}
    print(f"\n{args.workload}: {len(args.seeds)} pairs, medians (quartiles)")
    for name in sorted(runs["parent"][0]["metrics"]):
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        ratio = cq[1] / pq[1] if pq[1] else None
        summary[name] = dict(parent=p, change=c, parent_quartiles=pq, change_quartiles=cq,
                             ratio=ratio, change_wins=wins)
        shown = f"{ratio - 1:+.1%}" if ratio is not None else "n/a"
        print(f"  {name:28} parent {pq[1]:.4g} ({pq[0]:.4g}-{pq[2]:.4g})  "
              f"change {cq[1]:.4g} ({cq[0]:.4g}-{cq[2]:.4g})  {shown}  "
              f"change won {wins}/{len(p)}")
    for side in ("parent", "change"):
        print(f"  {side} load1: {[r['load1'] for r in runs[side]]}  "
              f"all correct: {all(r['correct'] for r in runs[side])}  "
              f"failed: {sum(r['failed'] for r in runs[side])}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(dict(workload=args.workload, seeds=args.seeds, seconds=seconds,
                           trace=args.trace, runs=runs, summary=summary), f, indent=1)


if __name__ == "__main__":
    main()
