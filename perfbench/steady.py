#!/usr/bin/env python3
"""Steadiness check: two interleaved sets of runs of every workload on one commit.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workloads tri_skewed ...]

Run i of set s uses seed `seed0 + 1000*s + i`; the sets alternate run by run,
so slow drift in the machine's load lands on both. For each end-to-end metric
it reports, per set, the median, the quartiles and the spread (distance
between the quartiles as a share of the median), then whether each spread is
within a third of the metric's bound in BENCHMARK.json and whether the second
set's median is within the bound of the first. The report also goes to
perfbench/.work/steady.json. These figures are what the bounds are set from.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run of {workload} seed {seed} failed")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return dict(median=med, q1=q1, q3=q3, spread=(q3 - q1) / med, values=values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=[1, 2])
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]

    results = {w: [[] for _ in range(args.sets)] for w in workloads}
    for i in range(args.runs):
        for s in range(args.sets):
            for w in workloads:
                seed = args.seed0 + 1000 * s + i
                detail, res = run_once(w, seed, spec["run_seconds"])
                results[w][s].append(dict(res, detail=detail))
                m = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
                print(f"set {s} run {i} {w} seed {seed}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} {m} load1={detail['load1']:.2f}",
                      flush=True)

    report, ok = {}, True
    for w in workloads:
        report[w] = {}
        for m in spec["end_to_end"]:
            sets = [summary([r["metrics"][m["name"]]["value"] for r in runs]) for runs in results[w]]
            entry = dict(bound=m["bound"], sets=sets,
                         spread_ok=all(s["spread"] <= m["bound"] / 3 for s in sets))
            if args.sets == 2:
                change = sets[1]["median"] / sets[0]["median"] - 1.0
                worse = change if m["better"] == "lower" else -change
                entry.update(change=change, agree=worse <= m["bound"])
            report[w][m["name"]] = entry
            ok = ok and entry["spread_ok"]
            ok = ok and entry.get("agree", True)
            print(f"{w:14s} {m['name']:12s} " + "  ".join(
                f"set{i}: median {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] spread {s['spread']:.3f}"
                for i, s in enumerate(sets)) +
                f"  bound {m['bound']}" + (f"  change {entry['change']:+.3f}" if "change" in entry else ""))
        shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in results[w]]
        report[w]["failed_share"] = shares
        ok = ok and len(set(shares)) == 1 and all(r["correct"] for runs in results[w] for r in runs)
        print(f"{w:14s} failed share per set {shares}")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "steady.json"), "w") as f:
        json.dump(dict(ok=ok, report=report, runs=results), f, indent=1)
    print("steady" if ok else "NOT steady")


if __name__ == "__main__":
    main()
