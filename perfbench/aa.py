#!/usr/bin/env python3
"""A/A check: two sets of runs of one commit, compared against the bounds.

    python3 perfbench/aa.py --workload fs_tiny [--runs 10] [--sets 2] [--first-seed 1]

Runs `perfbench/run.py` `runs` times per set, each run with its own seed,
from the root of the checkout, with the run length from BENCHMARK.json.
Each run's log goes to .bench_build/aa-logs/.
For every end-to-end metric it prints each set's median and its spread
(the distance between the first and third quartile as a share of the
median), and whether the second set's median is within the metric's
bound of the first's. It exits with code 1 if a spread (setup_s aside)
exceeds its bound, if the medians disagree beyond a bound, if a run was
not correct, or if the sets' shares of failed operations differ.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    logs = os.path.join(".bench_build", "aa-logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, "%s-seed%d.log" % (workload, seed)), "w") as log:
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=log, text=True, timeout=1000)
    if out.returncode != 0:
        sys.exit("run with seed %d exited with code %d; see %s" % (seed, out.returncode, logs))
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]

    sets, seed, ok = [], args.first_seed, True
    for s in range(args.sets):
        results = []
        for _ in range(args.runs):
            res = run_once(args.workload, seed, bench["run_seconds"])
            print("set %d seed %d: %s" % (s + 1, seed, json.dumps(res)), flush=True)
            if not res["correct"]:
                ok = False
            results.append(res)
            seed += 1
        sets.append(results)

    shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets]
    print("failed share per set: %s" % shares)
    if len(set(shares)) > 1:
        ok = False
    print("%-12s %12s %8s %12s %8s %8s  %s" % ("metric", "median 1", "spread", "median 2",
                                              "spread", "bound", "verdict"))
    for m in metrics:
        name, bound = m["name"], m["bound"]
        vals = [[r["metrics"][name]["value"] for r in rs] for rs in sets]
        meds = [statistics.median(v) for v in vals]
        sprs = [spread(v) for v in vals]
        verdict = []
        if name != "setup_s" and any(sp > bound for sp in sprs):
            verdict.append("spread over bound")
        elif any(sp > bound / 3 for sp in sprs):
            verdict.append("spread over a third of the bound")
        if len(meds) == 2:
            worse = meds[1] / meds[0] - 1 if m["better"] == "lower" else 1 - meds[1] / meds[0]
            if worse > bound:
                verdict.append("medians disagree (%.1f%%)" % (100 * worse))
        if any(v.startswith(("spread over bound", "medians")) for v in verdict):
            ok = False
        row = [name, "%.4f" % meds[0], "%.1f%%" % (100 * sprs[0])]
        row += (["%.4f" % meds[1], "%.1f%%" % (100 * sprs[1])] if len(meds) == 2 else ["-", "-"])
        print("%-12s %12s %8s %12s %8s %7.0f%%  %s" % tuple(row + [100 * bound,
                                                           "; ".join(verdict) or "ok"]))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
