#!/usr/bin/env python3
"""Interleaved parent/change A/B of the gated importer workloads.

    python3 importer_ab.py PARENT_DIR CHANGE_DIR [PAIRS] > log.txt

PARENT_DIR and CHANGE_DIR are two checkouts of the repository. For each
seed 1..PAIRS and each workload, both sides run
`python3 perfbench/run.py --workload W --seed N --seconds 6 --trace 0`
in their own checkout, the parent first on odd seeds and the change
first on even ones. Each run prints one line (finish time, workload,
side, seed, 1/5/15-minute load average, its metrics); the summary
compares, per metric, the change's median with the parent's median and
interquartile range, and counts the pairs the change won.
"""
import json
import os
import statistics
import subprocess
import sys
import time

WORKLOADS = ["import_small", "import_bulk"]
# metric -> (better, bound) as BENCHMARK.json declares them
METRICS = {"setup_s": ("lower", 0.25), "first_op_s": ("lower", 0.25),
           "op_p50_s": ("lower", 0.25), "rows_per_s": ("higher", 0.25),
           "peak_rss_mb": ("lower", 0.1)}


def run(side_dir, workload, seed):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "6", "--trace", "0"],
        cwd=side_dir, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    dirs = {"parent": sys.argv[1], "change": sys.argv[2]}
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    results = {w: {"parent": [], "change": []} for w in WORKLOADS}
    for seed in range(1, pairs + 1):
        for w in WORKLOADS:
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            for side in order:
                r = run(dirs[side], w, seed)
                results[w][side].append(r)
                load = " ".join(f"{x:.2f}" for x in os.getloadavg())
                got = ("ERROR" if r is None else
                       f"failed {r['failed']}/{r['attempted']} " +
                       " ".join(f"{k}={r['metrics'][k]['value']:.4g}" for k in METRICS))
                print(f"{time.strftime('%H:%M:%S')} {w} {side} {seed} {load} {got}", flush=True)
    for w in WORKLOADS:
        res = results[w]
        print(f"\n== {w}: {pairs} pairs")
        ok = [i for i in range(pairs) if res["parent"][i] and res["change"][i]]
        for side in ("parent", "change"):
            failed = sum(r["failed"] for r in res[side] if r)
            attempted = sum(r["attempted"] for r in res[side] if r)
            errors = sum(r is None for r in res[side])
            print(f"  {side}: failed {failed} of {attempted} ops, {errors} runs errored")
        for m, (better, bound) in METRICS.items():
            p = [res["parent"][i]["metrics"][m]["value"] for i in ok]
            c = [res["change"][i]["metrics"][m]["value"] for i in ok]
            pm, cm = statistics.median(p), statistics.median(c)
            q1, q3 = quartiles(p)
            sign = 1 if better == "lower" else -1
            worse = sign * (cm - pm) / pm
            wins = sum(sign * (ci - pi) < 0 for pi, ci in zip(p, c))
            spread = (q3 - q1) / pm
            print(f"  {m:12s} parent med {pm:10.3f} IQR {q3 - q1:8.3f} ({spread:.3f} of med) "
                  f"| change med {cm:10.3f} | worse-by {worse:+.3f} (bound {bound}) "
                  f"wins {wins}/{len(ok)}")
            print(f"     parent {[round(x, 3) for x in p]}")
            print(f"     change {[round(x, 3) for x in c]}")


if __name__ == "__main__":
    main()
