#!/usr/bin/env python3
"""Steadiness evidence: run each workload on several seeds, twice, and
compare the two sets metric by metric.

Usage (from the repository root):
  python3 perfbench/steady.py --runs 10 [--out report.json]
  python3 perfbench/steady.py --runs 2 --trace 1     # per-layer counters

For every workload x metric it reports each set's median and its spread
(interquartile distance over the median, `statistics.quantiles(n=4)`),
the drift of the second median from the first, and each metric's bound
from BENCHMARK.json. Seeds are 1..runs in both sets, so deterministic
counters (traced runs) must repeat exactly between the sets.
"""
import argparse
import json
import statistics
import subprocess
import sys

SETS = 2


def run_once(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for w in [w["name"] for w in bench["workloads"]]:
        sets = []
        for s in range(SETS):
            rows = [run_once(w, seed, bench["run_seconds"], a.trace)
                    for seed in range(1, a.runs + 1)]
            sets.append(rows)
            bad = [r for r in rows if not r["correct"] or r["failed"]]
            print(f"{w} set {s + 1}: {len(bad)} incorrect runs", file=sys.stderr)
        metrics = {}
        for m in sets[0][0]["metrics"]:
            vals = [[r["metrics"][m]["value"] for r in rows] for rows in sets]
            meds = [statistics.median(v) for v in vals]
            metrics[m] = {
                "unit": sets[0][0]["metrics"][m]["unit"],
                "bound": bounds.get(m),
                "values": vals,
                "medians": meds,
                "spreads": [spread(v) if len(v) > 1 else 0.0 for v in vals],
                "drift": (meds[1] - meds[0]) / meds[0] if meds[0] else 0.0,
                "repeats_exactly": all(v == vals[0] for v in vals),
            }
            print(f"{w:12s} {m:40s} med {meds} spread "
                  f"{[round(x, 3) for x in metrics[m]['spreads']]} "
                  f"drift {metrics[m]['drift']:+.3f}", file=sys.stderr)
        report[w] = {"runs": a.runs, "sets": SETS, "metrics": metrics,
                     "all_correct": all(r["correct"] and not r["failed"]
                                        for rows in sets for r in rows)}
    text = json.dumps(report, indent=1, sort_keys=True)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
