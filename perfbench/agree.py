#!/usr/bin/env python3
"""Run two sets of benchmark runs of the same code and report, per workload
and end-to-end metric, whether they agree within BENCHMARK.json's bounds.

    python3 perfbench/agree.py [--runs 10] [--sets 2] [--workloads a,b]

Run from the repository root. Set k uses seeds k*1000+1 .. k*1000+runs, and
runs are interleaved across workloads so slow drift of the machine lands on
every workload alike. For each set and metric it reports the median and the
spread (distance between the first and third quartiles, as
statistics.quantiles(values, n=4) gives them, as a share of the median).
A metric agrees when every set's spread is within its bound (setup_s
excepted: its spread is reported, not gated) and the later set's median is
not worse than the first's by more than the bound. The share of failed
checks must be identical across sets. The measured figures are written to
perfbench/results/agree.json, the record the bounds were chosen from.
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
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=900)
    lines = r.stdout.decode().strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit("run failed: %s seed %d\n%s" % (workload, seed, r.stderr.decode()[-2000:]))
    return json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    metrics = spec["end_to_end"]

    results = {w: [[] for _ in range(a.sets)] for w in workloads}
    for s in range(a.sets):
        for i in range(a.runs):
            for w in workloads:
                seed = (s + 1) * 1000 + i + 1
                out = run_once(w, seed, spec["run_seconds"])
                results[w][s].append(out)
                print("set %d run %2d %-14s seed %5d %s" % (s + 1, i + 1, w, seed, " ".join(
                    "%s=%.4f" % (m["name"], out["metrics"][m["name"]]["value"]) for m in metrics)),
                    flush=True)

    report, ok = {}, True
    print("\n%-14s %-17s %6s  %s  %s" % ("workload", "metric", "bound",
                                        "  ".join("median%d  spread%d" % (s + 1, s + 1) for s in range(a.sets)),
                                        "verdict"))
    for w in workloads:
        runs = results[w]
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in runs]
        report[w] = {"failed_share": shares, "metrics": {}}
        if len(set(shares)) != 1:
            ok = False
            print("%-14s failed share differs between sets: %s" % (w, shares))
        for m in metrics:
            sets = [[r["metrics"][m["name"]]["value"] for r in rs] for rs in runs]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            sign = 1 if m["better"] == "lower" else -1
            worse = max(sign * (x - meds[0]) / meds[0] for x in meds[1:]) if a.sets > 1 else 0.0
            good = worse <= m["bound"] and (m["name"] == "setup_s" or max(spreads) <= m["bound"])
            ok = ok and good
            report[w]["metrics"][m["name"]] = {"values": sets, "medians": meds, "spreads": spreads,
                                               "bound": m["bound"], "worse_by": worse, "agree": good}
            print("%-14s %-17s %6.3f  %s  %s (later set worse by %+.3f)" % (
                w, m["name"], m["bound"],
                "  ".join("%7.3f  %7.3f" % (md, sp) for md, sp in zip(meds, spreads)),
                "agree" if good else "DISAGREE", worse))
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "agree.json"), "w") as fh:
        json.dump({"runs": a.runs, "sets": a.sets, "run_seconds": spec["run_seconds"],
                   "report": report}, fh, indent=1)
    print("\nall metrics agree" if ok else "\nsome metrics DISAGREE")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
