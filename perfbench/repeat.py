#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise each metric's spread.

    python3 perfbench/repeat.py --workloads gate_mix,kernels \
        --seeds 1-10 --out runs.jsonl [--trace 0]

Runs `run.py` once per (workload, seed), one after another, appends each
result line (plus workload, seed and run wall) to --out, then prints per
workload and metric the median, the quartiles as `statistics.quantiles(n=4)`
gives them, and the spread: the distance between the quartiles as a share
of the median. With --summary-only it only summarises an existing file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(path):
    rows = [json.loads(line) for line in open(path)]
    by = {}
    for r in rows:
        by.setdefault(r["workload"], []).append(r)
    for w, rs in by.items():
        ok = [r for r in rs if "metrics" in r]
        walls = [r["run_s"] for r in rs]
        print(f"{w}: {len(ok)}/{len(rs)} runs with a result, "
              f"{sum(1 for r in ok if r['correct'])} correct, run wall "
              f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        if len(ok) < 4:
            continue
        for m in ok[0]["metrics"]:
            v = [r["metrics"][m]["value"] for r in ok]
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {m:40s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}"
                  f"  spread {spread:6.3f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="gate_mix,kernels")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    ap.add_argument("--summary-only", action="store_true")
    a = ap.parse_args()
    if not a.summary_only:
        with open(a.out, "a") as f:
            for w in a.workloads.split(","):
                for s in seeds_of(a.seeds):
                    t0 = time.time()
                    p = subprocess.run(
                        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                         "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                        capture_output=True, text=True)
                    lines = p.stdout.strip().splitlines()
                    try:
                        r = json.loads(lines[-1])
                    except (IndexError, ValueError):
                        r = {"rc": p.returncode, "stderr": p.stderr[-2000:]}
                    r.update(workload=w, seed=s, run_s=time.time() - t0,
                             report=lines[:-1])
                    f.write(json.dumps(r) + "\n")
                    f.flush()
    summarise(a.out)


if __name__ == "__main__":
    main()
