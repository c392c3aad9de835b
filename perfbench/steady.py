#!/usr/bin/env python3
"""Steadiness check: runs each workload repeatedly, one seed per run, and
prints every end-to-end metric's spread against its bound.

    python3 perfbench/steady.py                      # 10 runs of every workload
    python3 perfbench/steady.py --runs 5 --workloads read_mix --seed0 100

The spread is the distance between the first and third quartile of the
runs' values (statistics.quantiles(values, n=4)) as a share of their
median. A metric is steady when its spread stays below a third of its
bound; setup_s is reported but exempt from the spread rule.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", help="also write every run's result to this JSON file")
    a = ap.parse_args()

    results, steady = {}, True
    for wl in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            t0 = time.time()
            cmd = spec["command"] + ["--workload", wl, "--seed", str(a.seed0 + i),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{wl} seed {a.seed0 + i}: exit {p.returncode}")
            res = json.loads(lines[-1])
            res["elapsed_s"] = time.time() - t0
            res["header"] = lines[0]
            runs.append(res)
            print(f"{wl} seed={a.seed0 + i} correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} elapsed={res['elapsed_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        results[wl] = runs
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            ok = m["name"] == "setup_s" or spread < m["bound"] / 3
            steady &= ok
            print(f"  {wl} {m['name']}: median={med:.4g} {m['unit']} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={spread:.3f} bound={m['bound']} {'ok' if ok else 'WIDE'}")
        el = [r["elapsed_s"] for r in runs]
        print(f"  {wl} run time: median={statistics.median(el):.1f}s max={max(el):.1f}s")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(results, fh, indent=1)
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
