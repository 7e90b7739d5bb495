#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds, untraced, and report
each end-to-end metric's median, quartiles and spread ((Q3 - Q1) / median,
quartiles as Python's statistics.quantiles(values, n=4) gives them).

  python3 perfbench/steadiness.py --seeds 301-310 [--workloads a,b] [--seconds s] [--out f.json]

Runs one workload run at a time; each run is `run.py --workload ... --trace 0`.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                   "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                                  cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.exit("%s seed %d failed (exit %d)" % (w, s, proc.returncode))
            res = json.loads(lines[-1])
            calib = [float(x.split()[2]) for x in lines if x.startswith("# calib_ratio_before")]
            runs.append({"seed": s, "wall_s": round(time.time() - t0, 1), "correct": res["correct"],
                         "calib_ratio_before": calib[0] if calib else None,
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print("%s seed %d: %.1f s %s" % (w, s, runs[-1]["wall_s"], runs[-1]["metrics"]), flush=True)
        stats = {}
        for m in bounds:
            xs = [r["metrics"][m] for r in runs]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            stats[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "bound": bounds[m]}
            print("  %-28s median %-12.6g spread %.3f (bound %.2f)" % (m, med, stats[m]["spread"], bounds[m]))
        report[w] = {"seeds": [r["seed"] for r in runs], "all_correct": all(r["correct"] for r in runs),
                     "wall_s_median": statistics.median(r["wall_s"] for r in runs),
                     "calib_ratio_before_median": statistics.median(r["calib_ratio_before"] for r in runs),
                     "metrics": stats, "runs": runs}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
