#!/usr/bin/env python3
"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the median and the spread (third minus first quartile,
as `statistics.quantiles(values, n=4)` gives them) as a share of the
median, against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workloads app_ops,...] [--out FILE]

Run from the repository root; each run is one `run.py` invocation with
`--trace 0` and the benchmark's `run_seconds`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    report = {}
    for wl in a.workloads.split(","):
        values = {m: [] for m in bounds}
        for seed in seeds(a.seeds):
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            res = json.loads(r.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                print(f"{wl} seed {seed}: {res['failed']} of {res['attempted']} checks failed")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{wl} seed {seed}: " + " ".join(
                f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
        report[wl] = {}
        for m, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            report[wl][m] = {"median": med, "spread": spread, "bound": bounds[m], "values": xs}
            flag = "" if spread < bounds[m] / 3 else ("  (above bound/3)" if spread < bounds[m]
                                                      else "  (ABOVE BOUND)")
            print(f"{wl:14s} {m:18s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {bounds[m]:.2f}{flag}", flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
