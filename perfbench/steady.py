#!/usr/bin/env python3
"""Steadiness check: runs each workload once per seed and reports, per
end-to-end metric, the median and the spread (distance between the first
and third quartile as a share of the median), next to the metric's bound.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out FILE]

Run from the repository root; each run is a full ``run.py`` invocation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report, infos = {}, {}
    for w in names:
        values = {m: [] for m in bounds}
        for s in seeds(a.seeds):
            cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            last = json.loads(lines[-1])
            assert last["correct"] and last["failed"] == 0, (w, s, last)
            infos.setdefault(w, []).extend(json.loads(x[6:]) for x in lines if x.startswith("info: "))
            for m in bounds:
                values[m].append(last["metrics"][m]["value"])
            print(w, s, {m: round(v[-1], 3) for m, v in values.items()}, flush=True)
        report[w] = {}
        for m, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            report[w][m] = {"median": med, "spread": (q3 - q1) / med, "bound": bounds[m],
                            "values": v}
            print("%-13s %-18s median %12.3f  spread %.3f  bound %.2f" %
                  (w, m, med, (q3 - q1) / med, bounds[m]), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"metrics": report, "info": infos}, f, indent=1)


if __name__ == "__main__":
    main()
