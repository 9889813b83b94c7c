#!/usr/bin/env python3
"""Steadiness check: runs every workload of BENCHMARK.json on several seeds
and reports, per end-to-end metric, the median, the quartiles and the spread
(interquartile distance over the median) beside the metric's bound.

    python3 perfbench/steady.py --runs 10 --sets 2 --seed0 401 \
        --out perfbench/results/steadiness-401.json

Run it from the repository root. A spread above a third of its bound is
flagged; `setup_s` is exempt from the spread rule. With `--sets 2` it makes
a second set of runs on seeds 100 higher and reports, per metric, by how
much the second set's median is worse than the first's.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = res.stdout.splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit code {res.returncode}")
    box = next((l.split("box: ", 1)[1] for l in lines if "box: " in l), "")
    return json.loads(lines[-1]), wall, box


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, choices=(1, 2), default=1)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--workloads", default="")
    p.add_argument("--out", default="")
    a = p.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    sets = [one_set(names, a.runs, a.seed0 + 100 * k, bench["run_seconds"], bounds)
            for k in range(a.sets)]
    out = {"box": sets[-1]["box"], "run_seconds": bench["run_seconds"], "sets": sets}
    if a.sets == 2:
        out["between_sets"] = {}
        for w in names:
            for k, first in sets[0]["workloads"][w]["metrics"].items():
                second = sets[1]["workloads"][w]["metrics"][k]
                worse = second["median"] / first["median"] - 1
                if better.get(k) == "higher":
                    worse = -worse
                flag = "  <-- beyond its bound" if worse > bounds.get(k, float("inf")) else ""
                out["between_sets"][f"{w}.{k}"] = {"second_worse_by": round(worse, 4)}
                print(f"{w:16s} {k:12s} set 1 median {first['median']:12.4f}  "
                      f"set 2 median {second['median']:12.4f}  worse by {worse:+.4f}{flag}")
    if a.out:
        os.makedirs(os.path.dirname(a.out), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")


def one_set(names, runs, seed0, seconds, bounds):
    report = {"runs": runs, "seeds": list(range(seed0, seed0 + runs)),
              "run_seconds": seconds, "workloads": {}}
    for w in names:
        values, walls, failed = {}, [], 0
        for seed in report["seeds"]:
            result, wall, box = run_once(w, seed, seconds, 0)
            report["box"] = box
            walls.append(wall)
            failed += result["failed"]
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {wall:.1f} s wall, failed {result['failed']}", file=sys.stderr)
        rows = {}
        for k, vs in values.items():
            q1, _, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q3 - q1) / med
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                       "bound": bounds.get(k), "values": vs}
            flag = ""
            if k != "setup_s" and bounds.get(k) is not None and spread > bounds[k] / 3:
                flag = "  <-- above a third of its bound"
            print(f"{w:16s} {k:12s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:.4f}  bound {bounds.get(k)}{flag}")
        report["workloads"][w] = {"failed": failed, "run_wall_s": statistics.median(walls),
                                  "metrics": rows}
    return report


if __name__ == "__main__":
    main()
