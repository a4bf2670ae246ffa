#!/usr/bin/env python3
"""Runs the benchmark over a range of seeds and records one set of runs.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline.json

For each workload in BENCHMARK.json, runs `run.py --trace 0` once per seed
(run length from BENCHMARK.json) and appends one set to the output file: every
run's metrics, and per metric the median and the spread, the distance between
the first and third quartile (`statistics.quantiles(values, n=4)`) as a share
of the median. The file also records the machine the sets ran on.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def machine():
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    spark = os.environ.get("SPARK_HOME", "")
    jars = os.listdir(os.path.join(spark, "jars")) if spark else []
    core = [j for j in jars if j.startswith("spark-core_")]
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 1048576, 1),
            "jdk": java.splitlines()[0] if java else "", "spark": core[0] if core else "",
            "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    runs = {}
    for w in spec["workloads"]:
        for s in args.seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable] + spec["command"][1:] + [
                "--workload", w["name"], "--seed", str(s),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            out = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            runs.setdefault(w["name"], []).append({"seed": s, "wall_s": round(wall, 1),
                                                   "result": out})
            print(w["name"], s, f"{wall:.0f}s", json.dumps(out), flush=True)
    summary = {}
    for w, rs in runs.items():
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs if r["result"]]
            if len(vals) < 2:
                continue
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            summary.setdefault(w, {})[m["name"]] = {
                "median": med, "spread": (q3 - q1) / med if med else None, "n": len(vals)}
    doc = json.load(open(args.out)) if os.path.exists(args.out) else {"sets": []}
    doc["machine"] = machine()
    doc["sets"].append({"seeds": args.seeds, "run_seconds": spec["run_seconds"],
                        "summary": summary, "runs": runs})
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    for w, ms in summary.items():
        for k, v in ms.items():
            print(f"{w:14s} {k:18s} median {v['median']:10.3f}  spread {v['spread']:.3f}")


if __name__ == "__main__":
    main()
