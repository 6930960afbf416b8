#!/usr/bin/env python3
"""Run the benchmark on several seeds per workload and summarize.

    python3 osmbench/baseline.py [--seeds 1-10] [--workloads serve,replicate]
                                 [--write osmbench/BASELINE.json]

Each run is `run.py --workload W --seed N --seconds <run_seconds> --trace 0`
with `run_seconds` from BENCHMARK.json. For every end-to-end metric
this prints the median, the quartiles (`statistics.quantiles(n=4)`) and
the spread: (q3 - q1) / median, next to the metric's bound. With
`--write`, it also records the summary, the host and the inputs as JSON.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

import run


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--write")
    args = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    summary, inputs = {}, {}
    for w in args.workloads.split(","):
        values, walls = {}, []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(run.HERE, "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            line = json.loads(p.stdout.strip().splitlines()[-1])
            if p.returncode != 0 or not line["correct"]:
                sys.exit(f"{w} seed {seed}: run failed ({line['failed']} "
                         f"failed of {line['attempted']})")
            for k, m in line["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            with open(os.path.join(run.OUT,
                                   f"{w}-seed{seed}-trace0.json")) as f:
                inputs = json.load(f)["summary"]
        summary[w] = {"run_wall_s": round(statistics.median(walls), 1),
                      "metrics": {}}
        print(f"{w}: {len(walls)} runs, median wall "
              f"{statistics.median(walls):.1f} s")
        for k, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q3 - q1) / med
            summary[w]["metrics"][k] = {"median": med, "q1": q1, "q3": q3,
                                        "spread": spread, "values": vs}
            print(f"  {k:20s} median {med:10.4f}  q1 {q1:10.4f}  "
                  f"q3 {q3:10.4f}  spread {spread:6.3f}  "
                  f"bound {bounds[k]:.2f}")

    if args.write:
        doc = {"seeds": args.seeds, "run_seconds": seconds,
               "host": {"cores": inputs.get("cores"),
                        "heap_max_mb": inputs.get("heap_max_mb"),
                        "memory_gb": round(os.sysconf("SC_PAGE_SIZE") *
                                           os.sysconf("SC_PHYS_PAGES") / 2**30),
                        "machine": platform.machine()},
               "inputs": {"elements": inputs.get("elements"),
                          "pbf_bytes": inputs.get("pbf_bytes")},
               "workloads": summary}
        with open(args.write, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
