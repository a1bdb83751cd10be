#!/usr/bin/env python3
"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/spread.py --seeds 1-10
    python3 perfbench/spread.py --workloads pipeline --seeds 1-5 --trace both

--workloads defaults to every workload of BENCHMARK.json.

For every workload and end-to-end metric it prints the median of the runs
and the spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound from BENCHMARK.json. With --trace both every seed also runs
traced, and the tracing overhead is reported per metric as the traced median
minus the untraced median. Each run's full record stays under
.perfbench/runs/; a JSON summary is written to .perfbench/spread.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed (exit {p.returncode})")
    return json.loads(lines[-2])["info"], time.time() - t0


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", help="comma-separated; default: those of BENCHMARK.json")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=("0", "both"), default="0")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for w in workloads:
        plain, traced = [], []
        for s in seeds(a.seeds):
            info, wall = run(w, s, seconds, 0)
            plain.append(info["end_to_end"])
            if a.trace == "both":
                traced.append(run(w, s, seconds, 1)[0]["end_to_end"])
            print(f"{w} seed {s} ({wall:.0f} s, steal {info['env']['steal_frac']}): " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in info["end_to_end"].items()), flush=True)
        summary[w] = {}
        for m in bounds:
            med, sp = spread([r[m]["value"] for r in plain])
            row = {"median": med, "spread": sp, "bound": bounds[m]}
            if traced:
                row["trace_overhead"] = statistics.median([r[m]["value"] for r in traced]) - med
            summary[w][m] = row
            flag = "" if m == "setup_s" or sp < bounds[m] / 3 else "  <-- above a third of the bound"
            extra = f" trace_overhead={row['trace_overhead']:+.4g}" if traced else ""
            print(f"  {w:10s} {m:14s} median={med:10.4g} spread={sp:6.3f} bound={bounds[m]}{extra}{flag}")
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "spread.json"), "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
