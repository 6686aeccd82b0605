#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload etl_job --seeds 301-310 [--out spread.json]

Runs the benchmark once per seed (one after another, --trace 0, the
run_seconds of BENCHMARK.json) and prints, for every end-to-end metric,
the median, the quartiles as statistics.quantiles(values, n=4) gives them,
and their distance over the median, next to the metric's bound.
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
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds, help="first-last, e.g. 301-310")
    ap.add_argument("--out", help="write the summary here as JSON")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in args.seeds:
        t0 = time.time()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {proc.returncode}")
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={result['correct']}", file=sys.stderr)
    summary = {"workload": args.workload, "seeds": args.seeds,
               "wall_s": [round(w, 1) for w in walls], "metrics": {}}
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        summary["metrics"][name] = {"median": med, "q1": q1, "q3": q3,
                                    "iqr_over_median": spread, "values": vs}
        bound = bounds.get(name)
        flag = "" if bound is None or spread < bound / 3 else \
            ("  above a third of the bound" if spread <= bound else "  OUTSIDE THE BOUND")
        print(f"{name:16s} median {med:12.4f}  spread {spread:6.3f}  bound {bound}{flag}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
