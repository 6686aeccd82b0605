#!/usr/bin/env python3
"""Reader for the span files of traced benchmark runs.

    python3 perfbench/report.py .bench_build/traces/*.jsonl

For each workload it prints the self time per layer (a span's duration
minus the part its child spans cover, summed by the module called), then
ranks the declared queries by Spark jobs started while the DataFrame is
built (`queries.build_jobs`) and by planning time (`queries.plan_ms`).
Several files of one workload are pooled; values are means per job.
"""
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import traces  # noqa: E402


def workload_of(path):
    return os.path.basename(path).rsplit("-seed", 1)[0]


def main(paths):
    if not paths:
        sys.exit(__doc__)
    by_wl = defaultdict(list)
    for p in paths:
        by_wl[workload_of(p)].append(traces.load(p))
    for wl, runs in sorted(by_wl.items()):
        layer_ms, setup_ms, n_jobs = defaultdict(float), defaultdict(float), 0
        queries = defaultdict(lambda: defaultdict(list))
        for spans in runs:
            n_jobs += sum(1 for s in spans if s["name"] == "bench.job")
            # Set-up spans (run -1) are reported per run, the rest per job.
            for part, acc in ((s for s in spans if s["run"] < 0), setup_ms), \
                    ((s for s in spans if s["run"] >= 0), layer_ms):
                for layer, v in traces.self_by_layer(list(part)).items():
                    acc[layer] += v
            incl = traces.inclusive(spans)
            kids = traces.children(spans)
            for q in (s for s in spans if s["name"] == "queries.query"):
                rec = queries[q["label"]]
                rec["family"] = q.get("family", "")
                for k in kids[q["id"]]:
                    if k["name"] == "queries.build":
                        rec["build_jobs"].append(incl[k["id"]]["jobs"])
                        rec["build_ms"].append(traces.ms(k))
                    elif k["name"] == "spark.execute":
                        rec["exec_jobs"].append(incl[k["id"]]["jobs"])
                        rec["exec_ms"].append(traces.ms(k))
                rec["plan_ms"].append(incl[q["id"]]["plan_ms"])
        n_jobs = max(n_jobs, 1)
        print(f"== {wl}: {len(runs)} traced run(s), {n_jobs} traced job(s)")
        print("set-up self time per layer, ms per run (three set-ups):")
        for layer, v in sorted(setup_ms.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:10s} {v / len(runs):12.1f}")
        print("self time per layer, ms per job ('bench' is the harness's own restore and checks):")
        for layer, v in sorted(layer_ms.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:10s} {v / n_jobs:12.1f}")

        def avg(rec, k):
            return sum(rec[k]) / len(rec[k]) if rec[k] else 0.0
        for key in ("build_jobs", "plan_ms"):
            print(f"queries ranked by {key}:")
            for name, rec in sorted(queries.items(), key=lambda kv: -avg(kv[1], key)):
                print(f"  {name:28s} {rec['family']:15s} {key} {avg(rec, key):9.1f}"
                      f"  build_ms {avg(rec, 'build_ms'):8.1f}  exec_ms {avg(rec, 'exec_ms'):8.1f}"
                      f"  exec_jobs {avg(rec, 'exec_jobs'):5.1f}")


if __name__ == "__main__":
    main(sys.argv[1:])
