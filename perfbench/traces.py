"""Span files of traced benchmark runs: loading, roll-ups and self time.

A span file holds one JSON object per line: a timed call from the benchmark
into one module of the program, with `id`, `parent` (0 at the top), `name`,
`layer`, `run` (the job or pass it belongs to), `start_ns`, `end_ns`, a
`label`, and the engine counters attributed to it alone (jobs, stages,
tasks, shuffle, spill and input bytes, executor time, `actions` (runs of
jobs one action started), `plan_ms`, ...).
"""
import json
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
            "output_records", "exec_run_ms", "exec_cpu_ms", "gc_ms", "sql_execs",
            "actions", "plan_ms")


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def ms(span):
    return (span["end_ns"] - span["start_ns"]) / 1e6


def children(spans):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    return kids


def inclusive(spans):
    """Counters of each span summed over its whole subtree, by span id."""
    kids = children(spans)
    memo = {}

    def total(s):
        if s["id"] not in memo:
            acc = {c: s.get(c, 0) or 0 for c in COUNTERS}
            for k in kids.get(s["id"], []):
                for c, v in total(k).items():
                    acc[c] += v
            memo[s["id"]] = acc
        return memo[s["id"]]

    for s in spans:
        total(s)
    return memo


def self_ms(spans):
    """Each span's duration minus the part its child spans cover, by id."""
    kids = children(spans)
    return {s["id"]: ms(s) - sum(ms(k) for k in kids.get(s["id"], [])) for s in spans}


def self_by_layer(spans):
    own = self_ms(spans)
    out = defaultdict(float)
    for s in spans:
        out[s["layer"]] += own[s["id"]]
    return dict(out)
