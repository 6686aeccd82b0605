#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload etl_job --seed 1 --seconds 8 --trace 0

Builds the program and the harness from the sources of the checkout it sits
in (once; later runs reuse the build), generates the workload's inputs from
the seed, runs the harness JVM at local[<cores>] with a single client
thread, checks the outputs (including the DuckDB oracle of each declared
query), and prints the metrics. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones from
a traced run, whose spans are kept in .bench_build/traces/ for report.py.

Exit status: 0 when every output check passed, 1 when one failed, 2 when
the benchmark could not run at all (no program sources, no toolchain, build
or harness failure); in that case no result line is printed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import traces  # noqa: E402

WORKLOADS = ("etl_job", "pipeline_mix")
SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.override.build.repos=true",
             "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
             "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
FAMILIES = tuple(dict.fromkeys(family for _, family in gen.PIPELINE_QUERIES))


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found: set SPARK_HOME")
    return home


def build(timeout):
    """Compile program + harness with sbt; returns the runtime classpath."""
    stamp = source_stamp()
    info = os.path.join(BUILD, "build.json")
    if os.path.exists(info):
        with open(info) as fh:
            prev = json.load(fh)
        if prev.get("stamp") == stamp:
            return prev["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    proc = subprocess.run(["sbt", *SBT_FLAGS, "compile", "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, capture_output=True, text=True,
                          timeout=timeout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    classpath = lines[-1].strip()
    with open(info, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    order statistic at 100 * (1 - 10/n) percent, interpolated. Below 20
    samples no percentile at or above the median qualifies and the
    maximum is reported instead."""
    n = len(xs)
    if n == 0:
        return 0.0, None
    s = sorted(xs)
    if n < 20:
        return s[-1], 100.0
    p = 1.0 - 10.0 / n
    pos = p * (n - 1)
    lo = int(math.floor(pos))
    frac = pos - lo
    val = s[lo] + (s[min(lo + 1, n - 1)] - s[lo]) * frac
    return val, round(100 * p, 2)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------- checks

def oracle_check(dump, star_dir):
    """A declared query's result against its DuckDB oracle (columns sorted
    by name, row for row), or, without an oracle, a non-zero row count
    that is the same on two executions."""
    if "error" in dump:
        return False, dump["error"]
    if dump["rows"] <= 0 or dump["rows"] != dump["rows_again"]:
        return False, f"row count {dump['rows']} then {dump['rows_again']}"
    if not dump.get("oracle"):
        return True, "no oracle; row count stable"
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for f in os.listdir(star_dir):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{star_dir}/{f}')")
    got = pq.read_table(dump["path"])
    want = con.sql(dump["oracle"]).arrow()
    con.close()
    gc, wc = sorted(got.column_names), sorted(want.column_names)
    if gc != wc:
        return False, f"columns {gc} vs oracle {wc}"
    if got.num_rows != want.num_rows:
        return False, f"{got.num_rows} rows vs oracle {want.num_rows}"

    def canon(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return v
    rows_g = zip(*[got.column(c).to_pylist() for c in gc])
    rows_w = zip(*[want.column(c).to_pylist() for c in wc])
    for i, (a, b) in enumerate(zip(rows_g, rows_w)):
        if tuple(map(canon, a)) != tuple(map(canon, b)):
            return False, f"row {i}: {a} vs oracle {b}"
    return True, f"{got.num_rows} rows match the oracle"


# ---------------------------------------------------------------- metrics

def end_to_end(res, fail_ratio):
    ops = [o for o in res["ops"] if o["phase"] == "measured"]

    def of(kind):
        return [o["ms"] for o in ops if o["kind"] == kind]
    jobs, stmts = of("job"), [o["ms"] for o in ops if o["stmt"]]
    queries = [o for o in ops if o["kind"] == "query"]
    by_query = {}
    for o in queries:
        by_query.setdefault(o["label"], []).append(o["ms"])
    m, notes = {}, {}

    def put(name, value, unit, n, pct=None):
        m[name] = {"value": value, "unit": unit}
        notes[name] = {"n": n} | ({"percentile": pct} if pct is not None else {})
    setups = [s["total_s"] for s in res["setup"]]
    put("setup_s", median(setups), "s", len(setups))
    put("job_s_p50", median(jobs) / 1e3, "s", len(jobs))
    v, p = tail(jobs)
    put("job_s_tail", v / 1e3, "s", len(jobs), p)
    put("stmt_ms_p50", median(stmts), "ms", len(stmts))
    v, p = tail(stmts)
    put("stmt_ms_tail", v, "ms", len(stmts), p)
    for kind in ("select", "dml", "import", "commit"):
        put(f"{kind}_ms_p50", median(of(kind)), "ms", len(of(kind)))
    qs = [o["ms"] for o in queries]
    put("query_s_total", sum(median(v) for v in by_query.values()) / 1e3, "s",
        min((len(v) for v in by_query.values()), default=0))
    put("query_s_p50", median(qs) / 1e3, "s", len(qs))
    v, p = tail(qs)
    put("query_s_tail", v / 1e3, "s", len(qs), p)
    put("peak_rss_mb", res["peak_rss_mb"], "MB", 1)
    notes["fail_ratio"] = {"value": fail_ratio, "unit": "ratio", "n": res["attempted"]}
    return m, notes


def per_layer(res, spans, cores):
    traced = [o for o in res["ops"] if o["phase"] == "traced"]
    untraced = [o for o in res["ops"] if o["phase"] == "untraced"]
    runs = {o["job"] for o in traced if o["kind"] == "job"}
    spans = [s for s in spans if s["run"] in runs]
    incl = traces.inclusive(spans)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def per_span(name, counter):
        return mean([incl[s["id"]][counter] for s in named(name)])
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}
    setups = res["setup"]
    put("sessions.build_ms", median([s["build_ms"] for s in setups]), "ms")
    put("sessions.register_ms", median([s["register_ms"] for s in setups]), "ms")
    put("wrapper.init_ms", median([o["ms"] for o in traced if o["kind"] == "init"]), "ms")
    put("wrapper.finish_ms", median([o["ms"] for o in traced if o["kind"] == "finish"]), "ms")
    selects = named("wrapper.select")
    execs = [incl[s["id"]]["actions"] for s in selects]
    put("wrapper.select.jobs", per_span("wrapper.select", "jobs"), "count")
    put("wrapper.select.plan_execs", mean(execs), "count")
    put("wrapper.select.useful_ratio", mean([1.0 / e for e in execs if e > 0]), "ratio")
    put("wrapper.iterate_ms",
        median([o["iterate_ms"] for o in traced if o["kind"] == "select"]), "ms")
    wrapper_stmts = [s for s in spans if s["layer"] == "wrapper" and s["parent"] in
                     {j["id"] for j in named("bench.job")}]
    put("wrapper.stmt.plan_ms", mean([incl[s["id"]]["plan_ms"] for s in wrapper_stmts]), "ms")
    put("sqlcompat.classify_us", res["classify_us"], "us")
    dml = named("wrapper.dml")
    put("sqlcompat.dml.jobs", per_span("wrapper.dml", "jobs"), "count")
    put("sqlcompat.dml.shuffle_bytes", per_span("wrapper.dml", "shuffle_write_bytes"), "B")
    affected = sum(o.get("rows", 0) for o in traced if o["kind"] == "dml" and o.get("rows", 0) > 0)
    rewritten = sum(incl[s["id"]]["output_records"] for s in dml)
    put("sqlcompat.dml.write_amp", rewritten / affected if affected else 0.0, "ratio")
    put("logstore.commit.jobs", per_span("wrapper.commit", "jobs"), "count")
    put("logstore.commit.read_bytes", per_span("wrapper.commit", "input_bytes"), "B")
    tjobs = [o for o in traced if o["kind"] == "job"]
    put("logstore.files_added_per_job", mean([o.get("store_files_added", 0) for o in tjobs]),
        "count")
    last = tjobs[-1] if tjobs else {}
    put("logstore.bytes_per_detail_row",
        last.get("store_detail_bytes", 0) / last["store_detail_rows"]
        if last.get("store_detail_rows") else 0.0, "B")
    put("prepared.batch_ms", median([o["ms"] for o in traced if o["label"] == "execute_batch"]),
        "ms")
    put("prepared.row_ms", median([o["ms"] / o["rows"] for o in traced
                                   if o["label"] == "execute_rows"]), "ms")
    put("sources.import.jobs", per_span("wrapper.import", "jobs"), "count")
    put("sources.quarantined_rows", mean([o["quarantined"] for o in tjobs if "quarantined" in o]),
        "count")
    # Declared queries: per query the mean over passes, then summed per family.
    per_q = {}
    for q in named("queries.query"):
        kids = [k for k in spans if k["parent"] == q["id"]]
        build = next(k for k in kids if k["name"] == "queries.build")
        execute = next(k for k in kids if k["name"] == "spark.execute")
        rec = per_q.setdefault(q["label"], {"family": q["family"], "rows": []})
        rec["rows"].append({"build_ms": traces.ms(build),
                            "build_jobs": incl[build["id"]]["jobs"],
                            "exec_ms": traces.ms(execute),
                            "exec_jobs": incl[execute["id"]]["jobs"],
                            "plan_ms": incl[q["id"]]["plan_ms"]})
    qstats = {name: {"family": r["family"]} |
              {k: mean([x[k] for x in r["rows"]]) for k in r["rows"][0]}
              for name, r in per_q.items()}
    units = {"build_ms": "ms", "build_jobs": "count", "exec_ms": "ms", "exec_jobs": "count",
             "plan_ms": "ms"}
    for k, unit in units.items():
        put(f"queries.{k}", sum(q[k] for q in qstats.values()), unit)
        for fam in FAMILIES:
            put(f"queries.{k}.{fam}",
                sum(q[k] for q in qstats.values() if q["family"] == fam), unit)
    # Engine totals per job, over the spans of calls into the program (the
    # job span's own work is the harness's table restores and checks).
    n_jobs = max(len(tjobs), 1)
    calls = [s for s in spans if s["name"] != "bench.job"]
    for c, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
                    ("spill_bytes", "B"), ("input_bytes", "B"), ("exec_run_ms", "ms"),
                    ("exec_cpu_ms", "ms"), ("gc_ms", "ms"), ("failed_tasks", "count")):
        put(f"spark.{c}", sum(s.get(c, 0) for s in calls) / n_jobs, unit)
    wall = sum(o["ms"] for o in tjobs)
    put("spark.busy_ratio", sum(s.get("exec_run_ms", 0) for s in calls) / (wall * cores)
        if wall else 0.0, "ratio")
    base = mean([o["ms"] for o in untraced if o["kind"] == "job"])
    put("trace.overhead_pct",
        100.0 * (mean([o["ms"] for o in tjobs]) / base - 1.0) if base else 0.0, "%")
    return m, qstats


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # Terminated from outside: unwind, so the harness JVM is killed and the
    # run directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no program sources at {ROOT}/src/main/scala/graft")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            die(f"{tool} not found on PATH")
    classpath = build(timeout=850)
    started = time.time()
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        plan = gen.generate(args.workload, args.seed, data)
        gen_s = time.time() - t0
        out, spans_path = os.path.join(run_dir, "results.json"), os.path.join(run_dir, "spans.jsonl")
        # The heap starts at 1 GB, about three times the largest live set a
        # job reaches, touched up front and with fixed generation sizes; it
        # grows (to 3 GB) only when a full GC leaves the old generation too
        # full. With few malloc arenas, peak RSS then moves with the memory
        # the work needs beyond that heap or outside it, not with how GC
        # timing happened to grow the heap in one run.
        cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
               "-XX:-UseAdaptiveSizePolicy",
               *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dlog4j.configurationFile={HERE}/log4j2.properties",
               "-cp", classpath, "perfbench.Main",
               "--plan", os.path.join(data, "plan.json"), "--work", work,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--cpus", str(cores), "--out", out, "--spans", spans_path]
        budget = 175 - (time.time() - started)
        try:
            proc = subprocess.run(cmd, stdout=sys.stderr, timeout=max(budget, 30),
                                  env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        except subprocess.TimeoutExpired:
            die("harness timed out")
        if proc.returncode != 0 or not os.path.exists(out):
            die(f"harness exited with {proc.returncode}")
        with open(out) as fh:
            res = json.load(fh)
        checks_failed = [c for c in res["checks"] if not c["ok"]]
        oracle = {}
        for d in res["dumps"]:
            ok, why = oracle_check(d, plan["star_dir"])
            oracle[d["name"]] = {"ok": ok, "detail": why}
            if not ok:
                res["failed"] += 1
                print(f"perfbench: oracle check failed for {d['name']}: {why}", file=sys.stderr)
        attempted, failed = int(res["attempted"]), int(res["failed"])
        measured_jobs = [o for o in res["ops"] if o["kind"] == "job" and o["phase"] != "warmup"]
        correct = failed == 0 and not checks_failed and bool(measured_jobs)
        inputs = {"generate_s": round(gen_s, 3), "tables": plan["sizes"],
                  "files": plan["input_files"]}
        print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": inputs}))
        print(json.dumps({"oracle": oracle}))
        print(json.dumps({"setup": res["setup"]}))
        if args.trace:
            spans = traces.load(spans_path)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            keep = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(spans_path, keep)
            metrics, qstats = per_layer(res, spans, cores)
            print(json.dumps({"per_query": qstats}))
            print(json.dumps({"spans": keep}))
        else:
            metrics, notes = end_to_end(res, failed / attempted if attempted else 1.0)
            for name, n in notes.items():
                val = metrics.get(name, {}).get("value", n.get("value"))
                unit = metrics.get(name, {}).get("unit", n.get("unit"))
                extra = f" at p{n['percentile']}" if "percentile" in n else ""
                print(f"{args.workload:13s} {name:15s} {val:14.4f} {unit:6s} n={n['n']}{extra}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
