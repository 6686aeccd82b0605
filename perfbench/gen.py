"""Seeded input generator for the benchmark.

Everything the program reads in a benchmark run is made here from the
workload seed: the star-schema tables the declared queries scan, the CSV
file with planted malformed lines, the parquet import sources, the aged
job-log store, the point SELECTs with their precomputed answers and
the prepared-statement rows. The same seed gives byte-identical inputs.

`generate(workload, seed, out_dir)` writes the inputs under `out_dir` and
returns the plan (a JSON-able dict) the harness runs from.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of each workload's inputs, in the fixture generator's scale-factor
# units (sf 1 = 6M lineitem rows). Chosen so that one job or one pass fits
# a few times into a run; see README.md "Sizing".
ETL_SF = 0.01
PIPELINE_SF = 0.001

# The declared queries of pipeline_mix: at least one per operator family,
# the graph ones chosen for their eager work while the DataFrame is built.
PIPELINE_QUERIES = [
    ("q01_count_star", "canary"),
    ("q10_join_multiway", "relational"),
    ("q125_er_golden", "graph"),
    ("q30_minhash_neardup", "dedup_ann_text"),
    ("q161_quantile_sketch", "sketch"),
    ("q137_winsorized_mean", "profile_shard"),
    ("q29_wrapper_lifecycle", "wrapper"),
]

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

EPOCH = dt.datetime(1970, 1, 1)
US_PER_DAY = 86_400_000_000


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts_days(rng, n, start, end):
    """Whole-day timestamps (micros, no zone) uniform in [start, end]."""
    days = rng.integers(0, (end - start).days + 1, n)
    return _us(start) + days.astype(np.int64) * US_PER_DAY


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path)
    return {"rows": table.num_rows}


def star_tables(rng, sf):
    """The fixture schema (FIXTURES.md section 1) at scale `sf`, as arrow tables."""
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    i32, i64, f64, s, f32 = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.float32()
    ts = pa.timestamp("us")
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS, s)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(_ts_days(rng, n_ord, dt.datetime(1995, 1, 1),
                                         dt.datetime(2001, 8, 1)), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li), s),
        "l_shipdate": pa.array(_ts_days(rng, n_li, dt.datetime(1995, 1, 2),
                                        dt.datetime(2001, 11, 4)), ts)})
    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // max(n_ev, 1), n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + np.cumsum(gaps), ts),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier text, one word changed, tagged
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(f32)),
        "label": pa.array(labels, i32)})
    return t


def write_star(rng, sf, out_dir, names):
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(rng, sf)
    sizes = {}
    for n in names:
        sizes[n] = _write(tables[n], f"{out_dir}/{n}.parquet")
    return tables, sizes


def _csv_lines(tbl):
    """CSV text rows; doubles in shortest round-trip form, timestamps UTC."""
    cols = []
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            vals = col.cast(pa.int64()).to_numpy()
            cols.append([(EPOCH + dt.timedelta(microseconds=int(v))).strftime("%Y-%m-%d %H:%M:%S")
                         for v in vals])
        elif pa.types.is_floating(col.type):
            cols.append([repr(float(v)) for v in col.to_numpy()])
        else:
            cols.append([str(v) for v in col.to_pylist()])
    return [",".join(r) for r in zip(*cols)]


def gen_etl_job(seed, out):
    rng = np.random.default_rng([seed, 1])
    star_dir = f"{out}/star"
    t, sizes = write_star(rng, ETL_SF, star_dir,
                          ["region", "nation", "customer", "orders", "lineitem"])
    # CSV of the lineitem rows with a seeded handful of malformed lines
    # (unparseable number or timestamp) scattered through the file.
    lines = _csv_lines(t["lineitem"])
    n_bad = int(rng.integers(3, 13))
    bad_at = sorted(rng.choice(len(lines), n_bad, replace=False).tolist(), reverse=True)
    for k, pos in enumerate(bad_at):
        f = lines[pos].split(",")
        if k % 2 == 0:
            f[4] = "qty?"
        else:
            f[10] = "not-a-date"
        lines.insert(pos, ",".join(f))
    header = ",".join(t["lineitem"].column_names)
    os.makedirs(f"{out}/import", exist_ok=True)
    csv_files = []
    half = len(lines) // 2
    for i, part in enumerate([lines[:half], lines[half:]]):
        csv_files.append(f"{out}/import/lineitem_{i}.csv")
        with open(csv_files[-1], "w") as fh:
            fh.write(header + "\n" + "\n".join(part) + "\n")
    sizes["lineitem_csv"] = {"rows": len(lines), "files": 2}
    # Orders changes for the MERGE: a seeded third of the existing orders
    # repriced, plus new orders past the current key range.
    orders = t["orders"]
    n_ord = orders.num_rows
    n_cust = t["customer"].num_rows
    chg = np.sort(rng.choice(n_ord, n_ord // 3, replace=False))
    n_new = n_ord // 10
    upd = orders.take(pa.array(chg))
    upd = upd.set_column(3, "o_totalprice",
                         pa.array(_money(rng, 1000, 500000, len(chg)), pa.float64()))
    new = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, n_ord + n_new), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_new), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_new), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_new), pa.float64()),
        "o_orderdate": pa.array(_ts_days(rng, n_new, dt.datetime(2001, 8, 2),
                                         dt.datetime(2002, 12, 31)), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_new), pa.string())})
    change_files = [f"{out}/import/orders_repriced.parquet", f"{out}/import/orders_new.parquet"]
    sizes["orders_repriced"] = _write(upd, change_files[0])
    sizes["orders_new"] = _write(new, change_files[1])
    # Rows for the prepared executeBatch INSERT: orders past the merged range.
    n_batch = int(rng.integers(900, 1100))
    base_key = n_ord + n_new
    batch = [[base_key + i, int(rng.integers(0, n_cust)),
              str(rng.choice(["F", "O", "P"])), float(_money(rng, 1000, 500000, 1)[0]),
              f"2003-01-{1 + i % 28:02d} 00:00:00", str(rng.choice(PRIORITIES))]
             for i in range(n_batch)]
    sizes["batch_rows"] = {"rows": n_batch}
    # Point SELECTs over the unchanging reference tables, with `:K` value
    # params and `::TAB` identifier params, each with its answer computed
    # here from the generated rows.
    od, cu, na = orders.to_pydict(), t["customer"].to_pydict(), t["nation"].to_pydict()
    by_cust = np.bincount(np.asarray(od["o_custkey"]), minlength=n_cust)
    selects = []
    for i in range(24):
        kind = i % 4
        if kind == 0:
            k = int(rng.integers(0, n_ord))
            selects.append(["SELECT o_totalprice, o_orderstatus FROM ::TAB WHERE o_orderkey = :K",
                            k, [[od["o_totalprice"][k], od["o_orderstatus"][k]]]])
        elif kind == 1:
            k = int(rng.integers(0, n_cust))
            selects.append(["SELECT c_name, c_acctbal FROM ::CUST_TAB WHERE c_custkey = :K",
                            k, [[cu["c_name"][k], cu["c_acctbal"][k]]]])
        elif kind == 2:
            k = int(rng.integers(0, n_cust))
            selects.append(["SELECT count(*) FROM ::TAB WHERE o_custkey = :K",
                            k, [[int(by_cust[k])]]])
        else:
            k = int(rng.integers(0, 25))
            selects.append(["SELECT n_name, n_regionkey FROM ::NATION_TAB WHERE n_nationkey = :K",
                            k, [[na["n_name"][k], na["n_regionkey"][k]]]])
    params = pa.table({"name": pa.array(["TAB", "CUST_TAB", "NATION_TAB"]),
                       "value": pa.array(["ref_orders", "ref_customer", "ref_nation"])})
    sizes["params"] = _write(params, f"{out}/params.parquet")
    prepared = [[int(i), f"note {int(rng.integers(0, 1000))}", float(_money(rng, 1, 100, 1)[0])]
                for i in range(3)]  # amounts are positive: the audit DELETE keeps them
    store = f"{out}/logstore"
    aged = _log_store(rng, store)
    sizes["logstore"] = {"rows": aged["detail_rows"] + aged["runs"], "files": aged["files"]}
    return {
        "workload": "etl_job", "seed": seed, "star_dir": star_dir,
        "csv_files": csv_files, "csv_bad_lines": n_bad, "csv_rows": t["lineitem"].num_rows,
        "orders_changes": change_files,
        "price_cut": float(np.round(rng.uniform(400000, 450000), 2)),
        "delete_before": "1995-07-01 00:00:00",
        "batch_rows": batch, "selects": selects, "params": f"{out}/params.parquet",
        "prepared_rows": prepared, "update_key": int(rng.integers(0, 3)),
        "logstore": store, "aged": aged,
        "queries": [["q10_join_multiway", "relational"]], "report_reps": 4,
        "sizes": sizes,
    }


def _log_store(rng, out):
    """A job-log store aged in LogStore's own layout: one job_log file and
    one job_details file per past flush (8-12 rows each, as a wrapper that
    commits about every ten statements leaves it)."""
    n_files = int(rng.integers(475, 526))
    per_file = rng.integers(8, 13, n_files)
    n_rows = int(per_file.sum())
    files_per_run = 7  # a past job flushed about seven times
    n_runs = n_files // files_per_run + 1
    t0 = _us(dt.datetime(2024, 1, 1))
    jl = f"{out}/job_log"
    jd = f"{out}/job_details"
    os.makedirs(jl)
    os.makedirs(jd)
    run_ids = np.arange(1, n_runs + 1)
    starts = t0 + run_ids * 3_600_000_000
    job_log = pa.table({
        "run_id": pa.array(run_ids, pa.int64()),
        "script_name": pa.array([f"nightly_{i % 5}" for i in run_ids], pa.string()),
        "status": pa.array(["FINISHED SUCCESSFULLY"] * n_runs, pa.string()),
        "start_time": pa.array(starts, pa.timestamp("us", tz="UTC")),
        "end_time": pa.array(starts + 600_000_000, pa.timestamp("us", tz="UTC"))},
        schema=pa.schema([pa.field("run_id", pa.int64(), False),
                          pa.field("script_name", pa.string(), False),
                          pa.field("status", pa.string()),
                          pa.field("start_time", pa.timestamp("us", tz="UTC")),
                          pa.field("end_time", pa.timestamp("us", tz="UTC"))]))
    pq.write_table(job_log, f"{jl}/part-00000-aged.snappy.parquet")
    detail_schema = pa.schema([pa.field("detail_id", pa.int64(), False),
                               pa.field("run_id", pa.int64()),
                               pa.field("log_time", pa.timestamp("us", tz="UTC")),
                               pa.field("log_level", pa.string()),
                               pa.field("log_message", pa.string()),
                               pa.field("rowcount", pa.int64())])
    next_id = 1
    for f in range(n_files):
        k = int(per_file[f])
        run = 1 + f // files_per_run
        ids = np.arange(next_id, next_id + k)
        next_id += k
        tbl = pa.table({
            "detail_id": pa.array(ids, pa.int64()),
            "run_id": pa.array(np.full(k, run), pa.int64()),
            "log_time": pa.array(np.full(k, t0 + run * 3_600_000_000 + f * 1_000_000),
                                 pa.timestamp("us", tz="UTC")),
            "log_level": pa.array(["INFO"] * k, pa.string()),
            "log_message": pa.array([f"SELECT count(*) FROM stage_{(f + j) % 40} WHERE k > {j}"
                                     for j in range(k)], pa.string()),
            "rowcount": pa.array(rng.integers(0, 100000, k), pa.int64())},
            schema=detail_schema)
        pq.write_table(tbl, f"{jd}/part-{f:05d}-aged.snappy.parquet")
    return {"files": n_files + 1, "runs": n_runs, "detail_rows": n_rows,
            "max_detail_id": next_id - 1}


def gen_pipeline_mix(seed, out):
    rng = np.random.default_rng([seed, 3])
    star_dir = f"{out}/star"
    t, sizes = write_star(rng, PIPELINE_SF, star_dir,
                          ["region", "nation", "customer", "orders", "lineitem",
                           "events", "documents", "embeddings"])
    # The pass's frame stages a seeded events delta through the wrapper, in
    # four files, and the answers its SELECTs must give after its DML.
    n = int(rng.integers(400, 600))
    delta = t["events"].slice(0, n)
    files = []
    for i, lo in enumerate(range(0, n, -(-n // 4))):
        files.append(f"{out}/events_delta_{i}.parquet")
        sizes[f"events_delta_{i}"] = _write(delta.slice(lo, -(-n // 4)), files[-1])
    value = delta.column("value").to_numpy()
    kind = np.asarray(delta.column("event_type").to_pylist())
    kept = (value >= 5.0) & (kind != "signup")
    kind = np.where(kind == "error", "ERROR", kind)
    stage = "pipe_events_stage"
    selects = [[f"SELECT count(*) AS n FROM {stage}", [[int(kept.sum())]]],
               [f"SELECT count(DISTINCT event_type) AS n FROM {stage}",
                [[len(set(kind[kept].tolist()))]]],
               [f"SELECT max(value) AS v FROM {stage}", [[float(value[kept].max())]]],
               [f"SELECT count(*) AS n FROM {stage} WHERE value > 50", [[int((kept & (value > 50)).sum())]]]]
    for k in ("click", "view", "purchase", "ERROR"):
        selects.append([f"SELECT count(*) AS n FROM {stage} WHERE event_type = '{k}'",
                        [[int((kept & (kind == k)).sum())]]])
    selects.append([f"SELECT min(event_id) AS id FROM {stage}", [[int(np.arange(n)[kept].min())]]])
    return {
        "workload": "pipeline_mix", "seed": seed, "star_dir": star_dir,
        "delta_files": files, "delta_rows": n, "delta_cut": 5.0, "selects": selects,
        "queries": [list(q) for q in PIPELINE_QUERIES],
        "sizes": sizes,
    }


GENERATORS = {"etl_job": gen_etl_job, "pipeline_mix": gen_pipeline_mix}


def input_sizes(out_dir):
    """Bytes and files of every generated input, by top-level entry."""
    res = {}
    for entry in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, entry)
        files, size = 0, 0
        for root, _, names in os.walk(p) if os.path.isdir(p) else [("", None, [p])]:
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
        res[entry] = {"files": files, "bytes": size}
    return res


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    plan = GENERATORS[workload](seed, out_dir)
    plan["input_files"] = input_sizes(out_dir)
    with open(f"{out_dir}/plan.json", "w") as fh:
        json.dump(plan, fh)
    return plan
