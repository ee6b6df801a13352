"""The query-engine benchmark: one command per workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program and the benchmark from
source (perfbench/build.py), generates the seeded tables (perfbench/gen_data.py),
runs one JVM with a closed loop of one client thread over the workload's
queries (perfbench/src), checks every query's output against its DuckDB
oracle, and prints the metrics. With --trace 0 the last line carries the
end-to-end metrics, with --trace 1 the per-layer ones; the line before it is
the full report (all seven end-to-end metrics, run context, checks).

Exits non-zero when any query execution failed, any output was wrong, or a
cross-check did not hold.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import stats  # noqa: E402

INTERACTIVE = [
    "q1_pricing_summary", "q2_revenue_by_nation", "q3_top_orders", "q4_priority_with_late_items",
    "q5_customers_without_orders", "q6_forecast_revenue", "q10_recent_events",
    "q11_count_events_window", "q12_oldest_event", "q13_newest_event", "q14_keep_n_rows",
    "q15_retention_cutoff", "q16_user_activity_decay", "q17_event_type_mode",
    "q18_event_window_lookup", "q19_hourly_window_lag", "q20_json_props", "q21_bbox_filter",
    "q22_haversine_km",
]
DEDUP_SIMILARITY = [
    "q30_token_freq", "q31_doc_quality", "q32_lang_id", "q33_doc_fingerprint", "q34_dedup_exact",
    "q35_minhash_signature", "q36_minhash_candidates", "q37_ngram_jaccard", "q38_simhash",
    "q39_token_count", "q40_embedding_norms", "q41_label_centroids", "q42_cosine_pairs",
    "q43_cosine_topk", "q45_ann_bucketed",
]
# The reference's detection tick, in its order: window scans, KDE diff, KDE
# density, DBSCAN. The tick order is the workload, so it is not permuted.
DETECT_CYCLE = ["q11_count_events_window", "q10_recent_events", "q24_kde_diff",
                "q23_kde_density", "q25_dbscan_clusters"]
# name -> (queries, keep the order, nominal seconds per warm pass with its GC
# at k = 2 on a shared 4-core machine, warm-up passes). A run measures
# round(--seconds / nominal) whole passes, at least one: a fixed amount of
# work that takes about --seconds there. Set-up ends with the check pass,
# which is the cold first pass, and then the untimed warm-up passes: the JIT
# keeps compiling for several passes after the cold one.
WORKLOADS = {
    "interactive": (INTERACTIVE, False, 7.5, 0),
    "detect_cycle": (DETECT_CYCLE, True, 4.3, 2),
    "dedup_similarity": (DEDUP_SIMILARITY, False, 13.0, 1),
}
ALL_QUERIES = list(dict.fromkeys(INTERACTIVE + DETECT_CYCLE + DEDUP_SIMILARITY))
TABLES = gen_data.ROWS.keys() | {"region", "nation"}
# Two task threads and the driver thread leave a core of the four for the
# JIT compiler and the garbage collector. The interactive queries are
# driver-bound: at k = 3 their passes are no faster.
CORES = 2
# A traced run measures this many pairs of an untraced and a traced pass.
TRACE_PAIRS = 2
# A run must end within 180 s; the JVM gets all of it but the runner's own
# part. On a shared 4-core machine an untraced run's JVM took 45 to 80 s and
# a traced one's 80 to 95 s.
JVM_TIMEOUT_S = 170
# The timed passes stop early, after at least three, when the next one would
# end after this many times --seconds: a much slower host then still finishes
# all the runs of a comparison in time.
MAX_TIMED_SHARE = 1.25


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def load_oracle_compare(root):
    """`compare` from the repository's oracle checker, reused as is."""
    path = os.path.join(root, "tools", "check_oracle.py")
    if not os.path.isfile(path):
        fail(f"{path} not found; run from the repository root")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def tables_for(work):
    """The benchmark's tables, generated once per checkout and generator version."""
    d = os.path.join(work, "data", f"tables-v{gen_data.VERSION}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.write(tmp)
        os.replace(tmp, d)
    return d


def main_args(workload, queries, ordered, seed, warmup, passes, pairs, trace, data, out, cores,
              max_timed_s, census=(), inject=None):
    return ["--workload", workload, "--queries", ",".join(queries), "--ordered", "1" if ordered else "0",
            "--seed", str(seed), "--warmup", str(warmup), "--passes", str(passes), "--pairs", str(pairs),
            "--trace", str(trace), "--data", data, "--out", out, "--cores", str(cores),
            "--max-timed-s", str(max_timed_s), "--census", ",".join(census), "--inject", inject or ""]


def run_jvm(cmd, out):
    """Runs one benchmark JVM and returns its run record. The JVM never
    outlives this process: it is killed on timeout, error or SIGTERM."""
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded {JVM_TIMEOUT_S} s; log in {out}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.isfile(raw_path):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {rc}")
    with open(raw_path) as f:
        return json.load(f)


def oracle_check(root, raw, data, out, cores):
    """Each query's checked output against its oracle SQL in DuckDB over the
    same tables. DuckDB results are cached per table seed and SQL text."""
    import duckdb
    import pandas as pd

    compare = load_oracle_compare(root)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache = os.path.join(data, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    results = {}
    for e in raw["check"]:
        q = e["query"]
        if not e["ok"]:
            results[q] = ["query raised in the check pass"]
            continue
        if q not in oracle:
            results[q] = ["no oracle SQL"]
            continue
        key = os.path.join(cache, f"{q}-{hashlib.sha256(oracle[q].encode()).hexdigest()[:12]}.pkl")
        if os.path.isfile(key):
            with open(key, "rb") as f:
                duck = pickle.load(f)
        else:
            if con is None:
                con = duckdb.connect(config={"threads": cores, "temp_directory": os.path.join(out, "duckdb")})
                for t in sorted(TABLES):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            duck = con.sql(oracle[q]).df()
            with open(key + ".tmp", "wb") as f:
                pickle.dump(duck, f)
            os.replace(key + ".tmp", key)
        spark = pd.read_parquet(os.path.join(out, "results", q))
        results[q] = compare(q, spark, duck)
    if con is not None:
        con.close()
    return results


def cpu_times():
    """Aggregate jiffies from /proc/stat: (all, steal)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(start, end):
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total else 0.0


def source_commit(root):
    """HEAD, when the root is itself a git work tree."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    same = len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(root)
    return out[1] if same else None


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", metavar="QUERY",
                    help="make every execution of QUERY raise, to show the failure accounting")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources in the current directory; run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    load_start = open("/proc/loadavg").read().strip()
    cpu_start = cpu_times()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cores = min(CORES, os.cpu_count() or 1)
    data = tables_for(work)
    jar = build.ensure(root, work)
    out = os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    queries, ordered, nominal_s, warmup = WORKLOADS[args.workload]
    passes = max(1, round(args.seconds / nominal_s))
    # A traced run also executes, once, every query the per-layer list names
    # that this workload does not run, so each trace reports the whole list.
    named = [m["name"][2:-3] for m in spec["per_layer"]
             if m["name"].startswith("q.") and m["name"].endswith(".ms") and "driver_gap" not in m["name"]]
    census = [q for q in named if q not in queries] if args.trace else []
    cmd = build.java_cmd(jar, os.path.join(out, "tmp")) + main_args(
        args.workload, queries, ordered, args.seed, warmup, passes, TRACE_PAIRS, args.trace, data, out,
        cores, MAX_TIMED_SHARE * args.seconds, census, args.inject_failure)
    raw = run_jvm(cmd, out)
    checks = oracle_check(root, raw, data, out, cores)
    wrong = {q for q, errs in checks.items() if errs}

    e2e, extra = stats.end_to_end(raw, wrong)
    cross = {k: v for k, v in raw.get("layers", {}).items() if k.startswith("check.")}
    cross_ok = all(v for k, v in cross.items() if isinstance(v, bool))
    failed = extra["failed"]
    correct = failed == 0 and cross_ok

    if args.trace:
        layer, lines = stats.per_layer(raw, wrong)
        with open(os.path.join(out, "trace.jsonl"), "w") as f:
            f.writelines(json.dumps(x) + "\n" for x in lines)
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in wanted if m["name"] in layer}
        missing = [m["name"] for m in wanted if m["name"] not in layer]
    else:
        wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in wanted if m["name"] in e2e}
        missing = [m["name"] for m in wanted if m["name"] not in e2e]
    if missing:
        correct = False

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        **extra,
        "oracle": {q: ("PASS" if not errs else errs[:3]) for q, errs in checks.items()},
        "cross_checks": cross, "missing_metrics": missing,
        "context": {
            "k": raw["k"], "nproc": os.cpu_count(), "seed": args.seed,
            "loadavg_start": load_start, "loadavg_end": open("/proc/loadavg").read().strip(),
            # CPU time the hypervisor gave to other guests during the run.
            "steal_share": steal_share(cpu_start, cpu_times()),
            "jvm_heap_flags": raw["jvm_args"], "spark": raw["spark_version"],
            "commit": source_commit(root), "build": os.path.basename(os.path.dirname(jar)),
            "run_dir": os.path.relpath(out, root),
        },
    }
    if args.trace:
        report["trace_lines"] = os.path.relpath(os.path.join(out, "trace.jsonl"), root)
        report["tracing_overhead_share"] = layer.get("trace.overhead_share")
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": extra["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
