#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload per invocation.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine from source (`bench/build.sbt`) and generates the input tables;
both are kept under `.bench_build/` and reused while their sources are
unchanged. Each run then starts one JVM at local[nproc] with the driver
heap derived from MemTotal, sets it up, runs the workload's operation
list in a closed loop from one client thread, and checks every output.

The last line of standard output is the result:
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) of BENCHMARK.json. The line before it carries every
metric the run measured, and the full artifact (host stamp, per-op
records, spans when traced) is written to `.bench_build/results/`.
"""
import argparse
import ctypes
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

PROCESS_T0_NS = time.time_ns()   # setup_s starts here
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

# Each workload's family of registered queries.
RELATIONAL_ALL = """
distinct_values join_anti_not_exists join_asof_click_view join_asof_nearest
join_asof_tolerance join_banded_range join_bloom_prune join_interval_overlap
join_outer_order_counts join_point_in_time join_q5_regional
join_range_value_pairs join_salted_skew join_semi_exists join_star_revenue
join_theta_residual json_extract_field q1_pricing_summary ref_agg_max
ref_cast_projection ref_count ref_sort_full ref_topk_newest ref_topk_oldest
ref_watermark_filter reshape_unpivot scalar_array_funcs scalar_conditional
scalar_date_funcs scalar_math_funcs scalar_string_funcs set_except
set_except_all set_intersect set_intersect_all set_union_distinct
stats_ab_test stats_auc stats_benford stats_calibration stats_chisq_sources
stats_cohort_retention stats_confusion_matrix stats_corr stats_expectations
stats_gini stats_histogram stats_iqr_outliers stats_jackknife_ci
stats_ks_drift stats_mann_whitney stats_moments stats_mutual_info
stats_profile stats_psi_drift ts_anomaly_mad ts_autocorr ts_decompose
ts_forecast_holt ts_forecast_snaive ts_gap_fill ts_interpolate
ts_resample_ohlc ts_seasonal_profile win_attribution win_cusum_drift
win_dist_family win_ewma_halflife win_first_last win_funnel win_gap_islands
win_lag_delta win_moving_avg win_ntile_buckets win_rank_family
win_rolling_median win_running_distinct win_running_sum win_sessionize
win_streak_detect win_time_range_sum win_topn_per_group
""".split()
ITERATIVE_ALL = """graph_reach graph_pagerank graph_hits graph_k_core
graph_label_propagation dedup_clusters dedup_savings dedup_semantic
dedup_incremental""".split()
CORPUS_ALL = """dedup_ngram_jaccard dedup_levenshtein dedup_minhash_eval
graph_jaccard_links graph_triangles dedup_simhash sim_ann_recall_gate""".split()

# What one run executes: (queries, scale factor of the tables they read).
# A run executes its whole list once, in an order the seed sets, so every
# run of a workload measures the same operations; each list is sized so
# that a run, set-up included, takes about 30 s on a 4-CPU host.
QUERY_WORKLOADS = {
    # every 8th of the 82 short relational queries, each twice: 22 samples,
    # enough for op_tail_s
    "relational_short": (RELATIONAL_ALL[::8] * 2, 0.01),
    # the pagerank and label propagation loops, and connected components
    "iterative_graph": (["graph_pagerank", "graph_label_propagation", "dedup_incremental"], 0.01),
    # an LSH self-join and a triangle self-join over a 2500-document corpus
    "corpus_heavy": (["dedup_simhash", "graph_triangles"], 0.05),
}
# The set-up's warm-up pass, so that the window's first operations do not
# pay the JVM's warm-up for all the others. The heavy workloads warm up on
# a query of their family that the window does not run, so each window
# query runs for the first time in its JVM. A short relational query
# lasts well under a second, and the JIT still compiling its operators
# made op_p50_s spread by 19-25% over seeds (4-CPU host); so
# relational_short warms up on its own queries, and its window measures
# each of them warm, twice. For etl_incremental the warm-up is one small
# batch (see gen.py).
WARMUP = {
    "relational_short": RELATIONAL_ALL[::8],
    "iterative_graph": ["graph_reach"],
    "corpus_heavy": ["dedup_levenshtein"],
}
# The ETL batches are cut from `events` at ETL_SF.
ETL_SF = 0.1
WORKLOADS = [*QUERY_WORKLOADS, "etl_incremental"]

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

E2E = {  # name -> unit; the gated subset is listed in BENCHMARK.json
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "error_rate": "ratio", "peak_rss_mb": "MB",
    "etl_rows_per_s": "rows/s", "etl_run_p50_s": "s", "stream_rows_per_s": "rows/s",
    "read_p50_s": "s", "read_tail_s": "s",
}


# Nanoseconds this process spent compiling or generating tables. That is
# done once per checkout, so it is left out of setup_s.
one_time_ns = [0]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _die_with_parent():
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_logged(cmd, log, timeout, **kw):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and waited for, and the child dies with this process if this
    process is killed. Returns the exit code (None on timeout)."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, preexec_fn=_die_with_parent, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build():
    """Compiles engine + benchmark with sbt (offline) unless up to date;
    returns the runtime classpath."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    if not os.path.isdir(sources[0]):
        fail(f"no engine sources at {sources[0]}")
    stamp = tree_digest(sources)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark installation the engine builds against")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time_ns()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    one_time_ns[0] += time.time_ns() - t0
    return lines[-1].strip(), stamp


def tables(sf):
    """Generates the input tables once per checkout and generator version."""
    out = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = tree_digest([os.path.join(HERE, "gen.py")]) + str(sf)
    stamp_file = out + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        t0 = time.time_ns()
        shutil.rmtree(out, ignore_errors=True)
        gen.tables(sf, out)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        one_time_ns[0] += time.time_ns() - t0
    return out


def host_sizing():
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    # as the repository's tier-1 command sizes SPARK_DRIVER_MEM
    heap_g = min(8, max(2, mem_kb // 2097152))
    return cpus, mem_kb // 1024, heap_g


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_stamp():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return "unknown", None
        dirty = subprocess.run(["git", "status", "--porcelain", "--", "src", "bench"],
                               cwd=ROOT, capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return "unknown", None


JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def run_jvm(classpath, spec, work, cpus, heap_g):
    spec_path, out_path = os.path.join(work, "spec.json"), os.path.join(work, "raw.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap_g}g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", spec_path, out_path]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    rc = run_logged(cmd, os.path.join(work, "jvm.log"), JVM_TIMEOUT_S, cwd=work, env=env)
    if rc != 0 or not os.path.exists(out_path):
        fail(f"benchmark JVM failed (exit {rc}), see {os.path.join(work, 'jvm.log')}")
    with open(out_path) as f:
        return json.load(f)


def prepare(workload, seed, work):
    """Seeded inputs of one run: the op order, or the ETL landing batches.
    Returns (spec fields, expected outputs by op name, extra facts)."""
    if workload in QUERY_WORKLOADS:
        queries, sf = QUERY_WORKLOADS[workload]
        order = list(queries)
        random.Random(seed).shuffle(order)
        with open(os.path.join(HERE, "expected_digests.json")) as f:
            recorded = json.load(f).get(f"sf{sf}", {})
        return ({"queries": order, "warmup_queries": WARMUP[workload]},
                {q: recorded.get(q) for q in order}, {})
    events = gen.events_frame(ETL_SF)
    batches, final = gen.landing_plan(seed, events)
    gen.write_batches(batches, os.path.join(work, "batches"))
    warm = gen.warmup_batches(events)
    gen.write_batches(warm, os.path.join(work, "warmup_batches"))
    expected = {}
    for k, b in enumerate(batches):
        expected[f"run_{k}"] = {"report": b["expect"]["report"]}
        expected[f"stream_{k}"] = {"report": {"rows": len(b["rows"])}}
        for r in ("oldest", "newest", "sorted"):
            expected[f"read_{r}_{k}"] = b["expect"][f"read_{r}"]
    spec = {"batches": [{"dir": os.path.join(work, "batches", b["name"])} for b in batches],
            "warmup_queries": [],
            "warmup_batches": [{"dir": os.path.join(work, "warmup_batches", b["name"])}
                               for b in warm]}
    return spec, expected, final


def tail_of(values):
    """M.tail, reported only when it lies at or above the median."""
    t = M.tail(values)
    return t if t and t[1] >= 50 else None


def e2e_metrics(raw, ops, failed, facts):
    ok = [o for o in ops if "failure" not in o]
    walls = [o["wall_s"] for o in ok]
    t = tail_of(walls)
    m = {
        "setup_s": raw["setup"]["total_s"],
        "wall_s": raw["window_s"],
        "op_p50_s": M.median(walls),
        "op_tail_s": t[0] if t else None,
        "error_rate": failed / max(1, len(ops)),
        "peak_rss_mb": raw["jvm"]["peak_rss_mb"],
    }
    info = {"op_samples": len(walls), "op_tail_percentile": t[1] if t else None}
    if facts:
        landed = facts["landed_rows"]
        runs = [o for o in ok if o["kind"] == "etl_run"]
        streams = [o for o in ok if o["kind"] == "stream"]
        reads = [o["wall_s"] for o in ok if o["kind"] == "read"]
        rt = tail_of(reads)
        m.update({
            "etl_rows_per_s": landed / sum(o["wall_s"] for o in runs) if runs else None,
            "etl_run_p50_s": M.median([o["wall_s"] for o in runs[1:]], None),
            "stream_rows_per_s": landed / sum(o["wall_s"] for o in streams) if streams else None,
            "read_p50_s": M.median(reads, None),
            "read_tail_s": rt[0] if rt else None,
        })
        info.update({"landed_rows": landed, "read_samples": len(reads),
                     "read_tail_percentile": rt[1] if rt else None})
    return m, info


PER_LAYER = {  # name -> unit, in BENCHMARK.json order
    "GraftSession.get_s": "s", "jvm.jit_s": "s",
    "ops.construct_s": "s", "ops.construct_self_s": "s", "ops.construct_jobs": "count",
    "exec.driver_gap_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.sched_wait_s": "s", "exec.task_deser_s": "s",
    "exec.tasks_per_stage_p50": "count", "exec.useful_task_ratio": "ratio",
    "Materialize.cached_mb_peak": "MB", "Materialize.cached_rdds": "count",
    "Materialize.release_s": "s",
    "exec.task_cpu_s": "s", "exec.task_run_s": "s", "exec.busy_ratio": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_gc_s": "s", "jvm.gc_s": "s", "jvm.heap_used_peak_mb": "MB",
    "pipeline.run_s": "s", "pipeline.jobs_per_run": "count", "pipeline.driver_gap_s": "s",
    "pipeline.watermark_scan_mb": "MB", "pipeline.write_s": "s", "pipeline.tail_s": "s",
    "streaming.batch_s": "s", "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.latest_offset_ms": "ms",
    "pipeline.files_written": "count", "pipeline.sink_files": "count",
    "pipeline.write_amp": "ratio", "read.input_files": "count", "read.input_mb": "MB",
    "read.tasks": "count",
}


def layer_metrics(raw, ops):
    """Per-layer figures of a traced run. Window totals for the query and
    exec layers; per-operation medians for the pipeline, streaming and
    read layers. A layer the workload never reaches reads 0."""
    tr = M.Tree(raw)
    run_span = next(s["id"] for s in raw["spans"] if s["name"] == "run")
    stages = tr.stages_under(run_span)
    tasks = sum(s["tasks"] for s in stages)
    total = lambda key: sum(s[key] for s in stages)  # noqa: E731
    constructs = tr.named_under(run_span, "ops.construct")
    op_spans = [o["span"] for o in ops]
    m = {
        "GraftSession.get_s": raw["setup"]["session_s"],
        "jvm.jit_s": raw["jvm"]["jit_s"],
        "ops.construct_s": sum(tr.interval(c)[1] - tr.interval(c)[0] for c in constructs),
        "ops.construct_self_s": sum(tr.self_s(c) for c in constructs),
        "ops.construct_jobs": sum(len(tr.jobs_under(c)) for c in constructs),
        "exec.driver_gap_s": sum(tr.gap_s(s) for s in op_spans),
        "exec.jobs": len(tr.jobs_under(run_span)),
        "exec.stages": len(stages),
        "exec.tasks": tasks,
        "exec.sched_wait_s": total("sched_wait_ms") / 1e3,
        "exec.task_deser_s": total("deser_ms") / 1e3,
        "exec.tasks_per_stage_p50": M.median([s["tasks"] for s in stages]),
        "exec.useful_task_ratio": total("useful_tasks") / tasks if tasks else 0.0,
        "Materialize.cached_mb_peak": max([o.get("cached_mb", 0.0) for o in ops] or [0.0]),
        "Materialize.cached_rdds": max([o.get("cached_rdds", 0) for o in ops] or [0]),
        "Materialize.release_s": sum(tr.interval(s)[1] - tr.interval(s)[0]
                                     for s in tr.named_under(run_span, "Materialize.release")),
        "exec.task_cpu_s": total("cpu_ns") / 1e9,
        "exec.task_run_s": total("run_ms") / 1e3,
        "exec.busy_ratio": total("run_ms") / 1e3 / (raw["window_s"] * raw["jvm"]["cpus"]),
        "exec.shuffle_write_mb": total("shuffle_write_b") / M.MB,
        "exec.shuffle_read_mb": total("shuffle_read_b") / M.MB,
        "exec.spill_mb": total("spill_b") / M.MB,
        "exec.task_gc_s": total("gc_ms") / 1e3,
        "jvm.gc_s": raw["jvm"]["gc_s"],
        "jvm.heap_used_peak_mb": raw["jvm"]["heap_used_peak_mb"],
    }
    runs = [o for o in ops if o["kind"] == "etl_run"]
    per_run = []
    for o in runs:
        (span,) = tr.named_under(o["span"], "pipeline.run")
        jobs = tr.jobs_under(span)
        s, e = tr.interval(span)
        st = tr.stages_under(span)
        writes = [j for j in jobs if any(x["output_records"] > 0 for x in tr.stages_of.get(j["id"], []))]
        per_run.append({
            "run_s": e - s, "jobs": len(jobs), "gap_s": tr.gap_s(span),
            "scan_mb": max(0, sum(x["input_b"] for x in st) - o["landed_bytes"]) / M.MB,
            "write_s": M.union_s(map(tr.job_interval, writes)),
            "tail_s": e - max((j["end_ms"] / 1e3 for j in jobs), default=s),
            "files_written": o["files_written"]})
    col = lambda rows, k: M.median([r[k] for r in rows])  # noqa: E731
    streams = [o["progress"] for o in ops if o["kind"] == "stream" and "progress" in o]
    reads = [o for o in ops if o["kind"] == "read"]
    m.update({
        "pipeline.run_s": col(per_run, "run_s"),
        "pipeline.jobs_per_run": col(per_run, "jobs"),
        "pipeline.driver_gap_s": col(per_run, "gap_s"),
        "pipeline.watermark_scan_mb": col(per_run, "scan_mb"),
        "pipeline.write_s": col(per_run, "write_s"),
        "pipeline.tail_s": col(per_run, "tail_s"),
        "streaming.batch_s": col(streams, "trigger_ms") / 1e3,
        "streaming.planning_ms": col(streams, "planning_ms"),
        "streaming.wal_commit_ms": col(streams, "wal_commit_ms"),
        "streaming.add_batch_ms": col(streams, "add_batch_ms"),
        "streaming.latest_offset_ms": col(streams, "latest_offset_ms"),
        "pipeline.files_written": col(per_run, "files_written"),
        "pipeline.sink_files": runs[-1]["sink_files"] if runs else 0,
        "pipeline.write_amp": (runs[-1]["sink_bytes"] / sum(o["landed_bytes"] for o in runs)
                               if runs else 0.0),
        "read.input_files": M.median([o["input_files"] for o in reads]),
        "read.input_mb": M.median([sum(x["input_b"] for x in tr.stages_under(o["span"])) / M.MB
                                   for o in reads]),
        "read.tasks": M.median([sum(x["tasks"] for x in tr.stages_under(o["span"])) for o in reads]),
    })
    return m


def untraced_baseline(workload, results):
    """Median untraced wall_s of this workload's earlier runs in this checkout."""
    walls = []
    for f in os.listdir(results):
        if f.startswith(f"{workload}-") and f.endswith("-trace0.json"):
            with open(os.path.join(results, f)) as fh:
                walls.append(json.load(fh)["metrics"]["wall_s"]["value"])
    return (statistics.median(walls), len(walls)) if walls else (None, 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath, source_stamp = build()
    data = (tables(QUERY_WORKLOADS[args.workload][1]) if args.workload in QUERY_WORKLOADS
            else "")
    cpus, mem_mb, heap_g = host_sizing()
    sha, dirty = git_stamp()
    load0 = loadavg()

    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec, expected, facts = prepare(args.workload, args.seed, work)
    spec.update({"workload": args.workload, "data_dir": data, "work_dir": work,
                 "trace": bool(args.trace), "setup_t0_ns": PROCESS_T0_NS + one_time_ns[0]})
    raw = run_jvm(classpath, spec, work, cpus, heap_g)

    ops = raw["ops"]
    for o in ops:   # the stream op is checked by its row count
        if o["kind"] == "stream" and "progress" in o:
            o["report"] = {"rows": o["progress"]["rows"]}
    failed = M.check_ops(ops, expected)
    for name, want in raw["checks"].items():  # end-of-run sink checks
        if want != facts.get(name):
            failed += 1
            ops.append({"name": name, "failure": f"{want} != {facts.get(name)}", "wall_s": 0})
    e2e, info = e2e_metrics(raw, [o for o in ops if o.get("kind")], failed, facts)
    attempted = sum(1 for o in ops if o.get("kind"))

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items() if v is not None},
        "samples": info,
        "host": {"host_cpus": cpus, "mem_total_mb": mem_mb, "driver_heap_g": heap_g,
                 "master": f"local[{cpus}]", "client_threads": 1,
                 "loadavg_start": load0, "loadavg_end": loadavg()},
        "git_sha": sha, "git_dirty": dirty, "source_stamp": source_stamp,
        "setup": raw["setup"], "jvm": raw["jvm"],
        "failures": {o["name"]: o["failure"] for o in ops if "failure" in o},
        "ops": [{k: v for k, v in o.items() if k != "failure"} for o in ops],
    }
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        layers = layer_metrics(raw, [o for o in ops if o.get("kind")])
        artifact["per_layer"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        base, n = untraced_baseline(args.workload, results)
        artifact["tracing_overhead"] = {
            "traced_wall_s": e2e["wall_s"], "untraced_wall_s_median": base,
            "untraced_runs": n,
            "ratio": e2e["wall_s"] / base - 1 if base else None}
        with open(os.path.join(results, name + ".spans.json"), "w") as f:
            json.dump({"spans": raw["spans"], "jobs": raw["jobs"], "stages": raw["stages"]}, f)
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)

    shown = artifact["per_layer"] if args.trace else artifact["metrics"]
    print(json.dumps({"workload": args.workload, "all_metrics": artifact["metrics"],
                      "samples": info, "failures": artifact["failures"],
                      "tracing_overhead": artifact.get("tracing_overhead")}))
    gated = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[
        "per_layer" if args.trace else "end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {g["name"]: shown[g["name"]] for g in gated}}))


if __name__ == "__main__":
    main()
