#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload pipelines|catalog --seed N \
        --seconds S --trace 0|1

Run from the repository root. It builds the program and the harness from
source (once per source state), generates the workload's inputs from the
seed, runs them in one JVM at local[nproc], checks every output, and
prints one JSON object as the last line of stdout: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. It exits nonzero if
any output check failed. Each run also leaves a self-describing artifact
(metrics, run environment, steal, load) in perfbench/work/runs.jsonl,
which perfbench/compare.py reads.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
# a run ends within this many seconds of its build
DEADLINE_S = 170

# Input sizes: the reference's shape, 20 symbols x ~7 years of trading
# days, for both the chart-JSON payloads and the wide CSV; the catalog's
# tables at scale factor 0.01 (60 k lineitem rows). Every op here is
# bound by per-job overhead, not data volume.
SYMBOLS, DAYS = 20, 1760
CATALOG_SF = 0.01
# The catalog sample: one query from each operator family the two
# pipelines never touch (dedup, vector, sketch, stream), with the module
# that owns each. It is fixed so that every seed runs the same work (the
# seed changes the tables), and small so that its cold pass and three
# warm passes fit one run.
CATALOG_SAMPLE = [("d1_exact_dedup", "TextQueries"), ("v2_ivf_assign", "VectorQueries"),
                  ("t24_hll_distinct", "QualityQueries"), ("s2_sessionize", "StreamQueries")]
# Ops still get faster over their first warm executions (JIT), so a median
# over however many ops a time window held would move with the host's
# speed. The metrics use a fixed count instead: each query's first three
# warm executions (Bench's three reps) and the first eight requests; a
# run measures at least these, and for at least --seconds. These counts
# are too small for a percentile tail with samples beyond it, so
# op_tail_s is the slowest op of the fixed set.
WARM_REPS, REQUESTS = 3, 8


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------ host + build

def host_env():
    """local[] width from nproc; heap by the MemTotal/2 rule, 2-8 g."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {"SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": f"{min(8, max(2, kb // 2097152))}g"}


def fingerprint(env):
    # the build's javaOptions read these when sbt loads
    h = hashlib.sha256(json.dumps([env, os.environ.get("SPARK_GRAFT_JVM_OPTS")]).encode())
    roots = ["build.sbt", "project", "src/main", HARNESS]
    for r in roots:
        for p in sorted(glob.glob(os.path.join(r, "**"), recursive=True)) if os.path.isdir(r) else [r]:
            if os.path.isfile(p) and "/target/" not in p:
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build(env):
    """Compiles the program and the harness with sbt and records the
    classpath and the build's javaOptions; reused while sources are
    unchanged."""
    launch = os.path.join(HARNESS, "target", "launch.json")
    fp = fingerprint(env)
    if os.path.exists(launch):
        with open(launch) as f:
            cached = json.load(f)
        # a classpath directory that is gone (a cleaned target) needs a build
        dirs = [e for e in cached.get("classpath", "").split(os.pathsep) if not e.endswith(".jar")]
        if cached.get("fingerprint") == fp and all(os.path.isdir(d) for d in dirs):
            return cached
    benv = dict(os.environ, **env)
    benv.setdefault("COURSIER_MODE", "offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in benv and os.path.exists(repo_cfg):
        benv["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                            f"-Dsbt.repository.config={repo_cfg} -Xmx3g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath", "show javaOptions"],
                       cwd=HARNESS, env=benv, capture_output=True, text=True, timeout=800)
    lines = p.stdout.splitlines()
    at = next((i for i, l in enumerate(lines) if "scala-library" in l and not l.startswith("[")), None)
    if p.returncode != 0 or at is None:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[at]
    # `show` lists a Seq setting one element per "[info] * " line
    jopts = [l[len("[info] * "):] for l in lines[at + 1:] if l.startswith("[info] * ")]
    cached = {"fingerprint": fp, "classpath": cp, "java_options": jopts,
              "build_s": time.time() - t0}
    with open(launch, "w") as f:
        json.dump(cached, f)
    return cached


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, in_dir):
    if workload == "pipelines":
        return {"etl": gen.etl_inputs(seed, in_dir, SYMBOLS, DAYS),
                "dashboard": gen.dashboard_inputs(seed, in_dir, SYMBOLS, DAYS),
                "requests": REQUESTS}
    gen.catalog_tables(seed, in_dir, CATALOG_SF)
    return {"sf": CATALOG_SF, "sample": CATALOG_SAMPLE, "warm_reps": WARM_REPS}


# ------------------------------------------------------------------- run

def steal_ticks():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_jvm(launch, env, params_path, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + launch["java_options"] + [f"-Djava.io.tmpdir={tmp}",
           "-cp", launch["classpath"], "perfbench.Main", params_path])
    jenv = dict(os.environ, **env, SPARK_LOCAL_DIRS=tmp)
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=jenv, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    return launched, code


def read_records(work):
    path = os.path.join(work, "out", "progress.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


# ----------------------------------------------------------- catalog check

def catalog_check(in_dir, out_dir, work):
    """Per-query verdicts of scripts/oracle_check.py: each sampled query's
    dumped result against its DuckDB oracle over the same tables (row
    count, column types and every value, order-independent). Queries
    the catalog declares no oracle SQL for get its rows-only check."""
    verdict_path = os.path.join(work, "oracle.json")
    p = subprocess.run([sys.executable, os.path.join("scripts", "oracle_check.py"),
                        in_dir, os.path.join(out_dir, "catalog")],
                       env=dict(os.environ, ORACLE_JSON=verdict_path),
                       capture_output=True, text=True, timeout=120)
    with open(os.path.join(work, "oracle.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    if not os.path.exists(verdict_path):
        return {}, p.returncode
    with open(verdict_path) as f:
        return json.load(f)["queries"], p.returncode


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0




SPAN_METRICS = ["ingest.parse", "clean.inconsistencies", "clean.forward_fill", "align.calendar",
                "etl.run", "align.pivot", "io.parquet_write", "io.csv_write", "io.csv_read",
                "io.api_json", "io.pdf", "ta.log_return", "analytics.volatility",
                "analytics.heatmap", "analytics.compare", "analytics.dtw"]
REQUEST_SPANS = {"analytics.compare", "analytics.dtw"}
# engine counters and their units. The first group explains cold_s and is
# read from the cold op(s); the ratios are per-op medians.
COLD_COUNTERS = {"codegen.compiles": "count", "codegen.compile_s": "s", "jit.compile_s": "s"}
RATIOS = {"exec.core_util": "ratio", "exec.skew": "ratio"}
COUNTERS = {"plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
            "gc.pause_s": "s", "gc.count": "count", "sched.jobs": "count", "sched.stages": "count",
            "sched.tasks": "count", "sched.delay_s": "s", "sched.failed_stages": "count",
            "driver.outside_jobs_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
            "exec.task_gc_s": "s", "exec.failed_tasks": "count", "shuffle.read_mb": "MB",
            "shuffle.write_mb": "MB", "spill.mb": "MB"}
# On pipelines these explain request latency (op_p50_s) and are read from
# the requests; the other counters explain a refresh (wall_s).
REQUEST_COUNTERS = {"plan.analysis_s", "plan.optimization_s", "plan.planning_s", "sched.jobs",
                    "sched.stages", "sched.tasks", "sched.delay_s", "sched.failed_stages",
                    "driver.outside_jobs_s"}


def span_totals(op):
    out = {}
    for s in op["spans"]:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    return out


def self_times(ops):
    """Median self time per span name: the span minus its children."""
    acc = {}
    for op in ops:
        kids = {}
        for s in op["spans"]:
            kids[s["parent"]] = kids.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
        for s in op["spans"]:
            acc.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"] - kids.get(s["id"], 0)) / 1e9)
    return {k: median(v) for k, v in sorted(acc.items())}


def per_query(ops, f):
    """Catalog shape, as Bench's total: the sum over sampled queries of
    each one's median."""
    by = {}
    for op in ops:
        by.setdefault(op["key"], []).append(f(op))
    return sum(median(v) for v in by.values())


def catalog_warm(ops):
    return [o for o in ops if 1 <= o["rep"] <= WARM_REPS]


def e2e_metrics(workload, ops, end, setup_s):
    if workload == "catalog":
        warm = catalog_warm(ops)
        cold = sum(o["wall_s"] for o in ops if o["rep"] == 0)
        wall = per_query(warm, lambda o: o["wall_s"])
        cpu = per_query(warm, lambda o: o["cpu_s"])
        lat = [o["wall_s"] for o in warm]
    else:
        refresh = [o for o in ops if o["op"] == "refresh"]
        cold = refresh[0]["wall_s"]
        wall = median([o["wall_s"] for o in refresh[1:]])
        cpu = median([o["cpu_s"] for o in refresh[1:]])
        # the first refresh has already run CompareAssets, so every
        # request counts as warm
        lat = [o["wall_s"] for o in ops if o["op"] == "request"][:REQUESTS]
    # peak RSS goes to the artifact only: G1's heap sizing moves it by
    # about 30% from run to run, more than any bound would allow
    return {"setup_s": (setup_s, "s"), "cold_s": (cold, "s"), "wall_s": (wall, "s"),
            "op_p50_s": (median(lat), "s"), "op_tail_s": (max(lat), "s"), "cpu_s": (cpu, "s")}, \
        {"tail_statistic": "max", "op_samples": len(lat), "peak_rss_mb": end.get("peak_rss_mb")}


def layer_metrics(workload, ops):
    """Per-layer metrics of a traced run (every op traced). A layer the
    workload does not run reads 0."""
    catalog = workload == "catalog"
    main = [o for o in ops if o["op"] == ("query" if catalog else "refresh")]
    warm = catalog_warm(main) if catalog else [o for o in main if o["rep"] > 0]
    requests = [o for o in ops if o["op"] == "request"][:REQUESTS]
    out = {}
    for name in SPAN_METRICS:
        # replays follow every refresh, the cold one included
        sel = requests if name in REQUEST_SPANS else main
        out[f"{name}_s"] = (median([span_totals(o).get(name, 0.0) for o in sel]), "s")
    for _, module in CATALOG_SAMPLE:
        mine = [o for o in warm if o.get("module") == module]
        out[f"operators.{module}_s"] = (per_query(mine, lambda o: span_totals(o)[f"operators.{module}"]), "s")
    for name, unit in COUNTERS.items():
        get = lambda o: o["counters"].get(name, 0.0)
        if catalog:
            out[name] = (per_query(warm, get), unit)
        else:
            out[name] = (median([get(o) for o in (requests if name in REQUEST_COUNTERS else warm)]), unit)
    for name, unit in RATIOS.items():
        out[name] = (median([o["counters"].get(name, 0.0) for o in warm]), unit)
    for name, unit in COLD_COUNTERS.items():
        out[name] = (sum(o["counters"].get(name, 0.0) for o in main if o["rep"] == 0), unit)
    out["materialize.release_s"] = (median([o["release_s"] for o in main]), "s")
    return out


def untraced_wall(workload):
    """Median wall_s of the untraced runs of this workload on record."""
    path = os.path.join(WORK, "runs.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        walls = [r["e2e"]["wall_s"] for r in map(json.loads, f)
                 if r["workload"] == workload and not r["trace"] and r["correct"]]
    return median(walls) if walls else None


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipelines", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isfile("src/main/scala/graft/SparkEntry.scala")):
        fail("run from the repository root: build.sbt and src/main/scala/graft are missing")

    env = host_env()
    launch = build(env)
    started = time.time()
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    t0 = time.time()
    inputs = make_inputs(a.workload, a.seed, in_dir)
    gen_s = time.time() - t0
    params = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": bool(a.trace),
              "in_dir": in_dir, "out_dir": out_dir, "inputs": inputs}
    params_path = os.path.join(work, "params.json")
    with open(params_path, "w") as f:
        json.dump(params, f)

    steal0 = steal_ticks()
    launched, code = run_jvm(launch, env, params_path, work, DEADLINE_S - (time.time() - started))
    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    recs = read_records(work)
    setup = next((r for r in recs if r["kind"] == "setup"), None)
    ops = [r for r in recs if r["kind"] == "op"]
    end = next((r for r in recs if r["kind"] == "end"), {})
    if code != 0 or setup is None or not ops:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the benchmark JVM failed (exit {code}); what it measured is in {work}/out", 1)

    problems = [f"{o['key']}: {p}" for o in ops for p in o["problems"]]
    if a.workload == "catalog":
        verdicts, oracle_code = catalog_check(in_dir, out_dir, work)
        bad = {n for n, v in verdicts.items() if v["status"] not in ("pass", "rows_only")}
        sampled = {o["key"] for o in ops}
        bad |= sampled - set(verdicts)
        problems += [f"{n}: oracle {verdicts.get(n, {'status': 'missing'})}" for n in sorted(bad)]
        if oracle_code != 0 and not bad:
            problems.append(f"oracle_check exited {oracle_code}; see {work}/oracle.log")
        failed = sum(1 for o in ops if not o["ok"] or o["key"] in bad)
    else:
        failed = sum(1 for o in ops if not o["ok"])
    for p in problems[:20]:
        print(f"[perfbench] check failed: {p}", file=sys.stderr)

    setup_s = (setup["ready_ms"] / 1e3) - launched
    e2e, extra = e2e_metrics(a.workload, ops, end, setup_s)
    metrics = layer_metrics(a.workload, ops) if a.trace else e2e
    # tracing overhead: this traced run's wall_s minus the untraced ones'
    base = untraced_wall(a.workload) if a.trace else None
    overhead = e2e["wall_s"][0] - base if base is not None else None
    correct = not problems
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "correct": correct, "attempted": len(ops), "failed": failed,
                "fail_ratio": failed / len(ops), "problems": problems[:50],
                "metrics": {k: v for k, (v, _) in metrics.items()},
                "e2e": {k: v for k, (v, _) in e2e.items()}, **extra,
                "trace_overhead_s": overhead,
                "self_time_s": self_times(ops) if a.trace else None,
                "gen_s": gen_s, "steal_s": steal_s, "loadavg": loadavg, "host": env,
                "build_s": launch.get("build_s"), "java_options": launch["java_options"],
                "inputs": inputs, "env": end.get("env"),
                "finished": time.strftime("%Y-%m-%dT%H:%M:%S")}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(artifact) + "\n")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
