#!/usr/bin/env python3
"""graft benchmark: a batch query mix and a live ingest-and-serve run.
See README.md in this directory.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload batch_sf0.1 --seed 1 --seconds 11 --trace 0

The first run in a checkout compiles the program and the harness into
`.bench_build/classes` and caches the oracle results; later runs reuse them. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics, or with `--trace 1` the per-layer ones). The lines before it print
every metric of the workload by name, with its unit and sample count.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 165.0           # every run ends well inside 180 s
# the batch data: the project's sf0.1 test tables, with a manifest of their
# row counts and hashes; --seed drives query order and live traffic
FIXTURE = os.path.join(HERE, "data", "sf0.1")
# timed passes over the batch sample, after the oracle pass
PASSES = 5
HEAP = "4g"
QUERY_TIMEOUT_S = 60
# Mean cost of one registry query on a 4-core box at sf0.1 (628 s for all
# 344); the batch sample takes every k-th name so that it fills --seconds.
MEAN_QUERY_S = 1.83

WORKLOADS = ("batch_sf0.1", "ingest_serve")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BenchError("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    files = sorted(os.path.join(d, f) for r in roots for d, _, fs in os.walk(r)
                   for f in fs if f.endswith(".scala"))
    if not any(f.startswith(roots[0]) for f in files):
        raise BenchError("no program sources under src/main/scala: run from a checkout root")
    return files


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def java_cmd(classpath, main, args, heap=HEAP):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return cmd + [f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, main] + list(args)


def run_jvm(cmd, cwd, log_path, timeout, env=None):
    """Runs a JVM to completion; on timeout kills it and waits until it ended."""
    e = dict(os.environ)
    e["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    e.update(env or {})
    os.makedirs(cwd, exist_ok=True)
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=e)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"JVM exceeded {timeout:.0f} s (log: {log_path})")


def build(jars):
    """Compiles src/main and the harness into .bench_build/classes, unless the
    sources are unchanged since the last build. Returns the source digest."""
    files = sources()
    stamp = digest(files)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, "SOURCES")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    tmp = classes + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BenchError(f"compile failed (see {os.path.join(BUILD, 'build.log')})")
    with open(os.path.join(tmp, "SOURCES"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    return stamp


def check_manifest(d):
    """Fails loudly when a fixture's tables do not hold the row counts and
    bytes its manifest records (a partial or stale fixture)."""
    import pyarrow.parquet as pq
    path = os.path.join(d, "manifest.json")
    if not os.path.exists(path):
        raise BenchError(f"fixture {d} has no manifest.json")
    m = json.load(open(path))
    for table, want in m["rows"].items():
        p = os.path.join(d, f"{table}.parquet")
        got = pq.ParquetFile(p).metadata.num_rows if os.path.exists(p) else -1
        if got != want:
            raise BenchError(f"fixture {d} is partial or stale: {table} has {got} rows, "
                             f"manifest says {want}")
        with open(p, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != m["sha256"][table]:
                raise BenchError(f"fixture {d} is stale: {table}.parquet does not match its manifest hash")
    return d


def registry(jars, stamp):
    path = os.path.join(BUILD, f"registry-{stamp}.json")
    if not os.path.exists(path):
        cp = os.path.join(BUILD, "classes") + os.pathsep + os.path.join(jars, "*")
        rc = run_jvm(java_cmd(cp, "perfbench.Main", ["list", f"out={path}.tmp"], heap="1g"),
                     os.path.join(BUILD, "work"), os.path.join(BUILD, "list.log"), 120)
        if rc != 0:
            raise BenchError("listing the query registry failed (see .bench_build/list.log)")
        os.rename(path + ".tmp", path)
    return json.load(open(path))


def batch_sample(names, seconds):
    """Every k-th registry name in sorted order, k set by the run length."""
    names = sorted(names)
    k = max(1, round(len(names) * MEAN_QUERY_S / seconds))
    return names[::k], k


def percentile(xs, q):
    s = sorted(xs)
    if not s:
        return None
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    it; with fewer than 20 samples no percentile qualifies, and the maximum
    is reported instead. Returns (value, label)."""
    n = len(xs)
    for q in (99, 95, 90, 75, 50):
        if n * (1 - q / 100.0) >= 10:
            return percentile(xs, q), f"p{q}"
    return (max(xs) if xs else None), "max"


def median(xs):
    return percentile(xs, 50)


class Report:
    """Every metric of a run, printed by name with unit and sample count."""

    def __init__(self):
        self.rows = []

    def add(self, name, value, unit, n=None, note=""):
        self.rows.append((name, value, unit, n, note))

    def print(self, header):
        print(header)
        for name, value, unit, n, note in self.rows:
            v = "n/a" if value is None else (f"{value:.6g}" if isinstance(value, float) else value)
            extra = (f" n={n}" if n is not None else "") + (f" ({note})" if note else "")
            print(f"  {name:34s} {v} {unit}{extra}")


def run_batch(args, jars, stamp, cpus, run_dir, report, deadline):
    data = check_manifest(FIXTURE)
    reg = registry(jars, stamp)
    queries, k = batch_sample(reg["queries"], args.seconds)
    order = random.Random(args.seed).sample(queries, len(queries))
    oracle_dir = os.path.join(BUILD, "oracle", "sf0.1")
    t0 = time.time()
    oracle_errors = oracle.prepare(data, oracle_dir, {q: reg["oracle_sql"].get(q) for q in queries})
    log(f"oracle ready in {time.time() - t0:.1f} s; running {len(queries)} queries (k={k})")

    cp = os.path.join(BUILD, "classes") + os.pathsep + os.path.join(jars, "*")
    rc = run_jvm(java_cmd(cp, "perfbench.Main", [
        "batch", f"data={data}", f"out={run_dir}", f"order={','.join(order)}", f"passes={PASSES}",
        f"cpus={cpus}", f"trace={args.trace}",
        f"query_timeout_s={QUERY_TIMEOUT_S}"]), run_dir, os.path.join(run_dir, "jvm.log"),
        deadline - time.time())
    if rc != 0:
        raise BenchError(f"benchmark JVM exited with {rc} (see {run_dir}/jvm.log)")
    r = load_result(run_dir)

    failures = dict(oracle_errors)
    runs = [q for p in r["passes"] for q in p["queries"]]
    for q in runs:
        if q["error"] or q["timed_out"]:
            failures[q["name"]] = "timed out" if q["timed_out"] else q["error"]
    for v in r["verify"]:
        if v["error"] or v["timed_out"]:
            failures.setdefault(v["name"], "verify: " + ("timed out" if v["timed_out"] else v["error"]))
        else:
            bad = oracle.compare(os.path.join(run_dir, "results", v["name"]), oracle_dir, v["name"])
            if bad:
                failures.setdefault(v["name"], bad)
    for name, why in sorted(failures.items()):
        log(f"FAIL {name}: {why}")

    # the median pools every timed run of every query, so that no single
    # query's noise sets it; the tail, each query's time and the pass wall
    # take the fastest of the passes: interference from outside the program
    # only ever adds time
    ok = sorted({q["name"] for q in runs} - set(failures))
    pooled = [q["total_s"] for q in runs if q["name"] in ok]
    totals = [min(q["total_s"] for q in runs if q["name"] == n) for n in ok]
    actions = [min(q["action_s"] for q in runs if q["name"] == n) for n in ok]
    walls = [p["wall_s"] for p in r["passes"]]
    t_val, t_label = tail(totals)
    report.add("queries_wall_s", min(walls), "s", len(walls),
               f"fastest sequential pass over {len(queries)} queries")
    report.add("query_p50_s", median(pooled), "s", len(pooled),
               f"every timed run of every query, {PASSES} passes")
    report.add("query_tail_s", t_val, "s", len(totals), f"{t_label} of each query's fastest of {PASSES}")
    report.add("query_action_p50_s", median(actions), "s", len(actions), "noop sink, every column")
    report.add("query_actions_s", sum(actions), "s", len(actions),
               "sum of each query's fastest action")
    e2e = {"wall_s": min(walls), "latency_p50_s": median(pooled), "latency_tail_s": t_val}
    per_layer = {}
    if args.trace:
        tr = r["traced"]
        per_layer = dict(tr["layers"])
        per_layer["trace.overhead_s"] = tr["pass_wall_s"] - min(walls)
        per_layer["self.spark_job_s"] = tr["self_s"].get("spark_job", 0.0)
        report.add("trace.pass_wall_s", tr["pass_wall_s"], "s", len(tr["queries"]), "traced pass")
        for name, v in tr["layers"].items():
            report.add(name, v, unit_of(name), len(tr["queries"]))
        for name, v in sorted(tr["self_s"].items()):
            report.add(f"self.{name}_s", v, "s", None, "span self time")
        report.add("trace.overhead_s", per_layer["trace.overhead_s"], "s", 1,
                   "traced pass wall minus the fastest untraced pass wall")
        report.add("trace.spans", tr["spans"], "count", None, f"{run_dir}/spans.jsonl")
    return r, len(queries), len(failures), e2e, per_layer, {"k": k, "queries": queries}


def run_ingest(args, jars, stamp, cpus, run_dir, report, deadline):
    cp = os.path.join(BUILD, "classes") + os.pathsep + os.path.join(jars, "*")
    rc = run_jvm(java_cmd(cp, "perfbench.Main", [
        "ingest", f"out={run_dir}", f"seed={args.seed}", f"seconds={args.seconds}",
        f"cpus={cpus}", f"trace={args.trace}"]), run_dir,
        os.path.join(run_dir, "jvm.log"), deadline - time.time())
    if rc != 0:
        raise BenchError(f"benchmark JVM exited with {rc} (see {run_dir}/jvm.log)")
    r = load_result(run_dir)
    u = r["untraced"]
    polls = u["polls"]
    failed_polls = [p for p in polls if p["error"] or not p["landed"]]
    compact_failures = [c for c in u["compactions"] if c["error"]]
    attempted = len(polls) + u["lookups_all"] + len(u["compactions"]) + u["check_minutes"]
    failed = (len(failed_polls) + len(u["lookup_failures"]) + len(compact_failures)
              + u["check_mismatch_count"])
    for m in u["check_mismatches"]:
        log(f"FAIL table check {m}")
    for m in u["lookup_failures"]:
        log(f"FAIL lookup {m}")
    for c in compact_failures:
        log(f"FAIL compaction {c['error']}")
    if u["stream_error"]:
        failed += 1
        attempted += 1
        log(f"FAIL the stream stopped: {u['stream_error']}")
    if u["reader_error"]:
        failed += 1
        attempted += 1
        log(f"FAIL reader thread: {u['reader_error']}")
    if not u["compactions"]:
        failed += 1
        attempted += 1
        log("FAIL the compaction of the closed hour never ran")

    fresh = [f for f in u["freshness_s"] if f is not None]
    if len(fresh) < len(u["freshness_s"]):
        failed += len(u["freshness_s"]) - len(fresh)
        log(f"FAIL {len(u['freshness_s']) - len(fresh)} measured polls never became visible "
            "through an upsert of their micro-batch")
    lookups = u["lookups"]
    f_tail, f_label = tail(fresh)
    l_tail, l_label = tail(lookups)
    makespan = u["burst_makespan_s"]
    report.add("freshness_p50_s", median(fresh), "s", len(fresh), "poll due -> upsert visible")
    report.add("freshness_tail_s", f_tail, "s", len(fresh), f_label)
    report.add("lookup_p50_s", median(lookups), "s", len(lookups), "getRecord, closed loop")
    report.add("lookup_tail_s", l_tail, "s", len(lookups), l_label)
    report.add("burst_makespan_s", makespan, "s", 1, f"{u['burst_txs']} txs offered at once")
    report.add("capacity_tx_per_s", u["burst_txs"] / makespan if makespan else None, "tx/s", 1,
               "phase B txs made visible per second")
    report.add("backlog_polls", u["backlog_polls"], "count", None, "phase A polls not visible at its end")
    report.add("compact_s", sum(c["s"] for c in u["compactions"]), "s", len(u["compactions"]))
    report.add("txs_admitted", u["admitted"], "count", None,
               f"{u['dropped_late']} late dropped of {u['late_generated']} generated late")
    e2e = {"wall_s": makespan, "latency_p50_s": median(fresh), "latency_tail_s": f_tail}
    per_layer = {}
    if args.trace:
        tr = r["traced"]
        per_layer = dict(tr["layers"])
        tr_fresh = [f for f in tr["freshness_s"] if f is not None]
        per_layer["trace.overhead_s"] = (median(tr_fresh) or 0.0) - (median(fresh) or 0.0)
        per_layer["self.spark_job_s"] = tr["self_s"].get("spark_job", 0.0)
        for name, v in tr["layers"].items():
            report.add(name, v, unit_of(name), None)
        report.add("store.files_per_hour_max", max(tr["files_per_hour"] or [0]), "count", None,
                   "after the drain")
        report.add("stream.backlog_polls", tr["backlog_polls"], "count", None)
        report.add("ingest.dropped_txs", tr["dropped_txs"], "count", None)
        for name, v in sorted(tr["self_s"].items()):
            report.add(f"self.{name}_s", v, "s", None, "span self time")
        report.add("trace.overhead_s", per_layer["trace.overhead_s"], "s", 1,
                   "traced minus untraced freshness p50")
        report.add("trace.spans", tr["spans"], "count", None, f"{run_dir}/traced/spans.jsonl")
    return r, attempted, failed, e2e, per_layer, {"polls": len(polls)}


def load_result(run_dir):
    """The JVM side's result file; NaN (a median of nothing) reads as missing."""
    with open(os.path.join(run_dir, "jvm_result.json")) as f:
        return json.load(f, parse_constant=lambda c: None)


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("share") or name.endswith("ratio"):
        return "ratio"
    return "count"


# the metrics of BENCHMARK.json, in its order
END_TO_END = ["setup_s", "wall_s", "latency_p50_s", "latency_tail_s"]
PER_LAYER = ["catalyst.plan_s", "driver.self_s", "self.spark_job_s", "spark.jobs", "spark.stages",
             "spark.tasks", "spark.sched_delay_s", "spark.task_run_s", "spark.task_cpu_s",
             "spark.gc_s", "spark.core_busy_share", "spark.shuffle_write_bytes",
             "spark.shuffle_read_bytes", "spark.peak_exec_mem_bytes", "trace.overhead_s"]
UNITS = {"setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "latency_tail_s": "s"}


def busy_jiffies():
    """Busy CPU time of the whole machine so far, in clock ticks."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v) - v[3] - v[4]  # all but idle and iowait
    except (OSError, ValueError, IndexError):
        return None


def foreign_cpu_share(busy0, t0, cpus):
    """Share of the machine's CPU capacity used during the run by processes
    other than this benchmark and its children."""
    busy1 = busy_jiffies()
    if busy0 is None or busy1 is None:
        return None
    tick = os.sysconf("SC_CLK_TCK")
    t = os.times()
    ours = t.user + t.system + t.children_user + t.children_system
    return max(0.0, ((busy1 - busy0) / tick - ours) / ((time.time() - t0) * cpus))


def cpu_calibration_s():
    """Seconds for a fixed single-thread loop: how fast the machine ran at
    this moment, to tell a slow machine from a slow program."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return round(time.perf_counter() - t, 4)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    load_before = os.getloadavg()[0]
    calib_before = cpu_calibration_s()
    busy0 = busy_jiffies()
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    try:
        jars = spark_jars()
        os.makedirs(BUILD, exist_ok=True)
        stamp = build(jars)
        runner = run_ingest if args.workload == "ingest_serve" else run_batch
        if runner is run_batch:
            check_manifest(FIXTURE)
            registry(jars, stamp)
        # the first run in a checkout builds; the build does not eat the run's time
        deadline = time.time() + DEADLINE_S
        run_dir = os.path.join(BUILD, "runs", args.workload)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        report = Report()
        r, attempted, failed, e2e, layers, extra = runner(args, jars, stamp, cpus, run_dir, report, deadline)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)

    e2e["setup_s"] = r["setup_s"]
    report.add("setup_s", e2e["setup_s"], "s", 1, "JVM start -> first timed operation")
    report.add("session_s", r["session_s"], "s", 1, "JVM start -> session up, one tiny action run")
    report.add("peak_rss_mb", r["peak_rss_kb"] / 1024.0, "MB", 1, "JVM VmHWM")
    report.add("peak_heap_mb", r["peak_heap_mb"], "MB", 1, "largest heap left after a GC")
    report.add("heap_live_mb", r["heap_live_mb"], "MB", 1, "heap in use after full GCs, work done")
    report.add("failed_share", failed / attempted if attempted else 1.0, "ratio", attempted,
               f"{failed} failed")
    load_after = os.getloadavg()[0]
    foreign = foreign_cpu_share(busy0, start, cpus)
    info = dict(r["info"], nproc=cpus, seed=args.seed, workload=args.workload,
                commit=git_commit(), source_digest=stamp, load1_before=load_before,
                load1_after=load_after, foreign_cpu_share=foreign,
                cpu_calibration_s=[calib_before, cpu_calibration_s()],
                contaminated=load_before > 1.5 * cpus or (foreign or 0.0) > 0.25,
                run_s=round(time.time() - start, 3), **extra)
    report.print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("run " + json.dumps(info, sort_keys=True))
    if info["contaminated"]:
        print(f"WARNING: load1 {load_before:.2f} before the run and {foreign or 0:.0%} of the "
              f"CPU used by other processes during it, on {cpus} cores: the machine was busy, "
              "treat these figures as contaminated")
    names, units = (PER_LAYER, None) if args.trace else (END_TO_END, UNITS)
    source = layers if args.trace else e2e
    metrics = {}
    for n in names:
        v = source.get(n)
        metrics[n] = {"value": float(v) if v is not None else None,
                      "unit": units[n] if units else unit_of(n)}
    missing = [n for n, m in metrics.items() if m["value"] is None]
    if missing:
        log(f"metrics not measured: {missing}")
        failed += 1
    with open(os.path.join(BUILD, "runs", f"{args.workload}.last.json"), "w") as f:
        json.dump({"info": info, "metrics": metrics, "attempted": attempted, "failed": failed}, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
