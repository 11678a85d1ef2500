#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload stream|curate \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the JVM side
(perfbench/build.sbt) into .bench_build/; later runs reuse the build until
a source file changes. Inputs are generated from the seed, the JVM side
(perfbench/src) drives graft's public entry points on local[nproc], and
every output is checked against DuckDB before any number is printed. A
mismatch exits 1 without a result line.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same workload
with span tracing and Spark listeners on and prints the per-layer metrics.
The last run's inputs, tables and record (with the span tree of a traced
run) stay in .bench_build/run/ until the next run starts.
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
SOURCES = os.path.join(ROOT, "src", "main", "scala")
TIME_LIMIT_S = 170
HEAP = "4g"

WORKLOADS = ("stream", "curate")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def source_stamp():
    h = hashlib.sha256()
    for top in (SOURCES, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile graft plus the JVM side with sbt; cache the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            timeout=850)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def make_inputs(workload, seed, seconds, inputs_dir):
    sys.path.insert(0, HERE)
    import inputs
    if workload == "curate":
        inputs.write_operator_tables(seed, inputs_dir)
    else:
        inputs.write_medallion(seed, inputs_dir, seconds)


def run_jvm(cp, args, log_path, deadline):
    cmd = ["java", f"-Xmx{HEAP}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("JVM side exceeded the time limit", 1)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail(f"JVM side exited {rc}", 1)


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None where it is absent.
    Steal is time the host gave this VM's CPUs to others; a run that saw
    much of it reads slow for reasons outside the program."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


def pct(xs, p):
    """Percentile with linear interpolation between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measured(rec):
    """Operations inside the measured window (set-up and warm-up excluded)."""
    return [o for o in rec["ops"]
            if o["kind"] != "setup" and o["start_ms"] >= rec["first_op_ms"]]


def end_to_end(rec, workload):
    """Returns (metrics, attempted, failed)."""
    ops = measured(rec)
    window = rec["window_s"]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    # A failed operation misses every latency limit: it enters the
    # latency samples at the length of the whole run.
    lat = lambda o: o["dur_s"] if o["ok"] else max(window, o["dur_s"])
    if workload == "stream":
        # per event: from its file's due time to the return of the gold
        # commit that holds it
        samples = []
        for f in rec["stream_files"]:
            fresh = ((f["committed_ms"] - f["due_ms"]) / 1e3
                     if f["committed_ms"] is not None else window)
            samples += [fresh] * f["events"]
        p50, tail = pct(samples, 50), pct(samples, 90)
    else:
        # per gate, the median of its timed runs; p50 is their geometric
        # mean and the tail the slowest gate
        medians = {}
        for o in ops:
            medians.setdefault(o["name"], []).append(lat(o))
        medians = [median(v) for v in medians.values()]
        p50, tail = geomean(medians), max(medians)
    metrics = {
        # the stream's sleep to its trigger grid is left out: its length
        # depends only on the clock's phase at start
        "setup_s": ((rec["first_op_ms"] - rec["start_ms"]
                     - rec.get("grid_wait_ms", 0)) / 1e3, "s"),
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail, "s"),
        "ok_share": ((attempted - failed) / attempted, "ratio"),
    }
    return metrics, attempted, failed


def per_layer(rec, trace, fixture_s, e2e):
    """Per-layer metrics from the traced run's ops, spans and progress.
    Layers a workload does not exercise read 0."""
    ops = measured(rec)
    by_id = {s["id"]: s for s in trace}
    spans = [(o, by_id[o["span"]]) for o in ops if o["span"] in by_id]

    def of(kind):
        return [o for o in ops if o["kind"] == kind]

    def span_counter(kind, k):
        return [s["counters"].get(k, 0.0) for o, s in spans if o["kind"] == kind]
    batches, reads, gates = of("microbatch"), of("read"), of("gate")
    main = "microbatch" if batches else "gate"
    main_spans = [s for o, s in spans if o["kind"] == main]
    stage_runs = [st for o in batches for st in o.get("stages", [])]

    def stage_ms(stage):
        return median([st["ms"] for st in stage_runs if st["stage"] == stage])
    lake = [o["lake"] for o in batches if o.get("lake")]
    events = sum(o["units"] for o in batches)
    skews = []
    for s in main_spans:
        t = [x for x in s["task_ms"] if x > 0]
        if t:
            skews.append(max(t) / statistics.median(t))
    read_plans = [o["plan"] for o in reads if o.get("plan")]
    plans = read_plans + [o["plan"] for o in gates if o.get("plan")]
    ids = {int(o["name"][2:]) for o in batches}
    prog = [p for p in rec.get("progress", []) if p["batch_id"] in ids]
    landed = {f["file"]: f["landed_ms"] for f in rec.get("stream_files", [])}
    lags = []
    for o in batches:
        read = [landed[f] for f in o.get("files", []) if f in landed]
        before = [t for t in landed.values() if t <= o["start_ms"]]
        if read and before:
            lags.append(max(0.0, (max(before) - max(read)) / 1e3))
    ok_reads = [o["dur_s"] for o in reads if o["ok"]]
    fam = {}
    for o in gates:
        if o["ok"]:
            fam.setdefault(o["family"], []).append(o["dur_s"])

    def progress(k):
        return median([p.get(k, 0) for p in prog])
    m = {
        "pipeline.batch_s": (median([o["dur_s"] for o in batches if o["ok"]]), "s"),
        "pipeline.bronze_ms": (stage_ms("bronze"), "ms"),
        "pipeline.silver_ms": (stage_ms("silver"), "ms"),
        "pipeline.gold_ms": (stage_ms("gold"), "ms"),
        "pipeline.attempts": (statistics.mean([st["attempts"] for st in stage_runs])
                              if stage_runs else 0.0, "count"),
        "lake.bytes_written_per_event": (
            sum(x["bytes_written"] for x in lake) / events if events else 0.0, "B"),
        "lake.files_written_per_batch": (
            statistics.mean([x["files_written"] for x in lake]) if lake else 0.0, "count"),
        "lake.bytes_live_per_event": (
            lake[-1]["bytes_live"] / rec["events_live"] if lake else 0.0, "B"),
        "lake.files_live": (lake[-1]["files_live"] if lake else 0, "count"),
        "quality.checks_per_batch": (median(span_counter("microbatch", "quality_checks")), "count"),
        "quality.jobs_per_batch": (median(span_counter("microbatch", "quality_jobs")), "count"),
        "quality.ms_per_batch": (median(span_counter("microbatch", "quality_ms")), "ms"),
        "spark.jobs": (median(span_counter(main, "jobs")), "count"),
        "spark.stages": (median(span_counter(main, "stages")), "count"),
        "spark.tasks": (median(span_counter(main, "tasks")), "count"),
        "spark.cpu_s": (median(span_counter(main, "cpu_s")), "s"),
        "spark.run_s": (median(span_counter(main, "run_s")), "s"),
        "spark.gc_s": (median(span_counter(main, "gc_s")), "s"),
        "spark.shuffle_write_bytes": (median(span_counter(main, "shuffle_write_bytes")), "B"),
        "spark.spill_bytes": (median(span_counter(main, "spill_bytes")), "B"),
        "spark.task_skew": (median(skews), "ratio"),
        "spark.exchanges": (median([p["exchanges"] for p in plans]), "count"),
        "streaming.trigger_ms": (progress("ms.triggerExecution"), "ms"),
        "streaming.add_batch_ms": (progress("ms.addBatch"), "ms"),
        "streaming.get_batch_ms": (progress("ms.getBatch"), "ms"),
        "streaming.query_planning_ms": (progress("ms.queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (progress("ms.walCommit"), "ms"),
        "streaming.rows_per_batch": (progress("rows"), "count"),
        "streaming.input_lag_s": (median(lags), "s"),
        "streaming.drain_s": (rec.get("drain_s", 0.0), "s"),
        "serving.read_p50_s": (median(ok_reads), "s"),
        "serving.read_p90_s": (pct(ok_reads, 90) if ok_reads else 0.0, "s"),
        "serving.reads_per_s": (len(ok_reads) / rec["window_s"], "1/s"),
        "serving.read_failures": (sum(1 for o in reads if not o["ok"]), "count"),
        "serving.plan_ms": (median([p["plan_ms"] for p in read_plans]), "ms"),
        "serving.exec_ms": (median([o["dur_s"] * 1e3 - o["plan"]["plan_ms"]
                                    for o in reads if o.get("plan")]), "ms"),
        "serving.files_scanned": (median([p["files_scanned"] for p in read_plans]), "count"),
        "serving.bytes_scanned": (median([p["bytes_scanned"] for p in read_plans]), "B"),
        "sources.fixture_s": (fixture_s, "s"),
        "traced.latency_p50_s": (e2e["latency_p50_s"][0], "s"),
    }
    for f in ("dedup", "ann", "graphs"):
        m[f"operators.{f}_s"] = (median(fam.get(f, [])), "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        fail(f"graft sources not found under {SOURCES}; run from a full checkout")
    jars = spark_jars()
    cp = build(jars)

    start = time.time()
    deadline = start + TIME_LIMIT_S
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs_dir, work_dir = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(work_dir)
    make_inputs(a.workload, a.seed, a.seconds, inputs_dir)
    fixture_s = time.time() - start
    out = os.path.join(run_dir, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs_dir, "--work", work_dir, "--out", out]
    t_jvm = time.time()
    ticks = cpu_ticks()
    run_jvm(cp, args, os.path.join(run_dir, "jvm.log"), deadline)
    t_checks = time.time()
    if ticks and cpu_ticks():
        (s0, n0), (s1, n1) = ticks, cpu_ticks()
        print(f"perfbench: host steal {100 * (s1 - s0) / max(1, n1 - n0):.1f}% of CPU time "
              "during the run", file=sys.stderr)
    with open(out) as fh:
        rec = json.load(fh)
    rec["start_ms"] = start * 1000

    # output checks: any mismatch fails the run before a number is printed
    import checks
    lake = rec.get("lake")
    if a.workload == "stream":
        delivered = (f"SELECT * EXCLUDE (file) FROM read_parquet('{inputs_dir}/stream_events.parquet') "
                     f"WHERE file < {rec['files_delivered']}")
        errors = checks.medallion(lake, delivered) + checks.reads(lake, rec["reads_dir"])
        if not rec["drained"]:
            errors.append("stream: gold did not receive every landed file")
    else:
        errors = checks.gates(os.path.join(inputs_dir, "sf"), rec["gates_dir"])
        errors += [f"{o['name']}: a timed run's result differs from the checked one"
                   for o in rec["ops"] if o["kind"] == "gate" and o["ok"] and not o["matches"]]
    if errors:
        for e in errors:
            print(f"perfbench: output check failed: {e}", file=sys.stderr)
        sys.exit(1)

    print(f"perfbench: inputs {t_jvm - start:.1f}s, jvm {t_checks - t_jvm:.1f}s, "
          f"checks {time.time() - t_checks:.1f}s", file=sys.stderr)
    e2e, attempted, failed = end_to_end(rec, a.workload)
    classes = {}
    for o in measured(rec):
        if not o["ok"]:
            classes[o["error"]] = classes.get(o["error"], 0) + 1
    print(f"perfbench: {failed} of {attempted} operations failed {classes}", file=sys.stderr)
    if a.trace:
        with open(out + ".trace.json") as fh:
            trace = json.load(fh)
        if lake:
            import duckdb
            rec["events_live"] = duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{lake}/{checks.SILVER}/*.parquet')").fetchone()[0]
        metrics = per_layer(rec, trace, fixture_s, e2e)
    else:
        metrics = e2e
    print(json.dumps({
        "correct": True, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
