"""Workflow benchmark for graft: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Builds the benchmark (and graft, from this checkout's sources) with sbt on
first use, generates the workload's inputs from the seed, runs them through
graft in one JVM on local[4], checks the outputs, and prints the metrics.
The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). The full run record is kept under perfbench/.work/runs/ for
compare.py. Exit code 0 only when every output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen    # noqa: E402
import stats  # noqa: E402

WORKLOADS = stats.BENCHMARK_WORKLOADS
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")
JVM_TIMEOUT_S = 165
UNITS = {"setup_s": "s", "op_cpu_s": "s", "items_per_cpu_s": "1/s", "cycle_cpu_s": "s",
         "peak_rss_mb": "MB", "op_p50_s": "s", "op_p75_s": "s", "items_per_s": "1/s",
         "cycle_s": "s"}
# JDK 17 module opens Spark needs outside spark-submit (graft's build uses the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- box fingerprint -------------------------------------------------------

def calibrate():
    """Seconds for a fixed single-thread integer loop (a CPU-speed probe)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return round(time.perf_counter() - t0, 4)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def fingerprint():
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    steal, total = cpu_ticks()
    return {"nproc": len(os.sched_getaffinity(0)), "load_1m": os.getloadavg()[0],
            "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
            "calibrate_s": calibrate(), "steal_ticks": steal, "cpu_ticks": total}


# ---- build -----------------------------------------------------------------

def _source_files():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    log("perfbench: building with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


# ---- one run ---------------------------------------------------------------

def run_jvm(classpath, args, work, log_path):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed heap and young generation keep peak RSS from varying with
    # adaptive sizing: each heap expansion hands eden fresh, untouched
    # regions, which read as a few hundred MB more RSS in some runs only
    cmd = [java, *opens, "-Xms3g", "-Xmx3g", "-Xmn768m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graftbench.Bench", *args]
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(work, "local"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    os.makedirs(env["GRAFT_LOCAL_DIR"], exist_ok=True)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            # on a timeout, or when this runner is itself stopped, take the
            # JVM down with it and wait for it to end
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def _stop(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser(description="graft workflow benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default="", choices=("", "l2_row", "erasure"),
                    help="deliberately corrupt an output to show the checks catch it")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log("perfbench: graft sources not found next to the benchmark (%s)" % need)
            return 2
    fp_start = fingerprint()
    classpath = build()

    work = os.path.join(HERE, ".work", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace,
                                                          os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        input_dir = os.path.join(work, "input")
        digest, planted = gen.generate(a.workload, a.seed, input_dir)
        record_path = os.path.join(work, "record.json")
        args = ["--workload", a.workload, "--input", input_dir, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--record", record_path]
        if a.corrupt:
            args += ["--corrupt", a.corrupt]
        jvm_log = os.path.join(work, "jvm.log")
        rc = run_jvm(classpath, args, work, jvm_log)
        if rc != 0 or not os.path.exists(record_path):
            with open(jvm_log) as f:
                log(f.read()[-6000:])
            log("perfbench: benchmark JVM %s" % ("timed out" if rc is None else "exit %s" % rc))
            return 3
        with open(record_path) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    fp_end = fingerprint()
    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    correct = rec["failed"] == 0 and not failed_checks
    # wall-clock figures of untraced runs only: a traced run times its calls
    # with the listener attributing jobs
    wall = {} if a.trace else {
        k: round(v, 6) for k, v in stats.wall_clock(a.workload, rec).items()}
    overhead = stats.overhead_ratio(rec["spans"]) if a.trace else None
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in stats.per_layer(rec).items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in stats.end_to_end(a.workload, rec).items()}
    run = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
           "fingerprint": {"start": fp_start, "end": fp_end,
                           "steal_share": round((fp_end["steal_ticks"] - fp_start["steal_ticks"])
                                                / max(1, fp_end["cpu_ticks"] - fp_start["cpu_ticks"]),
                                                4)},
           "inputs": {"digest": digest, **planted},
           "counters": rec["counters"],
           "samples_s": span_samples(rec["spans"]),
           "self_s": span_self_times(rec["spans"]),
           "failed_checks": failed_checks[:20],
           "spans": rec["spans"], "jobs": rec["jobs"],
           "correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
           "wall_clock": wall, "trace_overhead_ratio": overhead, "metrics": metrics}
    runs = os.path.join(HERE, ".work", "runs")
    os.makedirs(runs, exist_ok=True)
    name = "%s_t%d_s%d_%d.json" % (a.workload, a.trace, a.seed, int(time.time() * 1000))
    with open(os.path.join(runs, name), "w") as f:
        json.dump(run, f, indent=1)

    print("inputs: " + json.dumps(run["inputs"]))
    print("fingerprint: " + json.dumps(run["fingerprint"]))
    print("counters: " + json.dumps(rec["counters"]))
    print("span samples (s): " + json.dumps(run["samples_s"]))
    print("span self time, median (s): " + json.dumps(run["self_s"]))
    for k, v in wall.items():
        print("%-40s %14.6g %s   (wall clock, not gated)" % (k, v, UNITS[k]))
    for k, m in metrics.items():
        print("%-40s %14.6g %s" % (k, m["value"], m["unit"]))
    if a.trace:
        print("tracing overhead (traced / untraced time of the same call): %.4f" % overhead)
    for c in failed_checks[:20]:
        print("FAILED CHECK %s: %s" % (c["name"], c["detail"]))
    print("correctness: %s (%d attempted, %d failed)" % (
        "PASS" if correct else "FAIL", rec["attempted"], rec["failed"]))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0 if correct else 1


def span_samples(spans):
    """span name -> durations (s) of the run's untraced spans, in order."""
    by = {}
    for s in spans:
        if not s["traced"]:
            by.setdefault(s["name"], []).append(round(s["dur_s"], 4))
    return by


def span_self_times(spans):
    """span name -> median self time (s): wall not covered by child spans,
    e.g. the sweep bookkeeping of runBackfill around its runDs calls."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(stats.self_time(s, kids.get(s["id"], [])))
    return {k: round(stats.median(v), 4) for k, v in by.items()}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".jobs") or name.endswith(".files"):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
