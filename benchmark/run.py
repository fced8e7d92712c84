#!/usr/bin/env python3
"""Same-box benchmark of the graft library: one command, two workloads.

Usage (from the repository root):

    python3 benchmark/run.py --workload query_suite --seed 1 --seconds 40 --trace 0

Builds the library and the benchmark harness from source (sbt, offline) on
first use, runs one workload in one JVM on local[4], checks every output
against benchmark/reference.json and prints a summary. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the span file is written to .bench_build/.

Each workload does a fixed amount of work (see workloads.json), so that two
commits are compared on the same work; --seconds is accepted and ignored.

See benchmark/README.md for the workloads, the metrics and the baseline.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
DEADLINE_S = 175
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src", "main", "scala")):
        for d, _, fs in os.walk(top):
            for f in fs:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def spark_home():
    """The Spark installation whose jars the build links against."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("no Spark installation: set SPARK_HOME")


def build():
    """Compile with sbt (offline) unless the classpath is newer than every
    source; returns the runtime classpath and whether it built."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) > newest:
        return open(cp_file).read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.server.forcestart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    log("building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(os.path.join(BUILD, "build.log")).read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    return cp[-1], True


def run_jvm(cp, wl, args, raw_path, span_path, work, timeout_s):
    cfg = WORKLOADS[wl]
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    # a fixed heap size, so G1's heap sizing does not vary between runs
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    params = {
        "workload": wl, "seed": str(args.seed), "trace": str(args.trace),
        "data": os.path.join(HERE, "data", "sf0.1"),
        "work": work, "out": raw_path, "spans": span_path,
    }
    params.update({k: str(v) for k, v in cfg["params"].items()})
    if wl == "query_suite":
        params["queries"] = ",".join(cfg["queries"])
    cmd = jvm + ["-cp", cp, "graftbench.Bench"]
    for k, v in params.items():
        cmd += [f"--{k}", v]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    steal0 = cpu_steal()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"workload {wl} exceeded {timeout_s:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited with {rc}")
    steal1 = cpu_steal()
    return (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])


def cpu_steal():
    """(steal, total) jiffies from /proc/stat: the share of CPU time the
    host gave to others while the run wanted it."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7], sum(xs)
    except (OSError, IndexError, ValueError):
        return 0, 0


def measure(cp, args, raw_path, span_path, deadline):
    """Runs the JVM once; returns its raw record and the CPU steal."""
    steal = run_jvm(cp, args.workload, args, raw_path, span_path,
                    os.path.join(BUILD, "work"), deadline - time.time())
    log(f"cpu steal during the run: {steal:.1%}")
    return json.load(open(raw_path)), steal


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("library sources (src/main/scala/graft) not found: "
                         "run from the root of a repository checkout")
    raw_path = os.path.join(BUILD, f"raw-{args.workload}.json")
    span_path = os.path.join(BUILD, f"spans-{args.workload}.jsonl")
    cp, built = build()
    # a first run may build for minutes; its measurement gets the whole
    # deadline after the build
    deadline = (time.time() if built else t_start) + DEADLINE_S
    ref = json.load(open(os.path.join(HERE, "reference.json")))
    # the tracing overhead is this traced run minus the last correct
    # untraced run of the same workload in this checkout; without one, an
    # untraced run with the same seed comes first
    last = os.path.join(BUILD, f"e2e-{args.workload}.json")
    untraced = None
    if args.trace:
        if not os.path.exists(last):
            log("no untraced run to compare with: running one first")
            plain = argparse.Namespace(**dict(vars(args), trace=0))
            raw, _ = measure(cp, plain, raw_path, span_path, deadline)
            res = metrics.summarize(raw, ref)
            if not res["correct"]:
                raise SystemExit("the untraced run failed its output checks")
            with open(last, "w") as f:
                json.dump(res["e2e"], f)
        untraced = json.load(open(last))
    raw, steal = measure(cp, args, raw_path, span_path, deadline)
    result = metrics.summarize(raw, ref, span_path if args.trace else None, untraced)
    result["detail"]["cpu_steal"] = steal
    if not args.trace and result["correct"]:
        with open(last, "w") as f:
            json.dump(result["e2e"], f)
    for line in metrics.describe(result):
        print(line)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
