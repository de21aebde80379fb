#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(perfbench/build.sbt compiles ../src/main/scala with harness/) unless the
build is current, runs the workload in one JVM on a local[nproc] Spark
session with a fresh temporary root under perfbench/target/runs, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Either way the full result (host
and config record, both metric sets as measured, details) is written to
perfbench/out/<workload>-seed<n>-trace<t>.json.

Workloads: query_suite and broker_stream (see the harness sources and
BENCHMARK.json for what each runs and why).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("query_suite", "broker_stream")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
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


def source_stamp(root):
    """Hash of every input of the build."""
    files = sorted([f for f in glob.glob(os.path.join(root, "src/main/**/*"),
                                         recursive=True) if os.path.isfile(f)]
                   + glob.glob(os.path.join(HERE, "harness/*.scala"))
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile unless the recorded classpath matches the sources.
    Returns the classpath and the stamp."""
    stamp = source_stamp(root)
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1], stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT_S)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cp = [l.strip() for l in p.stdout.splitlines() if classes in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(f"{stamp}\n{cp[-1]}\n")
    return cp[-1], stamp


def other_spark_jvms():
    """Other running JVMs with Spark on their command line: a concurrent
    Spark job skews every timing (and races on shared stores)."""
    n = 0
    for d in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(d, "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"java" in cmd and b"spark" in cmd and int(d.split("/")[2]) != os.getpid():
            n += 1
    return n


def loadavg():
    return list(os.getloadavg())


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs from /proc/stat: a
    virtual machine whose CPUs are taken away (steal) runs everything
    slower, which shows here and not in loadavg."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, harness_args, tmp, cores, name):
    """Runs the harness; returns its raw result or exits without one."""
    raw_path = os.path.join(tmp, "raw.json")
    cmd = (["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + harness_args
           + ["--data", os.path.join(HERE, "data"), "--tmp", tmp,
              "--out", raw_path, "--cores", str(cores)])
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(tmp, ignore_errors=True)
            fail("interrupted", 4)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    shutil.copy(log_path, os.path.join(HERE, "out", f"{name}.log"))
    if rc != 0 or not os.path.exists(raw_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}", 3)
    with open(raw_path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    load_start = loadavg()
    others = other_spark_jvms()
    if others:
        print(f"perfbench: warning: {others} other Spark JVM(s) running; "
              "timings are flagged", file=sys.stderr)
    cores = len(os.sched_getaffinity(0))
    cp, stamp = build(root)
    tmp = os.path.join(HERE, "target", "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    ticks0 = cpu_ticks()
    try:
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        raw = run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace)],
                      tmp, cores, name)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ticks1 = cpu_ticks()
    correct, attempted, failed, e2e, details = stats.summarize(raw)
    host = {
        "nproc": cores, "loadavg_start": load_start, "loadavg_end": loadavg(),
        "other_spark_jvms": others,
        "steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "jvm": raw["jvm"],
        "spark_version": raw["spark_version"], "commit": commit(root),
        "source_stamp": stamp, "seed": args.seed, "seconds": args.seconds,
        "confs": raw["confs"],
    }
    for k in ("rate_msgs_per_s", "backlog_msgs", "phase_a_s", "window_s"):
        if k in raw:
            host[k] = raw[k]
    e2e_out = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
               for m in spec["end_to_end"]}
    result = {"workload": args.workload, "trace": args.trace, "host": host,
              "correct": correct, "attempted": attempted, "failed": failed,
              "details": details, "end_to_end": e2e_out,
              "failures": [op for op in raw["ops"] if stats.op_failed(op)][:20],
              "ops": [{"name": op["name"], "cost_ms": stats.op_cost_ms(op),
                       "wall_ms": op["done"] - op["sched"]}
                      for op in raw["ops"] if op["done"] is not None]}
    if args.trace:
        layers = raw.get("layers", {})
        result["per_layer"] = {
            m["name"]: {"value": stats.layer_value(layers.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in spec["per_layer"]}
        result["spans"] = raw.get("spans", [])
        result["run_id"] = raw.get("run_id")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    metrics = result["per_layer"] if args.trace else e2e_out
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
