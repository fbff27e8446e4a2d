#!/usr/bin/env python3
"""One seeded benchmark run of one workload.

    python3 perfbench/run.py --workload api_serving --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (sbt, offline; cached in
`.bench_build/` by a hash of the sources), generates the fixed tables,
runs the workload in one JVM, checks every output, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
A human-readable summary with machine context goes to stderr.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("api_serving", "tick_stream")
DATA_SF = 0.01  # scale factor of the generated tables
JVM_HEAP = "3g"
RUN_LIMIT_S = 170  # the whole run, build excluded, stays under this

END_TO_END = {
    "latency_p50_ms": "ms", "latency_p70_ms": "ms", "throughput_per_s": "1/s",
    "setup_s": "s", "peak_rss_mb": "MB", "store_mb": "MB",
}
# Names the workloads give the shared end-to-end metrics, for the summary.
ALIASES = {
    "api_serving": {"latency_p50_ms": "api_latency_p50_ms",
                    "latency_p70_ms": "api_latency_p70_ms",
                    "throughput_per_s": "api_requests_per_s"},
    "tick_stream": {"latency_p50_ms": "stream_freshness_p50_ms",
                    "latency_p70_ms": "stream_freshness_p70_ms",
                    "throughput_per_s": "stream_drain_ticks_per_s"},
}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build compiles, or None without sources."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(main_src, "graft", "SparkEntry.scala")):
        return None
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (main_src, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the build compiles against: the
    first `spark-submit` on PATH that sits next to Spark's `jars/`."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))):
            return home
    raise SystemExit("no Spark installation found: set SPARK_HOME")


def build(tree):
    """Compile with sbt unless this source tree was built already; return
    the runtime classpath."""
    stamp = os.path.join(BUILD, "built.sha")
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == tree and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        env["SPARK_HOME"] = spark_home()
    # no JVM perf-data files in the system temp dir (sbt's own java probes too)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # every directory sbt writes to stays inside the checkout
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD}/sbt-global", f"-Dsbt.boot.directory={BUILD}/sbt-boot",
           f"-Dsbt.ivy.home={BUILD}/ivy", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "compile", "writeClasspath"]
    log("building: " + " ".join(cmd[-2:]))
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        with open(os.path.join(BUILD, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build failed (exit {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(tree)
    return open(cp_file).read().strip()


def data_dir():
    d = os.path.join(BUILD, "data", f"sf{DATA_SF}")
    datagen.write(DATA_SF, d)
    return d


def run_jvm(classpath, args, run_dir, limit_s):
    cores = len(os.sched_getaffinity(0))
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "state", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData"]
           + opens + ["-cp", classpath, "perfbench.Main"]
           + [args.workload, str(args.seed), str(args.seconds), str(args.trace), str(cores),
              data_dir(), run_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log_f:
        proc = subprocess.Popen(cmd, stdout=log_f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir, start_new_session=True)
        try:
            rc = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: the JVM never outlives this process
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    return cores


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    tree = source_hash()
    if tree is None:
        raise SystemExit("program sources (src/main/scala) not found next to perfbench/")
    classpath = build(tree)
    t_start = time.time()
    machine = {"load1_start": os.getloadavg()[0], "nproc": len(os.sched_getaffinity(0))}
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cores = run_jvm(classpath, args, run_dir, RUN_LIMIT_S - (time.time() - t_start))
        machine["load1_end"] = os.getloadavg()[0]
        with open(os.path.join(run_dir, "raw.json")) as f:
            raw = json.load(f)

        wrong = {}
        keys = raw["counters"].get("checked_keys", [])
        if keys:
            with open(os.path.join(run_dir, "oracle_sql.json")) as f:
                sql = json.load(f)
            t_oracle = time.time()
            wrong = oracle.check(data_dir(),
                                 os.path.join(run_dir, "results"), sql, keys)
            log(f"oracle check: {len(keys)} keys in {time.time() - t_oracle:.1f} s")
        for k, why in sorted(wrong.items()):
            log(f"WRONG {k}: {why}")
        attempts = raw["attempts"]
        attempted = sum(attempts.values())
        failed = stats.failed_count(attempts, raw["failures"], wrong)
        correct = failed == 0 and not wrong and not raw["failures"]

        if args.trace:
            metrics = stats.per_layer(raw, cores, machine)
            units = stats.PER_LAYER_UNITS
            keep = os.path.join(BUILD, "traces", f"{args.workload}-s{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("raw.json", "metrics.prom"):
                if os.path.exists(os.path.join(run_dir, f)):
                    shutil.copy(os.path.join(run_dir, f), keep)
        else:
            metrics = stats.end_to_end(raw)
            units = END_TO_END
        c = raw["counters"]
        summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "tree_sha": tree[:16], "machine": machine,
                   "canary_ms": [c.get("canary_start_ms"), c.get("canary_end_ms")],
                   "setup_s": raw["samples"].get("setup_s"),
                   "counters": {k: v for k, v in c.items() if isinstance(v, (int, float))},
                   "ops": {k: len(v) for k, v in raw["samples"].items()},
                   "wall_s": round(time.time() - t_start, 1),
                   "failures": raw["failures"], "wrong": wrong,
                   "as_named": {ALIASES[args.workload].get(k, k): v for k, v in metrics.items()
                                if not args.trace}}
        log("summary " + json.dumps(summary))
        # the machine context of every run, kept for classifying results later
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results",
                               f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(summary, f)
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
