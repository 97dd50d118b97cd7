#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness if their sources changed (see build.py),
runs one workload in a fresh JVM and prints, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics, taken from a traced run. The full report
(provenance, planted input properties, workload-named metrics, span summary) is
written to .bench_build/results/.

    python3 perfbench/run.py --selftest   # generator and check tests
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lab_etl", "dashboard", "neardup_ingest")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm_command(classpath, work, args):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Skipping bytecode verification of the (trusted) classpath shortens JVM
    # start-up and set-up by about 2 s on 4 cores; it leaves steady-state
    # execution unchanged.
    opts += [
        "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC",
        "-XX:+UnlockDiagnosticVMOptions", "-XX:-BytecodeVerificationRemote",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
    ]
    return ["java"] + opts + ["-cp", ":".join(classpath), "graft.perfbench.Main"] + args


def run_jvm(cmd):
    """Run the JVM, passing its stdout through; kill it on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=build.ROOT)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if time.monotonic() > deadline:
                raise subprocess.TimeoutExpired(cmd, JVM_TIMEOUT_S)
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[run] JVM exceeded {JVM_TIMEOUT_S}s and was killed", file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    load1 = os.getloadavg()[0]

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[run] build failed: {e}", file=sys.stderr)
        return 2

    if a.selftest:
        return run_jvm(jvm_command(classpath, os.path.join(build.OUT, "selftest"), ["--selftest"]))

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.OUT, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report_path = os.path.join(work, "report.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--report", report_path]
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    try:
        code = run_jvm(jvm_command(classpath, work, args))
        if code != 0:
            return code
        with open(report_path) as fh:
            report = json.load(fh)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(results, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(build.OUT, "engine-classes.stamp")) as fh:
        engine_sha = fh.read().strip()
    report["provenance"].update({
        "load1_before_start": load1,
        "nproc": os.cpu_count(),
        "git_commit": git_commit(),
        "engine_sources_sha256": engine_sha,
        "seed": a.seed,
    })
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps({k: report[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
