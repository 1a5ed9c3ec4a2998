#!/usr/bin/env python3
"""Benchmark of the graft campaign engine and operator registry.

Usage, from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--queries all]

Workloads: campaign, operator_registry (see README.md).

The first run builds the program and the benchmark from source with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The run generates its inputs from the seed, runs the workload in
one JVM, checks the outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. The full run record (failures
with their exceptions, checks, and in traced runs the layer detail, spans and
per-query records) is written to perfbench/out/.
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
WORKLOADS = ["campaign", "operator_registry"]
RUN_LIMIT_S = 170  # a run must end within 180 s
FULL_REGISTRY_LIMIT_S = 3600  # --queries all is outside that budget
BUILD_LIMIT_S = 840
HEAP = "-Xmx4g"


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log_path):
    """Returns the launch lines (JVM options, then the classpath)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "launch.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch) as f:
                    return f.read().splitlines()
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log_path, "w") as log:
        try:
            # no launcher lock, no sbt server, no JVM perf data, and an ivy
            # home and temp directories of its own: the build writes only
            # inside the checkout (dependencies resolve offline from the
            # coursier cache)
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.boot.lock=false", "-Dsbt.server.autostart=false",
                                f"-Dsbt.ivy.home={os.path.join(HERE, 'target', 'ivy2')}",
                                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                                "benchLaunch"],
                               cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S,
                               env={**os.environ, "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"})
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if r.returncode != 0 or not os.path.exists(launch):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as f:
        return f.read().splitlines()


def run_jvm(cmd, log_path, limit_s):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", choices=["sample", "all"], default="sample")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not here", 2)

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    try:
        launch = build(os.path.join(work, "build.log"))
        t0 = time.monotonic()
        if a.workload == "campaign":
            subprocess.run([sys.executable, os.path.join(HERE, "gen_campaign.py"),
                            os.path.join(work, "inputs"), str(a.seed),
                            os.path.join(work, "cache")], check=True, timeout=120)
        cores = len(os.sched_getaffinity(0))
        record_path = os.path.join(work, "record.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, *launch[:-1], HEAP, "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", launch[-1], "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--cores", str(cores), "--work", work,
               "--data", os.path.join(HERE, "data", "sf0.01"), "--out", record_path,
               "--queries", a.queries]
        jvm_log = os.path.join(work, "jvm.log")
        limit = RUN_LIMIT_S if a.queries == "sample" else FULL_REGISTRY_LIMIT_S
        code = run_jvm(cmd, jvm_log, limit - (time.monotonic() - t0))
        if code != 0 or not os.path.exists(record_path):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail("timed out" if code is None else f"benchmark JVM exited with {code}")
        with open(record_path) as f:
            record = json.load(f)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-all" if a.queries == "all" else "")
        with open(os.path.join(out_dir, name + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        shutil.copyfile(jvm_log, os.path.join(out_dir, name + ".log"))
        for fl in record["failures"]:
            print(f"FAILED {fl['name']}: {fl['error']}")
        for c in record["checks"]:
            print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['check']} {c['detail']}")
        for k, v in record.get("layers", {}).items():
            print(f"layer {k} = {v}")
        print(json.dumps(record["result"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
