#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as a JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload catalogue_enrich --seed 1 --seconds 8 --trace 0

The first run builds the engine and the harness from source with sbt
(perfbench/build.sbt compiles ../src/main/scala together with the
harness); later runs reuse the build while the sources are unchanged.
Then it starts one JVM running graftbench.Main on 4 cores against the
bundled dataset, relays the run record and the result line to stdout,
and exits with the JVM's code. All files a run writes stay under
perfbench/.work (JVM temp dir, Spark local dir, sink output, run
records, spans, logs).

Extra options: --data sf0.001 selects another bundled dataset (the
self-test uses it); --pin 1 rewrites the pinned results of the workload
(only after cross-checking them, see README.md); --dump 1 checks each
result against its pin and writes it for crosscheck.py; --corrupt
<query> offsets one pinned hash in memory, to prove a mismatch is
reported.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.built")
CORES = 4
XMX = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (same list as ../build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return
    log("building engine + harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("[perfbench] build timed out")
    if code != 0:
        sys.exit(f"[perfbench] build failed with code {code}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--data", default="sf0.01")
    ap.add_argument("--pin", choices=["0", "1"], default="0")
    ap.add_argument("--dump", choices=["0", "1"], default="0")
    ap.add_argument("--corrupt", default=None)
    a = ap.parse_args()

    if "SPARK_HOME" not in os.environ:
        sys.exit("[perfbench] SPARK_HOME is not set; it names the Spark installation")
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"[perfbench] engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
                 "run from a full checkout")
    data = os.path.join(HERE, "data", a.data)
    if not os.path.isdir(data):
        sys.exit(f"[perfbench] no bundled dataset {a.data}")
    digest = source_digest()
    build(digest)

    # fresh scratch space per run; sink output and records are rewritten
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # no hsperfdata file: the run writes only under perfbench/.work
    # a fixed heap size: G1 otherwise resizes the heap around the
    # harness's System.gc() calls differently from run to run; six JIT
    # compiler threads (three by default on 4 cores) drain the compile
    # queue on the cores that single-task stages leave idle, so passes
    # settle sooner after the cold pass
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:CICompilerCount=6", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dderby.system.home=" + run_dir,
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars, "*"),
            "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data,
            "--expected", os.path.join(HERE, "expected", a.data + ".json"),
            "--work", run_dir, "--pin", a.pin, "--dump", a.dump, "--cores", str(CORES),
            "--commit", git_commit() + "+src:" + digest[:12], "--xmx", XMX]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", f"{a.workload}_seed{a.seed}_trace{a.trace}.log")
    t0 = time.time()
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            sys.exit(f"[perfbench] run timed out after {RUN_TIMEOUT_S}s; log: {log_path}")
    log(f"JVM exited {proc.returncode} after {time.time() - t0:.1f}s; log: {log_path}")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0:
        sys.exit(proc.returncode)
    if a.pin == "1" or a.dump == "1":
        return
    if not lines:
        sys.exit("[perfbench] no result line")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("[perfbench] malformed result line")
    # keep the run record (loadavg, nproc, heap, versions, commit, seed)
    # next to the result so a contaminated run can be told from the file
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{a.workload}_seed{a.seed}_trace{a.trace}_{int(t0)}.json"
    with open(os.path.join(records, name), "w") as fh:
        fh.write("\n".join(lines[-2:]) + "\n")
    for f in os.listdir(run_dir):
        if f.startswith("spans_"):
            shutil.copy(os.path.join(run_dir, f), os.path.join(records, name[:-5] + ".spans.jsonl"))
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
