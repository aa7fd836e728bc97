#!/usr/bin/env python3
"""Run one lake benchmark workload.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the lake and the
benchmark with sbt (offline) and caches the result under lakebench/target;
later runs launch the JVM directly. The last line of stdout is the result
object; the line before it is the full REPORT. See lakebench/DESIGN.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ("medallion_refresh", "cdc_upsert")


def fail(msg):
    print("lakebench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_command(tasks):
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    # offline, with sbt's own state inside the checkout
    return [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.global.base=" + os.path.join(TARGET, "sbt-global"),
            "-Dsbt.ivy.home=" + os.path.join(TARGET, "ivy-home"),
            "-Dsbt.server.autostart=false"] + tasks


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("not a lake checkout: %s is missing" % os.path.join(ROOT, need))
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = "-Xmx2g -Djava.io.tmpdir=" + os.path.join(TARGET, "tmp")
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    r = subprocess.run(sbt_command(["launchFile"]), cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail("build failed (sbt exit %d)" % r.returncode)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build()
    with open(LAUNCH) as f:
        lines = [l for l in f.read().splitlines() if l]
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(TARGET, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(TARGET, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 4)))
    cmd = (["java"] + jvm_opts +
           ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", classpath, "lakebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(work, "data"),
            "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    result = None
    # a run must end within its time budget, even if the JVM hangs
    watchdog = threading.Timer(170, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result = line
            else:
                print(line)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail("the run printed no result (exit %s)" % proc.returncode)
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
