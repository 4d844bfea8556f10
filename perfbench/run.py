#!/usr/bin/env python3
"""Benchmark entry point: builds the library and the harness from this
checkout, runs one workload in a fresh JVM and prints its JSON result last.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Build outputs, scratch space and trace
spans go under `.bench_build/` there; the scratch space is removed when the
run ends. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl_bulk", "daemon_cycle")
RUN_LIMIT_S = 170  # the JVM part of one run, after any build
BUILD_LIMIT_S = 700  # the first run, build included, must end within 900 s
HEAP = "4g"
# Spark on JDK 17 needs these outside spark-submit (the library's build.sbt
# passes the same list to its forked tests).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, as paths relative to the checkout."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(out)


def build():
    """Compiles when any source changed since the last build; returns the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
    lines = [l for l in r.stdout.splitlines() if l.startswith(os.sep) and ".jar" in l]
    if r.returncode != 0 or not lines:
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources at src/main/scala: run from a full checkout")
    # every number must measure the default code path
    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if knobs:
        fail("refusing to record with A/B knobs set: " + ", ".join(knobs))

    cp = build()
    work = os.path.join(BUILD, "work", "%s-%d" % (a.workload, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(BUILD, "spans", "%s-seed%d.jsonl" % (a.workload, a.seed))
    cmd = (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o)] +
           ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work,
            "--reference", os.path.join(HERE, "reference.json"),
            "--spans", spans, "--git-sha", git_sha()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    last = None
    try:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, text=True, start_new_session=True)

        def stop():
            # SIGTERM first so the JVM's shutdown hooks remove its temp dirs
            for sig, grace in ((signal.SIGTERM, 8), (signal.SIGKILL, 0)):
                try:
                    os.killpg(p.pid, sig)
                except ProcessLookupError:
                    return
                deadline = time.time() + grace
                while time.time() < deadline and p.poll() is None:
                    time.sleep(0.2)

        watchdog = threading.Timer(RUN_LIMIT_S, stop)
        watchdog.start()
        try:
            for line in p.stdout:
                if last is not None:
                    print(last, flush=True)
                last = line.rstrip("\n")
            rc = p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                stop()
            p.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    try:
        result = json.loads(last or "")
    except ValueError:
        result = None
    if rc != 0 or not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        if last is not None:
            print(last, flush=True)
        fail("the JVM exited with code %d without a result" % rc)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
