#!/usr/bin/env python3
"""Build the program with the benchmark, then run one benchmark run.

    python3 perfbench/run.py --workload corpus_fold --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout that holds the program's sources. The
build (sbt, against the Spark jars under SPARK_HOME) goes to .bench_build/
and is reused while no source changes; run data goes to .bench_work/ and
is removed afterwards; span files and logs go to .bench_out/. The last
line of standard output is the run's JSON result.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["mover_fanout", "corpus_fold"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath for these sources exists."""
    stamp = source_stamp()
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read().strip() == stamp:
                with open(cp_f) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    cps = [l for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath (log: {log})")
    with open(cp_f, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    if not os.path.isfile(os.path.join(PROGRAM, "graft", "Graft.scala")):
        fail(f"program sources not found under {PROGRAM}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    run_id = f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--work", os.path.join(work, "data"), "--out", OUT]
    err_log = os.path.join(OUT, f"stderr_{run_id.rsplit('-', 1)[0]}.log")
    lines = []
    timed_out = threading.Event()
    with open(err_log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                             stderr=err, stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)

        def kill():
            timed_out.set()
            os.killpg(p.pid, signal.SIGKILL)

        watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
        watchdog.start()
        try:
            for line in p.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                if not line.startswith("{"):
                    print(line, flush=True)
            code = p.wait()
        except KeyboardInterrupt:
            kill()
            p.wait()
            raise
        finally:
            watchdog.cancel()
    if timed_out.is_set():
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run did not finish within {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(err_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run exited with code {code} (stderr: {err_log})")
    results = [l for l in lines if l.startswith("{")]
    if not results:
        fail("run printed no result")
    result = json.loads(results[-1])
    if not a.selftest and set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {results[-1]}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
