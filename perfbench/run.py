#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload graph_dedup --seed 1 --seconds 15 --trace 0

Run from anywhere; paths are taken relative to this file. The first run in a
checkout builds the library and the harness from source with sbt (offline);
later runs reuse the build while no source file has changed. The harness runs
in its own JVM; its scratch files live under .bench_work/ and are removed when
the run ends; logs and trace files go to .bench_out/.

Exit codes: 0 outputs correct, 1 an output check failed (result still
printed), 2 bad arguments or no sources to build, 3 build failed, 4 the run
failed or timed out (no result printed).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("medallion", "graph_dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose content decides what the build produces."""
    files = []
    for base in (ROOT, HARNESS):
        files.append(os.path.join(base, "build.sbt"))
        project = os.path.join(base, "project")
        if os.path.isdir(project):
            files += [os.path.join(project, f) for f in sorted(os.listdir(project))
                      if f.endswith((".sbt", ".properties", ".scala"))]
        for dirpath, dirnames, filenames in os.walk(os.path.join(base, "src", "main")):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def build():
    """Compile with sbt unless the last build saw the same sources; return
    the harness classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(2, "no library sources next to the benchmark; nothing to build")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true -XX:-UsePerfData"
                       " -Djava.io.tmpdir=" + tmp +
                       " -Dsbt.global.base=" + os.path.join(BUILD_DIR, "sbt-global"))
    log = os.path.join(BUILD_DIR, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                                  stdout=fh, stderr=subprocess.STDOUT,
                                  timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(3, "build timed out; see " + log)
    if proc.returncode != 0:
        fail(3, "build failed; see " + log)
    with open(log) as fh:
        lines = [l.strip() for l in fh if os.pathsep in l and "classes" in l]
    if not lines:
        fail(3, "build printed no classpath; see " + log)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classpath = build()
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(ROOT, ".bench_work", "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", ROOT, "--work", work, "--out", OUT_DIR,
        "--cores", str(cores)]
    log = os.path.join(OUT_DIR, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(4, "interrupted")

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                    stdout=subprocess.PIPE, stderr=err, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(4, "run timed out after %d s; see %s" % (RUN_TIMEOUT_S, log))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode not in (0, 1) or not isinstance(result, dict):
        fail(4, "run failed (exit %d); see %s" % (proc.returncode, log))
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
