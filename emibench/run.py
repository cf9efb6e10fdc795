#!/usr/bin/env python3
"""Benchmark of the emission ETL and the lakehouse core.

Run from the root of a checkout:

    python3 emibench/run.py --workload etl_daily --seed 1 --seconds 45 --trace 0
    python3 emibench/run.py --selftest

A run performs its workload's fixed schedule of cycles; `--seconds` is
accepted and does not change it. The first run builds the benchmark (its own sbt project, which compiles
the program's sources with its own) offline; later runs reuse the build
while the sources are unchanged. Each run is one fresh JVM working in a
fresh temporary directory inside the checkout, removed afterwards. The
last line of standard output is the run's JSON result.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "emibench-build-stamp")
CLASSPATH = os.path.join(TARGET, "run-classpath.txt")
ARCHIVE = os.path.join(TARGET, "emibench.jsa")
RUNS = os.path.join(ROOT, ".emibench_runs")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "1536m"
WORKLOADS = ("etl_daily", "lake")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("emibench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        extra = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            extra += ["-Dsbt.override.build.repos=true",
                      "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = (opts + " " + " ".join(extra)).strip()
    print("emibench: building (sbt compile)", file=sys.stderr)
    try:
        done = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die("build failed: %s" % e)
    if done.returncode != 0:
        die("build failed (sbt exit %d)" % done.returncode)
    train()
    with open(STAMP, "w") as fh:
        fh.write(digest)


def train():
    """Write the class-data-sharing archive every measured run starts
    from. A cold JVM spends much of a run's set-up loading and verifying
    Spark's classes; the archive holds them ready. Without an archive
    (training failed) runs still work, only slower."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    print("emibench: writing the class archive", file=sys.stderr)
    tmp = fresh_tmp()
    try:
        code, _ = run_java("emibench.Train", [os.path.join(tmp, "work")], tmp,
                           ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    finally:
        cleanup(tmp)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        print("emibench: no class archive (training exit %d)" % code, file=sys.stderr)


def java_cmd(main, args, tmp, flags):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = []
    for p in JDK17_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    jtmp = os.path.join(tmp, "java-tmp")
    os.makedirs(jtmp, exist_ok=True)
    # a fixed heap and the serial collector: no concurrent collector
    # threads competing with the run for the machine's cores
    if not flags and os.path.exists(ARCHIVE):
        flags = ["-XX:SharedArchiveFile=" + ARCHIVE]
    return [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseSerialGC"] + flags + opens + [
        "-Djava.io.tmpdir=" + jtmp,
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args


def run_java(main, args, tmp, flags=()):
    """Run one JVM in its own process group; kill the group on timeout.
    Returns (exit code, captured stdout)."""
    p = subprocess.Popen(java_cmd(main, args, tmp, list(flags)), cwd=tmp,
                         stdout=subprocess.PIPE, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True,
                         text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        print("emibench: run timed out", file=sys.stderr)
        return 124, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def fresh_tmp():
    os.makedirs(RUNS, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=RUNS)


def cleanup(tmp):
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(RUNS)
    except OSError:
        pass


def one_run(workload, seed, trace):
    tmp = fresh_tmp()
    try:
        return run_java("emibench.Main", [
            "--workload", workload, "--seed", str(seed),
            "--trace", str(trace), "--dir", os.path.join(tmp, "work")], tmp)
    finally:
        cleanup(tmp)


def selftest():
    tmp = fresh_tmp()
    try:
        code, out = run_java("emibench.SelfTest", [os.path.join(tmp, "work")], tmp)
    finally:
        cleanup(tmp)
    sys.stdout.write(out)
    ok = code == 0
    # jobs must repeat exactly across two runs of one seed
    for w in WORKLOADS:
        jobs = []
        for _ in range(2):
            c, o = one_run(w, 5, 0)
            if c != 0:
                print("FAIL %s run exited %d" % (w, c))
                ok = False
                break
            jobs.append(json.loads(o.strip().splitlines()[-1])["metrics"]["jobs"]["value"])
        if len(jobs) == 2:
            same = jobs[0] == jobs[1]
            ok = ok and same
            print("%s %s jobs repeat across two runs of one seed: %s"
                  % ("ok  " if same else "FAIL", w, jobs))
    print("selftest: %s" % ("all passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=45,
                    help="accepted; the run's length is its fixed schedule")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not in this checkout")
    if not a.selftest and not a.workload:
        die("--workload is required")
    build()
    if a.selftest:
        return selftest()
    code, out = one_run(a.workload, a.seed, a.trace)
    sys.stdout.write(out)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
