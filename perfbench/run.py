#!/usr/bin/env python3
"""Sizing benchmark driver.

Run from the root of a checkout:

    python3 perfbench/run.py --workload month_csv --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Builds the program's sources (src/main/scala) together with the harness
(perfbench/src) with the sbt build in perfbench/, when the sources changed
since the last build, then runs one JVM per workload. The JVM prints an
environment stamp, a summary line and, last, one JSON result object.
Everything the run writes stays under perfbench/ (build output in
perfbench/target, scratch inputs and sinks in perfbench/.work, JVM logs in
perfbench/.runs); scratch files are deleted after each run.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench-built.sha")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_sha():
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(HERE, "src")]
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


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it. Kills the group
    on timeout, and when this script is terminated, so no child outlives it.
    """
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, proc.returncode
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return out, proc.returncode


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the directory the
    program's own build compiles against (its `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m:
        fail("set SPARK_HOME: no Spark jars directory found")
    return m.group(1)


def build(sha, log):
    if os.path.exists(STAMP) and open(STAMP).read().strip() == sha:
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    with open(log, "w") as fh:
        _, code = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                              stdout=fh, stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(sha)


def run_one(workload, args, sha, commit):
    runs = os.path.join(HERE, ".runs")
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g"] + opens + [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--params", os.path.join(HERE, "workloads.json"),
        "--work", work])
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=commit,
               PERFBENCH_SOURCE_SHA=sha[:16])
    log = os.path.join(runs, f"{workload}-seed{args.seed}-trace{args.trace}.log")
    try:
        with open(log, "w") as err:
            out, code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                    stdout=subprocess.PIPE, stderr=err,
                                    text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").strip().splitlines()
    if code != 0 or not lines:
        fail(f"{workload} run failed (exit {code}); see {log}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"{workload}: last output line is not a result; see {log}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload}: malformed result; see {log}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        fail(f"program sources not found under {PROGRAM}")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        names = list(json.load(fh)["workloads"])
    todo = names if args.workload == "all" else [args.workload]
    if any(w not in names for w in todo):
        fail(f"unknown workload {args.workload}; choose from {names} or all")
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    sha = source_sha()
    build(sha, os.path.join(HERE, ".runs", "build.log"))
    commit = git_commit()
    for w in todo:
        for line in run_one(w, args, sha, commit):
            print(line, flush=True)


if __name__ == "__main__":
    main()
